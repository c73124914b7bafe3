#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload periodicity --seed 1 --seconds 4 --trace 0

Run from the repository root. Builds the program and the benchmark
client from source into .bench_build/ (first run only), generates the
workload's inputs from the seed, runs the closed-loop client in one
JVM, compares the checked outputs with the program's DuckDB oracle
twins, and prints every metric by name and unit. The last line of
standard output is the JSON result. With --trace 0 it carries the
end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
metrics (and the tracing overhead); the spans of a traced run are
written to .bench_build/traces/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD = ".bench_build"
JAR = os.path.join(BUILD, "perfbench.jar")
DEADLINE_S = 170          # the whole run, build excluded
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_home():
    """$SPARK_HOME, else the installation that owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(
            shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("needs Spark: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in ("src/main/scala", os.path.join(HERE, "src")):
        for root, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                p = os.path.join(root, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sh"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; a new jar drops the class-data-
    sharing archives made for the old one."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        print("perfbench: building program and client", file=sys.stderr)
        env = dict(os.environ, SPARK_HOME=spark_home())
        if subprocess.run(["bash", os.path.join(HERE, "build.sh"), BUILD],
                          stdout=sys.stderr, env=env, timeout=850).returncode != 0:
            fail("build failed")
        for f in os.listdir(BUILD):
            if f.endswith(".jsa"):
                os.remove(os.path.join(BUILD, f))
        with open(stamp_file, "w") as f:
            f.write(stamp)


def java(settings, jars, jvm_extra, main, args):
    jvm = settings["jvm"]
    sess = settings["session"]
    # a fixed set of JIT compiler threads, so none exits and takes its
    # CPU time out of the client's JIT accounting (cpu_s)
    return (["java", "-Xmx" + jvm["heap"], "-XX:-UseDynamicNumberOfCompilerThreads",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + [x for p in JDK17_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
            + jvm_extra
            + ["-cp", JAR + os.pathsep + os.path.join(jars, "*"),
               main, "--master", sess["master"], "--cores", str(sess["cores"])]
            + args)


def run_dir_for(tag):
    d = os.path.abspath(os.path.join(BUILD, "%s-%d" % (tag, os.getpid())))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(os.path.join(d, "tmp"))
    return d


def conf_args(settings, run_dir):
    conf = dict(settings["session"]["conf"])
    conf["spark.sql.warehouse.dir"] = os.path.join(run_dir, "warehouse")
    conf.update(settings["stream"]["checkpoint"]["conf"])
    return ["-Djava.io.tmpdir=" + run_dir + "/tmp",
            "-XX:ErrorFile=" + run_dir + "/hs_err_%p.log"], \
        [x for k, v in sorted(conf.items()) for x in ("--conf", "%s=%s" % (k, v))]


def client(settings, jars, jvm_extra, workload, data_dir, run_dir, seconds,
           trace, warmups, min_passes, trace_file,
           main="graft.perfbench.Harness"):
    """The command line of one Harness run."""
    jvm_conf, conf = conf_args(settings, run_dir)
    return java(settings, jars, jvm_conf + jvm_extra, main,
                ["--workload", workload, "--data", os.path.abspath(data_dir),
                 "--out", run_dir, "--seconds", str(seconds),
                 "--trace", str(trace), "--warmups", str(warmups),
                 "--min-passes", str(min_passes),
                 "--batches", str(settings["run"]["batches"]),
                 "--trace-file", trace_file] + conf)


def archive(settings, jars):
    """The class-data-sharing archive of the classes a session start
    loads, dumped once per build by a JVM that starts one session and
    stops it. Every run's JVM maps it instead of loading and verifying
    those classes again, which takes most of a cold session start."""
    jsa = os.path.abspath(os.path.join(BUILD, "session.jsa"))
    if os.path.exists(jsa):
        return jsa
    print("perfbench: building the class-data-sharing archive", file=sys.stderr)
    run_dir = run_dir_for("archive")
    try:
        cmd = client(settings, jars, ["-XX:ArchiveClassesAtExit=" + jsa],
                     "none", run_dir, run_dir, 0, 0, 0, 0,
                     os.path.join(run_dir, "spans.jsonl"),
                     main="graft.perfbench.SessionStart")
        if subprocess.run(cmd, stdout=sys.stderr, timeout=300).returncode != 0:
            if os.path.exists(jsa):
                os.remove(jsa)
            fail("class-data-sharing archive run failed")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return jsa


def cpu_ticks():
    """(all, steal) ticks of the machine's CPUs from /proc/stat, or None
    where there is none. Steal is time the hypervisor gave this machine's
    CPUs to other guests: it slows a run without any change in the code."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return sum(t), t[7]
    except (OSError, ValueError, IndexError):
        return None


def inputs(workload, seed, sizes):
    """Generated once per (workload, seed); the summary records sizes."""
    import gen
    d = os.path.join(BUILD, "data", "%s-%d" % (workload, seed))
    summary_file = os.path.join(d, "summary.json")
    if os.path.exists(summary_file):
        with open(summary_file) as f:
            summary = json.load(f)
        if summary.get("sizes") == sizes:
            return d, summary
    shutil.rmtree(d, ignore_errors=True)
    summary = gen.generate(d, seed, sizes)
    summary["sizes"] = sizes
    with open(summary_file, "w") as f:
        json.dump(summary, f)
    return d, summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala"):
        fail("src/main/scala not found: run from the root of a graft checkout")
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if a.workload not in settings["workloads"]:
        fail("unknown workload %r" % a.workload)
    wl = settings["workloads"][a.workload]
    if shutil.which("java") is None:
        fail("needs java on PATH")
    jars = os.path.join(spark_home(), "jars")

    build()
    jsa = archive(settings, jars)
    t_start = time.time()
    data_dir, summary = inputs(a.workload, a.seed, wl)
    run_dir = run_dir_for("run")
    trace_file = os.path.abspath(os.path.join(
        BUILD, "traces", "%s-%d.jsonl" % (a.workload, a.seed)))
    cmd = client(settings, jars, ["-XX:SharedArchiveFile=" + jsa], a.workload,
                 data_dir, run_dir, a.seconds, a.trace,
                 settings["run"]["warmups"], settings["run"]["min_passes"],
                 trace_file)
    ticks0 = cpu_ticks()
    try:
        try:
            proc = subprocess.run(cmd, stdout=sys.stderr,
                                  timeout=DEADLINE_S - (time.time() - t_start))
        except subprocess.TimeoutExpired:
            fail("benchmark client did not finish within %d s" % DEADLINE_S)
        if proc.returncode != 0:
            fail("benchmark client exited with %d" % proc.returncode)
        with open(os.path.join(run_dir, "result.json")) as f:
            r = json.load(f)
        t_client = time.time()
        ticks1 = cpu_ticks()
        import check
        oracle = check.check(data_dir, run_dir)
        print("perfbench: client %.1f s, oracle check %.1f s"
              % (t_client - t_start, time.time() - t_client), file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    bad = [(n, p) for n, p, _ in oracle if p]
    attempted = r["attempted"] + len(oracle)
    failed = r["failed"] + len(bad) + len(r["digest_mismatches"])
    correct = not bad and not r["digest_mismatches"] and r["failed"] == 0 \
        and r["jobs_consistent"]

    print("workload %s  seed %d  input digest %s" % (a.workload, a.seed, summary["digest"][:16]))
    print("inputs %s" % json.dumps({k: v for k, v in summary.items()
                                    if k not in ("digest", "seed")}, sort_keys=True))
    print("timed passes %d, units %d, tail = p%d, jobs per pass %s"
          % (r["passes"], r["units"], r["tail_percentile"], r["job_counts"]))
    for n, p, rows in oracle:
        print("oracle %-22s %s" % (n, p or "OK rows=%d" % rows))
    for m in r["digest_mismatches"]:
        print("digest mismatch: %s" % m)
    if not r["jobs_consistent"]:
        print("job count differs between timed passes: %s" % r["job_counts"])
    print("fail_frac %.6f (%d failed / %d attempted)"
          % (failed / attempted, failed, attempted))
    if ticks0 and ticks1 and ticks1[0] > ticks0[0]:
        print("cpu steal during the client: %.1f%%"
              % (100.0 * (ticks1[1] - ticks0[1]) / (ticks1[0] - ticks0[0])))

    if a.trace:
        metrics = {m["name"]: {"value": r["layers"][m["name"]], "unit": m["unit"]}
                   for m in bench["per_layer"]}
        print("tracing overhead: traced pass_s %.4f s / untraced %.4f s = %.4f"
              % (r["traced_pass_s"], r["pass_s"], r["layers"]["tracing.overhead"]))
        print("spans written to %s" % os.path.relpath(trace_file))
    else:
        metrics = {m["name"]: {"value": r[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
        # printed for reading, but no bound: a max-of-few tail is too noisy
        print("batch_tail_s (p%d of %d micro-batches) %.6f s"
              % (r["tail_percentile"], r["units"], r["batch_tail_s"]))
        print("JIT compiler CPU per timed pass, not in cpu_s: %.3f s" % r["jit_cpu_s"])
    for name, v in metrics.items():
        print("%-32s %14.6f %s" % (name, v["value"], v["unit"]))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
