#!/usr/bin/env python3
"""Self-test of the graft benchmark, run from the repository root:

    python3 perfbench/selftest.py

Checks that the generator is a pure function of its seed (same seed,
same input digest; another seed, another digest), then builds the
client and runs its own checks (graft.perfbench.SelfTest): the tail
percentile rule, nearest-rank percentiles, and locale-independent
(Locale.ROOT) number formatting in every metric the client writes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import run  # noqa: E402


def main():
    with open(os.path.join(HERE, "settings.json")) as f:
        settings = json.load(f)
    scratch = os.path.join(run.BUILD, "selftest")
    failures = 0
    try:
        for name, wl in sorted(settings["workloads"].items()):
            a = gen.generate(os.path.join(scratch, "a"), 7, wl)["digest"]
            b = gen.generate(os.path.join(scratch, "b"), 7, wl)["digest"]
            c = gen.generate(os.path.join(scratch, "c"), 8, wl)["digest"]
            ok = a == b and a != c
            failures += not ok
            print("%s %s inputs: seed 7 twice -> same digest, seed 8 -> another"
                  % ("ok  " if ok else "FAIL", name))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    run.build()
    jars = os.path.join(run.spark_home(), "jars")
    proc = subprocess.run(["java", "-cp", run.JAR + os.pathsep + os.path.join(jars, "*"),
                           "graft.perfbench.SelfTest"])
    failures += proc.returncode != 0
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
