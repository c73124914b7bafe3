package graft

import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Standing scale guardrails over EVERY registered query, enforced
  * plan-side (no execution): a true cartesian product or a fat
  * cross-join is how a 100 TB plan dies, and a one-line regression
  * anywhere in the registry should fail a named test — not wait for
  * the next bench. Also pins the repo-wide conventions the plan
  * audits rely on: no driver-side collect() and no Scala UDFs in
  * main sources.
  */
class PlanGuardSpec extends AnyFunSuite with GraftSpark {

  private val dir = "/root/testdata/sf0.001"

  // Generous estimate bound for the small side of an intentional
  // cross-join (broadcast literal grids, one-row scalar aggregates).
  // A cross-join whose SMALLER side is estimated fatter than this is
  // a corpus×corpus product, not a grid fan-out.
  private val MaxCrossSideBytes = BigInt(32L * 1024 * 1024)

  // ONE planning pass shared by both plan tests (round 15, test-wall
  // budget): building fn(spark, dir) twice re-ran analysis + the
  // optimizer for every registered query — and for the 12 streaming
  // replays, fn() EXECUTES the whole replay — so each test paid
  // ~2.5 min for the same QueryExecutions. sparkPlan forces
  // optimizedPlan, so both assertions read the same computed lineage.
  private lazy val qes = SparkEntry.queries.toSeq.map { case (name, fn) =>
    (name, fn(spark, dir).queryExecution)
  }

  test("no registered query plans a cartesian product") {
    val offenders = qes.flatMap { case (name, qe) =>
      val cart = qe.sparkPlan.collect { case c: CartesianProductExec => c }
      if (cart.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"queries planning CartesianProductExec: ${offenders.toList.sorted}")
  }

  test("every cross-join keeps one broadcast-tiny side") {
    val offenders = qes.flatMap { case (name, qe) =>
      val fat = qe.optimizedPlan.collect {
        case j: Join if j.condition.isEmpty =>
          j.left.stats.sizeInBytes.min(j.right.stats.sizeInBytes)
      }.filter(_ > MaxCrossSideBytes)
      if (fat.nonEmpty) Some(s"$name(minSide=${fat.max})") else None
    }
    assert(offenders.isEmpty,
      s"cross-joins with a fat small side: ${offenders.toList.sorted}")
  }

  test("main sources: no driver collect()/first()/head() and no Scala UDFs outside diagnostics") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    // Replay.scala: the streaming replay harness feeds MemoryStream,
    // which is driver-fed BY DESIGN (the sanctioned exception — see
    // its scaladoc; the registered query output is still distributed)
    // RangeJoinAuto.scala: plan-choice statistics — two one-row
    // aggregate reads over the smaller join side BEFORE planning (the
    // adaptive-planning pattern); the data path stays distributed
    val allowCollect = Set("Explain.scala", "Replay.scala",
      "RangeJoinAuto.scala")
    val bad = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(p => allowCollect(p.getFileName.toString))
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        val hits = Seq(
          ".collect()" -> src.contains(".collect()"),
          // .first()/.head() are collects too: a blocking scalar job
          // serialized before the main job (round-11 gl_odds finding)
          ".first()" -> src.contains(".first()"),
          ".head()" -> src.contains(".head()"),
          ".head(" -> src.contains(".head("),
          "functions.udf(" -> src.contains("functions.udf("),
          "spark.udf.register" -> src.contains("spark.udf.register"))
          .collect { case (what, true) => what }
        if (hits.nonEmpty) Some(s"${p.getFileName}: ${hits.mkString(",")}")
        else None
      }.toList
    assert(bad.isEmpty, s"convention violations: $bad")
  }

  test("sessions are built only in Session.scala") {
    val builder = "SparkSession" + ".builder()" // not a hit itself
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(d)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          java.nio.file.Files.readString(p).contains(builder))
        .map(_.getFileName.toString)
    }
    assert(hits == Seq("Session.scala"), s"session builders outside Session: $hits")
  }

  test("the GLS closed form is written once, in spectral/Gls.scala") {
    // C2w (cos 2ωτ) names the tau rotation's first step in both the
    // Spark and the SQL statement; whole words only, so atan2 and the
    // like never match
    val word = raw"\bC2w\b".r
    val root = java.nio.file.Paths.get("src/main/scala")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        word.findFirstIn(java.nio.file.Files.readString(p)).isDefined)
      .map(root.relativize(_).toString).toList
    assert(hits == List("graft/spectral/Gls.scala"),
      s"GLS closed form restated outside Gls: $hits")
  }

  /** (path under src/main/scala, text) of every main source. */
  private lazy val mainSources = {
    val root = java.nio.file.Paths.get("src/main/scala")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readString(p)).toList
  }

  test("the mended formulas keep one definition each") {
    def definers(pattern: String, among: String => Boolean = _ => true) =
      mainSources.collect {
        case (p, src) if among(p) && pattern.r.findFirstIn(src).isDefined => p
      }
    // every fixed-grid GLS/PSD trig sum goes through GlsMoments
    assert(definers(raw"crossJoin\(broadcast\(freqs\)\)",
      _ == "graft/spectral/Gls.scala").isEmpty,
      "a fixed-grid trig sum in Gls bypasses GlsMoments")
    assert(definers(raw"\b(def centered|val centeredSql)\b",
      _.startsWith("graft/spectral/PhaseFold")) ==
      List("graft/spectral/PhaseFold.scala"))
    assert(definers(raw"\bdef md5Hex\b") == List("graft/dedup/Dedup.scala"))
    // the periodogram peak pick (Gls.localPeaks)
    assert(definers("""lag\("power", 1\)""") == List("graft/spectral/Gls.scala"))
    // the embeddings' µ-quantized (vec_id, i, rc) components
    assert(definers("""col\("pos"\)\.as\("i"\),\s*round\(col\("col"\)""") ==
      List("graft/sim/EmbeddingStats.scala"))
  }

  test("each query is registered once, and only SparkEntry lists the modules") {
    val oracleMaps = mainSources.collect {
      case (p, src) if raw"\bval oracles\b".r.findFirstIn(src).isDefined => p
    }
    assert(oracleMaps.isEmpty, s"parallel oracle maps: $oracleMaps")
    // a module's registration read by name, e.g. tsa.Vmd.queries
    val moduleRef = raw"\b(?!SparkEntry\b)[A-Z]\w*\.queries\b".r
    val listers = mainSources.collect {
      case (p, src) if moduleRef.findFirstIn(src).isDefined => p
    }
    assert(listers == List("graft/SparkEntry.scala"),
      s"modules enumerated outside SparkEntry: $listers")
  }
}
