package graft.dedup

import graft.{Query, SessionMemo, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines,
  * over the `documents` table.
  *
  * Scale posture: exact dedup is a hash groupBy (one shuffle);
  * MinHash-LSH generates candidate pairs from band buckets (candidate
  * count ∝ bucket occupancy, never n²); SimHash pairs via banded
  * Hamming distance. All hashing is md5-based (60-bit prefixes), which
  * is deterministic and identical in Spark and the DuckDB oracle.
  */
object Dedup {

  /** 60-bit deterministic hash: Spark side. */
  def h60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  /** Same hash on the oracle side. */
  def h60Sql(e: String): String = s"(('0x'||substr(md5($e),1,15))::BIGINT)"

  /** Tokens with position: (doc_id, idx, tok). Split on single space,
    * drop empties — semantics identical in both engines. */
  private def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .select(col("doc_id"), posexplode(split(lower(col("text")), " ")))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "tok")
      .filter(col("tok") =!= "")

  private val tokensSql: String =
    """tk AS (
      |  SELECT doc_id, idx, tok FROM (
      |    SELECT d.doc_id,
      |      generate_subscripts(string_split(lower(d.text), ' '), 1) - 1 AS idx,
      |      unnest(string_split(lower(d.text), ' ')) AS tok
      |    FROM documents d)
      |  WHERE tok <> '')""".stripMargin

  // One persisted cluster table per (session, sfDir): queryable and
  // releasable, rebuilt on the next lookup once someone unpersists it.
  private val clusters = SessionMemo.tables()

  /** Release the cluster-table cache for `spark` (all sfDirs). */
  def releaseClusters(spark: SparkSession): Unit = clusters.release(spark)

  /** Word 3-shingles via window leads: (doc_id, shingle). */
  private[graft] def shingles(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("idx")
    tokens(spark, dir)
      .withColumn("t1", lead("tok", 1).over(wd))
      .withColumn("t2", lead("tok", 2).over(wd))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("shingle"))
      .distinct()
  }

  private val shinglesSql: String =
    s"""$tokensSql,
       |sh AS (SELECT DISTINCT doc_id,
       |  tok || ' ' || t1 || ' ' || t2 AS shingle
       |  FROM (SELECT doc_id, tok,
       |    lead(tok,1) OVER (PARTITION BY doc_id ORDER BY idx) AS t1,
       |    lead(tok,2) OVER (PARTITION BY doc_id ORDER BY idx) AS t2
       |    FROM tk)
       |  WHERE t2 IS NOT NULL)""".stripMargin

  // -------------------------------------------------------------------
  // dedup_exact — hash-groupBy exact duplicate detection.
  // -------------------------------------------------------------------
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.table(spark, dir, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))

  val dedupExactSql: String =
    """SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // -------------------------------------------------------------------
  // dedup_minhash_lsh — MinHash signatures (16 perms via seeded md5),
  // 4 bands × 4 rows; candidate pairs share ≥1 band bucket; verified
  // with exact shingle Jaccard.
  // -------------------------------------------------------------------
  /** MinHash "permutations": one md5 per shingle, then 16 cheap
    * rotate-xor mixes (rotation spreads the entropy, xor decorrelates
    * the orderings) — all 16 minima come out of a single groupBy with
    * no row explosion. (r_j, c_j) constants are fixed 60-bit literals
    * shared with the oracle SQL. */
  private val MASK60 = (1L << 60) - 1
  private val mixParams: Seq[(Int, Long)] = (0 until 16).map { j =>
    ((7 * j + 3) % 60, (-7046029254386353131L * (j + 1)) & MASK60)
  }

  // rotate-left within 60 bits, masking BEFORE the shift (DuckDB raises
  // on int64 shift overflow; Spark would silently wrap into the sign).
  private def mixSpark(j: Int): String = {
    val (r, c) = mixParams(j)
    s"(shiftleft(h & ${MASK60 >> r}L, $r) + shiftright(h, ${60 - r})) ^ ${c}L"
  }

  private def mixDuck(j: Int): String = {
    val (r, c) = mixParams(j)
    s"xor(((h & ${MASK60 >> r}) << $r) + (h >> ${60 - r}), $c)"
  }

  /** Bucket-occupancy cap for every band-bucket self-join below. A hot
    * bucket of k near-identical crawl docs would otherwise emit k² pairs
    * inside ONE task; capping at the first `MaxBucket` members (ranked
    * by doc_id — deterministic, mirrored in the oracle SQL) bounds any
    * bucket's pair contribution at MaxBucket²/2 regardless of skew.
    * Representatives of an over-full bucket still pair with each other,
    * so the duplicate CLUSTER is still detected; only the redundant
    * quadratic tail is dropped — the standard crawl-scale trade. */
  val MaxBucket = 256

  /** Scala mirror of the minhash band pipeline for the STREAMING
    * near-dedup twin (streaming/StreamingOps.nearDedupStream): one
    * document's 4 (band, bkey) rows, computed row-locally. MUST stay
    * bit-identical to `minhashBands` below — tokens are the
    * lowercase space-split non-empty sequence, shingles the DISTINCT
    * word 3-grams, h60 the first 15 md5 hex digits, mins over the
    * same 16 rotate-xor mixes, band key the md5 of the
    * comma-joined 4 mins. MinhashStreamSpec pins the equality
    * against the batch plan on the full sf0.001 corpus. */
  private[graft] def bandKeysOf(text: String): Seq[(Long, String)] = {
    val toks = text.toLowerCase(java.util.Locale.ROOT).split(" ", -1).filter(_.nonEmpty).toSeq
    if (toks.length < 3) return Seq.empty
    val hs = toks.sliding(3).map(_.mkString(" ")).toSet.toSeq
      .map((s: String) => java.lang.Long.parseLong(md5Hex(s).take(15), 16))
    val mins = (0 until 16).map { j =>
      val (r, c) = mixParams(j)
      hs.map(h => (((h & (MASK60 >> r)) << r) + (h >> (60 - r))) ^ c).min
    }
    (0L until 4L).map { b =>
      val key = md5Hex((0 until 4).map(i => mins(4 * b.toInt + i)).mkString(","))
      (b, key)
    }
  }

  /** Lower-case hex MD5 of the UTF-8 bytes (the oracles' md5()). */
  private[graft] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Minhash band buckets with the occupancy cap applied: (doc_id,
    * band, bkey), at most MaxBucket rows per (band, bkey). */
  private[graft] def minhashBands(spark: SparkSession, dir: String,
      maxBucket: Int): DataFrame = {
    val sig = shingles(spark, dir)
      .select(col("doc_id"), h60(col("shingle")).as("h"))
      .groupBy("doc_id")
      .agg(expr(s"min(${mixSpark(0)})").as("m0"),
        (1 until 16).map(j => expr(s"min(${mixSpark(j)})").as(s"m$j")): _*)
    val bands = sig.selectExpr("doc_id",
      """stack(4,
        |  0L, md5(concat_ws(',', m0, m1, m2, m3)),
        |  1L, md5(concat_ws(',', m4, m5, m6, m7)),
        |  2L, md5(concat_ws(',', m8, m9, m10, m11)),
        |  3L, md5(concat_ws(',', m12, m13, m14, m15))
        |) AS (band, bkey)""".stripMargin)
    bands
      .withColumn("rnk", row_number()
        .over(Window.partitionBy("band", "bkey").orderBy("doc_id")))
      .filter(col("rnk") <= maxBucket)
      .select("doc_id", "band", "bkey")
  }

  /** Candidate pairs from capped band buckets: (id1 < id2), distinct. */
  private[graft] def minhashCand(spark: SparkSession, dir: String,
      maxBucket: Int): DataFrame = {
    val bands = minhashBands(spark, dir, maxBucket)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    dedupMinhashLsh(spark, dir, MaxBucket)

  def dedupMinhashLsh(spark: SparkSession, dir: String,
      maxBucket: Int): DataFrame = {
    val sh = shingles(spark, dir)
    val cand = minhashCand(spark, dir, maxBucket)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.select(col("doc_id").as("id1"), col("shingle")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("shingle")), Seq("id2", "shingle"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("ninter"))
    cand.join(inter, Seq("id1", "id2"), "left")
      .na.fill(0L, Seq("ninter"))
      .join(counts.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("ninter").cast("double") /
          (col("n1") + col("n2") - col("ninter")), 4).as("jaccard"))
  }

  /** Shared oracle CTE chain ending in `cand` (capped band buckets →
    * distinct candidate pairs) — mirrors minhashCand exactly. */
  private[graft] val minhashCandSql: String = {
    val mins = (0 until 16)
      .map(j => s"min(${mixDuck(j)}) AS m$j").mkString(",\n       |  ")
    def bandSel(b: Int) = {
      val ms = (0 until 4).map(i => s"m${4 * b + i}").mkString(", ")
      s"SELECT doc_id, ${b}::BIGINT AS band, md5(concat_ws(',', $ms)) AS bkey FROM sig"
    }
    s"""$shinglesSql,
       |hs AS (SELECT doc_id, ${h60Sql("shingle")} AS h FROM sh),
       |sig AS (SELECT doc_id,
       |  $mins
       |  FROM hs GROUP BY 1),
       |bands0 AS (${(0 until 4).map(bandSel).mkString("\n       | UNION ALL ")}),
       |bands AS (SELECT doc_id, band, bkey FROM (
       |  SELECT doc_id, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rnk
       |  FROM bands0) WHERE rnk <= $MaxBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  val dedupMinhashLshSql: String =
    s"""WITH $minhashCandSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.id1, c.id2, count(*) AS ninter
       |  FROM cand c
       |  JOIN sh s1 ON s1.doc_id = c.id1
       |  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
       |  GROUP BY 1, 2)
       |SELECT c.id1, c.id2,
       |  round(cast(coalesce(i.ninter, 0) AS double)
       |        / (n1.n + n2.n - coalesce(i.ninter, 0)), 4) AS jaccard
       |FROM cand c
       |LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
       |JOIN cnt n1 ON n1.doc_id = c.id1
       |JOIN cnt n2 ON n2.doc_id = c.id2""".stripMargin

  // -------------------------------------------------------------------
  // dedup_simhash — 60-bit SimHash from token-hash bit votes
  // (multiplicity-weighted), plus 4×15-bit band keys for Hamming
  // bucketing at scale. Integer arithmetic end-to-end => exact oracle.
  // -------------------------------------------------------------------
  /** (doc_id, simhash): the 60 bit-votes are 60 aggregate expressions
    * in ONE groupBy pass over the token hashes — versus the
    * bits-crossJoin formulation this cuts the shuffled row count 60×
    * (the partial aggregate carries 60 longs per doc instead of 60
    * rows per token) while producing the identical integer votes. The
    * oracle SQL keeps the explicit per-bit formulation; the values are
    * exact integers either way. */
  private def simhashSig(spark: SparkSession, dir: String): DataFrame = {
    val tk = tokens(spark, dir).select(col("doc_id"), h60(col("tok")).as("h"))
    val voteCols = (0 until 60).map(b =>
      sum(expr(s"shiftright(h, $b)") % 2 * 2 - 1).as(s"v$b"))
    val simhash = (0 until 60).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L): Column)
      .reduce(_ + _)
    tk.groupBy("doc_id")
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSig(spark, dir).select(col("doc_id"), col("simhash"),
      (col("simhash") % 32768).as("band0"),
      (shiftright(col("simhash"), 15) % 32768).as("band1"),
      (shiftright(col("simhash"), 30) % 32768).as("band2"),
      (shiftright(col("simhash"), 45) % 32768).as("band3"))

  /** The SQL twin of [[simhashSig]]: per-bit votes over the token
    * hashes of the oracles' `tk`, then the 60-bit `sim` signature. */
  private val simhashSigSql: String =
    s"""th AS (SELECT doc_id, ${h60Sql("tok")} AS h FROM tk),
       |votes AS (SELECT doc_id, b.bit,
       |  sum((h >> b.bit) % 2 * 2 - 1) AS votes
       |  FROM th CROSS JOIN generate_series(0, 59) AS b(bit)
       |  GROUP BY 1, 2),
       |sim AS (SELECT doc_id,
       |  cast(sum(CASE WHEN votes > 0 THEN (1::BIGINT << bit)
       |           ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY 1)""".stripMargin

  val dedupSimhashSql: String =
    s"""WITH $tokensSql,
       |$simhashSigSql
       |SELECT doc_id, simhash,
       |  simhash % 32768 AS band0,
       |  (simhash >> 15) % 32768 AS band1,
       |  (simhash >> 30) % 32768 AS band2,
       |  (simhash >> 45) % 32768 AS band3
       |FROM sim""".stripMargin

  // -------------------------------------------------------------------
  // dedup_simhash_pairs — banded-Hamming candidate generation + verify:
  // 6 bands × 10 bits over the 60-bit simhash (any two hashes within
  // Hamming distance 5 share at least one band by pigeonhole), capped
  // bucket self-join, then exact Hamming distance = popcount(xor) as
  // the verify column. Completes the SimHash pipeline: signature
  // (dedup_simhash) → candidates → verified distance.
  // -------------------------------------------------------------------
  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    dedupSimhashPairs(spark, dir, MaxBucket)

  def dedupSimhashPairs(spark: SparkSession, dir: String,
      maxBucket: Int): DataFrame = {
    val sig = simhashSig(spark, dir)
    val bands = sig.selectExpr("doc_id", "simhash",
      """stack(6,
        |  0L, shiftright(simhash,  0) % 1024,
        |  1L, shiftright(simhash, 10) % 1024,
        |  2L, shiftright(simhash, 20) % 1024,
        |  3L, shiftright(simhash, 30) % 1024,
        |  4L, shiftright(simhash, 40) % 1024,
        |  5L, shiftright(simhash, 50) % 1024
        |) AS (band, bkey)""".stripMargin)
      .withColumn("rnk", row_number()
        .over(Window.partitionBy("band", "bkey").orderBy("doc_id")))
      .filter(col("rnk") <= maxBucket)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
  }

  val dedupSimhashPairsSql: String = {
    val bandSel = (0 until 6).map(b =>
      s"SELECT doc_id, simhash, ${b}::BIGINT AS band, (simhash >> ${10 * b}) % 1024 AS bkey FROM sim")
      .mkString("\n       | UNION ALL ")
    s"""WITH $tokensSql,
       |$simhashSigSql,
       |bands0 AS ($bandSel),
       |bands AS (SELECT doc_id, simhash, band, bkey FROM (
       |  SELECT doc_id, simhash, band, bkey,
       |    row_number() OVER (PARTITION BY band, bkey ORDER BY doc_id) AS rnk
       |  FROM bands0) WHERE rnk <= $MaxBucket)
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
       |  cast(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id""".stripMargin
  }

  // -------------------------------------------------------------------
  // dedup_ngram_jaccard — exact word-3-gram Jaccard as the VERIFY step
  // over candidates routed through the capped minhash band buckets
  // (the same blocking that scales to 100 TB: candidate count is
  // ∝ bucket occupancy, never n² within a language/length block).
  // -------------------------------------------------------------------
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = minhashCand(spark, dir, MaxBucket)
      .join(sh.select(col("doc_id").as("id1"), col("shingle")), "id1")
      .join(sh.select(col("doc_id").as("id2"), col("shingle")), Seq("id2", "shingle"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("ninter"))
    inter
      .join(counts.select(col("doc_id").as("id1"), col("n").as("n1")), "id1")
      .join(counts.select(col("doc_id").as("id2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        round(col("ninter").cast("double") /
          (col("n1") + col("n2") - col("ninter")), 4).as("jaccard"))
      .filter(col("jaccard") >= 0.05)
  }

  val dedupNgramJaccardSql: String =
    s"""WITH $minhashCandSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT p.id1, p.id2, count(*) AS ninter
       |  FROM cand p
       |  JOIN sh s1 ON s1.doc_id = p.id1
       |  JOIN sh s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
       |  GROUP BY 1, 2)
       |SELECT id1, id2,
       |  round(cast(ninter AS double) / (n1.n + n2.n - ninter), 4) AS jaccard
       |FROM inter
       |JOIN cnt n1 ON n1.doc_id = id1
       |JOIN cnt n2 ON n2.doc_id = id2
       |WHERE round(cast(ninter AS double) / (n1.n + n2.n - ninter), 4) >= 0.05""".stripMargin

  // -------------------------------------------------------------------
  // dedup_clusters — connected components over the verified near-dup
  // pairs (jaccard ≥ ClusterTau): the dedup ENDGAME. Emitting pairs is
  // not enough to deduplicate a corpus — near-dup relations are not
  // transitive per-pair, so production pipelines cluster the pair graph
  // and keep one canonical doc per component. cluster_id = min doc_id
  // reachable, computed by iterative min-label propagation (the Pregel
  // / GraphX connected-components algorithm) with two 100 TB-posture
  // restrictions (round 7): the label set is the edge-INCIDENT nodes
  // only (near-dup components touch a tiny fraction of a deduped
  // corpus, so the loop never scans all documents), and each round
  // only the CHANGED labels (the frontier) push to their neighbors —
  // messages are monotone decreasing, so an unchanged label has
  // already been delivered. Singleton documents get their own cluster
  // by ONE anti-join after convergence. Per round: one bounded shuffle
  // over (frontier ⋈ edges), convergence read off the same projection
  // (no separate full-labels compare join); O(diameter) rounds, nothing
  // collected to the driver beyond the scalar frontier size.
  // Oracle: DuckDB recursive CTE propagating labels to fixpoint (UNION
  // dedups states, so it terminates) — same min-reachable-id semantics.
  // -------------------------------------------------------------------
  val ClusterTau = 0.5
  val MaxCcRounds = 64

  /** Config key: when "true", the propagation loop's lineage
    * truncation uses RELIABLE `checkpoint` (requires
    * `sparkContext.setCheckpointDir` to a fault-tolerant FS) instead
    * of `localCheckpoint`. localCheckpoint blocks live on executors —
    * on a 1000-executor cluster an executor loss mid-loop kills the
    * job because truncated lineage cannot recompute. Reliable
    * checkpoints survive executor loss at the cost of one HDFS/object
    * -store round-trip per round; the snapshots are edge-incident-
    * small (labels, not corpus), so the write is cheap relative to
    * the round's shuffle. Default "false": right for local/bench
    * runs; set true for long-running cluster jobs. */
  val ReliableCcKey = "spark.graft.cc.reliableCheckpoint"

  /** Lineage-truncating snapshot for the propagation loop, reliable or
    * local per [[ReliableCcKey]]. */
  private def snapshot(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption(ReliableCcKey).exists(_.toBoolean)
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableCcKey=true requires sparkContext.setCheckpointDir " +
          "(a fault-tolerant path) before running connectedComponents")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** Min-label propagation over a SYMMETRIC edge set (src, dst).
    * Returns (doc_id, comp) for every edge-incident node; comp = min
    * reachable node id. Fails loudly (require) if the graph needs more
    * than [[MaxCcRounds]] rounds — a silent non-converged result would
    * diverge from the fixpoint oracle. */
  def connectedComponents(edges: DataFrame): DataFrame =
    ccWithRounds(edges)._1

  private[graft] def ccWithRounds(edgesIn: DataFrame): (DataFrame, Int) = {
    // Snapshot the (tiny) edge set ONCE: the caller's edge pipeline —
    // for dedup_clusters the whole minhash candidate tree — must not
    // enter the loop, and each round snapshots its (tiny) label frame
    // the same way. Without the truncation, round k's logical plan
    // embeds round k−1's TWICE (directly + via the messages) plus the
    // edge pipeline once — 2^k plan copies, and the optimizer, not the
    // data, dominates the loop (observed: seconds per round over a few
    // hundred cached rows). With it every round's plan is three
    // constant-size LogicalRDD scans.
    //
    // Block lifecycle: localCheckpoint storage is RDD-level (not
    // CacheManager), so Dataset.unpersist cannot free it eagerly; a
    // superseded round's blocks are released by the ContextCleaner
    // once the round's references drop (next loop iteration). Every
    // frame is edge-incident-small (labels, not corpus), so only a
    // couple of tiny snapshots are ever live together.
    val edges = snapshot(edgesIn)
    var labels = snapshot(edges.select(col("src").as("doc_id"))
      .distinct()
      .select(col("doc_id"), col("doc_id").as("comp")))
    var frontier = labels // round 0: every node is "changed"
    var changed = labels.count()
    var rounds = 0
    while (changed > 0 && rounds < MaxCcRounds) {
      val nbrMin = edges.join(frontier, edges("src") === frontier("doc_id"))
        .groupBy(col("dst")).agg(min("comp").as("ncomp"))
      val stepped = labels
        .join(nbrMin, labels("doc_id") === nbrMin("dst"), "left")
        .select(labels("doc_id"), col("comp").as("comp0"),
          least(col("comp"), coalesce(col("ncomp"), col("comp")))
            .as("comp1"))
      // Pointer jumping (round 13, from the skew-stress finding): a
      // long-diameter component — e.g. a 10⁵-member near-dup family
      // whose variant buckets chain — needs O(diameter) neighbor-min
      // rounds. Shortcutting through the LABEL table (comp ←
      // comp(comp), the classic HashMin + pointer-jumping hybrid)
      // collapses label chains geometrically, so rounds scale with
      // log(diameter). The invariant is preserved (comp(x) is always
      // the id of a node in x's component, and comp(minId) = minId at
      // fixpoint), the shortcut join is label-table-small, and a
      // shortcut-only change still enters the frontier via the chg
      // flag below. Engaged from round 3 only: well-behaved dedup
      // graphs (star-shaped dup families) converge in ≤3 plain rounds
      // and would pay the extra join for nothing (measured 1.9× on
      // the clean sf0.1 corpus when unconditional), while a chained
      // component reaches the jumping rounds immediately after.
      val shortcut = rounds >= 2
      val jumped = if (!shortcut) stepped.select(col("doc_id"),
        col("comp1").as("comp"), (col("comp1") < col("comp0")).as("chg"))
      else {
        val lut = stepped
          .select(col("doc_id").as("l_id"), col("comp1").as("l_comp"))
        stepped
          .join(lut, stepped("comp1") === lut("l_id"), "left")
          .select(stepped("doc_id"),
            least(col("comp1"), coalesce(col("l_comp"), col("comp1")))
              .as("comp"),
            // convergence folds into the SAME projection — counting
            // the snapshot's chg flags replaces the full-labels join
            (least(col("comp1"), coalesce(col("l_comp"), col("comp1")))
              < col("comp0")).as("chg"))
      }
      val next = snapshot(jumped)
      changed = next.filter(col("chg")).count()
      labels = next.select("doc_id", "comp")
      frontier = next.filter(col("chg")).select("doc_id", "comp")
      rounds += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge after $rounds rounds " +
        s"(frontier $changed) — raise MaxCcRounds")
    (labels, rounds)
  }

  /** The cluster table, materialized once per (session, sfDir) in the
    * memo above: the CC loop is eager/imperative, so without the memo
    * every consumer invocation re-ran the whole propagation loop.
    * Identical rows either way (the memo only dedups work); storage is
    * released by unpersisting the returned Dataset or by
    * [[releaseClusters]]. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusters(spark, dir) {
      val cl = dedupClustersCompute(spark, dir).persist()
      cl.count()
      cl
    }

  private def dedupClustersCompute(spark: SparkSession,
      dir: String): DataFrame = {
    val pairs = dedupMinhashLsh(spark, dir)
      .filter(col("jaccard") >= ClusterTau)
      .select("id1", "id2")
    val edges = pairs
      .union(pairs.select(col("id2").as("id1"), col("id1").as("id2")))
      .toDF("src", "dst")
    val labeled = connectedComponents(edges)
    // singletons (no incident near-dup edge) are their own cluster —
    // the corpus enters ONCE here, never inside the propagation loop
    val singles = Tables.table(spark, dir, "documents")
      .select("doc_id")
      .join(labeled, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("comp"))
    val wc = Window.partitionBy("cluster_id")
    labeled.unionByName(singles)
      .select(col("doc_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(wc))
  }

  /** Unrolled oracle rounds for the min-label CC below: propagation +
    * pointer jumping halves the unresolved pointer depth per round, so
    * 12 rounds resolve component diameters to 2¹² — far past any gate
    * corpus (the oracle-side analogue of the Spark plan's MaxCcRounds
    * require; a too-small unroll would surface as a hash mismatch,
    * never silently). */
  private val CcSqlRounds = 12

  // Round 14: the old oracle was a recursive-CTE TRANSITIVE CLOSURE
  // ((node, lbl) for every reachable label — O(V·E) work, O(V²) rows
  // per component). Fine on the polite sf corpora (components are dup
  // pairs), intractable on the skew gate's 10⁴-member hot family
  // (581k candidate pairs → a dense ~10³-node component ground DuckDB
  // for >10 min). Re-expressed as the SAME algorithm the Spark plan
  // runs: unrolled min-label propagation (one edges⋈labels join per
  // round) + pointer jumping (one labels⋈labels join) — O(E) per
  // round, log-diameter rounds, exact at convergence regardless of
  // algorithm since both compute min(doc_id) per component.
  val dedupClustersSql: String = {
    // every round CTE is MATERIALIZED: each is referenced twice, so
    // inlining would 4× the expression tree per round (4¹² references
    // to l0 — DuckDB ran out of file handles re-opening the parquet
    // source); materialization computes each round exactly once, the
    // same dataflow as the Spark loop's per-round snapshots
    val rounds = (0 until CcSqlRounds).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(m.minl, l.lbl)) AS lbl
         |  FROM l$i l LEFT JOIN (
         |    SELECT e.dst AS node, min(ll.lbl) AS minl
         |    FROM l$i ll JOIN e ON e.src = ll.node GROUP BY 1) m
         |  ON m.node = l.node),
         |l${i + 1} AS MATERIALIZED (
         |  SELECT p.node, least(p.lbl, j.lbl) AS lbl
         |  FROM p$i p JOIN p$i j ON j.node = p.lbl)""".stripMargin
    }.mkString(",\n")
    s"""WITH $minhashCandSql,
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT c.id1, c.id2, count(*) AS ninter
       |  FROM cand c
       |  JOIN sh s1 ON s1.doc_id = c.id1
       |  JOIN sh s2 ON s2.doc_id = c.id2 AND s2.shingle = s1.shingle
       |  GROUP BY 1, 2),
       |pj AS (SELECT c.id1, c.id2,
       |  round(cast(coalesce(i.ninter, 0) AS double)
       |        / (n1.n + n2.n - coalesce(i.ninter, 0)), 4) AS jaccard
       |  FROM cand c
       |  LEFT JOIN inter i ON i.id1 = c.id1 AND i.id2 = c.id2
       |  JOIN cnt n1 ON n1.doc_id = c.id1
       |  JOIN cnt n2 ON n2.doc_id = c.id2),
       |e AS MATERIALIZED (
       |      SELECT id1 AS src, id2 AS dst FROM pj WHERE jaccard >= $ClusterTau
       |      UNION ALL
       |      SELECT id2, id1 FROM pj WHERE jaccard >= $ClusterTau),
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl FROM documents),
       |$rounds
       |SELECT node AS doc_id, lbl AS cluster_id,
       |  count(*) OVER (PARTITION BY lbl) AS cluster_size
       |FROM l$CcSqlRounds""".stripMargin
  }

  // -------------------------------------------------------------------
  // dedup_substring — exact substring-level duplicate spans (Lee et
  // al. 2021, "Deduplicating Training Data Makes Language Models
  // Better", arXiv:2107.06499, token-gram re-expression): a run of
  // >= SubW consecutive tokens that also occurs in ANOTHER document is
  // duplicated text; overlapping/adjacent duplicated grams merge into
  // maximal spans, reported per document as span count / duplicated
  // token mass / longest span / duplicated fraction.
  //
  // Scale posture: this is the dedup family's best 100 TB story —
  // NO pair generation at all. The gram table is linear in corpus
  // tokens; duplicate detection is ONE groupBy(gh) with map-side
  // partial aggregation (a boilerplate gram shared by a million docs
  // costs n occurrence rows, never n² pairs — contrast the capped
  // band joins above); the island merge is a per-document window over
  // only the duplicated occurrences (a small fraction of the corpus).

  /** Gram width: a duplicated run must be at least this many tokens.
    * The paper uses 50 BPE tokens on web-scale corpora; 8 word tokens
    * matches the ~56-token synthetic documents the same way. */
  private[graft] val SubW = 8

  /** (doc_id, idx, gh): the 60-bit hash of the SubW-token gram
    * starting at token idx. Same per-doc ordered window the 3-shingle
    * table rides; concat_ws is null-free after the last-lead filter
    * (lead(SubW-1) non-null implies all shorter leads non-null). */
  /** (doc_id, idx, gh): the 60-bit hash of the SubW-token gram
    * starting at token idx. Deliberately does NOT carry the doc's
    * token count as a window — `count() over (partition by doc_id)`
    * has no ordering, so it can't fuse with the ordered lead window
    * and costs a SECOND full buffered window pass over every token
    * (measured 4 s of the 6 s total at the 100× corpus); the final
    * per-doc join against a map-side-combined count is far cheaper. */
  private def subGrams(spark: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy("doc_id").orderBy("idx")
    // re-rank positions into contiguous token space: posexplode idx
    // has gaps where empty tokens were dropped, and span token-mass
    // arithmetic below assumes gram i covers tokens i..i+SubW-1
    val t = tokens(spark, dir)
      .withColumn("ri", row_number().over(wd) - 1)
    val withLeads = (1 until SubW).foldLeft(t) {
      (df, j) => df.withColumn(s"g$j", lead("tok", j).over(wd))
    }
    val gram = concat_ws(" ",
      col("tok") +: (1 until SubW).map(j => col(s"g$j")): _*)
    withLeads.filter(col(s"g${SubW - 1}").isNotNull)
      .select(col("doc_id"), col("ri").as("idx"), h60(gram).as("gh"))
  }

  /** Duplicated gram starts: (doc_id, idx) rows for grams
    * present in >= 2 DISTINCT docs (cross-document duplication;
    * within-doc repeats alone don't count — they're text_repetition's
    * job). The distinct-doc count is first-in-doc markers summed over
    * a gh window: both windows share ONE gh exchange, so the gram
    * table is never joined back to itself (no second window pass, no
    * join — contrast the groupBy+join-back alternative, which plans
    * the whole gram subtree twice). */
  private def dupStarts(spark: SparkSession, dir: String): DataFrame = {
    val wg = Window.partitionBy("gh").orderBy("doc_id", "idx")
    subGrams(spark, dir)
      .withColumn("fst",
        when(lag("doc_id", 1).over(wg) === col("doc_id"), 0).otherwise(1))
      .withColumn("nd", sum("fst").over(Window.partitionBy("gh")))
      .filter(col("nd") >= 2)
      .select("doc_id", "idx")
  }

  def dedupSubstring(spark: SparkSession, dir: String): DataFrame = {
    val occ = dupStarts(spark, dir)
    // gaps-and-islands: gram at idx covers [idx, idx+SubW-1]; a new
    // span starts when the previous duplicated gram can't reach us.
    // This window runs over only the DUPLICATED occurrences.
    val wd = Window.partitionBy("doc_id").orderBy("idx")
    val spans = occ
      .withColumn("brk",
        when(col("idx") - lag("idx", 1).over(wd) > SubW, 1).otherwise(0))
      .withColumn("island", sum("brk").over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "island")
      .agg(min(col("idx")).as("s"),
        (max(col("idx")) + lit(SubW - 1)).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_tokens"),
        max(col("e") - col("s") + 1).cast("long").as("max_span"))
    // per-doc token counts as a map-side-combined hash aggregate (a
    // tiny shuffle of one row per doc); perDoc is the docs-with-spans
    // subset, so AQE broadcasts it at any realistic duplication rate
    val tot = tokens(spark, dir).groupBy("doc_id")
      .agg(count(lit(1)).as("tok_total"))
    perDoc.join(tot, "doc_id")
      .select(col("doc_id"), col("n_spans"), col("dup_tokens"),
        col("max_span"), col("tok_total"),
        (col("dup_tokens").cast("double") / col("tok_total"))
          .as("dup_frac"))
  }

  // dedup_substring_clean — the transformation half of the pipeline
  // step: emit each document's token stream with EVERY occurrence of a
  // cross-doc duplicated span removed (the paper's removal semantics —
  // all copies go, not all-but-one). Output text is the normalized
  // (lowercased, single-spaced) token stream, matching the detection
  // tokenization.
  //
  // No range join anywhere: span coverage is a ±1 event sweep — each
  // duplicated gram start contributes +1 at idx and -1 at idx+SubW,
  // and a per-doc running sum over (position, events-first) marks a
  // token covered when the sum is positive. Events exist only for
  // duplicated occurrences, so the sweep's sort is corpus tokens plus
  // a small event fraction; the final per-doc rebuild rides the SAME
  // doc_id exchange the sweep window already paid.
  def dedupSubstringClean(spark: SparkSession, dir: String): DataFrame = {
    val wd0 = Window.partitionBy("doc_id").orderBy("idx")
    val tok = tokens(spark, dir)
      .withColumn("pos", row_number().over(wd0) - 1)
      .select(col("doc_id"), col("pos"), lit(1).as("k"),
        lit(0).as("d"), col("tok"))
    val occ = dupStarts(spark, dir)
    val ev = occ.select(col("doc_id"), col("idx").as("pos"),
        lit(0).as("k"), lit(1).as("d"), lit(null).cast("string").as("tok"))
      .unionByName(occ.select(col("doc_id"),
        (col("idx") + lit(SubW)).as("pos"),
        lit(0).as("k"), lit(-1).as("d"), lit(null).cast("string").as("tok")))
    val ws = Window.partitionBy("doc_id").orderBy("pos", "k")
    val covered = ev.unionByName(tok)
      .withColumn("c", sum("d").over(
        ws.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("k") === 1) // keep token rows; c>0 = inside a span
    covered.groupBy("doc_id")
      .agg(
        // collect_list skips nulls, so only kept tokens enter; the
        // struct sorts by pos first — order restored after the shuffle
        array_join(transform(array_sort(collect_list(
          when(col("c") === 0, struct(col("pos"), col("tok"))))),
          x => x("tok")), " ").as("clean_text"),
        sum(when(col("c") === 0, 1L).otherwise(0L)).as("kept_tokens"),
        sum(when(col("c") > 0, 1L).otherwise(0L)).as("dropped_tokens"))
      // a fully-duplicated document leaves the corpus entirely — and
      // the output row count now DEPENDS on coverage, so a count-based
      // consumer cannot constant-fold the event branch away
      .filter(col("kept_tokens") > 0)
  }

  val dedupSubstringCleanSql: String = {
    val gramExpr = (1 until SubW)
      .map(j => s"lead(tok,$j) OVER w").mkString("tok || ' ' || ", " || ' ' || ", "")
    s"""WITH $tokensSql,
       |tkm AS MATERIALIZED (SELECT doc_id,
       |  row_number() OVER (PARTITION BY doc_id ORDER BY idx) - 1 AS pos,
       |  tok FROM tk),
       |g0 AS (SELECT doc_id, pos, $gramExpr AS gram
       |  FROM tkm WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       |g AS (SELECT doc_id, pos AS idx, ${h60Sql("gram")} AS gh
       |  FROM g0 WHERE gram IS NOT NULL),
       |fstm AS (SELECT doc_id, idx, gh,
       |  CASE WHEN lag(doc_id) OVER (PARTITION BY gh
       |        ORDER BY doc_id, idx) IS DISTINCT FROM doc_id
       |      THEN 1 ELSE 0 END AS fst
       |  FROM g),
       |marked AS (SELECT doc_id, idx,
       |  sum(fst) OVER (PARTITION BY gh) AS nd FROM fstm),
       |occ AS (SELECT doc_id, idx FROM marked WHERE nd >= 2),
       |ev AS (SELECT doc_id, idx AS pos, 0 AS k, 1 AS d,
       |    CAST(NULL AS VARCHAR) AS tok FROM occ
       |  UNION ALL
       |  SELECT doc_id, idx + $SubW, 0, -1, NULL FROM occ
       |  UNION ALL
       |  SELECT doc_id, pos, 1, 0, tok FROM tkm),
       |cov AS (SELECT doc_id, pos, k, tok,
       |  sum(d) OVER (PARTITION BY doc_id ORDER BY pos, k) AS c
       |  FROM ev)
       |SELECT doc_id,
       |  coalesce(string_agg(tok, ' ' ORDER BY pos)
       |    FILTER (WHERE c = 0), '') AS clean_text,
       |  CAST(count(*) FILTER (WHERE c = 0) AS BIGINT) AS kept_tokens,
       |  CAST(count(*) FILTER (WHERE c > 0) AS BIGINT) AS dropped_tokens
       |FROM cov WHERE k = 1 GROUP BY doc_id
       |HAVING count(*) FILTER (WHERE c = 0) > 0""".stripMargin
  }

  val dedupSubstringSql: String = {
    val gramExpr = (1 until SubW)
      .map(j => s"lead(tok,$j) OVER w").mkString("tok || ' ' || ", " || ' ' || ", "")
    s"""WITH $tokensSql,
       |tkm AS MATERIALIZED (SELECT * FROM tk),
       |g0 AS (SELECT doc_id,
       |  row_number() OVER w - 1 AS ri, $gramExpr AS gram
       |  FROM tkm WINDOW w AS (PARTITION BY doc_id ORDER BY idx)),
       |g AS MATERIALIZED (SELECT doc_id, ri AS idx, ${h60Sql("gram")} AS gh
       |  FROM g0 WHERE gram IS NOT NULL),
       |dup AS (SELECT gh FROM g GROUP BY gh
       |  HAVING count(DISTINCT doc_id) >= 2),
       |occ AS (SELECT g.doc_id, g.idx FROM g JOIN dup ON dup.gh = g.gh),
       |brk AS (SELECT doc_id, idx,
       |  CASE WHEN idx - lag(idx) OVER (PARTITION BY doc_id ORDER BY idx)
       |       > $SubW THEN 1 ELSE 0 END AS b
       |  FROM occ),
       |isl AS (SELECT doc_id, idx,
       |  sum(b) OVER (PARTITION BY doc_id ORDER BY idx) AS island
       |  FROM brk),
       |sp AS (SELECT doc_id, island, min(idx) AS s,
       |  max(idx) + ${SubW - 1} AS e
       |  FROM isl GROUP BY doc_id, island),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |  CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens,
       |  CAST(max(e - s + 1) AS BIGINT) AS max_span
       |  FROM sp GROUP BY doc_id),
       |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS tok_total
       |  FROM tkm GROUP BY doc_id)
       |SELECT a.doc_id, a.n_spans, a.dup_tokens, a.max_span,
       |  t.tok_total, CAST(a.dup_tokens AS DOUBLE) / t.tok_total AS dup_frac
       |FROM agg a JOIN tot t USING (doc_id)""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("dedup_exact", dedupExact, dedupExactSql),
    Query("dedup_minhash_lsh", dedupMinhashLsh(_, _), dedupMinhashLshSql),
    Query("dedup_simhash", dedupSimhash, dedupSimhashSql),
    Query("dedup_simhash_pairs", dedupSimhashPairs(_, _), dedupSimhashPairsSql),
    Query("dedup_ngram_jaccard", dedupNgramJaccard, dedupNgramJaccardSql),
    Query("dedup_substring", dedupSubstring, dedupSubstringSql),
    Query("dedup_substring_clean", dedupSubstringClean, dedupSubstringCleanSql),
    Query("dedup_clusters", dedupClusters, dedupClustersSql))
}
