package graft.streaming

import graft.{Query, SessionMemo, Tables}
import graft.streaming.StreamingOps.{AsOfOut, Event, SemDrop, SessionOut, Vec}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Deterministic replay harness for the STATEFUL streaming twins —
  * the round-12 verdict's driver-gate item: each `streaming_*_replay`
  * query drives the real corpus through the actual Structured
  * Streaming plan (MemoryStream source → flatMapGroupsWithState →
  * memory sink) in a FIXED multi-micro-batch split, and returns the
  * sink as a DataFrame, so the streaming execution path lands under
  * the driver's DuckDB hash gate instead of spec-only parity pins.
  *
  * Determinism contract (what makes a hash gate possible at all):
  *  - the micro-batch split is a pure function of the data — rows
  *    sort by the twin's own processing key and slice into K
  *    contiguous batches, each drained with processAllAvailable()
  *    before the next is offered, so batch boundaries never depend
  *    on wall-clock or scheduler timing;
  *  - every stateful accumulation is exact: session value sums run
  *    in µ-units (whole doubles — integer-exact under addition), the
  *    as-of state carries values verbatim, and the semantic-dedup
  *    decisions compare 6 dp-quantized cosines (the batch plan's own
  *    discipline);
  *  - sessionize gets one final sentinel batch (a far-future flush
  *    event per user) so each user's last real session CLOSES and
  *    emits — the sentinel's own open session never emits, so the
  *    output is exactly the batch session set.
  *
  * MemoryStream is driver-fed by design, so this file materializes
  * the corpus on the driver — the ONE sanctioned exception to the
  * no-collect convention (PlanGuardSpec allowlists Replay.scala; the
  * registered query OUTPUT is still a distributed computation, and at
  * cluster scale the same plans read Kafka/files instead of a driver
  * feed — the replay exists to gate the semantics, not to model the
  * production source).
  */
object Replay {

  private val seq = new java.util.concurrent.atomic.AtomicLong()
  // previous memory-sink table per op: dropped when the op re-runs so
  // repeated invocations in one session don't accumulate sink tables
  private val lastSink = new SessionMemo[String](_ => true,
    (spark, qn) => spark.catalog.dropTempView(qn))

  /** Run `mk` over a MemoryStream fed `batches` (one micro-batch per
    * element, drained in order), sink to a fresh memory table, return
    * it as a DataFrame. */
  private def runAppend[T: Encoder](spark: SparkSession, op: String,
      batches: Seq[Seq[T]], mode: String = "append", parts: Int = 8,
      inParts: Int = 1)(
      mk: Dataset[T] => DataFrame): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    // Round 14 (optimization): a MemoryStream without numPartitions
    // plans ONE input partition per addData block, so a twin's
    // per-arrival kernel (feature hashing, shingling, minhash bands,
    // the ×nf trig fan-out) ran single-threaded per micro-batch — for
    // those twins the map stage, not the stateful shuffle, was the
    // replay wall (guide §2.1: read the stage, not the operator).
    // `inParts` > 1 splits each batch across that many input
    // partitions; output is unchanged because every stateful twin
    // sorts its group's rows by a total key (or is order-insensitive:
    // integer-exact sums / join sets / 6 dp-rounded powers — the same
    // cross-engine discipline the oracles already rely on). Twins
    // whose map stage is a trivial projection (as-of tagging, exact
    // dedup, the stream–stream interval join) keep 1 input partition:
    // measured, the extra per-batch tasks only ADDED wall (interval
    // replay 12.6 s → 25.8 s at 32 input partitions).
    val input =
      if (inParts > 1) MemoryStream[T](inParts) else MemoryStream[T]
    val qn = s"${op}_${seq.incrementAndGet()}"
    // Replay-session tuning (round-13 verdict item 2): a replay
    // micro-batch costs state-store commits × shuffle partitions —
    // per-batch ENGINE overhead, not data volume — so the session's
    // 32 partitions were pure tax at the gate corpus (~39 s across 5
    // replays; asof 12.9 s → 2.9 s at 8). Scope shuffle.partitions
    // to the streaming query: StreamExecution clones the session
    // (and its conf) inside start(), so restoring right after leaves
    // batch queries on the session default. `parts` stays at the
    // session width for CPU-BOUND stateful twins (semantic dedup's
    // cap² cosine pairing: 271 s CPU — at 8 partitions the replay
    // LOST wall time to the narrower thread pool). The production
    // twins inherit whatever the cluster session sets — this knob
    // tunes only the replay gate.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    // Spark 4.1 wraps every checkpoint write in the checksum file
    // manager: each state-store delta commit AWAITS a checksum
    // computed on a side pool (a per-stage profile: the replay's task
    // time was 49 s at 1.9 s CPU, dominated by
    // ChecksumCheckpointFileManager.awaitResult inside
    // finalizeDeltaFile). The replay checkpoint is
    // run-scoped scratch on a local disk — corruption detection buys
    // nothing here — so scope the checksum off for the gate queries;
    // production twins keep whatever their session sets.
    val ckSumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val prevCkSum = spark.conf.getOption(ckSumKey)
    spark.conf.set(ckSumKey, "false")
    // Round 14 (optimization): the replay's wall was never the data —
    // a per-stage profile showed the micro-batch stages at 49 s task
    // time but only 1.9 s CPU: every state-store partition commit fsyncs its
    // delta file to the disk-backed default checkpoint dir, parts ×
    // batches times per run. The gate needs the checkpoint only while
    // the query runs (determinism comes from the ordered feed, not
    // from recovery), so point it at a RAM-backed dir when one exists
    // — commit semantics, plans and results are unchanged; production
    // twins configure their own durable checkpointLocation.
    // Round 15 (r14 ADVICE item 1): the base is pid-suffixed so two
    // concurrent JVMs (e.g. two Verify runs) can never collide on a
    // checkpoint path, and a crashed run's leftovers are swept by the
    // next Scratch.localDir() call instead of persisting to reboot.
    val ckDir = s"${graft.Scratch.replayCkBase()}/$qn"
    val ckFile = new java.io.File(ckDir)
    // defensive: a stale dir here (killed run, same pid recycled)
    // would make append-mode queries throw on checkpoint recovery
    graft.Scratch.rm(ckFile)
    val q = try mk(input.toDS()).writeStream.outputMode(mode)
      .option("checkpointLocation", ckDir)
      .format("memory").queryName(qn).start()
    catch { case e: Throwable => graft.Scratch.rm(ckFile); throw e }
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevCkSum match {
        case Some(v) => spark.conf.set(ckSumKey, v)
        case None => spark.conf.unset(ckSumKey)
      }
    }
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally {
      q.stop()
      // Every run loads parts× state-store providers keyed by its
      // fresh checkpoint dir, and a stopped query does NOT unload
      // them — across a 12-replay × multi-run session ~10³ dead
      // providers accumulate, and each 60 s maintenance tick then
      // iterates all of them doing Hadoop local-FS shell forks
      // (chmod/stat — no native hadoop lib here) while holding the
      // provider-map lock, which a stage profile caught as task threads
      // BLOCKED in StateStore.getStateStoreProvider mid-measurement.
      // Unload eagerly — scoped to THIS query's checkpoint root
      // (round 15, r14 VERDICT item 9: unloadAll() would close a
      // concurrently-running stateful query's providers mid-batch).
      try org.apache.spark.sql.graft.StateStoreBridge
        .unloadForCheckpoint(ckDir)
      // the checkpoint is run-scoped scratch: delete it so repeated
      // runs don't accumulate state/offset files in the RAM dir —
      // also when the unload throws
      finally graft.Scratch.rm(ckFile)
    }
    lastSink.replace(spark, op, qn)
    spark.table(qn)
  }

  /** K contiguous slices of `rows` (already in processing order). */
  private def slices[T](rows: Seq[T], k: Int): Seq[Seq[T]] = {
    val n = rows.size
    (0 until k).map(i => rows.slice(i * n / k, (i + 1) * n / k))
      .filter(_.nonEmpty)
  }

  private val Gap = 1800L

  /** events as the streaming Event shape in processing order
    * (ts, event_id), with `value` in exact µ-units when `quantize`
    * (whole doubles ⇒ stateful sums are integer-exact, the repo's
    * standard cross-engine sum discipline). */
  private def eventRows(spark: SparkSession, dir: String,
      quantize: Boolean): Seq[Event] = {
    import spark.implicits._
    val ev = Tables.table(spark, dir, "events")
    val v = if (quantize) floor(col("value") * 10000.0 + 0.5).cast("double")
      else col("value")
    ev.select(col("event_id"), timestamp_micros(Tables.tsMicros(ev)).as("ts"),
        col("user_id"), col("event_type"), v.as("value"))
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id)).toSeq
  }

  // -------------------------------------------------------------------
  // streaming_sessionize_replay — the stateful sessionize twin
  // (StreamingOps.sessionize) over 4 event-time-ordered micro-batches
  // + a sentinel flush batch; oracle = gap-sessionization at the
  // stream's epoch-second granularity with µ-unit sums.
  // -------------------------------------------------------------------
  def streamingSessionizeReplay(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val rows = eventRows(spark, dir, quantize = true)
    val maxT = rows.iterator.map(_.ts.getTime / 1000).max
    val sentinelTs = new java.sql.Timestamp((maxT + 10 * Gap) * 1000)
    val sentinels = rows.map(_.user_id).distinct.sorted
      .map(u => Event(-1L, sentinelTs, u, "flush", 0.0))
    runAppend(spark, "sess_replay", slices(rows, 4) :+ sentinels,
      inParts = spark.sparkContext.defaultParallelism) { in =>
      StreamingOps.sessionize(in, gapSec = Gap, useTimeout = false).toDF()
    }
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("sum_value").cast("long").as("sum_value_u"))
  }

  val streamingSessionizeReplaySql: String =
    s"""WITH s AS (SELECT user_id, epoch_us(ts) // 1000000 AS t,
       |  cast(floor(value * 10000.0 + 0.5) AS BIGINT) AS vu,
       |  event_id AS eid FROM events),
       |b AS (SELECT *, CASE WHEN t - lag(t,1)
       |    OVER (PARTITION BY user_id ORDER BY t, eid) > $Gap
       |  THEN 1 ELSE 0 END AS brk FROM s),
       |sess AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
       |    ORDER BY t, eid ROWS UNBOUNDED PRECEDING) AS session FROM b)
       |SELECT user_id, cast(min(t) AS BIGINT) AS session_start,
       |  count(*) AS n_events, cast(sum(vu) AS BIGINT) AS sum_value_u
       |FROM sess GROUP BY user_id, session""".stripMargin

  // -------------------------------------------------------------------
  // streaming_asof_replay — the stateful as-of enrichment twin
  // (StreamingOps.asofEnrich): every event, enriched with the latest
  // purchase at or before its (epoch-second) time, over 4 micro-
  // batches sliced along the twin's own processing key (t, refs-
  // first, eid) so the multi-batch run is EXACT as-of (in-order
  // arrival — the twin's documented contract). Oracle: purchases
  // deduped per (user, second) to the max-eid row (the state's
  // last-overwrite-wins), then DuckDB's native ASOF LEFT JOIN.
  // -------------------------------------------------------------------
  def streamingAsofReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = eventRows(spark, dir, quantize = false)
    // every event probes; purchases additionally ride as refs — one
    // tagged stream (asofTagged) so a micro-batch carries a slice's
    // probes AND refs together (see asofTagged's race note), sliced
    // along the twin's own processing key (t, refs-first, eid)
    val tagged = rows.map((_, false)) ++
      rows.filter(_.event_type == "purchase").map((_, true))
    val ordered = tagged.sortBy { case (e, isRef) =>
      (e.ts.getTime / 1000, !isRef, e.event_id)
    }
    runAppend(spark, "asof_replay", slices(ordered, 4),
      inParts = spark.sparkContext.defaultParallelism) { in =>
      StreamingOps.asofTagged(in).toDF()
    }
  }

  val streamingAsofReplaySql: String =
    """WITH e AS (SELECT user_id, event_id AS eid,
      |  epoch_us(ts) // 1000000 AS t, value, event_type FROM events),
      |r AS (SELECT user_id, t, value, eid,
      |  row_number() OVER (PARTITION BY user_id, t ORDER BY eid DESC)
      |    AS rk
      |  FROM e WHERE event_type = 'purchase'),
      |ref AS (SELECT user_id, t AS rt, value AS rv FROM r WHERE rk = 1)
      |SELECT e.user_id, e.eid, e.t, ref.rt AS asof_t,
      |  ref.rv AS asof_value
      |FROM e ASOF LEFT JOIN ref
      |  ON e.user_id = ref.user_id AND e.t >= ref.rt""".stripMargin

  // -------------------------------------------------------------------
  // streaming_semantic_replay — the stateful SemDeDup twin
  // (StreamingOps.semanticDedupStream) against the batch-trained
  // static codebook, over 3 vec_id-ordered micro-batches (the order
  // under which the twin is batch-equal even at the occupancy cap).
  // Oracle: the batch dedup_semantic loser set.
  // -------------------------------------------------------------------
  def streamingSemanticReplay(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    // train the static codebook once per run: the fine tier's plan
    // embeds the coarse chain, so unshared builders re-ran the coarse
    // Lloyd step per tier (see SemDedup.centroidsShared)
    val (coarseDf, fineDf, release) =
      graft.sim.SemDedup.centroidsShared(spark, dir)
    val (coarse, fine) = try {
      (centroidArrays(coarseDf, 1), centroidArrays(fineDf, 16))
    } finally release()
    val corpus = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .as[Vec].collect().sortBy(_.vec_id).toSeq
    runAppend(spark, "sem_replay", slices(corpus, 3),
      parts = spark.sparkContext.defaultParallelism) { in =>
      StreamingOps.semanticDedupStream(in, coarse, fine).toDF()
    }
  }

  /** The trained codebook as driver-side (key, components) arrays —
    * the static model the streaming twin's caller prepares (train
    * once, score forever). `keyMul` folds the coarse code into the
    * fine key (cluster = code·16 + f, 1 for the coarse tier whose key
    * IS the code). */
  private def centroidArrays(df: DataFrame,
      keyMul: Int): Array[(Long, Array[Double])] = {
    val rows = df.collect().map { r =>
      val code = r.getAs[Number]("code").longValue
      val key = if (keyMul == 1) code
        else code * keyMul + r.getAs[Number]("f").longValue
      (key, r.getAs[Number]("i").intValue,
        r.getAs[Number]("cv").doubleValue)
    }
    rows.groupBy(_._1).toArray.sortBy(_._1).map { case (key, rs) =>
      val arr = new Array[Double](rs.map(_._2).max + 1)
      rs.foreach { case (_, i, cv) => arr(i) = cv }
      (key, arr)
    }
  }

  val streamingSemanticReplaySql: String =
    s"""SELECT cluster, vec_id FROM (
       |${graft.sim.SemDedup.dedupSemanticSql}
       |) sem WHERE NOT keep""".stripMargin

  // -------------------------------------------------------------------
  // streaming_windowed_replay — the watermarked tumbling-window agg
  // twin (StreamingOps.windowedAgg), complete-mode over 4 event-time
  // micro-batches (the stateful partial aggregation accumulates
  // across batches; complete mode emits the final window table).
  // µ-unit values make the stateful sums integer-exact; second-level
  // truncation never crosses a 300 s window boundary, so the oracle's
  // (t // 300)·300 grouping is the stream's exact window assignment.
  // -------------------------------------------------------------------
  def streamingWindowedReplay(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val rows = eventRows(spark, dir, quantize = true)
    runAppend(spark, "win_replay", slices(rows, 4), mode = "complete",
      inParts = spark.sparkContext.defaultParallelism) {
      in => StreamingOps.windowedAgg(in)
    }
      .select(col("window.start").cast("long").as("window_start"),
        col("event_type"), col("n"),
        col("sum_value").cast("long").as("sum_value_u"))
  }

  val streamingWindowedReplaySql: String =
    """WITH s AS (SELECT epoch_us(ts) // 1000000 AS t, event_type,
      |  cast(floor(value * 10000.0 + 0.5) AS BIGINT) AS vu FROM events)
      |SELECT (t // 300) * 300 AS window_start, event_type,
      |  count(*) AS n, cast(sum(vu) AS BIGINT) AS sum_value_u
      |FROM s GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------------------
  // streaming_neardedup_replay — the stateful minhash near-dedup twin
  // (StreamingOps.nearDedupStream): documents replayed in doc_id
  // order over 3 micro-batches; keyed band-bucket state pairs each
  // arrival against earlier members, so candidates accumulate ACROSS
  // batches; doc_id-ordered arrival makes the capped stream admit the
  // same lowest-id bucket members the batch plan ranks in. Oracle:
  // the per-band capped bucket self-join (the batch band chain
  // WITHOUT the cross-band distinct — the stream emits one row per
  // shared band).
  // -------------------------------------------------------------------
  def streamingNeardedupReplay(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[StreamingOps.Doc].collect().sortBy(_.doc_id).toSeq
    runAppend(spark, "nd_replay", slices(docs, 3),
      inParts = spark.sparkContext.defaultParallelism) { in =>
      StreamingOps.nearDedupStream(in).toDF()
    }
  }

  val streamingNeardedupReplaySql: String =
    s"""WITH ${graft.dedup.Dedup.minhashCandSql}
       |SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2, a.band
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id""".stripMargin

  // -------------------------------------------------------------------
  // streaming_dedup_replay — the stateful exact-dedup twin
  // (StreamingOps.dedupeStream, dropDuplicates keyed state — round-13
  // verdict item 1). Batching is rank-within-content-hash-group:
  // batches 1-2 carry each hash's LOWEST doc_id (the batch canonical
  // winner) in two contiguous doc_id slices — all hashes distinct
  // within them, so the within-batch winner is deterministic under
  // any partitioning; batch 3 carries every rank≥1 duplicate (its
  // hash is ALWAYS in state by then — cross-batch suppression, the
  // engine path under test); batch 4 re-feeds every 5th winner row
  // VERBATIM, so suppression is exercised even on a duplicate-free
  // gate corpus. Oracle: the batch dedup_exact canonical set.
  // -------------------------------------------------------------------
  def streamingDedupReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[StreamingOps.Doc].collect().sortBy(_.doc_id).toSeq
    val groups = docs.groupBy(d => graft.dedup.Dedup.md5Hex(d.text)).values
      .map(_.sortBy(_.doc_id)).toSeq
    val winners = groups.map(_.head).sortBy(_.doc_id)
    val losers = groups.flatMap(_.tail).sortBy(_.doc_id)
    val refeed = winners.filter(_.doc_id % 5 == 0)
    runAppend(spark, "dedup_replay",
      slices(winners, 2) ++ Seq(losers, refeed).filter(_.nonEmpty)) { in =>
      StreamingOps.dedupeStream(in).select("doc_id", "content_hash")
    }
  }

  val streamingDedupReplaySql: String =
    """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash
      |FROM documents GROUP BY md5(text)""".stripMargin

  // -------------------------------------------------------------------
  // streaming_interval_replay — the watermark-bounded stream–stream
  // interval join twin (StreamingOps.purchaseClickJoin — round-13
  // verdict item 1): purchases and clicks derive from ONE tagged
  // MemoryStream (self-join — two MemoryStreams can race a batch
  // boundary between their addData calls, see asofTagged) replayed in
  // 4 event-time-ordered micro-batches. In-order arrival means no
  // real row is ever late and no still-matchable state row is ever
  // evicted (gWm = min(maxP−10 min, maxC−2 h) trails the feed), so
  // the output is EXACTLY the batch inequality join. A 5th batch
  // carries ONE synthetic late click (user/time copied from a real
  // purchase old enough that c_ts < gWm − 1 h): the engine must DROP
  // it — its would-be pair is real, so a watermark bug surfaces as an
  // extra row against the oracle, which never sees the synthetic row.
  // -------------------------------------------------------------------
  private def microsOf(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  def streamingIntervalReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = eventRows(spark, dir, quantize = false)
      .filter(e => e.event_type == "purchase" || e.event_type == "click")
    val purchases = rows.filter(_.event_type == "purchase")
    val wmUs = math.min(
      purchases.iterator.map(p => microsOf(p.ts)).max - 600000000L,
      rows.iterator.filter(_.event_type == "click")
        .map(c => microsOf(c.ts)).max - 7200000000L)
    // the youngest purchase safely below the click-side late horizon
    // (1 s margin past gWm − 1 h); its cloned click MUST be dropped
    val lateBase = purchases
      .filter(p => microsOf(p.ts) + 1000000L <= wmUs - 3600000000L)
      .maxByOption(p => (microsOf(p.ts), p.event_id))
    val lateBatch = lateBase.toSeq
      .map(p => Event(-1L, p.ts, p.user_id, "click", 0.0))
    runAppend(spark, "interval_replay",
      slices(rows, 4) ++ Option(lateBatch).filter(_.nonEmpty)) { in =>
      StreamingOps.purchaseClickJoin(
        in.filter(col("event_type") === "purchase").as[Event],
        in.filter(col("event_type") === "click").as[Event])
        .select(col("p_user").as("user_id"),
          unix_micros(col("p_ts")).as("p_t"), col("p_value"),
          unix_micros(col("c_ts")).as("c_t"))
    }
  }

  val streamingIntervalReplaySql: String =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS p_t, value AS p_value
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(ts) AS c_t
      |  FROM events WHERE event_type = 'click')
      |SELECT p.user_id, p.p_t, p.p_value, c.c_t
      |FROM p JOIN c ON c.user_id = p.user_id
      |  AND c.c_t >= p.p_t - 3600000000 AND c.c_t <= p.p_t""".stripMargin

  // -------------------------------------------------------------------
  // The five stream–static twins (round-13 verdict item 3): no keyed
  // state beyond the per-doc/per-window aggregation, so each replay
  // is one complete-mode runAppend over ordered corpus slices; the
  // static side (benchmark shingles / unigram LM / DSIR λ / segment
  // inventory) is trained from the SAME corpus, so the batch oracle
  // is exact (no OOV row exists when model == corpus).
  // -------------------------------------------------------------------
  private def docRows(spark: SparkSession,
      dir: String): Seq[StreamingOps.Doc] = {
    import spark.implicits._
    Tables.table(spark, dir, "documents").select(col("doc_id"), col("text"))
      .as[StreamingOps.Doc].collect().sortBy(_.doc_id).toSeq
  }

  /** Materialize the STATIC side once for the whole replay — the
    * streaming engine re-plans (and would re-EXECUTE) the static join
    * side per micro-batch, so an unpersisted model table re-runs its
    * full training chain 3× per run (streaming_dsir_replay measured
    * 16.8 s, ~all λ-table rebuilds). Train once, score forever is the
    * production posture anyway; released before returning. */
  private def withStatic(df: DataFrame)(
      body: DataFrame => DataFrame): DataFrame = {
    val cached = df.persist()
    cached.count()
    try body(cached) finally cached.unpersist()
  }

  /** Decontamination twin vs the static benchmark shingle set. Unlike
    * batch text_contamination there is NO self-match exclusion (an
    * external feed is not part of the benchmark), so benchmark docs
    * score contam_frac = 1 — the oracle mirrors that. */
  def streamingContaminationReplay(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    withStatic(graft.text.TextOps.benchShingleSet(spark, dir)) { bench =>
      runAppend(spark, "contam_replay", slices(docRows(spark, dir), 3),
        mode = "complete",
        inParts = spark.sparkContext.defaultParallelism) { in =>
        StreamingOps.contaminationStream(in, bench)
      }
    }
  }

  val streamingContaminationReplaySql: String =
    s"""WITH ${graft.text.TextOps.shinglesSql},
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 50 = 0)
       |SELECT s.doc_id, count(*) AS n_sh, count(b.h) AS n_contam,
       |  round(cast(count(b.h) AS double) / count(*), 6) AS contam_frac
       |FROM sh s LEFT JOIN bench b ON b.h = s.h
       |GROUP BY 1""".stripMargin

  /** LM-scoring twin vs the static corpus unigram model (model ==
    * corpus ⇒ the OOV floor never fires; the oracle joins every token
    * to its exact µ-nat lp). */
  def streamingLmscoreReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withStatic(graft.text.TextOps.unigramModel(spark, dir)) { lm =>
      runAppend(spark, "lmscore_replay", slices(docRows(spark, dir), 3),
        mode = "complete",
        inParts = spark.sparkContext.defaultParallelism) { in =>
        StreamingOps.scoreDocs(in, lm)
      }
    }
  }

  val streamingLmscoreReplaySql: String =
    s"""WITH ${graft.text.TextOps.tokSql},
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
       |ug AS (SELECT tok, cast(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
       |tot AS (SELECT cast(sum(c) AS BIGINT) AS t FROM ug),
       |lp AS (SELECT tok,
       |  cast(round(ln(cast(c AS double) / t) * 1000000.0) AS BIGINT) AS lp
       |  FROM ug CROSS JOIN tot),
       |agg AS (SELECT doc_id, cast(count(*) AS BIGINT) AS n_tok,
       |  cast(sum(lp) AS BIGINT) AS sum_lp
       |  FROM tk JOIN lp USING (tok) GROUP BY 1)
       |SELECT doc_id, n_tok,
       |  round(cast(sum_lp AS double) / n_tok / 1000000.0, 6) AS lp_mean
       |FROM agg""".stripMargin

  /** DSIR-scoring twin vs the static λ table (trained on the same
    * corpus ⇒ every feature bucket is covered; output == the batch
    * corpus_dsir_weights rows exactly). */
  def streamingDsirReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withStatic(graft.text.Dsir.lambdaTable(spark, dir)) { lam =>
      runAppend(spark, "dsir_replay", slices(docRows(spark, dir), 3),
        mode = "complete",
        inParts = spark.sparkContext.defaultParallelism) { in =>
        StreamingOps.dsirScoreStream(in, lam)
      }
    }
  }

  val streamingDsirReplaySql: String = graft.text.Dsir.corpusDsirWeightsSql

  /** Segment-scrub twin vs the static boilerplate inventory (the
    * batch detect table h → min_doc); replaying the training corpus
    * reproduces the batch dedup_segments_clean output exactly. */
  def streamingScrubReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    withStatic(graft.dedup.SegDedup.dedupSegments(spark, dir)
      .select(col("h"), col("min_doc"))) { boiler =>
      runAppend(spark, "scrub_replay", slices(docRows(spark, dir), 3),
        mode = "complete",
        inParts = spark.sparkContext.defaultParallelism) { in =>
        StreamingOps.segmentScrubStream(in, boiler)
      }
    }
  }

  val streamingScrubReplaySql: String =
    graft.dedup.SegDedup.dedupSegmentsCleanSql

  /** Incremental GLS twin: the watermarked per-(day-window, user)
    * ZK periodogram over raw moment averages accumulated ACROSS the
    * 4 event-time micro-batches (complete mode). The oracle recomputes
    * the identical moment algebra in DuckDB — same constant
    * association ((2π·(1/86400))·k)·tc, same algebraic centering —
    * and reads it with the batch oracles' closed form, Gls.powerSql,
    * with 6 dp power rounding absorbing FP-summation-order drift (the
    * batch GLS oracle's discipline). */
  def streamingGlsReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = eventRows(spark, dir, quantize = false)
    // inParts stays 1 (round 15, r14 ADVICE item 3): the GLS twin's
    // state is DOUBLE-precision moment averages, so splitting a batch
    // across input partitions makes the partial-aggregation merge
    // order nondeterministic — the 6 dp power rounding absorbs it in
    // practice, but a value near a rounding boundary would make the
    // hash gate flaky run-to-run. Every other fan-out twin keeps
    // inParts>1 because its accumulation is integer-exact or sorted
    // by a total key; gls is the one FP aggregate, and most of its
    // r14 win came from the checksum/provider fixes anyway.
    runAppend(spark, "gls_replay", slices(rows, 4), mode = "complete") {
      in => StreamingOps.streamingGls(in)
    }
      .select(col("window_start").cast("long").as("window_start"),
        col("user_id"), col("k"), col("n"), col("power"))
  }

  val streamingGlsReplaySql: String = {
    val om = "((2*pi()*(1.0/86400.0))*k.k)*tc"
    s"""WITH e AS (SELECT epoch_us(ts) AS tu, user_id, value AS y
       |  FROM events),
       |w AS (SELECT (tu // 86400000000) * 86400 AS window_start, user_id,
       |  cast(tu AS double)/1000000.0 -
       |    cast((tu // 86400000000) * 86400000000 AS double)/1000000.0 AS tc,
       |  y FROM e),
       |m AS (SELECT window_start, user_id, k.k, count(*) AS n,
       |    avg(cos($om)) AS C, avg(sin($om)) AS S,
       |    avg(cos(($om)*2.0)) AS C2, avg(sin(($om)*2.0)) AS S2,
       |    avg(y) AS ym, avg(y*y) AS y2,
       |    avg(y*cos($om)) AS ycw, avg(y*sin($om)) AS ysw
       |  FROM w CROSS JOIN generate_series(1, 24) AS k(k)
       |  GROUP BY 1, 2, 3),
       |mo AS (SELECT window_start, user_id, k, n,
       |  ycw - ym*C AS Ch, ysw - ym*S AS Sh, y2 - ym*ym AS YY,
       |  C, S, C2, S2 FROM m
       |  WHERE n >= 4 AND y2 - ym*ym > 0.0),
       |${graft.spectral.Gls.powerSql("window_start, user_id, k, n")}
       |SELECT window_start, user_id, k, n, power FROM pg""".stripMargin
  }

  val queries: Seq[Query] = Seq(
    Query("streaming_sessionize_replay", streamingSessionizeReplay,
      streamingSessionizeReplaySql),
    Query("streaming_asof_replay", streamingAsofReplay, streamingAsofReplaySql),
    Query("streaming_semantic_replay", streamingSemanticReplay,
      streamingSemanticReplaySql),
    Query("streaming_windowed_replay", streamingWindowedReplay,
      streamingWindowedReplaySql),
    Query("streaming_neardedup_replay", streamingNeardedupReplay,
      streamingNeardedupReplaySql),
    Query("streaming_dedup_replay", streamingDedupReplay,
      streamingDedupReplaySql),
    Query("streaming_interval_replay", streamingIntervalReplay,
      streamingIntervalReplaySql),
    Query("streaming_contamination_replay", streamingContaminationReplay,
      streamingContaminationReplaySql),
    Query("streaming_lmscore_replay", streamingLmscoreReplay,
      streamingLmscoreReplaySql),
    Query("streaming_dsir_replay", streamingDsirReplay, streamingDsirReplaySql),
    Query("streaming_scrub_replay", streamingScrubReplay,
      streamingScrubReplaySql),
    Query("streaming_gls_replay", streamingGlsReplay, streamingGlsReplaySql))
}
