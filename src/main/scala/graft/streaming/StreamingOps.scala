package graft.streaming

import graft.functions.GlsMoments
import graft.spectral.Gls
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming twins of the batch event operators: the same
  * logical computations expressed over an unbounded stream —
  * watermarked windowed aggregation and stateful sessionization via
  * flatMapGroupsWithState. At cluster scale these run keyed-state
  * sharded across executors; locally they are spec-tested through
  * MemoryStream (see StreamingSpec).
  */
object StreamingOps {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  case class SessionOut(user_id: Long, session_start: Long, n_events: Long,
      sum_value: Double)

  // visible to codegen (a `private` class breaks Janino's method lookup)
  private[streaming] case class SessState(start: Long, lastSeen: Long,
      n: Long, total: Double)

  case class Doc(doc_id: Long, text: String)

  /** Streaming exact dedup: content-hash dropDuplicates with keyed
    * state — the streaming twin of the batch `dedup_exact` query.
    * (With a watermark + event time the state self-expires; the spec
    * drives the unbounded-state variant.) */
  def dedupeStream(docs: Dataset[Doc]): DataFrame =
    docs.withColumn("content_hash", md5(col("text")))
      .dropDuplicates("content_hash")

  /** Watermarked tumbling-window counts/sums per event type. */
  def windowedAgg(events: Dataset[Event]): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))

  /** Stream–stream interval join — the streaming twin of the batch
    * as-of enrichment ([[graft.plans.AsOf.join]]): every purchase joins the
    * clicks of the SAME user in the preceding hour. Both sides are
    * watermarked so Spark bounds the join state (a click older than
    * its watermark + the interval can never match and is evicted) —
    * the canonical Structured Streaming interval-join shape. */
  def purchaseClickJoin(purchases: Dataset[Event],
      clicks: Dataset[Event]): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("value").as("p_value"))
    val c = clicks.withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
  }

  case class AsOfOut(user_id: Long, eid: Long, t: Long,
      asof_t: Option[Long], asof_value: Option[Double])

  // latest reference row seen per key (codegen-visible, see SessState)
  private[streaming] case class RefState(pt: Long, value: Double)

  /** Streaming as-of enrichment — the stateful twin of the batch
    * as-of join ([[graft.plans.AsOf.join]]): every probe event is
    * enriched with the most recent reference row (purchase) at or
    * before its time for the same key. Keyed state holds ONE row (the
    * latest reference) per user — O(keys) state, no buffering of the
    * probe stream. Within a micro-batch rows are processed in event-
    * time order with references winning ties, so in-order streams get
    * exact as-of semantics; late references only affect later batches
    * (the standard enrich-with-latest-state trade-off — exact
    * retro-correction would require buffering probes by watermark). */
  def asofEnrich(probes: Dataset[Event],
      refs: Dataset[Event]): Dataset[AsOfOut] = {
    import probes.sparkSession.implicits._
    asofTagged(probes.map((_, false)).union(refs.map((_, true))))
  }

  /** Single-stream variant of [[asofEnrich]] (probe/ref tag carried
    * per row) — the replay harness feeds THIS shape so one micro-batch
    * holds a slice's probes AND refs together: with two MemoryStreams
    * the engine can fire a batch between the two addData calls
    * (observed at sf0.01 — batch-1 probes consumed before batch-1
    * refs landed), which is fine for a production feed but breaks a
    * deterministic replay. Semantics identical: asofEnrich is now a
    * map+union into this. */
  def asofTagged(tagged0: Dataset[(Event, Boolean)]): Dataset[AsOfOut] = {
    import tagged0.sparkSession.implicits._
    val tagged = tagged0.map { case (e, isRef) =>
      (e.user_id, e.ts.getTime / 1000, isRef, e.value, e.event_id)
    }
    tagged.groupByKey(_._1)
      .flatMapGroupsWithState[RefState, AsOfOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Boolean, Double, Long)],
            state: GroupState[RefState]) =>
          // refs sort before probes at equal t (same tie rule as batch)
          val sorted = rows.toSeq.sortBy(r => (r._2, !r._3, r._5))
          var cur = state.getOption
          val out = Seq.newBuilder[AsOfOut]
          sorted.foreach { r =>
            if (r._3) cur = Some(RefState(r._2, r._4))
            else out += AsOfOut(uid, r._5, r._2,
              cur.map(_.pt), cur.map(_.value))
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Gap-based sessionization (30 min inactivity closes a session) —
    * the streaming twin of the batch `events_sessionize` query. Emits
    * one row per closed session; processing-time timeout flushes the
    * last session of a quiet key.
    *
    * Late-data contract (round 12): within a micro-batch rows process
    * in event-time order, so intra-batch disorder is exact. A
    * CROSS-batch late event (t ≤ the open session's lastSeen) is
    *  - ABSORBED into the open session without regressing the
    *    inactivity clock when it falls inside the session's reach
    *    (t ≥ start − gap; the clock regression the round-11 code
    *    allowed could wrongly split a later on-time event);
    *  - DROPPED when older than the open session's reach — the
    *    watermark-drop analogue: by then the batch-equivalent session
    *    it belonged to is already closed and emitted, so counting it
    *    anywhere would be wrong on BOTH semantics.
    * Lates that land after their batch session CLOSED therefore
    * diverge from batch by design (append mode cannot retract an
    * emitted row); StreamingLateDataSpec pins all three cases. */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800,
      useTimeout: Boolean = true): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, timeoutConf) {
        (uid: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              SessionOut(uid, s.start, s.n, s.total)).iterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              cur match {
                case Some(s) if t >= s.lastSeen =>
                  if (t - s.lastSeen <= gapSec)
                    cur = Some(s.copy(lastSeen = t, n = s.n + 1,
                      total = s.total + e.value))
                  else {
                    closed += SessionOut(uid, s.start, s.n, s.total)
                    cur = Some(SessState(t, t, 1, e.value))
                  }
                case Some(s) if t >= s.start - gapSec =>
                  // cross-batch late arrival inside the open session's
                  // reach: absorb (extending start if it precedes it)
                  // WITHOUT regressing lastSeen — the inactivity clock
                  // only moves forward
                  cur = Some(s.copy(start = math.min(s.start, t),
                    n = s.n + 1, total = s.total + e.value))
                case Some(_) =>
                  // older than the open session's reach: past the
                  // lateness horizon — dropped (see scaladoc)
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach(state.update)
            if (useTimeout) state.setTimeoutDuration(s"${gapSec} seconds")
            closed.result().iterator
          }
      }
  }

  case class BandCand(id1: Long, id2: Long, band: Long)

  // band-bucket membership, capped like the batch MaxBucket
  private[streaming] case class BucketState(ids: Array[Long])

  case class Vec(vec_id: Long, embedding: Array[Float])

  case class SemDrop(cluster: Long, vec_id: Long)

  // k-means-cell membership for the semantic-dedup twin: parallel
  // arrays (id, 6 dp centroid cosine, raw embedding, dropped flag),
  // capped like the batch MaxCluster
  private[streaming] case class SemCellState(ids: Array[Long],
      c2c: Array[Double], embs: Array[Array[Float]],
      dropped: Array[Boolean])

  /** Streaming SEMANTIC dedup — the stream–static twin of the batch
    * `dedup_semantic` query (sim/SemDedup.scala): arriving vectors are
    * assigned to their k-means cell against the STATIC trained
    * centroids (row-local Scala mirror of the batch argmin —
    * identical micro-unit integer distances and 6 dp centroid
    * cosines, pinned by the parity spec), and keyed state per cell
    * holds the capped member set. A new member pairs against every
    * live member of its cell; each pair at cosine ≥ τ drops its loser
    * — the HIGHER-centroid-cosine member (vec_id tiebreak), exactly
    * the batch keep rule — and a drop event is emitted ONCE per
    * vector, across micro-batches. The keep rule is pair-local and
    * symmetric, so for cells that stay BELOW the occupancy cap the
    * accumulated drop set equals the batch loser set regardless of
    * how the stream is micro-batched. AT the cap the two diverge by
    * construction: batch admits the `maxCell` LOWEST vec_ids of a
    * cell, while the stream admits the first `maxCell` in arrival
    * order (vec_id-sorted only within a micro-batch) — so cap-
    * overflowed cells are batch-equal only under vec_id-ordered
    * arrival. State is O(cells × cap) vectors, never the corpus. */
  def semanticDedupStream(vecs: Dataset[Vec],
      coarse: Array[(Long, Array[Double])],
      fine: Array[(Long, Array[Double])], tau: Double = 0.4,
      maxCell: Int = 256): Dataset[SemDrop] = {
    import vecs.sparkSession.implicits._
    vecs
      .map { v =>
        val (cell, c2c) =
          graft.sim.SemDedup.assignOf(v.embedding, coarse, fine)
        (cell, v.vec_id, c2c, v.embedding)
      }
      .groupByKey(_._1)
      .flatMapGroupsWithState[SemCellState, SemDrop](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (cell: Long, rows: Iterator[(Long, Long, Double, Array[Float])],
            state: GroupState[SemCellState]) =>
          var ids = state.getOption.map(_.ids.toVector)
            .getOrElse(Vector.empty)
          var c2cs = state.getOption.map(_.c2c.toVector)
            .getOrElse(Vector.empty)
          var embs = state.getOption.map(_.embs.toVector)
            .getOrElse(Vector.empty)
          var dropped = state.getOption.map(_.dropped.toVector)
            .getOrElse(Vector.empty)
          val out = Seq.newBuilder[SemDrop]
          rows.toSeq.sortBy(_._2).foreach { case (_, id, c2c, emb) =>
            if (!ids.contains(id) && ids.size < maxCell) {
              var newDropped = false
              ids.indices.foreach { j =>
                val cos = graft.sim.SemDedup.round6(
                  graft.sim.SemDedup.cosineOf(emb, embs(j)))
                if (cos >= tau) {
                  val loserIsNew =
                    if (c2c > c2cs(j)) true
                    else if (c2cs(j) > c2c) false
                    else id > ids(j)
                  if (loserIsNew) {
                    if (!newDropped) { out += SemDrop(cell, id) }
                    newDropped = true
                  } else if (!dropped(j)) {
                    out += SemDrop(cell, ids(j))
                    dropped = dropped.updated(j, true)
                  }
                }
              }
              ids :+= id; c2cs :+= c2c; embs :+= emb
              dropped :+= newDropped
            }
          }
          state.update(SemCellState(ids.toArray, c2cs.toArray,
            embs.toArray, dropped.toArray))
          out.result().iterator
      }
  }

  /** Streaming NEAR-duplicate candidates — the streaming twin of the
    * batch `dedup_minhash_lsh` pipeline: each arriving document is
    * fanned out to its 4 minhash band keys (computed row-locally by
    * the Scala mirror of the batch band pipeline — bit-identical keys,
    * pinned by MinhashStreamSpec), and keyed state per (band, bkey)
    * holds the bucket's member ids. A new member emits one candidate
    * pair per existing member, so near-dups are caught ACROSS
    * micro-batches. The same occupancy cap as the batch plan bounds
    * both state size and pair fan-out per bucket — O(buckets ×
    * occupancy) state, never the corpus. */
  def nearDedupStream(docs: Dataset[Doc],
      maxBucket: Int = graft.dedup.Dedup.MaxBucket): Dataset[BandCand] = {
    import docs.sparkSession.implicits._
    docs
      .flatMap(d => graft.dedup.Dedup.bandKeysOf(d.text)
        .map { case (b, k) => (b, k, d.doc_id) })
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[BucketState, BandCand](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Long, String), rows: Iterator[(Long, String, Long)],
            state: GroupState[BucketState]) =>
          var members = state.getOption.map(_.ids.toVector)
            .getOrElse(Vector.empty)
          val out = Seq.newBuilder[BandCand]
          rows.toSeq.map(_._3).sorted.foreach { id =>
            if (!members.contains(id) && members.size < maxBucket) {
              members.foreach(m =>
                out += BandCand(math.min(m, id), math.max(m, id), key._1))
              members :+= id
            }
          }
          state.update(BucketState(members.toArray))
          out.result().iterator
      }
  }

  /** Streaming decontamination — the stream–static twin of the batch
    * `text_contamination` query: each arriving document's 8-gram
    * shingle hashes (row-local Scala mirror of the batch pipeline —
    * bit-identical, pinned by StreamingSpec) are checked against the
    * STATIC benchmark shingle set, broadcast per micro-batch. No join
    * state; the only state is the per-doc aggregation. Unlike the
    * batch query there is no self-match to exclude: the stream is an
    * external feed, not part of the benchmark corpus. */
  def contaminationStream(docs: Dataset[Doc],
      bench: org.apache.spark.sql.DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => graft.text.TextOps.shingleHashesOf(d.text).toSeq
        .map(h => (d.doc_id, h)))
      .toDF("doc_id", "h")
      .join(broadcast(bench.select(col("h").as("bh"))),
        col("h") === col("bh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_sh"), count(col("bh")).as("n_contam"))
      .select(col("doc_id"), col("n_sh"), col("n_contam"),
        round(col("n_contam").cast("double") / col("n_sh"), 6)
          .as("contam_frac"))
  }

  /** Stream–static segment scrubbing — the streaming twin of the
    * batch `dedup_segments_clean` query: arriving documents are
    * cleaned against the STATIC boilerplate inventory (the batch
    * `dedup_segments` detect table: h → min_doc, trained once on the
    * reference corpus — scrub forever). Segmentation is the row-local
    * Scala mirror of the batch window pipeline (bit-identical, pinned
    * by SegStreamSpec); a segment drops iff its hash is in the
    * inventory AND this doc is not the recorded keeper, so replaying
    * the training corpus reproduces the batch clean output exactly,
    * and a NEW doc carrying known boilerplate is scrubbed on arrival
    * (doc_id ∉ inventory keepers ⇒ every known segment drops — the
    * production posture: the inventory acts as a deny-list). The
    * inventory broadcasts per micro-batch; the only state is the
    * per-doc aggregation. Dropped-but-counted segments keep the drop
    * accounting auditable (n_seg vs n_kept), and an all-boilerplate
    * doc still emits its n_kept = 0 row — the CASE-null collect
    * skips dropped segments without filtering the doc away. */
  def segmentScrubStream(docs: Dataset[Doc],
      boiler: org.apache.spark.sql.DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => graft.dedup.SegDedup.segmentsOf(d.text).zipWithIndex
        .map { case (s, i) =>
          (d.doc_id, i.toLong, s, graft.text.TextOps.h60Of(s)) })
      .toDF("doc_id", "seg_idx", "seg", "h")
      .join(broadcast(boiler.select(col("h").as("bh"), col("min_doc"))),
        col("h") === col("bh"), "left")
      .withColumn("keep", col("bh").isNull || col("doc_id") === col("min_doc"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        expr("concat_ws(' ', transform(array_sort(" +
          "collect_list(CASE WHEN keep THEN struct(seg_idx, seg) END))," +
          " x -> x.seg))").as("clean_text"))
  }

  /** Stream–static LM scoring — the streaming twin of the batch
    * `text_unigram_logprob` query: an unbounded document feed is
    * scored against the STATIC corpus unigram model (tok, lp µ-nats).
    * This is the canonical stream–static join shape: the static side
    * is re-planned per micro-batch and broadcast when small, the
    * stream side needs NO state for the join itself; the only state
    * is the per-doc aggregation (bounded by docs in flight). Unseen
    * tokens take the OOV floor — a stream can contain tokens the
    * static model never saw, which the batch query (model == corpus)
    * cannot. */
  def scoreDocs(docs: Dataset[Doc], lm: DataFrame,
      oovLpMicro: Long = -20000000L): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .join(broadcast(lm), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(coalesce(col("lp"), lit(oovLpMicro))).as("sum_lp"))
      .select(col("doc_id"), col("n_tok"),
        round(col("sum_lp").cast("double") / col("n_tok") / 1000000.0, 6)
          .as("lp_mean"))

  /** Stream–static DSIR scoring — the streaming twin of the batch
    * `corpus_dsir_weights` query: an unbounded document feed is
    * scored against the STATIC per-bucket log-ratio table
    * (graft.text.Dsir.lambdaTable — train once on the reference
    * corpus, score forever). Feature hashing is the row-local Scala
    * mirror of the batch uni+bigram pipeline (bit-identical, pinned
    * by spec), so the join needs no window and no state; the only
    * state is the per-doc aggregation. Buckets the static model never
    * observed (possible only for an external feed — the batch query's
    * model is its own corpus) take `oovLamMicro`, default 0 µ-nats =
    * "no evidence either way", matching DSIR's equal-smoothing limit.
    */
  def dsirScoreStream(docs: Dataset[Doc], lam: DataFrame,
      oovLamMicro: Long = 0L): DataFrame = {
    import docs.sparkSession.implicits._
    docs.flatMap(d => graft.text.Dsir.featureBucketsOf(d.text).toSeq
        .map { case (b, c) => (d.doc_id, b, c) })
      .toDF("doc_id", "b", "c")
      .join(broadcast(lam), Seq("b"), "left")
      .groupBy("doc_id")
      .agg(sum("c").as("n_feat"),
        sum(col("c") * coalesce(col("lam"), lit(oovLamMicro))).as("s"))
      .select(col("doc_id"), col("n_feat"),
        round(col("s").cast("double") / 1000000.0, 6).as("logw"))
  }

  /** Streaming GLS periodogram — the Zechmeister–Kürster power
    * (reference spectral.py:109-132, the same closed form as the batch
    * `gls_periodogram` query) per watermarked tumbling window and
    * user, over an nf-frequency literal grid (k cycles per window
    * duration when df0 = 1/window).
    *
    * The batch query pre-centers y and t in a first pass; a stream
    * gets ONE pass, so this twin restructures the computation to be
    * fully incremental: the per-(window, user) aggregation carries
    * only RAW moment averages (cos/sin, y, y², y·cos, y·sin for every
    * harmonic — all associative, so Spark's stateful partial
    * aggregation applies), and centering happens algebraically after
    * aggregation (Ch = avg(y·cos) − ȳ·avg(cos), YY = avg(y²) − ȳ²).
    * The phase reference is the WINDOW START rather than the series'
    * min(t) — legal because GLS power is invariant under time
    * translation (the tau rotation absorbs any global phase).
    *
    * State is O(windows × users) rows regardless of event volume and
    * grid size: one [[graft.functions.GlsMoments]] buffer (the whole
    * nf-harmonic moment vector) per (window, user), the same "sums
    * not samples" posture as the batch gls_fap aggregate. The
    * harmonics are exploded only after the aggregate and the n ≥ 4
    * filter. A checkpoint written by the earlier per-(window, user, k)
    * `avg` formulation cannot be resumed by this one: the state
    * schema differs. */
  def streamingGls(events: Dataset[Event], nf: Int = 24,
      windowDur: String = "1 day"): DataFrame = {
    val df0 = 1.0 / 86400.0 // frequency step: 1 cycle per day (Hz)
    val m = events
      .withWatermark("ts", "10 minutes")
      .withColumn("w", window(col("ts"), windowDur))
      .groupBy(col("w"), col("user_id"))
      .agg(GlsMoments.column(events.sparkSession,
        col("ts").cast("double") - col("w.start").cast("double"),
        col("value"), 2.0 * math.Pi * df0, nf).as("m"))
      .withColumn("YY", col("m.y2") - col("m.ym") * col("m.ym"))
      // degenerate windows have no spectrum: n = 1 gives YY = 0
      // EXACTLY (y2 == ym²) and a zero tan2 denominator (C2 ==
      // C²−S²), which ANSI mode turns into a query-killing divide —
      // a (window,user) needs minimal support before a periodogram
      // means anything, so require n ≥ 4 and positive variance
      // (mirrored in the replay oracle)
      .filter(col("m.n") >= 4 && col("YY") > 0.0)
      .select(col("w"), col("user_id"), col("m.n").as("n"),
        col("m.ym").as("ym"), col("YY"), inline(col("m.h")))
      // algebraic centering: identical to pre-centered moments
      .withColumn("Ch", col("ycos") - col("ym") * col("C"))
      .withColumn("Sh", col("ysin") - col("ym") * col("S"))
    // the batch query's tau rotation + power: the shared Gls.glsPower
    Gls.glsPower(m)
      .select(col("w.start").as("window_start"), col("user_id"), col("k"),
        col("n"), col("power"))
  }
}
