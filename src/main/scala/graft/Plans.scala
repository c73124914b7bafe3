package graft

/** Committed plan evidence: dump the formatted physical plans of the
  * headline queries to PLANS.md so the scale claims in SURVEY §5
  * (pushdown, partial aggregation, broadcasts, rank-limit pushdown,
  * no nested loops) are checkable from a committed artifact instead
  * of a re-run. Regenerate with `sbt "runMain graft.Plans"`.
  */
object Plans {

  private val Headline = Seq(
    "q1_pricing", "gls_periodogram", "gls_fap", "dedup_minhash_lsh",
    "dedup_clusters", "ann_ivf_topk", "ann_pq_topk", "emb_gram",
    "emb_abtt", "events_asof_purchase", "events_window_join",
    "events_funnel", "text_contamination", "text_unigram_logprob",
    "acf_period_quality", "gp_model_compare", "emb_pc1",
    // round 11: the promoted band-quality chain (three per-band
    // single-exchange chains unioned) and the new ceemdan compose
    // (fixed-width pivot, no per-group arrays)
    "acf_band_quality", "ceemdan",
    // round 11: the trend-marginalising Bayesian periodogram (grid
    // fan-out -> ONE (id,k) aggregate exchange -> per-id window) and
    // the occupancy-capped embedding near-dup join (WindowGroupLimit
    // must sit BEFORE the bucket self-join's exchange)
    "bglst_periodogram", "dedup_embedding",
    // round 11: the roadmap periodograms — GL's micro-bin lattice
    // (the ×6 m fan-out must sit AFTER the ×60 fold's aggregation,
    // touching only bounded bin rows) and the supersmoother's
    // join-free single-exchange window stack
    "gl_odds", "ts_supersmooth",
    // round 12: sequence packing — the RECURSIVE prefix sum must show
    // three partitioned per-chunk window tiers over 64×-shrinking
    // chunk totals; the only unpartitioned window sits at the
    // terminal N/64³-row level, never over the corpus
    "corpus_pack",
    // round 11: substring-level dup spans — the plan must show NO
    // pair generation (no self-join): one gh-keyed exchange for the
    // windowed first-in-doc marker sum, and a per-doc island window
    // over only the duplicated occurrences; clean must sweep coverage
    // events under ONE per-doc running sum with no range join
    "dedup_substring", "dedup_substring_clean",
    // round 12: SemDeDup — the TWO-LEVEL assignment must show
    // broadcast codebook joins keyed (code, i) (each vector scores
    // only its own coarse cell's fine centroids — no corpus×K
    // explode), and the cell-capping WindowGroupLimit BEFORE the
    // within-cell pair self-join's exchange
    "dedup_semantic",
    // round 12 continuation: the composed IVF-PQ index (the code
    // table must join its cell on vec_id with probes+LUT broadcast —
    // no corpus×query structure) and the DSIR tier (ONE (doc_id, b)
    // exchange, B-row broadcast λ join, constant-k TakeOrdered for
    // the sample — no global sort)
    "ann_ivfpq_topk", "corpus_dsir_weights", "corpus_dsir_sample",
    // round 12 continuation: the threshold cut must window only the
    // held-out sample and assign the corpus via broadcast join
    "corpus_ccnet_buckets",
    // round 12 continuation #2: the Bloom probe must show FOUR
    // broadcast joins sharing ONE reused exchange (constant-size
    // filter regardless of benchmark) with no corpus-side explode;
    // segment clean must show one per-doc window + one h-keyed agg +
    // the removal join, no pair exchange; phash pairs must cap the
    // band buckets (WindowGroupLimit) BEFORE the self-join
    "corpus_bloom_contamination", "dedup_segments_clean",
    "multimodal_phash_pairs",
    // round 12 continuation #2: the composed data card — three
    // doc_id-keyed left joins over gated stage outputs; the round-13
    // rep must show a partial-aggregated groupBy+join on cluster_id
    // (NO cluster-keyed window — the skew fix), no corpus-sized
    // structure
    "corpus_pipeline",
    // round 13: the credible-interval transform — pure window
    // arithmetic over the harmonic map (one id-keyed exchange, the
    // HPD running sum as an ordered window, one final groupBy; no
    // joins), and the linearized char/8-gram tiers (ONE O(n) split /
    // regex explode per doc — no index fan-out feeding substring)
    "gp_posterior_interval", "text_entropy", "text_fingerprint")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    // fixed width, not SPARK_GRAFT_CPUS: PLANS.md stays reproducible
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `sbt \"runMain graft.Plans\"` against $sfDir.\n")
    sb.append("Initial (pre-AQE) plans: exchanges shown are the static\n")
    sb.append("shuffle structure; AQE may further coalesce or broadcast\n")
    sb.append("at runtime, never add exchanges.\n")
    Headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      sb.append("```\n")
    }
    // corpus_bloom_contamination's four probe joins share ONE
    // broadcast build of the filter: the reuse is an AQE runtime
    // decision (the pre-AQE plan above prints four BroadcastExchange
    // nodes), so the EXECUTED plan is the evidence — it must show one
    // BroadcastExchange + three ReusedExchange on the probe side.
    val bloom = SparkEntry.queries("corpus_bloom_contamination")(spark, sfDir)
    bloom.queryExecution.toRdd.count()
    sb.append("\n## corpus_bloom_contamination (executed plan — " +
      "broadcast reuse across the four probe joins)\n\n```\n")
    sb.append(bloom.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    sb.append("```\n")
    // Dynamic partition pruning over the Hive-partitioned events
    // layout (sources/PartitionedEvents; pinned by
    // PartitionPruningSpec): the EXECUTED plan, because the
    // DynamicPruningExpression on the fact scan's PartitionFilters is
    // what proves the dim filter reaches the file listing.
    val factPath = graft.sources.PartitionedEvents.ensure(spark, sfDir,
      java.nio.file.Files.createTempDirectory("graft_plans_dpp").toString
        + "/events_by_day")
    val dpp = graft.sources.PartitionedEvents.dppJoin(spark, factPath,
      graft.sources.PartitionedEvents.calendarDim(spark, sfDir))
    // execute THIS QueryExecution (AQE must finalize before the
    // executed plan is printable) without a driver-side collect
    dpp.queryExecution.toRdd.count()
    sb.append("\n## dpp_events (day-partitioned events × filtered " +
      "calendar dim — executed plan)\n\n```\n")
    sb.append(dpp.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode))
    sb.append("```\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${Headline.size} plans)")
    spark.stop()
  }
}
