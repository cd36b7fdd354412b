package graft

import org.apache.spark.sql.SparkSession

/** Headline benchmark — driver runs per-round with
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 and records BENCH_r{N}.json.
  * Prints exactly ONE JSON line.
  *
  * Queries chosen to cover each execution shape: scan+agg (q1), selective
  * filter (pushdown), multi-join + broadcast, window, as-of (union+window
  * trick), pivot, exact + minhash dedup (bucket join), knn (narrow scan
  * + top-k).
  */
object Bench {
  // stall-probe singleton state — see the probe comment in run()
  private val probeStarted = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] val stallCount = new java.util.concurrent.atomic.AtomicLong(0)
  private[graft] val stallNanos = new java.util.concurrent.atomic.AtomicLong(0)

  /** Start the 10 ms-heartbeat stall probe (idempotent, one thread per
    * JVM) and zero the counters — shared by [[Bench]] and [[BenchSf1]]
    * so both artifacts carry host-stall evidence. */
  private[graft] def startStallProbe(): Unit = {
    if (probeStarted.compareAndSet(false, true)) {
      val probe = new Thread(() => {
        var last = System.nanoTime()
        while (true) {
          Thread.sleep(10)
          val now = System.nanoTime()
          val gap = now - last - 10_000_000L
          if (gap > 100_000_000L) {
            stallCount.incrementAndGet(); stallNanos.addAndGet(gap)
          }
          last = now
        }
      }, "graft-stall-probe")
      probe.setDaemon(true)
      probe.start()
    }
    stallCount.set(0)
    stallNanos.set(0)
  }

  /** Fixed CPU-bound calibration kernel: 2^28 rounds of single-thread
    * 64-bit mixing, no allocation, no Spark — a pure HOST-SPEED
    * measurement. Emitted as `cal_sec` in the metric line so
    * cross-round ratios self-normalize: two rounds' timings divided by
    * their cal_sec compare plans, not hosts (the round-10 1.7×
    * host-handicap study, automated). Callers take the min of a
    * start-and-end pair — the min is the same noise-free estimator
    * the per-query times use. */
  private[graft] def calibrationKernel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 28)) {
      x = (x ^ (x >>> 33)) * 0xFF51AFD7ED558CCDL
      x ^= i
      i += 1
    }
    // the result must escape or the JIT may elide the loop
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  private[graft] val headline = Seq(
    "q1_agg", "q_filter", "q_count", "q_join_multi", "q_join_inner",
    "q_asof_join", "q_window_rank", "q_cumsum", "q_pivot_wider",
    "q_dedup_exact", "q_dedup_minhash", "q_text_stats", "q_embed_knn",
    // round 2 additions: banded range join, portable simhash pairs,
    // the composed corpus-cleaning pipeline
    "q_range_join", "q_dedup_simhash", "q_pipeline_clean",
    // round 3 additions: broadcast n-gram decontamination probe,
    // per-group sequential packing fold, narrow chunk explode,
    // two-stage repetition aggregation, distinct-count profile
    "q_decontaminate", "q_pack", "q_chunk", "q_text_repetition",
    "q_corpus_profile",
    // round 3 (cont.): n-gram LM scoring joins, driver-trained BPE
    // encode, embedding-cluster dedup, deterministic global sort,
    // the branch-free composed prep chain, one-scan table profile
    "q_text_lm", "q_bpe_roundtrip", "q_dedup_semantic", "q_shuffle",
    // the composed prep chain; the profile's SCALE path (sketch
    // quantiles/distinct — the exact variant is value-gated at sf0.01
    // but its exact percentile state is deliberately not a headline
    // shape: bounded-state sketches are what runs at 100 TB)
    "q_pipeline_prepare", "q_profile_sketch",
    // round 4 additions: reshape + set-op shapes get timed regression
    // coverage (full as-of union+window, wide unionAll, native unpivot
    // explode), plus the one-shuffle Expand cube
    "q_asof_full", "q_union_all", "q_unnest_longer", "q_cube",
    // round 4 (cont.): classic warehouse multi-join shapes (TPC-H
    // Q3/Q5/Q10 over the fixtures) + int8-quantized retrieval
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q10", "q_embed_quant",
    // round 4 (cont. 2): exact span dedup (gram-count shuffle),
    // stupid-backoff LM (5 model joins), bounded-state vocabulary
    // sketch (partial/final TypedImperativeAggregate), z-order key +
    // global clustering sort, narrow eTLD+1 extraction
    "q_dedup_spans", "q_text_lm_backoff", "q_vocab_topk", "q_zorder",
    "q_url_etld",
    // round 4 (cont. 3): the completed TPC-H suite's distinct plan
    // shapes — full 8-agg scan (q1), nation self-join pairs (q7),
    // CASE-share over 7 joins (q8), scalar-threshold broadcast (q11a),
    // agg-over-agg left join (q13), decorrelated per-group avg (q17),
    // dual EXISTS/NOT-EXISTS semi+anti (q21a)
    "q_tpch_q1", "q_tpch_q7", "q_tpch_q8", "q_tpch_q11a", "q_tpch_q13",
    "q_tpch_q17", "q_tpch_q21a",
    // round 4 (cont. 4): media near-dup signatures — per-row PNG
    // decode + perceptual hash (broadcast join, narrow), and the
    // banded pigeonhole Hamming self-join over image signatures
    "q_image_phash", "q_image_dups", "q_audio_fp", "q_video_phash",
    // round 4 (cont. 5): full Gopher repetition roll-up (one 9-size
    // explode, two doc-local shuffles, span-union fold), distributed
    // WARC grammar parse, DSIR narrow scoring + top-k, CCNet
    // perplexity bucketing, incremental near-dup ingest (Delta band
    // index round trip)
    "q_rep_gopher", "q_warc", "q_dsir", "q_ppl_bucket", "q_ingest_neardup",
    // densitometric boilerplate removal (native segmentation + HOF tree)
    // and the end-to-end crawl pipeline (WARC explode -> HTTP filter ->
    // extraction -> chunking, one narrow plan)
    "q_html_extract", "q_pipeline_crawl", "q_robots", "q_url_canon",
    "q_asof_tolerance",
    // round 4 (cont. 6): iterative exact-integer PageRank (per-round
    // rank-table shuffle against a stable edge layout), PQ encode +
    // ADC lookup-table scoring (narrow), prefix-filter similarity join
    // (freq order + prefix equi join + verify), incremental rollup
    // maintenance (increment-only aggregation + bounded merge)
    "q_pagerank", "q_embed_pq", "q_simjoin", "q_rollup_incr",
    // HyperBall sketch-union iteration (edge join + hll_union_agg)
    "q_harmonic",
    // r4: temperature mixing, training-shard export, objective transforms
    "q_mix_temperature", "q_token_shards", "q_span_corrupt", "q_fim",
    "q_text_badwords",
    // r4: event analytics (per-user window, per-user fold, cohort aggs)
    "q_sessionize_batch", "q_funnel", "q_retention",
    "q_pipeline_objectives", "q_embed_maxsim",
    // round 5: JDBC external-database round trip through embedded
    // Derby (write + 4-way partitioned pushdown read), fused NB langid
    // inference (narrow native kernel), lang-keyed profile under the
    // real model (kernel pass + one shuffle on the predicted key),
    // the composed multilingual pipeline (kernel → keyed dedup window
    // → profile), ANN recall measurement (11 TakeOrdered jobs)
    "q_jdbc_scan", "q_text_langid2", "q_langid_profile",
    "q_pipeline_multilingual", "q_embed_recall",
    // round 6: batched recall (one composed plan vs the 11-job loop
    // above — both stay timed), verbatim TPC-H over synthesized
    // relations (partsupp 4x explode + decorrelated min-cost join;
    // triple semi/anti lineitem self-joins), Iceberg position-delete
    // round trip (write + delete commit + anti-join read), executor-
    // side sharded Arrow/Avro writes (manifest commit protocol)
    "q_embed_recall_batch", "q_tpch_q2", "q_tpch_q21",
    "q_iceberg_delete", "q_arrow_sharded", "q_avro_sharded",
    // round 7: verbatim q9 (5-way join over synthesized partsupp with
    // DECIMAL profit arithmetic); Delta MERGE upsert (victim-file
    // location + copy-on-write rewrite + conditional commit); Iceberg
    // replace-snapshot compaction with deletes applied; Iceberg
    // stats-pruned range scan (manifest bounds skipping)
    "q_tpch_q9", "q_delta_merge", "q_iceberg_compact", "q_iceberg_skip",
    // late round 7: Iceberg MERGE (lineage-view victim location +
    // overwrite-snapshot rewrite); identity-partitioned Iceberg write
    // → partition-discovered read + plan-time partition-value pruning;
    // the partitioned-DML composition (per-partition position deletes,
    // partition-migrating update, re-inserting merge, pruned read)
    // columnMapping rename/drop (metadata-only schema evolution) +
    // a post-rename physical-name append
    "q_iceberg_merge", "q_iceberg_partitioned", "q_iceberg_part_dml",
    "q_delta_rename", "q_iceberg_rename",
    // snapshot-diff change feeds (two snapshot scans + exceptAll both ways)
    "q_delta_cdf", "q_iceberg_cdf",
    // round 9: bucket-aligned storage-partitioned join (two bucketed
    // writes + per-bucket broadcast joins, zero fact-side exchange) and
    // the Delta generated-column layout (transform write + source-
    // predicate DELETE + source-pruned reads)
    "q_bucket_join", "q_delta_transform",
    // round 10: storage-partitioned aggregation (zero-Exchange
    // per-bucket complete aggregates), the spec-evolution mixed-layout
    // read (pre/post-evolution manifests + pruned re-read), and the
    // sort-order round trip (sorted append + range-clustered compact)
    "q_bucket_agg", "q_iceberg_spec_evolve", "q_iceberg_sorted",
    "q_delta_cluster",
    // round 10, close: Delta row tracking (enable + backfill + compact
    // materialization + DV delete, id stability hash-gated), the
    // Iceberg v3 deletion-vector lifecycle (parquet deletes → upgrade
    // conversion → DV delete with supersede), ANALYZE NDV statistics
    // (one-pass HLL sketches → Puffin + statistics field), and the
    // metadata-only partition-statistics file
    "q_delta_rowtrack", "q_iceberg_dv", "q_iceberg_stats",
    "q_iceberg_partstats",
    // round 10, extension: metadata-only aggregates (count/min/max/
    // per-partition counts answered from the log + manifests, honest
    // fallback priced in the same gate), merge-with-schema-evolution on
    // both formats (metadata-only addColumns + evolution-semantics
    // merge), and Delta identity assignment (two narrow passes + the
    // same-commit water-mark advance)
    "q_meta_agg", "q_meta_partcount", "q_delta_merge_evolve",
    "q_iceberg_merge_evolve", "q_delta_identity", "q_default_cols",
    "q_delta_cdf_files", "q_delta_cdc_apply",
    // round 11: stats-driven join planning (manifest bytes/NDV pick
    // the strategy), runtime-pruned star joins (dim key domains prune
    // fact files before any task launches), the two-dim star planner
    // (selectivity-ordered, AND-combined pruning), the metadata-only
    // aggregate REWRITE (plan-time, zero data files), and the REST
    // catalog commit round trip (create half + catalog-committed half
    // + catalog-resolved read)
    "q_join_cbo", "q_join_prune", "q_join_star", "q_meta_rewrite",
    "q_iceberg_catalog_commit", "q_delta_ndv", "q_join_cbo_delta")

  // LINE-PRIORITY set (round 12): every query that rode the ROUND-11
  // metric line stays on the line regardless of how cheap it gets —
  // a round-over-round diff of the line reads a query that vanishes
  // from the line as "dropped_from_bench", so an entry must never
  // fall off just because an optimization made it fast (three did
  // exactly that under plain by-time keeping). Same pinned-subset
  // precedent as baseline16; the remaining budget fills with the
  // most expensive of the rest. A name that is not a query fails the
  // run at startup: it would pin nothing, silently.
  private val linePriority: Set[String] = Set(
    "q_window_rank", "q_dedup_exact", "q_dedup_minhash", "q_pipeline_clean",
    "q_decontaminate", "q_text_lm", "q_dedup_semantic", "q_pipeline_prepare",
    "q_profile_sketch", "q_asof_full", "q_tpch_q5", "q_text_lm_backoff",
    "q_tpch_q7", "q_tpch_q8", "q_tpch_q11a", "q_tpch_q21a",
    "q_ingest_neardup", "q_pipeline_crawl", "q_pagerank", "q_simjoin",
    "q_rollup_incr", "q_harmonic", "q_mix_temperature", "q_token_shards",
    "q_sessionize_batch", "q_pipeline_objectives", "q_jdbc_scan", "q_text_langid2",
    "q_pipeline_multilingual", "q_embed_recall", "q_tpch_q2", "q_tpch_q21",
    "q_iceberg_delete", "q_arrow_sharded", "q_avro_sharded", "q_tpch_q9",
    "q_delta_merge", "q_iceberg_compact", "q_iceberg_merge", "q_iceberg_partitioned",
    "q_iceberg_part_dml", "q_iceberg_rename", "q_delta_cdf", "q_iceberg_cdf",
    "q_bucket_join", "q_delta_transform", "q_bucket_agg", "q_iceberg_spec_evolve",
    "q_iceberg_sorted", "q_delta_cluster", "q_delta_rowtrack", "q_iceberg_dv",
    "q_iceberg_stats", "q_iceberg_partstats", "q_meta_agg", "q_meta_partcount",
    "q_delta_merge_evolve", "q_iceberg_merge_evolve", "q_delta_identity", "q_default_cols",
    "q_delta_cdf_files", "q_delta_cdc_apply", "q_join_cbo", "q_join_prune",
    "q_join_star", "q_meta_rewrite", "q_iceberg_catalog_commit", "q_delta_ndv",
    "q_join_cbo_delta")

  /** seconds `run` took, or None when it threw: a throwing query is a
    * failure, never a time */
  private[graft] def timed(run: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { run; Some((System.nanoTime() - t0) / 1e9) }
    catch { case _: Throwable => None }
  }

  /** one suite pass over `names` */
  private[graft] def pass(names: Seq[String])(run: String => Unit): Seq[(String, Option[Double])] =
    names.map(name => name -> timed(run(name)))

  /** each query's min over its passes, in `names` order; a query that
    * threw in any pass is FAILED instead — listed, and left out of
    * every time and total, so a crash can never read as a speed-up */
  private[graft] def summarize(names: Seq[String],
      passes: Map[String, List[Option[Double]]]): (Seq[(String, Double)], Seq[String]) = {
    val ran = names.flatMap(n => passes.get(n).map(n -> _))
    val (bad, good) = ran.partition(_._2.exists(_.isEmpty))
    (good.map { case (n, ts) => n -> ts.flatten.min }, bad.map(_._1))
  }

  /** the metric line's scalar fields; `cpus` is the local[N] core
    * count the run had */
  private[graft] final case class LineFields(total: Double, retries: Int, stalls: Long,
      stallSec: Double, baseline16: Double, calSec: Double, cpus: Int, sf: String)

  private def fmt(rs: Seq[(String, Double)], dp: Int): String =
    rs.map { case (k, v) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, s"%.${dp}f",
        Double.box(v))
    }.mkString("{", ",", "}")

  private def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")

  private def renderLine(f: LineFields, rs: Seq[(String, Double)], dropped: Int,
      failed: Seq[String], failedDropped: Int, dp: Int): String = {
    val d = if (dropped == 0) "" else s""","dropped":$dropped"""
    val fd = if (failedDropped == 0) "" else s""","failed_dropped":$failedDropped"""
    val r = if (f.retries == 0) "" else s""","retries":${f.retries}"""
    val st = f""","stalls":${f.stalls},"stall_sec":${f.stallSec}%.1f"""
    val b16 = f""","baseline16":${f.baseline16}%.3f,"cal_sec":${f.calSec}%.3f,"cpus":${f.cpus}"""
    f"""{"metric":"headline_total","value":${f.total}%.3f,"unit":"sec","queries":${fmt(rs, dp)}$d,"failed":${names(failed)}$fd$r$st$b16,"sf":"${f.sf}"}"""
  }

  /** 2000-char tail minus sbt's "[success] Total time ..." trailer
    * (~76 chars) with a small margin */
  private[graft] val maxLine = 1890

  /** The metric line, at most `max` chars: the largest timings stay
    * (the ones that matter for regression reading) and the cheapest
    * non-priority entries drop first, then priority ones; only when no
    * timing is left do failed names fold into a `failed_dropped`
    * count. Per-query values print at 2 decimals (round 12): the
    * driver's stdout tail window is exactly 2000 chars and 3-decimal
    * entries pushed 53 of 123 queries off the r11 line, which PERF then
    * misread as "dropped_from_bench"; the 3-decimal record lives in
    * BENCH_DETAIL.json. */
  private[graft] def metricLine(f: LineFields, results: Seq[(String, Double)],
      failed: Seq[String], max: Int): String = {
    var kept = results
    def line(fs: Seq[String]) =
      renderLine(f, kept, results.size - kept.size, fs, failed.size - fs.size, 2)
    while (line(failed).length > max && kept.nonEmpty) {
      val (prio, rest) = kept.partition(r => linePriority(r._1))
      kept =
        if (rest.nonEmpty) prio ++ rest.sortBy(-_._2).dropRight(1)
        else prio.sortBy(-_._2).dropRight(1)
    }
    val keptSet = kept.map(_._1).toSet
    kept = results.filter(r => keptSet(r._1))
    var shown = failed
    while (line(shown).length > max && shown.nonEmpty) shown = shown.dropRight(1)
    line(shown)
  }

  def main(args: Array[String]): Unit = {
    val unknown = linePriority.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"linePriority names queries SparkEntry.queries lacks: ${unknown.toSeq.sorted.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q_a,q_b times a subset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(headline)(s => headline.filter(s))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // JVM/codegen warm-up on the smallest SF (excluded from timings):
    // run EVERY headline query once at sf0.001 so Janino compilation,
    // Catalyst rule JIT, and the codegen cache are all hot before the
    // timed window — the timings then measure steady-state execution,
    // not first-query compilation storms (which proved wildly
    // environment-sensitive: 15s vs 634s for the same minhash query).
    selected.foreach { name =>
      try SparkEntry.queries(name)(spark, "/root/testdata/sf0.001").count()
      catch { case _: Throwable => () }
    }

    // Per-query time = MIN across `reps` SUITE passes. The min is the
    // standard noise-free estimator on shared/virtualized hardware:
    // this host shows sporadic stall phases (hrtimer interrupts of
    // 40+ ms logged by the guest kernel — host-side vCPU starvation)
    // that inflate a single run 40×, and one bad phase must not
    // masquerade as a regression. Passes are SUITE-major, not
    // query-major: a query's retries are separated by a whole suite
    // pass, so phases shorter than a pass can't poison every rep of
    // one query. Steady-state suite cost is ~10 s per pass.
    // Stall-phase marker: a 10 ms heartbeat thread; any gap >100 ms
    // means this JVM lost the CPU for that long (the host's documented
    // vCPU-starvation phases — hrtimer stalls in the guest kernel log).
    // Total stolen seconds ride the metric line so a driver record that
    // was inflated by a stall phase SAYS so, instead of reading as a
    // regression. Probe overhead: one sleeping thread, ~0.
    // ONE probe per JVM (lazily started): repeated run() calls in one
    // process (tests, REPL) must not accumulate 10 ms-wakeup threads.
    // Counters are zeroed per run so each metric line is self-contained.
    Bench.startStallProbe()
    val stallCount = Bench.stallCount
    val stallNanos = Bench.stallNanos
    // host-speed calibration brackets the suite: min(start, end)
    val calStart = Bench.calibrationKernel()

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val times = scala.collection.mutable.Map.empty[String, List[Option[Double]]]
    // Stall-aware retry (round 12): a suite pass that lost >5% of its
    // wall time to host vCPU-starvation stalls is re-run instead of
    // counted (bounded: 3 extra passes). Min-of-reps sheds short
    // stalls, but a storm spanning a whole pass poisons every rep of
    // the queries it covers; retrying the pass re-measures in (with
    // luck) a quieter window. A discarded pass's timings are dropped,
    // so every query's min is over exactly `reps` counted passes and
    // records stay sample-count comparable. The metric line's
    // stalls/stall_sec cover the counted passes (the measurement window
    // that produced the record); "retries" rides the line when any pass
    // was re-run.
    var countedStallCount = 0L
    var countedStallNanos = 0L
    var passesDone = 0
    var retries = 0
    val maxRetries = 3
    while (passesDone < reps) {
      val sc0 = stallCount.get(); val sn0 = stallNanos.get()
      val w0 = System.nanoTime()
      val pass = Bench.pass(selected.filter(SparkEntry.queries.contains))(
        name => SparkEntry.queries(name)(spark, sfDir).count())
      val wall = System.nanoTime() - w0
      val passStalls = stallNanos.get() - sn0
      if (passStalls > 0.05 * wall && retries < maxRetries) {
        retries += 1
      } else {
        pass.foreach { case (name, t) => times(name) = t :: times.getOrElse(name, Nil) }
        countedStallCount += stallCount.get() - sc0
        countedStallNanos += passStalls
        passesDone += 1
      }
    }
    val (results, failed) = summarize(selected, times.toMap)
    val total = results.map(_._2).sum

    // FULL-EVALUATION secondary column (round 10): the count() action
    // under-prices pure projections — parquet count-star short-circuits
    // and Catalyst prunes unreferenced projections (documented since
    // round 5, BASELINE.md). ONE extra pass per query through the noop
    // sink (every output column materialized, full expression
    // evaluation, no I/O priced in) recorded ONLY in BENCH_DETAIL.json;
    // the count() column stays the primary for cross-round
    // comparability. Single pass, not min-of-3: a secondary diagnostic
    // column, kept cheap.
    val (fullTimes, fullFailed) = summarize(selected, Bench.pass(
      selected.filter(SparkEntry.queries.contains)) { name =>
        SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      }.map { case (name, t) => name -> List(t) }.toMap)

    // FULL per-query record (all queries, 3 decimals) goes to
    // BENCH_DETAIL.json in the repo root — the metric LINE below must
    // fit the driver's ~2KB stdout tail window together with sbt's
    // trailing "[success]" line, and the full map outgrew that at
    // round 6 (BENCH_r06 "parsed": null). The line keeps the largest
    // timings (the ones that matter for regression reading) and drops
    // the cheapest entries until it fits; the detail file keeps all.
    // the 16 queries with a recorded round-2 driver baseline
    // (BASELINE.md): their subtotal ALWAYS rides the metric line, so
    // the driver's stdout tail alone proves the 2×-of-baseline gate
    // even when the per-query map drops the cheapest entries
    val baseline16Names = Set("q1_agg", "q_filter", "q_count",
      "q_join_multi", "q_join_inner", "q_asof_join", "q_window_rank",
      "q_cumsum", "q_pivot_wider", "q_dedup_exact", "q_dedup_minhash",
      "q_text_stats", "q_embed_knn", "q_range_join", "q_dedup_simhash",
      "q_pipeline_clean")
    val baseline16 = results.filter(r => baseline16Names(r._1)).map(_._2).sum
    val calSec = math.min(calStart, Bench.calibrationKernel())

    val fields = LineFields(total, retries, countedStallCount, countedStallNanos / 1e9,
      baseline16, calSec, cpus.toInt, sfDir)
    try {
      val detail = new java.io.File("BENCH_DETAIL.json").getAbsoluteFile
      val w = new java.io.PrintWriter(detail, "UTF-8")
      val detailLine =
        renderLine(fields, results, 0, failed, 0, 3).stripSuffix("}") +
          s""","queries_full":${fmt(fullTimes, 3)},"failed_full":${names(fullFailed)}}"""
      try w.println(detailLine) finally w.close()
    } catch { case _: Throwable => () } // detail record is best-effort
    val out = metricLine(fields, results, failed, maxLine)

    // stop FIRST so no Spark shutdown chatter can land after the
    // metric line — the driver parses the headline JSON from the tail
    // of stdout, so it must be the program's last output
    spark.stop()
    System.out.println(out)
    System.out.flush()
  }
}
