package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract). Headline set = the queries
  * that exercise the scale-critical paths: scan+agg, multi-join,
  * windows, dedup (exact + MinHash), ANN, sessionization.
  *
  * Since r5 every query runs `SPARK_GRAFT_BENCH_REPS` times (default 3)
  * and `queries` reports the per-query MEDIAN — the VERDICT r4 ask: a
  * single fresh-JVM run folds codegen/janino compile time and scheduler
  * jitter into every number, which is exactly what made the r4
  * upsert-family "+32-43%" unjudgeable. The full per-rep matrix is
  * emitted under `runs` so fixed cost (rep1 ≫ rep2≈rep3) is separable
  * from asymptotic cost (all reps high) when reading BENCH_r{N}.
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q_agg_pricing", "q_join_nation_revenue", "q_window_topk",
    "q_running_sum", "q_sessionize", "q_events_window",
    "q_dedup_exact", "q_dedup_minhash", "q_ann_cosine", "q_upsert",
    // the incremental pipe/merge capability is timed ONLY by the
    // steady-state tick entries (q_pipe_tick / q_part_pipe_tick /
    // q_part_tick_*): the old q_incremental_pipe / q_incremental_part
    // headline entries timed the whole correctness query — fresh temp
    // workspace + full stale-snapshot write + read-back — so their rep
    // spread was dominated by workspace churn, not the merge (VERDICT
    // r11 #7). The full formulations remain correctness-gated in Verify.
    // text quality + language ID — the first-pass full-corpus operators;
    // benched since r4 so the native-profile codegen path stays measured
    "q_quality", "q_langid",
    // the other two LSH families (capped join-free bucket pairing)
    "q_dedup_simhash", "q_embedding_neardup",
    // temporal joins, new r5: union+window as-of and bucketed range join
    "q_asof_join", "q_range_join",
    // r6: iterative star-contraction components over the Jaccard pair
    // graph, the salted skew join vs its plain-join oracle, and
    // incremental rollup maintenance (merge-by-partials tick)
    "q_dedup_clusters", "q_salted_join", "q_incremental_agg",
    // r6: SCD-2 two-tick build, vocabulary top-k, int8 quantize
    // round-trip, exact-percentile corpus profile
    "q_scd2", "q_vocab", "q_quantize", "q_corpus_stats",
    // r7: the full-corpus curation scan ops — Gopher repetition profile
    // (native single pass), PII scrub (regex chain), benchmark
    // contamination (broadcast n-gram join), cross-corpus line dedup
    // (agg+join), and the z-order clustered write+read round trip
    "q_repetition", "q_pii_scrub", "q_contamination", "q_line_dedup",
    "q_zorder",
    // r7: shuffle-free context-length chunking and the mergeable
    // bottom-k sample (partial-agg vs the window sort it replaces)
    "q_chunk", "q_sample_group",
    // r7: the O(delta + index) dedup tick — corpus text never read
    "q_dedup_incr",
    // r7: multi-query ANN via the heap aggregate (k rows per task
    // cross the exchange, vs the window form's Q x N shuffle), and the
    // SpaceSaving sketch vocabulary vs its exact groupBy counterpart
    "q_ann_batch", "q_vocab_sketch",
    // r9: the generic chunk-blocked hamming pairing (shared by simhash
    // and image-aHash near-dup), and the full IVF lifecycle
    // (train -> cell-partitioned index write -> pruned probe)
    "q_hamming_neardup", "q_ann_ivf",
    // r11: CCNet bigram-LM scoring (train on the en slice + score the
    // whole corpus: two broadcast vocab joins, counts join, per-doc
    // partial agg) and SemDeDup cluster-blocked embedding dedup
    // (within-cluster capped pairing + components + keep-policy aggs)
    "q_perplexity", "q_semdedup",
    // r11: CCNet head/middle/tail thirds (ranked-boundary TakeOrdered
    // over the scored corpus — no full sort) and the trained NB
    // classifier (corpus x label-list cross, fixed-point long sums)
    "q_quality_buckets", "q_nb_classify",
    // r11: DSIR importance weighting + ranked resample (broadcast
    // ratio-table join over the exploded n-gram stream; the oracle's
    // arithmetic bucketer — production swaps in codegen'd xxhash64)
    "q_dsir",
    // r11: UniMax epoch-capped budget mixing (integer water-filling +
    // bounded sequence explode), BM25 probe-term scoring (two
    // shuffle-free corpus scans, stats embedded as plan literals), and
    // the BM25+ANN hybrid fused by pure-integer reciprocal-rank fusion
    "q_unimax", "q_bm25", "q_rrf_hybrid",
    // r12: deterministic seeded trainer-shard shuffle (scan-level LCG
    // key + the de-funneled per-shard rank — no shard sorts in a task)
    "q_shard_shuffle",
    // r12: product-quantization lifecycle (one-pass multi-subspace
    // Lloyd train, expression-argmin encode, ADC table-lookup scoring
    // over the m-byte codes, exact re-rank of the shortlist)
    "q_ann_pq",
    // r12: fixed-point integer PageRank over the customer->supplier
    // graph (edges partitioned-by-src once, rank side shuffles each
    // iteration, superseded checkpoints freed)
    "q_pagerank",
    // r12: interpolated Kneser–Ney trigram scoring (the real CCNet
    // gate shape: five count-table joins over the trigram stream,
    // fixed-point NLL sums)
    "q_kn_trigram",
    // r12: trainer-batch assembly (vocab-rank ids -> strict pack ->
    // per-bin flat id streams; bin state bounded by the pack budget)
    "q_assemble",
    // r12 continuation: TF-IDF keyword extraction (explode + two
    // partial aggs + doc-bounded top-k window) and PMI collocations
    // (log-domain scoring, one tokenize scan for both count families)
    "q_tfidf", "q_pmi",
    // r12 continuation: blocked levenshtein record linkage (capped
    // in-bucket pairing, verify on candidates only) and the per-user
    // hourly gap-fill (row-local grid explode + co-partitioned fill)
    "q_fuzzy_join", "q_gapfill",
    // r12 continuation: corpus-shell HTML stripping (the full
    // regexp_replace extraction chain at scan speed)
    "q_html_strip",
    // r12 continuation: RFM feature engineering (rollup + rank-selected
    // quintile cuts + comparison-chain bucketing, no ntile) and fuzzy
    // entity canonicalization (blocked levenshtein pairs -> components)
    "q_rfm", "q_fuzzy_canon",
    // r12 second continuation — the audit/analytics batch: co-purchase
    // association mining (capped basket self-join), MAD outlier gating
    // (two grouped percentile passes), cross-source n-gram overlap
    // matrix (per-gram source sets, no corpus self-join), native
    // seeded random projection (one codegen'd loop/row, no shuffle),
    // Neyman-allocation sampling (stats pass + prefix take), triangle
    // counting (degree-ordered wedge closing), curriculum ordering
    // (boundary pass + de-funneled prefix), Markov transitions
    // (per-user window + pair aggs)
    "q_cooccur", "q_outlier_mad", "q_corpus_overlap", "q_random_proj",
    "q_neyman", "q_triangles", "q_curriculum", "q_transitions",
    // r12 second continuation: the full inverted-index lifecycle
    // (build the bucket-partitioned postings + pruned 3-term probe)
    // and the cross-split near-dup leakage audit (blocked jaccard +
    // split joins — pair-heavy on this corpus: ~150k leaked pairs)
    "q_inverted_bm25", "q_split_leakage",
    // r12 third continuation — sequential folds and calibration:
    // per-entity EWMA/CUSUM/Holt (one shuffle + in-partition walk),
    // grouped OLS + chi2 terms (fixed-point moment/contingency aggs),
    // interval coalescing + OHLC (entity-sharded windows / one
    // mergeable agg), quantile normalization (NDV-bounded grid),
    // JS divergence (pooled-vocab fixed-point contributions),
    // skip-grams (row-local shifted-zip pairs), negative sampling
    // (pure projection), Benford + Zipf audits, perceptual image
    // near-dup (real PNG decode + hamming pairing), ORC round-trip
    "q_ewma", "q_cusum", "q_holt", "q_group_ols", "q_chi2_terms",
    "q_interval_merge", "q_ohlc", "q_quantile_norm", "q_js_divergence",
    "q_skipgram", "q_neg_sample", "q_benford", "q_zipf",
    "q_image_neardup", "q_orc_roundtrip",
    // r12 fourth continuation — CDC compaction (one max_by pass),
    // sequence-safe time split, experiment readouts (z and Welch t
    // from exact sums), seasonal anomaly frames, winsorization,
    // skip-grams' heavier sibling the Poisson bootstrap (B=50
    // weighted replicas over the corpus), A/B z-test
    "q_cdc_apply", "q_time_split", "q_ab_test", "q_welch_t",
    "q_seasonal", "q_winsorize", "q_bootstrap_ci",
    // r12 fifth continuation — model-eval + preference-data ops: the
    // per-query ranked-retrieval eval (group-local rank + integer DCG),
    // histogram-shaped tie-aware AUC, Bradley-Terry preference solve
    // (corpus pass + driver MM), the one-pass Pearson moment matrix,
    // and exact histogram matching (two count aggs + broadcast filter)
    "q_eval_rank", "q_auc", "q_bradley_terry", "q_corr", "q_dist_match",
    // r12 sixth continuation — agreement + overlap eval and the SQ8
    // compression path: Cohen/Fleiss kappa (one confusion pass each),
    // corpus BLEU-4 (gram-string explode + co-partitioned join), int8
    // scalar quantization (train/encode/integer asymmetric top-k)
    "q_kappa", "q_fleiss", "q_bleu", "q_sq8",
    // r12 seventh continuation — privacy audit/suppression (one pass +
    // one co-partitioned semi-join), interval-overlap join (bucket
    // equi-join, max-start-bucket dedup), indexed BM25 hard-negative
    // mining (one pruned postings read for the whole query batch)
    "q_ldiversity", "q_kanon_suppress", "q_overlap_join", "q_hard_neg",
    // r12 eighth continuation — DoReMi softmax domain reweighting (one
    // corpus aggregate + domain-cardinality softmax on e_fp integers)
    // and the run-over-run snapshot diff (one co-partitioned full-outer)
    "q_doremi", "q_snapshot_diff",
    // r12 ninth continuation — Kaplan-Meier survival (corpus partial-
    // aggregates to distinct-duration counts; windows run there) and
    // U-shaped multi-touch attribution (path-stamped user windows)
    "q_kaplan_meier", "q_attribution",
    // r12 ninth continuation: active-learning margin sampling on the
    // trained-NB fixed-point joint table (two label-bounded aggregates
    // + TakeOrdered bottom-k)
    "q_active_select",
    // r12 tenth continuation — synchronous label-propagation communities
    // (3 edge-join + argmax iterations), kNN label transfer (broadcast
    // query batch over the heap top-k), clipped IPS/SNIPS offline policy
    // eval (one partial-aggregated pass), distinct-n lexical diversity
    // (two-level n-gram aggregate), split-conformal drift gate
    // (TakeOrdered rank + one comparison scan)
    "q_label_prop", "q_knn_classify", "q_ips", "q_diversity", "q_conformal",
    // r12 tenth continuation, second wave — greedy MMR (k bounded-pool
    // argmax rounds), agreement-weighted weak-supervision label model
    // (three partial-aggregated vote passes), salted pseudonymization
    // (stateless codegen'd scan)
    "q_mmr", "q_weak_labels", "q_pseudonymize",
    // r12 tenth continuation, third wave — GROUPING SETS (one Expand
    // pass) and the BH multiple-testing gate (hypothesis-table-sized
    // global rank + one boundary aggregate)
    "q_grouping_sets", "q_fdr_bh",
    // r12 tenth continuation, fourth wave — bounded k-core peeling
    // (degree aggregate + semi-join filter per round) and Flesch
    // readability (one stateless codegen'd scan)
    "q_kcore", "q_readability",
    // r12 tenth continuation, fifth wave — T5 span-corruption pairs
    // (one doc-partitioned window pass + doc-bounded ordered rebuild)
    // and SFT conversation rendering (conversation-partitioned windows)
    "q_span_corrupt", "q_sft_render",
    // r12 tenth continuation, sixth wave — per-group Gini concentration
    // (vocab-sized rank window + one aggregate) and shard-local dynamic
    // batching (shard-bounded sort cuts + pad-waste aggregate)
    "q_gini", "q_dyn_batches",
    // r12 tenth continuation, seventh wave — cluster-aware splitting
    // (since r15: replayable md5-MinHash-LSH pair graph + CC +
    // stateless root-hash projection — the scale-safe default)
    "q_cluster_split",
    // r13 — CCNet head/middle/tail bucket-sampled mix (LM score +
    // ranked-boundary thirds + bottleneck-budget prefix cut) and
    // PSL-aware registered-domain extraction (codegen'd InSet walk)
    "q_ppl_mix", "q_psl_domain",
    // r13 — rank/ECDF nonparametrics over the quantized distinct-value
    // table (one shuffle + NDV-bounded windows): two-sample KS drift
    // gate and tie-corrected Mann-Whitney U
    "q_ks_drift", "q_mann_whitney",
    // r13 — t-closeness EMD audit (bounded groups x cohorts grid),
    // Good-Turing vocabulary saturation (frequency-of-frequency aggs),
    // and Krippendorff alpha over a ragged annotation table
    "q_tcloseness", "q_vocab_coverage", "q_krippendorff",
    // r13 — experiment MDE from the welch moment sums, and ROUGE-L
    // (row-parallel bounded LCS DP via mapPartitions, no shuffle)
    "q_power_mde", "q_rouge_l",
    // r14 — release-over-release per-feature KS snapshot diff (two
    // corpus scans melt to NDV-bounded feature histograms) and real
    // MJPEG-in-AVI frame decode (RIFF walk + per-frame JPEG, row-local)
    "q_snapshot_drift", "q_avi_frames",
    // r14 — effect-size/association suite over the distinct-value
    // tables: Spearman (half-rank joins + one moment pass), Cliff's
    // delta (cumulative pair counts), Cramér's V (observed-grid chi2)
    "q_spearman", "q_cliffs_delta", "q_cramers_v",
    // r14 — experiment readout completion: CUPED covariate adjustment
    // (pooled theta from one per-arm moment pass) and the delta-method
    // ratio-metric CI (per-user rollup + one moment pass)
    "q_cuped", "q_ratio_ci",
    // r14 — Holm FWER step-down (hypothesis-table-sized), Gwet AC1
    // agreement (one confusion pass), top-p vocabulary mass coverage
    // (one NDV-bounded ranked window)
    "q_holm", "q_gwet_ac1", "q_vocab_mass",
    // r14 — per-dim embedding drift between releases (one posexplode
    // pass per side; the exchange carries dims x partials, not vectors)
    // and the k-arm ANOVA omnibus gate (per-arm moments, fixed-point
    // cross-arm sums)
    "q_embedding_drift", "q_anova_f",
    // r14 — pre-scrub PII exposure audit (regex counting at scan speed)
    // and the paired Wilcoxon signed-rank readout (distinct-|d| table)
    // plus McNemar's discordant-pair model comparison (one agg pass)
    "q_pii_audit", "q_wilcoxon", "q_mcnemar",
    // r15 — the composed experiment readout (CUPED pooled-θ adjust →
    // Welch on the adjusted metric → erfc p → Holm FWER gate: two
    // corpus passes + experiment-cardinality tails)
    "q_experiment_report",
    // r15 — MP4 container walk (decode-free moov/trak/stbl table scan)
    // and MJPEG-in-MP4 sampled-frame decode through the stsc x stco x
    // stsz offset resolution
    "q_mp4_probe", "q_mp4_frames",
    // r15 — tokenizer fertility audit (one codegen'd profile pass) and
    // the dedup-threshold knee sweep over the replayable md5-LSH pairs
    // (one pair-generation pass + a bin-cardinality cumulative window)
    "q_fertility", "q_threshold_sweep",
    // r15 second wave — WebM/EBML container walk (decode-free Cluster
    // block counting), the Gopher structural-quality audit (one
    // codegen'd regex/split scan), and the 199-replicate sign-flip
    // permutation test (explode combines map-side; the shuffle carries
    // groups x reps rows)
    "q_webm_probe", "q_gopher_quality", "q_permutation",
    // r15 second wave — the NDV-bounded nonparametrics: Kendall τ-b
    // (joint distinct-value self-join), Mann-Kendall daily-trend gate
    // (bucket² pair join), Brier decomposition (bin-ordered folds),
    // and the integer epoch-allocation planning table
    "q_kendall_tau", "q_mann_kendall", "q_brier", "q_epoch_alloc",
    // r15 second wave — PSI release gate (two melt scans; boundary/bin
    // algebra on the NDV-bounded distinct tables) and the top principal
    // component by integer power iteration (one exploded d² moment
    // pass + driver-side BigInt iterates on the d²-bounded scatter)
    "q_psi", "q_pca_power",
    // r15 second wave — the audio container probes: MP3 frame-header
    // hop (4 bytes per frame) and the Ogg page/lacing walk, both
    // decode-free counted-structure scans
    "q_mp3_probe", "q_ogg_probe",
    // r15 second wave — two-sample log-rank over the KM subject table
    // (NDV-bounded at-risk windows + time-ordered folds)
    "q_logrank",
    // r15 second wave — Min-K% Prob membership audit (the full KN scoring
    // chain + a doc-bounded worst-k rank)
    "q_minkprob",
    // r15 second wave — the WARC record walk (Content-Length hops +
    // transparent multi-member gunzip, per-partition) and the full
    // archive-to-clean-text composition (record walk -> body -> strip)
    "q_warc_records", "q_warc_text",
    // r16: the CDX capture index, the robots crawl gate, and the
    // content-defined chunking dedup primitives
    "q_warc_cdx", "q_robots_gate", "q_content_chunks", "q_chunk_share",
    "q_crawl_diff", "q_redirects", "q_main_content", "q_crawl_frontier",
    "q_sitemap", "q_politeness", "q_char_entropy", "q_chunk_containment",
    "q_fetch_plan", "q_sitemap_refs", "q_chunk_incr", "q_containment_dedup",
    "q_crawl_tick", "q_recrawl_plan", "q_url_canon",
    // r18: the canonical-keyed alias diff, the sitemap-staleness recrawl
    // prior, the robots-revocation audit, and the takedown tick (the
    // last two plan-backed over a per-rep temp workspace)
    "q_crawl_alias", "q_sitemap_priority", "q_robots_revoke", "q_takedown",
    "q_revocation_tick",
    // r19: the domain-notice takedown composition and the
    // index/release maintenance tick (mh re-cap rebuild + compaction)
    "q_takedown_domain", "q_maintenance_tick")

  /** Median over the SUCCESSFUL reps (failures are recorded as -1.0 in
    * the runs matrix); -1.0 when every rep failed, so a broken query is
    * loudly negative instead of silently plausible (VERDICT r10 #2). */
  private[graft] def median(xs: Seq[Double]): Double = {
    val ok = xs.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.sorted.apply(ok.size / 2)
  }

  /** A median as the stdout line prints it: milliseconds, failures (-1.0)
    * as they are. */
  private[graft] def roundMs(v: Double): Double =
    if (v < 0) v else math.round(v * 1000.0) / 1000.0

  /** The bench `value`: the sum of the PRINTED (ms-rounded) medians, so
    * it re-adds from the stdout line, skipping failed queries (median
    * -1.0) instead of letting each subtract a second. */
  private[graft] def benchValue(medians: Seq[Double]): Double =
    roundMs(medians.map(roundMs).filter(_ >= 0).sum)

  /** One runner pass over a query: every rep it took as (wall, cpu_util),
    * the rep subset its median and spread flag use, and whether any rep
    * threw. */
  private[graft] final case class Pass(all: Seq[(Double, Double)], fin: Seq[Double],
                                       threw: Boolean)

  /** The pass a spread-flagged query commits after its quiet-window
    * rerun: the rerun only when it has a median and is itself clean.
    * `failed` lists a query iff its committed pass threw, so a rerun
    * that throws and is discarded never marks the query failed. */
  private[graft] def adopt(current: Pass, rerun: Pass): Pass =
    if (median(rerun.fin) >= 0 && !spreadFlag(rerun.fin)) rerun else current

  /** Diagnostics go to a FILE, never stdout/stderr: the driver captures
    * both streams, and r10's artifact ended up with a stack trace mixed
    * into the JSON tail (VERDICT r10 #1). Stdout carries exactly one
    * JSON line; everything else lands here. */
  private[graft] val diagPath = java.nio.file.Paths.get("BENCH_local.log")
  private[graft] def diag(msg: String): Unit =
    try java.nio.file.Files.write(diagPath, (msg + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    catch { case _: Throwable => () }

  private[graft] def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Process CPU time in nanos (-1 if the platform bean is unavailable).
    * The per-rep `cpu_util` = Δcpu / Δwall (in cores) built from this is
    * the contamination evidence loadavg can't provide: r11's driver run
    * passed the load guard (`load_pre` 0.97) yet was 3-16x inflated by
    * co-tenant CPU steal — invisible to loadavg, but a rep whose wall
    * time doubles while its cpu time doesn't shows up as util collapse
    * (VERDICT r11 #2). */
  private[graft] def procCpuNanos(): Long =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    } catch { case _: Throwable => -1L }

  /** Cumulative (totalTicks, systemTicks, stealTicks) from the first
    * `/proc/stat` cpu line — whole-run steal/sys percentages are emitted
    * so a co-tenant-disturbed artifact carries kernel-level evidence. */
  private[graft] def procStatTicks(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, f(2), if (f.length > 7) f(7) else 0L))
      } finally src.close()
    } catch { case _: Throwable => None }

  /** Within-query rep-spread contamination flag (VERDICT r11 #2): rep 1
    * is excluded (its surplus is codegen/JIT warm-up by design), and the
    * remaining successful reps must stay within 3x of each other — the
    * r11 driver artifact's signature was [54.7, 13.4, 97.7]-style
    * matrices on identical code. Sub-half-second queries never flag
    * (scheduler jitter dominates there, not contention). */
  private[graft] def spreadFlag(times: Seq[Double]): Boolean = {
    val steady = times.drop(1).filter(_ >= 0)
    steady.size >= 2 && steady.max > 0.5 && steady.max / math.max(steady.min, 1e-9) > 3.0
  }

  /** Warm-up contamination flag (VERDICT r15 #2): a monotone rep-decay
    * signature — rep 1 more than 1.5× the LAST successful rep on a
    * ≥0.5 s query — is invisible to [[spreadFlag]] (which excludes
    * rep 1 by design) yet poisons the median when rep 2 is still
    * decaying (r15's committed q_corr: 16.4/11.3/9.1 s against 2.1 s
    * on a quiet box). Flagged queries are REQUEUED for another full
    * rep set within the same run, so the committed median reflects
    * steady state. */
  private[graft] def warmupFlag(times: Seq[Double]): Boolean = {
    val ok = times.filter(_ >= 0)
    ok.size >= 2 && ok.head > 0.5 && ok.last > 0 && ok.head > 1.5 * ok.last
  }

  /** Self-defense against a busy machine (VERDICT r8 #1: two straight
    * rounds of BENCH artifacts were load-contaminated and unusable —
    * phantom 5-7x "regressions" on untouched code). If the 1-min load
    * average exceeds `maxLoad` we sleep and retry up to `maxWaits`
    * times; if it never clears, the run proceeds but is flagged
    * `"contaminated": true` so the driver/judge can discount it. The
    * pre/post load and core count are always emitted in the JSON so
    * every artifact carries its own validity evidence. */
  private[graft] def waitForIdle(maxLoad: Double, maxWaits: Int, sleepSec: Int): (Double, Boolean) = {
    var waits = 0
    var load = loadAvg()
    while (load > maxLoad && waits < maxWaits) {
      diag(f"[bench] system load $load%.2f > $maxLoad%.1f; waiting ${sleepSec}s (${waits + 1}/$maxWaits)")
      Thread.sleep(sleepSec * 1000L)
      waits += 1
      load = loadAvg()
    }
    (load, load > maxLoad)
  }

  /** Steady-state partitioned-upsert tick (VERDICT r4 #3): at sf0.1 the
    * events table sits far below the 1 GiB index cutover, so the normal
    * q_incremental_part entry never exercises the pk-index path — its
    * cost was spec-only. This measures tick N>1 explicitly: same table,
    * same delta, once with the index forced ON (`pkIndexMinBytes = 0`)
    * and once forced OFF (`Long.MaxValue` → direct (pk, gpart) probe).
    * Setup (initial load + bootstrap tick) is untimed; the reported
    * number is the median of `reps` steady-state ticks. */
  private def steadyTick(spark: SparkSession, sfDir: String, minBytes: Long,
                         reps: Int): Seq[Double] = {
    val work = java.nio.file.Files.createTempDirectory("graft_bench_tick_").toString
    try {
      val src = new graft.sources.ParquetConnector(spark, sfDir)
      val dst = new graft.sources.PartitionedParquetConnector(
        spark, work, matcher = "ts", pkIndexMinBytes = minBytes)
      val events = src.read("events")
      dst.write(events, "events")
      // delta = the last ~2 days of events (the incremental contract's
      // "recent rows" shape: lands in, and affects, few partitions)
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      val delta = events
        .filter(col("ts") >= lit(maxTs) - expr("INTERVAL 2 DAYS"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      delta.count()
      // untimed bootstrap tick (index build / first probe)
      dst.upsert(delta, "events", "event_id")
      val times = (1 to reps).map { i =>
        val d = delta.withColumn("value", col("value") * lit(1.0 + i * 0.01))
        val t0 = System.nanoTime()
        dst.upsert(d, "events", "event_id")
        (System.nanoTime() - t0) / 1e9
      }
      delta.unpersist(false)
      times
    } finally graft.sources.FileTableOps.deleteRecursively(java.nio.file.Paths.get(work))
  }

  /** Steady-state incremental-pipe tick (VERDICT r9 #9): the headline
    * q_incremental_pipe/part entries time the WHOLE correctness query —
    * fresh temp workspace + full stale-snapshot write + pipe + read-back
    * — so their reps carry workspace-creation noise ([11.0, 14.8, 2.7] s
    * spreads). This isolates the number that matters at scale: the
    * incremental merge itself. Setup (workspace + stale write +
    * bootstrap pipe) is untimed; each timed rep appends a fresh slice of
    * source rows beyond the destination watermark and runs ONE pipe
    * tick over it. */
  private def pipeTick(spark: SparkSession, sfDir: String, partitioned: Boolean,
                       reps: Int): Seq[Double] = {
    val work = java.nio.file.Files.createTempDirectory("graft_bench_pipe_").toString
    try {
      val src = new graft.sources.ParquetConnector(spark, sfDir)
      val events = src.read("events")
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      // reserve `reps` one-hour slices at the tail; dst bootstraps with
      // everything before them
      val sliceStarts = (0 until reps).map(i =>
        new java.sql.Timestamp(maxTs.getTime - (reps - i) * 3600L * 1000))
      val staging = new graft.sources.ParquetConnector(spark, work + "/staging")
      val dst: graft.sources.Connector =
        if (partitioned) new graft.sources.PartitionedParquetConnector(spark, work + "/dst", matcher = "ts")
        else new graft.sources.ParquetConnector(spark, work + "/dst")
      staging.write(events.filter(col("ts") < lit(sliceStarts.head)), "events")
      dst.write(staging.read("events"), "events")
      sliceStarts.zipWithIndex.map { case (start, i) =>
        val hi = if (i == reps - 1) None else Some(sliceStarts(i + 1))
        val slice = hi.foldLeft(events.filter(col("ts") >= lit(start)))(
          (d, h) => d.filter(col("ts") < lit(h)))
        staging.write(slice, "events", org.apache.spark.sql.SaveMode.Append)
        val t0 = System.nanoTime()
        graft.operators.Patterns.incrementalPipe(staging, "events", dst, "events",
          matcher = "ts", primaryKey = "event_id")
        (System.nanoTime() - t0) / 1e9
      }
    } finally graft.sources.FileTableOps.deleteRecursively(java.nio.file.Paths.get(work))
  }

  /** Steady-state STREAMING tick (VERDICT r13 #7): the always-on
    * streaming surfaces (stateful EWMA/CUSUM folds, native session
    * windows) had specs but no steady-state number — this measures one
    * AvailableNow micro-batch over a fresh one-hour event slice, state
    * and checkpoint carried from the untimed bootstrap over the
    * historical prefix, so reps are flat and time the TICK (state-store
    * resume + fold over the slice), not workspace churn — the pipeTick
    * contract applied to streams. */
  private def streamTick(spark: SparkSession, sfDir: String, reps: Int,
                         build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[Double] = {
    val work = java.nio.file.Files.createTempDirectory("graft_bench_stream_").toString
    try {
      val src = new graft.sources.ParquetConnector(spark, sfDir)
      val events = src.read("events")
      val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
      val sliceStarts = (0 until reps).map(i =>
        new java.sql.Timestamp(maxTs.getTime - (reps - i) * 3600L * 1000))
      val srcDir = work + "/src"; val outDir = work + "/out"; val ckpt = work + "/ck"
      events.filter(col("ts") < lit(sliceStarts.head))
        .write.mode("append").parquet(srcDir)
      val schema = graft.sources.ParquetConnector.footerSchema(spark, srcDir)
        .getOrElse(spark.read.parquet(srcDir).schema)
      def tick(): Unit = {
        val q = build(spark.readStream.schema(schema).parquet(srcDir))
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      tick() // untimed bootstrap: state fills from the historical prefix
      sliceStarts.zipWithIndex.map { case (start, i) =>
        val hi = if (i == reps - 1) None else Some(sliceStarts(i + 1))
        val slice = hi.foldLeft(events.filter(col("ts") >= lit(start)))(
          (d, h) => d.filter(col("ts") < lit(h)))
        slice.write.mode("append").parquet(srcDir)
        val t0 = System.nanoTime()
        tick()
        (System.nanoTime() - t0) / 1e9
      }
    } finally graft.sources.FileTableOps.deleteRecursively(java.nio.file.Paths.get(work))
  }

  /** Steady-state incremental CRAWL tick (r17): the per-tick cost of
    * the flagship crawl loop once the CDX and dedup indexes are
    * populated. Setup (generation-0 archives on disk + the bootstrap
    * tick that fills `cdx_current` and the fingerprint/sketch indexes)
    * is untimed; each timed rep writes generation g's archives (even
    * pages mutated — roughly half the corpus as the delta) and runs ONE
    * full `crawlTick` plan: CDX stream → diff → delta-selective decode
    * → gate → index probes → idempotent publish → CDX promotion.
    * Fixture notes: archives are corpus/61 sites of a few KB each, so
    * the writer collect is dim-bounded; the fixed-width synthetic pages
    * are 2-token near-twins of each other, so a real-corpus sketch
    * threshold would drop the whole delta — `minhashThreshold = 1.01`
    * disables the drop (est ≤ 1.0 by construction) so the probe JOIN
    * and the append legs are both inside the measured tick; `langs =
    * Nil` skips the language gate the synthetic pages cannot pass. */
  private def crawlTickSteady(spark: SparkSession, sfDir: String, reps: Int): Seq[Double] = {
    val work = java.nio.file.Files.createTempDirectory("graft_bench_crawl_").toString
    try {
      val src = new graft.sources.ParquetConnector(spark, sfDir)
      val docs = src.read("documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      def writeGen(g: Int): String = {
        val dir = s"$work/gen$g"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        graft.operators.Warc.syntheticWarcGen(docs, "doc_id", g)
          .select(col("media_id"), col("payload")).collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$dir/${r.getLong(0)}.warc"),
              r.getAs[Array[Byte]]("payload"))
          }
        dir
      }
      def tick(dir: String): Unit = {
        val plan = new graft.plans.Plan(spark, graft.plans.PlanConfig(
          pidDir = java.nio.file.Files.createTempDirectory("graft_bench_pid_").toString))
        graft.pipelines.TrainingDataPipeline.crawlTick(plan, dir,
          s"$work/tickwork", minQuality = 0.0, langs = Nil,
          minhashThreshold = 1.01)
        plan.run()
      }
      tick(writeGen(0)) // untimed bootstrap: indexes + cdx_current fill
      (1 to reps).map { g =>
        val dir = writeGen(g)
        val t0 = System.nanoTime()
        tick(dir)
        (System.nanoTime() - t0) / 1e9
      }
    } finally graft.sources.FileTableOps.deleteRecursively(java.nio.file.Paths.get(work))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_LOAD", "2.0").toDouble
    val maxWaits = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAX_WAITS", "5").toInt
    // comma-separated query-name filter for isolated profiling runs —
    // e.g. SPARK_GRAFT_BENCH_ONLY=q_dedup_simhash sbt "runMain graft.Bench"
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val (preLoad, contaminated) = waitForIdle(maxLoad, maxWaits, sleepSec = 60)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: the driver captures output streams into the bench
    // artifact, and stray executor WARNs (or task-retry stacks) are
    // exactly the forensic noise r10's artifact suffered from
    spark.sparkContext.setLogLevel("ERROR")
    // warm the JVM/codegen once on the smallest SF so headline numbers
    // measure the engine, not first-call JIT + classloading.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    // a rep that throws is recorded as -1.0 and its pass as `threw` —
    // NEVER timed as if it succeeded (r10: the catch sat inside the
    // timed block, so a throwing query still contributed a plausible
    // wall time and the only trace was an stderr line)
    val statPre = procStatTicks()
    // each rep carries (wall seconds, cpu_util in cores): util collapse
    // on an inflated rep is the steal evidence loadavg can't see
    def timedRep(body: => Unit): (Double, Double) = {
      val c0 = procCpuNanos(); val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9; val c1 = procCpuNanos()
      val util = if (c0 < 0 || c1 < 0 || wall <= 0) -1.0
                 else math.round((c1 - c0) / 1e9 / wall * 100.0) / 100.0
      (wall, util)
    }
    // sub-second queries get extra reps (VERDICT r14 #6): at <1 s the
    // 3-rep median is dominated by scheduler/GC jitter, and untouched
    // queries moved 1.7-2.3x round-over-round on min-across-reps. The
    // extra reps are nearly free (they are sub-second by definition);
    // the `runs` matrices for that cohort simply carry more columns.
    val subSecReps = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUBSEC_REPS", "7").toInt
    val warmupRequeued = scala.collection.mutable.LinkedHashSet[String]()
    // Every entry is a RUNNER so that a spread-flagged query can be
    // re-run in a later quiet window (VERDICT r19 #2b — one co-tenant
    // burst used to condemn the whole ~20-min run). A runner returns
    // a Pass (its `fin` is the post-warmup-requeue tail when that fired).
    val headlineRunners: Seq[(String, () => Pass)] =
      headline.filter(selected).map { name =>
      val fn = SparkEntry.queries(name)
      name -> { () =>
        var threw = false
        def rep(): (Double, Double) =
          try timedRep(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
          catch { case e: Throwable =>
            diag(s"[bench] $name failed: ${e.getMessage}"); threw = true; (-1.0, -1.0) }
        val first = (1 to reps).map(_ => rep())
        val med = median(first.map(_._1))
        val extended =
          if (med >= 0 && med < 1.0 && subSecReps > reps)
            first ++ (reps until subSecReps).map(_ => rep())
          else first
        // warm-up requeue (VERDICT r15 #2): a monotone decay signature
        // gets one more full rep set so the median lands on steady state
        if (warmupFlag(extended.map(_._1))) {
          warmupRequeued += name
          val more = (1 to reps).map(_ => rep())
          Pass(extended ++ more, more.map(_._1), threw)
        } else Pass(extended, extended.map(_._1), threw)
      }
    }
    val steadyRunners: Seq[(String, () => Seq[Double])] = Seq[(String, () => Seq[Double])](
      // steady-state entries: setup untimed, so reps are flat and
      // measure the tick itself (not temp-workspace churn). Their
      // cpu_util is whole-thunk (setup included) — dilution documented.
      "q_part_tick_index" -> (() => steadyTick(spark, sfDir, 0L, reps)),
      "q_part_tick_direct" -> (() => steadyTick(spark, sfDir, Long.MaxValue, reps)),
      "q_pipe_tick" -> (() => pipeTick(spark, sfDir, partitioned = false, reps)),
      "q_part_pipe_tick" -> (() => pipeTick(spark, sfDir, partitioned = true, reps)),
      // r14: steady-state streaming ticks — stateful per-key folds
      // (EWMA double, CUSUM fixed-point long) and native session
      // windows, each resuming its state store across micro-batches
      "q_ewma_tick" -> (() => streamTick(spark, sfDir, reps, df =>
        graft.streaming.IncrementalStream.ewmaStream(
          df, "user_id", "event_id", "value", alpha = 0.3).toDF())),
      "q_cusum_tick" -> (() => streamTick(spark, sfDir, reps, df =>
        graft.streaming.IncrementalStream.driftAlarmStream(
          df, "user_id", "event_id", "value",
          target = 50.0, slack = 10.0, threshold = 200.0).toDF())),
      "q_sess_tick" -> (() => streamTick(spark, sfDir, reps, df =>
        graft.streaming.IncrementalStream.sessionWindowAgg(df))),
      // r17: the incremental crawl loop's per-tick cost, indexes warm
      "q_crawl_tick_steady" -> (() => crawlTickSteady(spark, sfDir, reps))
    ).filter(e => selected(e._1))
    val runners: Seq[(String, () => Pass)] =
      headlineRunners ++ steadyRunners.map { case (name, thunk) =>
        name -> { () =>
          val c0 = procCpuNanos(); val t0 = System.nanoTime()
          val (times, threw) = try (thunk(), false)
            catch { case e: Throwable =>
              diag(s"[bench] $name failed: ${e.getMessage}"); (Seq.fill(reps)(-1.0), true) }
          val wall = (System.nanoTime() - t0) / 1e9; val c1 = procCpuNanos()
          val util = if (c0 < 0 || c1 < 0 || wall <= 0) -1.0
                     else math.round((c1 - c0) / 1e9 / wall * 100.0) / 100.0
          Pass(times.map(t => (t, util)), times, threw)
        }
      }
    val runsMap = scala.collection.mutable.LinkedHashMap[String, Seq[(Double, Double)]]()
    // the pass each query commits: its median, spread flag and `failed`
    // membership come from it (replaced wholesale by a clean
    // quiet-window rerun below)
    val committed = scala.collection.mutable.LinkedHashMap[String, Pass]()
    runners.foreach { case (name, r) =>
      val pass = r()
      runsMap(name) = pass.all
      committed(name) = pass
    }
    // per-query contamination requeue (VERDICT r19 #2b): a co-tenant
    // burst flags the queries it disturbed; instead of condemning the
    // whole run, wait for a quiet window and re-run JUST those queries.
    // The disturbed reps stay in `runs` as evidence; the committed
    // median adopts the rerun only when the rerun itself is clean.
    val spreadRequeued = scala.collection.mutable.LinkedHashSet[String]()
    val flagged0 = committed.collect { case (k, p) if spreadFlag(p.fin) => k }.toSeq
    if (flagged0.nonEmpty && !contaminated) {
      diag(s"[bench] spread-flagged ${flagged0.mkString(", ")}; requeueing in a quiet window")
      val runnerIdx = runners.toMap
      waitForIdle(maxLoad, maxWaits, sleepSec = 60) // one patient gate
      flagged0.foreach { name =>
        waitForIdle(maxLoad, maxWaits = 1, sleepSec = 30) // quick recheck
        spreadRequeued += name
        val rerun = runnerIdx(name)()
        runsMap(name) = runsMap(name) ++ rerun.all
        committed(name) = adopt(committed(name), rerun)
      }
    }
    val finalTimes = committed.map { case (k, p) => k -> p.fin }
    val failed = committed.collect { case (k, p) if p.threw => k }
    val times = runsMap.toSeq.map { case (k, v) => k -> v.map(_._1) }
    val medians = finalTimes.toSeq.map { case (k, v) => k -> median(v) }
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // stdout carries millisecond-rounded medians: the driver's output
    // capture is byte-bounded and the full-precision line blew past it
    // (VERDICT r19 #1 — its r19 tail ends mid-JSON ~5.4 KB in). Full
    // precision stays in the file artifact.
    val qsShort = medians.map { case (k, v) => "\"" + k + "\":" + roundMs(v) }
      .mkString("{", ",", "}")
    val all = times.map { case (k, v) => "\"" + k + "\":" + v.mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val utilJson = runsMap.toSeq.map { case (k, v) => "\"" + k + "\":" + v.map(_._2).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val spreadFlagged = finalTimes.toSeq.collect { case (k, v) if spreadFlag(v) => k }
    // `value` = total of the printed medians over the timed set (headline
    // + the steady-state tick entries), failures skipped — comparable
    // round-over-round on the name intersection
    val total = benchValue(medians.map(_._2))
    val postLoad = loadAvg()
    val statPost = procStatTicks()
    val (stealPct, sysPct) = (statPre, statPost) match {
      case (Some((t0, s0, st0)), Some((t1, s1, st1))) if t1 > t0 =>
        (math.round((st1 - st0) * 10000.0 / (t1 - t0)) / 100.0,
         math.round((s1 - s0) * 10000.0 / (t1 - t0)) / 100.0)
      case _ => (-1.0, -1.0)
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val spreadJson = spreadFlagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    // one spread query is ordinary GC/JIT jitter (three clean back-to-
    // back runs each flagged a DIFFERENT random 1-2 s query); external
    // disturbance — the thing this flag exists for — hits many queries
    // at once (the r11 driver artifact had erratic matrices across the
    // board). Per-query evidence stays in spread_flagged either way.
    val dirty = contaminated || spreadFlagged.size >= 2
    val warmupJson = warmupRequeued.map("\"" + _ + "\"").mkString("[", ",", "]")
    val requeuedJson = spreadRequeued.map("\"" + _ + "\"").mkString("[", ",", "]")
    val common = s""""reps":$reps,"sf":"$sfDir","load_pre":$preLoad,"load_post":$postLoad,"cores":$cores,"contaminated":$dirty,"spread_flagged":$spreadJson,"warmup_requeued":$warmupJson,"spread_requeued":$requeuedJson,"steal_pct":$stealPct,"sys_pct":$sysPct,"failed":$failedJson"""
    // the stdout line keeps the name LISTS as counts: the driver's
    // capture is byte-bounded, and a bad round's flag lists alone ran
    // to ~1 KB (full lists live in the file artifact)
    val commonShort = s""""reps":$reps,"sf":"$sfDir","load_pre":$preLoad,"load_post":$postLoad,"cores":$cores,"contaminated":$dirty,"n_spread":${spreadFlagged.size},"n_warmup_requeued":${warmupRequeued.size},"n_spread_requeued":${spreadRequeued.size},"steal_pct":$stealPct,"sys_pct":$sysPct,"failed":$failedJson"""
    // Full artifact (with the per-rep runs + cpu_util matrices) goes to a
    // FILE: the driver captures a bounded stdout tail, and three rounds of
    // judges had to regex truncated lines (VERDICT r9 #4). Stdout keeps
    // the compact medians-only line. An ONLY-filtered profiling run
    // writes BENCH_only.json so it can never clobber the committed full
    // matrix (VERDICT r11 #1 — r11's final filtered run overwrote the
    // headline artifact with a 4-query subset).
    // A contaminated run must not shadow a clean committed matrix either
    // (VERDICT r12 #8 — the driver's loaded-box run overwrote the clean
    // BENCH_local.json in the working tree): it lands in its own file.
    val artifact =
      if (only.isDefined) "BENCH_only.json"
      else if (dirty) "BENCH_contaminated.json"
      else "BENCH_local.json"
    val fileJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"runs":$all,"cpu_util":$utilJson,$common}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(artifact),
      fileJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => diag(s"[bench] $artifact write failed: ${e.getMessage}") }
    val stdoutLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsShort,$commonShort,"runs_file":"$artifact"}"""
    // the same line also lands in a fixed side file: the driver's parser
    // could not recover it from sbt's decorated stdout ("parsed": null in
    // BENCH_r11 — VERDICT r11 #4)
    if (only.isEmpty)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_stdout.json"),
        (stdoutLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => diag(s"[bench] BENCH_stdout.json write failed: ${e.getMessage}") }
    // If the driver ever names a destination, honor it — a path it picks
    // is the one place its parser is guaranteed to look (VERDICT r13 #8).
    sys.env.get("SPARK_GRAFT_BENCH_OUT").foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (stdoutLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => diag(s"[bench] $p write failed: ${e.getMessage}") }
    }
    // The driver's parser recorded "parsed": null through r12: sbt
    // decorates stdout with an "[info] " prefix. Emit the bare JSON on
    // BOTH streams, as the LAST line of each — after spark.stop(), so no
    // shutdown logging can trail it — and flush explicitly. stop() must
    // not be able to eat the line: a throw there would lose the result
    // both streams exist to carry (ADVICE r13).
    try spark.stop()
    catch { case e: Throwable => diag(s"[bench] spark.stop failed: ${e.getMessage}") }
    println(stdoutLine)
    System.out.flush()
    System.err.println(stdoutLine)
    System.err.flush()
  }
}
