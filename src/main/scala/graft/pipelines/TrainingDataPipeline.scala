package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Curation, Dedup, LanguageModel}
import graft.plans.{Plan, Reporter}
import graft.sources.ParquetConnector

/** End-to-end training-data curation pipeline, composed entirely from
  * graft's own operators — the "full user journey" a reference user
  * migrating to Spark would run, expressed as a standard [[Plan]] so the
  * CLI / step selection / pid lock / reporting all apply:
  *
  *   ingest → profile (quality + langid + token stats) → filter →
  *   scrub (PII redaction + Gopher repetition filter) →
  *   dedup (exact, then MinHash near-dup) →
  *   decontaminate (benchmark n-gram overlap, when a benchmark is
  *   given) → dsir_select (target-matched importance resampling, when
  *   a target corpus is given) → mix (temperature-scaled language
  *   rebalance) → split →
  *   pack (context-length chunking + token-budget bins) → report
  *
  * Every stage writes a parquet table into `work`, so each is
  * independently inspectable and the plan is resumable per step. At
  * 100 TB each stage is a linear scan plus the dedup shuffles — no
  * driver-side data movement anywhere; the report aggregates only
  * per-stage row counts.
  */
object TrainingDataPipeline {

  /** Per-stage row counts, exposed for the report step and tests.
    * `finalKept` = the decontaminated count when that stage ran, else
    * the near-unique count; `mixed` = rows surviving the temperature
    * rebalance; `packedChunks` = context-length chunks written by the
    * pack stage. */
  case class Funnel(ingested: Long, profiled: Long, kept: Long,
                    scrubbed: Long, exactUnique: Long, nearUnique: Long,
                    finalKept: Long, mixed: Long, packedChunks: Long,
                    lmKept: Long = 0L, dsirKept: Long = 0L)

  /** Wire the pipeline steps onto `plan`. `src` must contain
    * `documents.parquet`; outputs land in `work`.
    *
    * `nearDedup` selects the near-duplicate candidate family:
    * `"minhash"` (default — xxhash64 LSH banding, the throughput
    * path), `"jaccard"` (REPLAYABLE MinHash-LSH,
    * [[Dedup.replayableMinhashPairs]] — md5 minhashes an external
    * engine replays bit-for-bit, exact-trigram-Jaccard-verified, the
    * choice when reproducibility or an external audit matters; also
    * linear, so it scales like the sketch path — VERDICT r14 #1 flipped
    * this from blocked all-pairs), or `"jaccard_exact"` (the blocked
    * all-pairs verifier — opt-in for SMALL corpora only: its
    * lang+length blocks grow with the corpus, measured scaling exponent
    * 1.99 at the r14 10× stress point; selecting it also writes the
    * `dedup_oversized_blocks` audit table so the block cap can never
    * drop blocks silently). All three feed the same
    * connected-components cluster dedup. `minhashThreshold` is the
    * similarity threshold for whichever family runs.
    *
    * `mixWeights` switches the mix stage from temperature-scaled
    * rebalance ([[Curation.mixByTemperature]], `mixAlpha`) to EXPLICIT
    * per-language weights ([[Curation.mixByWeight]]) — the production
    * form when the corpus composition is a spec, not a formula, and the
    * deterministic one an external engine can replay
    * (`q_pipeline_funnel`).
    *
    * `maxAvgNll` enables the CCNet perplexity gate (`lm_filter` step,
    * [[graft.operators.LanguageModel]]): a bigram LM trained on the
    * quality-filtered `lmRefLang` slice scores every document; those
    * above the cap — or too short to score — drop before scrubbing.
    * Off by default (`None`): the gate only makes sense when the
    * reference slice is actually trustworthy for the corpus mix.
    *
    * `lmBucketWeights` is the SOFT alternative to the hard cap —
    * Wenzek et al.'s CCNet head/middle/tail sampling: the same
    * reference LM scores every document, [[LanguageModel.qualityBuckets]]
    * cuts the scored corpus into exact perplexity thirds, and
    * [[Curation.mixByWeight]] keeps each bucket's token budget in the
    * given proportion (e.g. head 0.5 / middle 0.375 / tail 0.125 —
    * pass binary-exact weights for external replayability). Unscored
    * documents drop, like the hard gate. Mutually exclusive with
    * `maxAvgNll` (a cap after bucket-sampling would silently re-skew
    * the buckets).
    *
    * `tokenizer` selects the pack stage's token accountant:
    * `"whitespace"` (default — [[Curation.chunkDocuments]] on word
    * counts) or `"bpe"` — a real subword vocabulary is TRAINED on the
    * quality-filtered `lmRefLang` slice (the same trusted slice the LM
    * gate trains on; `bpe_train` step, [[graft.operators.Bpe]]),
    * persisted to `work` as `bpe_merges`/`bpe_dict`, and every
    * downstream budget counts trained-tokenizer tokens: the MIX
    * stage's language budgets (per-doc subword totals — whitespace
    * budgets skew against languages that fragment into more subwords)
    * and the pack stage's chunks and bins
    * ([[Bpe.tokenBudgetChunks]] — `chunkTokens`/`packBudget` are then
    * budgets in SUBWORDS, and `chunkOverlap` is ignored: quota
    * chunking does not window). */
  def build(plan: Plan, srcDir: String, workDir: String,
            minQuality: Double = 0.3, langs: Seq[String] = Seq("en", "de", "fr", "es"),
            minhashThreshold: Double = 0.7,
            benchDir: Option[String] = None,
            maxContamination: Double = 0.05,
            mixAlpha: Double = 0.3,
            chunkTokens: Int = 128, chunkOverlap: Int = 16,
            packBudget: Long = 2048L,
            nearDedup: String = "minhash",
            mixWeights: Option[Map[String, Double]] = None,
            langCol: String = "lang_pred",
            maxAvgNll: Option[Double] = None,
            lmBucketWeights: Option[Map[String, Double]] = None,
            lmRefLang: String = "en",
            lmVocabSize: Int = 50000,
            lmAddK: Double = 0.5,
            dsirTargetDir: Option[String] = None,
            dsirKeepFraction: Double = 0.5,
            dsirNumBuckets: Int = 4096,
            tokenizer: String = "whitespace",
            bpeMerges: Int = 200,
            bpeMinPairFreq: Long = 2L): Plan = {
    require(Set("minhash", "jaccard", "jaccard_exact").contains(nearDedup),
      s"nearDedup must be 'minhash', 'jaccard', or 'jaccard_exact', got '$nearDedup'")
    require(Set("whitespace", "bpe").contains(tokenizer),
      s"tokenizer must be 'whitespace' or 'bpe', got '$tokenizer'")
    require(maxAvgNll.isEmpty || lmBucketWeights.isEmpty,
      "maxAvgNll (hard perplexity cap) and lmBucketWeights (CCNet " +
        "head/middle/tail sampling) are mutually exclusive")
    lmBucketWeights.foreach { w =>
      require(w.nonEmpty && w.keySet.subsetOf(Set("head", "middle", "tail")),
        s"lmBucketWeights keys must be among head/middle/tail, got ${w.keySet}")
    }
    val spark = plan.spark
    val src = new ParquetConnector(spark, srcDir)
    val work = new ParquetConnector(spark, workDir)
    plan.connection("source", src).connection("work", work)

    plan.step("profile") {
      // one native-profile pass per doc: quality + language + token cost.
      // When `langCol` names a SOURCE column (a labeled corpus), it is
      // carried through so filter/mix/pack can stratify on the label
      // instead of the prediction.
      val docs = src.read("documents")
      val carried = if (langCol == "lang_pred") Nil else Seq(col(langCol))
      work.write(docs.select(Seq(col("doc_id"), col("text")) ++ carried ++ Seq(
        TextFunctions.qualityScore(col("text")).as("quality"),
        TextFunctions.langId(col("text")).as("lang_pred"),
        TextFunctions.tokenCount(col("text")).as("n_tokens"),
        TextFunctions.subwordCount(col("text")).as("n_subwords")): _*), "doc_profile")
    }

    plan.step("filter") {
      work.write(work.read("doc_profile")
        .filter(col("quality") >= minQuality && col(langCol).isin(langs: _*)),
        "docs_clean")
    }

    if (tokenizer == "bpe") {
      plan.step("bpe_train") {
        // subword vocabulary for the pack stage's token accounting,
        // trained (like the LM gate) on the pipeline's own quality-
        // filtered lmRefLang survivors. Both halves of the model
        // persist into `work`: the merge table (bounded — bpeMerges
        // rows, the driver-metadata side) and the final dict state
        // (word → segmentation — the distributed side the pack stage
        // joins against).
        import spark.implicits._
        val clean = work.read("docs_clean")
        val model = graft.operators.Bpe.train(
          clean.filter(col(langCol) === lmRefLang), "text", bpeMerges, bpeMinPairFreq)
        work.write(model.merges.toDF("rank", "left", "right", "pair_freq"), "bpe_merges")
        work.write(model.segments, "bpe_dict")
      }
    }

    maxAvgNll.foreach { cap =>
      plan.step("lm_filter") {
        // CCNet perplexity gate: bigram LM trained on the pipeline's own
        // `lmRefLang` survivors of the quality filter (the best trusted
        // slice available without an external reference corpus), every
        // document scored by mean bigram NLL, kept iff avg_nll <= cap.
        // Documents too short to produce a bigram score NULL and drop —
        // "no evidence" is a drop, not a free pass (deliberate: a
        // <2-token document is not useful pretraining data, and NULL <=
        // cap filters identically in Spark and the replaying engine).
        val clean = work.read("docs_clean")
        val lm = LanguageModel.train(clean.filter(col(langCol) === lmRefLang),
          "text", lmVocabSize)
        val kept = LanguageModel.scoreNll(clean, "text", "doc_id", lm, lmAddK)
          .filter(col("avg_nll") <= cap)
        work.write(clean.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
          "docs_lm")
      }
    }

    lmBucketWeights.foreach { bucketWeights =>
      plan.step("lm_bucket_mix") {
        // CCNet head/middle/tail sampling (Wenzek et al. 2020): the same
        // reference-slice bigram LM scores everything, qualityBuckets
        // cuts exact perplexity thirds, and the deterministic
        // token-budget mix keeps each bucket in the spec'd proportion.
        // Unscored (<2-token) documents have a NULL bucket and drop —
        // the hard gate's "no evidence is a drop" contract.
        val clean = work.read("docs_clean")
        val lm = LanguageModel.train(clean.filter(col(langCol) === lmRefLang),
          "text", lmVocabSize)
        // materialize the narrow scored projection once: the bucket
        // boundaries, the mix's driver budget pass, and the keep set
        // all read it (else train+score re-runs per reader)
        val scored = LanguageModel.scoreNll(clean, "text", "doc_id", lm, lmAddK)
          .localCheckpoint(true)
        val bucketed = LanguageModel.qualityBuckets(scored, "doc_id")
          .filter(col("bucket").isNotNull)
          .join(clean.select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
        val kept = Curation.mixByWeight(bucketed, "bucket", bucketWeights,
          "n_tokens", "doc_id")
        work.write(clean.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
          "docs_lm")
      }
    }

    plan.step("scrub") {
      // PII out first (scan-speed regex chain), then the Gopher
      // repetition thresholds — one native profile pass per doc
      val clean = work.read(
        if (maxAvgNll.isDefined || lmBucketWeights.isDefined) "docs_lm" else "docs_clean")
      work.write(clean
        .withColumn("text", TextFunctions.redactPii(col("text")))
        .filter(TextFunctions.gopherRepetitionKeep(col("text"))), "docs_scrubbed")
    }

    plan.step("dedup") {
      val clean = work.read("docs_scrubbed")
      val exact = Dedup.exact(clean, "text", "doc_id")
      work.write(exact, "docs_exact_unique")
      // transitively-correct near-dedup (r6): candidate pairs → connected
      // components → one doc per duplicate cluster. The greedy
      // drop-every-id_b policy ([[Dedup.minhashDedup]]) over-KEEPS when a
      // cluster's smaller member pairs only through a larger one
      // (e.g. pairs (1,3),(2,3) keep both 1 and 2).
      val base = work.read("docs_exact_unique")
      val pairs = nearDedup match {
        case "minhash" => Dedup.minhashCandidates(base, "text", "doc_id",
          threshold = minhashThreshold)
        // the replayable DEFAULT for audited runs (r15, VERDICT r14 #1):
        // md5-MinHash LSH candidates, exact word-TRIGRAM Jaccard verify
        // (n = 1 word-set jaccard saturates on small-vocabulary corpora
        // — every doc shares most words) — deterministic, externally
        // replayable, and LINEAR like the sketch path
        case "jaccard" => Dedup.replayableMinhashPairs(base, "text", "doc_id",
          n = 3, threshold = minhashThreshold)
        // opt-in blocked all-pairs verifier for SMALL corpora: the
        // lang+length blocks grow with the corpus (measured exponent
        // 1.99 at the r14 10× point), so the block-cap audit is BOUND
        // to this path — every run writes which blocks the cap dropped
        case "jaccard_exact" =>
          val blockKey = Dedup.langLengthBlock(
            col(langCol), length(col("text")), width = 100)
          work.write(Dedup.oversizedBlocks(base, blockKey, maxBlockSize = 10000),
            "dedup_oversized_blocks")
          Dedup.ngramJaccardPairs(base, "text", "doc_id", blockKey,
            n = 3, threshold = minhashThreshold)
      }
      work.write(Dedup.clusterDedup(base, "doc_id", pairs), "docs_unique")
    }

    benchDir.foreach { bd =>
      plan.step("decontaminate") {
        // n-gram overlap vs the benchmark corpus; the bench side
        // broadcasts, corpus documents never shuffle (Curation
        // .contamination), so this stays a linear scan of the survivors
        val uniq = work.read("docs_unique")
        val bench = new ParquetConnector(spark, bd).read("documents")
        val frac = Curation.contamination(uniq, bench, "text", "doc_id", n = 8)
          .select(col("doc_id"), col("contamination_frac"))
        work.write(uniq.join(frac, Seq("doc_id"), "left")
          .filter(coalesce(col("contamination_frac"), lit(0.0)) <= maxContamination)
          .drop("contamination_frac"), "docs_final")
      }
    }

    dsirTargetDir.foreach { td =>
      plan.step("dsir_select") {
        // DSIR target-matched selection (Xie et al. 2023) between
        // curation and mixing — published pipelines select first, then
        // rebalance. Target = the trusted reference corpus at `td`
        // (its `documents` table); raw = this pipeline's survivors. The
        // bounded bucket log-ratio table broadcasts; keep = the exact
        // ranked top `dsirKeepFraction` by fixed-point weight.
        val in = work.read(if (benchDir.isDefined) "docs_final" else "docs_unique")
        val target = new ParquetConnector(spark, td).read("documents")
        val table = graft.operators.Dsir.importanceTable(in, target, "text", dsirNumBuckets)
        // narrow per-doc weights materialized once (r19): the resample's
        // eager boundary pass and the keep-set read both consume it
        val w = graft.operators.Dsir.importanceWeights(in, "text", "doc_id", table, dsirNumBuckets)
          .localCheckpoint(true)
        val kept = graft.operators.Dsir.resampleTop(w, "doc_id", dsirKeepFraction)
          .filter(col("kept"))
        work.write(in.join(kept.select("doc_id"), Seq("doc_id"), "left_semi"),
          "docs_selected")
      }
    }

    plan.step("mix") {
      // language rebalance over the survivors — the corpus-composition
      // step between curation and split: explicit weights when the mix
      // is a spec (mixWeights), temperature-scaled otherwise. Source is
      // chosen by CONFIG, not table existence: a workDir reused from an
      // earlier benchmarked run must not feed a stale docs_final in
      val src = if (dsirTargetDir.isDefined) "docs_selected"
        else if (benchDir.isDefined) "docs_final" else "docs_unique"
      val base = work.read(src)
      // under the BPE accountant the language budgets count TRAINED
      // tokens too — the published mixing recipes (UniMax, mT5) budget
      // in tokenizer tokens, and a whitespace-word budget skews against
      // languages that fragment into more subwords. Per-doc totals come
      // from the persisted model; wordless docs weigh 0.
      val (mixIn, weightCol) =
        if (tokenizer == "bpe") {
          val model = readBpeModel(work)
          val totals = graft.operators.Bpe.segmentCorpus(base, "text", "doc_id", model)
            .groupBy(col("doc_id")).agg(sum(size(col("syms"))).as("n_bpe_tokens"))
          (base.join(totals, Seq("doc_id"), "left")
            .withColumn("n_bpe_tokens", coalesce(col("n_bpe_tokens"), lit(0L))),
            "n_bpe_tokens")
        } else (base, "n_tokens")
      val mixed = mixWeights match {
        case Some(w) => Curation.mixByWeight(mixIn, langCol, w, weightCol, "doc_id")
        case None => Curation.mixByTemperature(mixIn, langCol, weightCol, "doc_id",
          alpha = mixAlpha)
      }
      work.write(mixed, "docs_mixed")
    }

    plan.step("split") {
      // deterministic, membership-stable train/val/test assignment over
      // the mixed corpus — row-local, no shuffle
      work.write(Curation.assignSplits(work.read("docs_mixed"), "doc_id"), "docs_split")
    }

    plan.step("pack") {
      // context-length chunking (row-local explode) then token-budget
      // bin assignment per (split, language, hash shard). The shard key
      // is mandatory at scale: (train, en) is most of any real corpus,
      // and packSequences' per-group window would funnel it into one
      // sort task — a doc_id hash shard bounds every window bucket at
      // ~1/64 of a language (raise the modulus with corpus size). Bin
      // ids are dense PER (split, lang, shard) — pack_shard is part of
      // the bin's identity and rides along in the output.
      val split = work.read("docs_split")
      val chunks =
        if (tokenizer == "bpe")
          graft.operators.Bpe.tokenBudgetChunks(split, "text", "doc_id",
            readBpeModel(work), chunkTokens)
        else Curation.chunkDocuments(split, "text", "doc_id",
          chunkTokens = chunkTokens, overlap = chunkOverlap)
      val keyed = chunks
        .join(split.select(col("doc_id"), col(langCol), col("split")), Seq("doc_id"))
        .withColumn("pack_shard", pmod(col("doc_id"), lit(64)))
        // DECIMAL-packed (doc_id, chunk_idx) ordering key with an
        // ASSERTED chunk bound (ADVICE r10 lineage): the old
        // doc_id*100000+chunk_idx collided once a doc yielded ≥100k
        // chunks, and the r10 bit-packed long capped doc ids at 2^43 —
        // which FULL-RANGE hashed ids (xxhash64 provenance ids from
        // warc_ingest) violate. (doc_id + 2^63)·2^20 + chunk_idx in
        // DECIMAL(38,0) is unique and order-isomorphic for EVERY
        // (doc_id, chunk_idx) with chunk_idx < 2^20 (≈134M tokens/doc
        // at 128-token chunks — a loud limit, not a cliff), identical
        // ordering to the old key on in-range ids.
        .filter(assert_true(
          col("chunk_idx") < lit(1 << 20),
          concat(lit("pack ordering key out of range: doc_id="), col("doc_id").cast("string"),
            lit(" chunk_idx="), col("chunk_idx").cast("string"))).isNull)
        .withColumn("_ord", expr(
          "(CAST(doc_id AS DECIMAL(38,0)) + 9223372036854775808) * 1048576 + chunk_idx"))
      work.write(Curation.packSequences(keyed, "n_tokens", packBudget,
        Seq("split", langCol, "pack_shard"), "_ord").drop("_ord"), "docs_packed")
    }

    plan.step("report") {
      val f = funnel(plan, srcDir, workDir, useFinal = Some(benchDir.isDefined))
      val body = Reporter.render(
        """training-data funnel
          |  ingested:      {{ingested}}
          |  profiled:      {{profiled}}
          |  quality+lang:  {{kept}}
          |  lm-kept:       {{lm}}
          |  scrubbed:      {{scrubbed}}
          |  exact-unique:  {{exact}}
          |  near-unique:   {{near}}
          |  final:         {{final}}
          |  dsir-selected: {{dsir}}
          |  mixed:         {{mixed}}
          |  packed chunks: {{packed}}""".stripMargin,
        Map("ingested" -> f.ingested.toString, "profiled" -> f.profiled.toString,
          "kept" -> f.kept.toString, "lm" -> f.lmKept.toString,
          "scrubbed" -> f.scrubbed.toString,
          "exact" -> f.exactUnique.toString,
          "near" -> f.nearUnique.toString, "final" -> f.finalKept.toString,
          "dsir" -> f.dsirKept.toString,
          "mixed" -> f.mixed.toString, "packed" -> f.packedChunks.toString))
      body.split("\n").foreach(plan.logger.info)
    }
    plan
  }

  /** Release-over-release drift audit — wire AFTER two runs of the
    * funnel have produced consecutive corpus releases (`oldTable`,
    * `newTable` — any two document tables in `work`, e.g. the previous
    * run's archived `docs_mixed` and this run's): one `snapshot_diff`
    * step writes
    *
    *  - `drift_ks`: per numeric FEATURE marginal, the two-sample KS
    *    verdict ([[graft.operators.Analytics.snapshotKs]] — exact
    *    integer ECDF argmax over quantized NDV-bounded histograms;
    *    `q_snapshot_drift` oracles this form), and
    *  - `drift_js`: the unigram Jensen–Shannon decomposition
    *    ([[graft.operators.Curation.jsDivergence]] — which TOKENS
    *    drove the content drift, `q_js_divergence`'s shape), and
    *  - `drift_psi`: the Population Stability Index per feature over
    *    the OLD release's decile bins
    *    ([[graft.operators.Analytics.psiDrift]], `q_psi`'s shape) —
    *    the monitoring-standard single number with its canonical 0.2
    *    gate, catching gradual reshaping KS's max-gap can understate,
    *    and
    *  - `drift_emb` (when `embCol` names a vector column in both
    *    releases): the per-DIMENSION mean-embedding shift
    *    ([[graft.operators.Similarity.embeddingDrift]],
    *    `q_embedding_drift`'s shape) — the leg that catches an encoder
    *    change the text marginals can't see,
    *
    * so a release gate can block publication on `drifted = true` rows,
    * a JS total above budget, or an embedding dim whose standardized
    * shift spikes. Every sub-report is one scan per release plus
    * NDV/vocab/dim-bounded shuffles — release size never enters a
    * window or a collect, so the step costs the same two linear scans
    * at 100 TB. */
  def snapshotDiff(plan: Plan, work: graft.sources.Connector,
                   oldTable: String, newTable: String,
                   textCol: String = "text",
                   featureCols: Seq[String] = Seq("n_chars", "n_tokens"),
                   vocabSize: Int = 1000, alpha: Double = 0.05,
                   scale: Int = 6, embCol: Option[String] = None): Plan = {
    plan.step("snapshot_diff") {
      val a = work.read(oldTable)
      val b = work.read(newTable)
      work.write(graft.operators.Analytics.snapshotKs(a, b, featureCols, alpha, scale),
        "drift_ks")
      work.write(graft.operators.Analytics.psiDrift(a, b, featureCols, scale = scale),
        "drift_psi")
      work.write(Curation.jsDivergence(a, b, textCol, vocabSize), "drift_js")
      embCol.foreach { ec =>
        work.write(graft.operators.Similarity.embeddingDrift(a, b, ec, scale),
          "drift_emb")
      }
    }
    plan
  }

  /** Experiment-readout gate — VERDICT r14 #4, composed the way
    * [[snapshotDiff]] composes the drift legs: one `experiment_report`
    * step runs [[graft.operators.Analytics.experimentReport]]'s full
    * chain (CUPED pooled-θ adjustment → Welch t on the adjusted metric
    * → A&S-erfc two-sided p → Holm FWER gate across the family) over
    * any (experiment, variant, metric, covariate) table in `work` and
    * writes the `experiment_report` table a launch review reads —
    * `rejected = true` rows are the launches the family-wise gate
    * clears. Two scans of the readout table plus experiment-cardinality
    * everything-else (the operator's contract), so the step costs the
    * same at any readout size. */
  def experimentReadout(plan: Plan, work: graft.sources.Connector,
                        readoutTable: String,
                        expCol: String = "experiment",
                        variantCol: String = "variant",
                        metricCol: String = "metric",
                        covariateCol: String = "covariate",
                        scale: Int = 6,
                        alphaNum: Long = 5L, alphaDen: Long = 100L): Plan = {
    plan.step("experiment_report") {
      work.write(graft.operators.Analytics.experimentReport(
        work.read(readoutTable), expCol, variantCol, metricCol, covariateCol,
        scale, alphaNum, alphaDen), "experiment_report")
    }
    plan
  }

  /** Re-hydrate the persisted tokenizer from a work connector: the
    * merge list is bounded driver metadata (`bpeMerges` rows); the
    * dict stays a distributed frame. */
  private def readBpeModel(work: ParquetConnector): graft.operators.Bpe.BpeModel = {
    val merges = work.read("bpe_merges").orderBy(col("rank")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    graft.operators.Bpe.BpeModel(merges, work.read("bpe_dict"))
  }

  /** CLI entry point — `graft run graft.pipelines.TrainingDataPipeline$Cli
    * [steps…]` with source/work dirs from the environment:
    * `GRAFT_SRC_DIR` (default sf0.001 testdata) and `GRAFT_WORK_DIR`. */
  class Cli extends graft.Main.PlanSpec {
    override def build(plan: Plan): Unit = {
      TrainingDataPipeline.build(plan,
        sys.env.getOrElse("GRAFT_SRC_DIR", "/root/testdata/sf0.001"),
        sys.env.getOrElse("GRAFT_WORK_DIR",
          java.nio.file.Files.createTempDirectory("graft_training_").toString))
      ()
    }
  }

  /** Crawl front door (VERDICT r15 #5): a `warc_ingest` step that
    * turns a directory of raw `.warc` / `.warc.gz` crawl files into
    * the `documents` table [[build]] ingests — record walk
    * ([[graft.operators.Warc.readWarcTextsDir]]: streaming, O(record)
    * task heap, per-file parallelism) → charset-honest body decode →
    * [[TextFunctions.stripHtml]] — so the WHOLE journey runs raw
    * archive bytes → funnel → release gate. doc_id is the stable
    * (path, record) hash; url/charset/provenance columns ride along
    * for lineage audits downstream.
    *
    * Wire it on the SAME plan before [[build]]/[[ReleasePipeline]]
    * with `srcDir` pointing at the ingest output:
    * {{{
    * TrainingDataPipeline.warcIngest(plan, warcDir, crawlSrc)
    * ReleasePipeline.build(plan, crawlSrc, workDir)
    * }}}
    *
    * `extractor` picks the html→text stage: `"strip"` (default —
    * [[TextFunctions.stripHtml]], keeps everything) or `"main"`
    * ([[TextFunctions.mainContent]] — jusText-style boilerplate-block
    * removal, the right choice when nav/footer/link-farm text would
    * poison downstream quality and n-gram statistics). */
  def warcIngest(plan: Plan, warcDir: String, srcDir: String,
                 extractor: String = "strip"): Plan = {
    require(Set("strip", "main").contains(extractor),
      s"extractor must be 'strip' or 'main', got '$extractor'")
    val out = new ParquetConnector(plan.spark, srcDir)
    plan.step("warc_ingest") {
      val texts = graft.operators.Warc.readWarcTextsDir(plan.spark, warcDir)
      val toText: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (extractor == "main") TextFunctions.mainContent(_)
        else TextFunctions.stripHtml(_)
      out.write(texts.select(
        xxhash64(col("path"), col("rec_idx")).as("doc_id"),
        toText(col("html")).as("text"),
        col("target_uri").as("url"), col("charset"),
        col("path").as("warc_path"), col("rec_idx").as("warc_rec_idx"))
        .withColumn("n_chars", length(col("text")).cast("long")),
        "documents")
    }
    plan
  }

  /** The INCREMENTAL crawl-to-release tick (VERDICT r16 #1) — the
    * composition a weekly 100 TB recrawl actually runs, the reference's
    * high-watermark incremental pipe (`patterns/mysql_patterns.rb:60-99`)
    * at crawl scale. One plan instance per tick over the SAME `workDir`:
    *
    *   `tick_cdx`       — stream the new crawl's CDX capture index
    *                      ([[graft.operators.Warc.readWarcCdxDir]]: the
    *                      cheap pass — offsets, statuses, decoded-text
    *                      digests; no funnel work yet) →
    *   `tick_delta`     — [[graft.operators.Warc.crawlDiff]] against the
    *                      promoted `cdx_current` (first tick: everything
    *                      `added`) → `crawl_delta` audit table →
    *   `tick_ingest`    — ONLY added/changed captures DECODE: the CDX
    *                      rows joined to the delta name the exact
    *                      (path, record) slots, and
    *                      [[graft.operators.Warc.readWarcTextsSelected]]
    *                      decodes just those (a 1 % delta decodes 1 %
    *                      of the crawl) → `delta_documents` →
    *   `tick_filter`    — quality + language gate → `delta_clean` →
    *   `tick_publish`   — probe the PERSISTED dedup indexes of
    *                      [[WorkspaceIndex.all]] in list order: exact
    *                      fingerprints (`fp_index`), the banded MinHash
    *                      sketch (`mh_index`), and the CDC chunk index
    *                      (`chunk_index`, partial-copy spam — on the
    *                      list only with `containment` on); survivors →
    *                      `delta_release`, then an IDEMPOTENT append
    *                      (anti-join on `doc_id`) into
    *                      `release_current`, and ONLY THEN one heal
    *                      leg per listed index →
    *   `tick_promote`   — rotate `cdx_current` → `cdx_previous`,
    *                      promote `cdx_candidate`.
    *
    * The delta joins are keyed on the RFC 3986 CANONICAL URI
    * ([[graft.operators.Warc.crawlDiff]] canonicalizes its key, and
    * `tick_ingest` matches CDX rows by the same form — VERDICT r17
    * #2): URL alias spellings diff as `unchanged`, never as spurious
    * `added`+`gone` pairs that would re-ingest every re-spelled page.
    *
    * The released corpus is touched only through its CDX rows, its
    * 8-byte fingerprints, and its sketch/chunk rows — its text is
    * never re-read; tick cost is O(new crawl scan + delta funnel +
    * index probe), not O(corpus). EVERY index is maintained
    * append-only (VERDICT r17 #1): the tick appends exactly the new
    * batch's rows (an anti-join against the index, never a
    * union+distinct rewrite of it), so the publish leg's shuffle and
    * write volume track the DELTA, not the corpus index.
    *
    * Every per-index decision — table, watermark, natural key, legacy
    * presence ids, probe, release-row → index-row function — comes from
    * the [[WorkspaceIndex]] entry; the tick itself knows no index key.
    *
    * CRASH ORDERING (the lifecycle contract of the
    * [[graft.operators.Dedup]] `incremental*` forms, stretched across
    * steps): the release append is the
    * durable sink and runs BEFORE any index learns the batch; the
    * append itself is idempotent by `doc_id` (the stable (path, record)
    * hash), so a replay after a crash in ANY window — before the
    * append, between append and index writes, between indexes and the
    * CDX rotation — converges to the same release with no lost and no
    * duplicated rows: un-promoted CDX re-derives the same delta, and
    * already-indexed docs dedup to nothing. The index appends are
    * SELF-HEALING and GENERATION-WATERMARKED (ADVICE r17, then VERDICT
    * r18 #3): every release append stamps its rows with a declared
    * generation (`tick_state`, see [[GenState]]), each index tracks the
    * highest generation it has fully absorbed, and the rows an index
    * still needs are exactly `release._gen > watermark` — a
    * footer-pruned parquet scan of the suspect window, in steady state
    * this tick's delta and nothing else. A crash BETWEEN index writes
    * (which makes the replayed survivor set empty, since `fp_index`
    * already learned the batch) leaves the mh watermark stale, so the
    * replay re-derives the stranded generation and tops the sketch up;
    * a crash that moved only SOME of an append's part-files is
    * completed ROW-granularly (the recomputed rows anti-join the
    * suspect generations' index rows on their natural key — the
    * ADVICE r18 half-indexed-doc tail cannot persist). The heal never
    * re-scans the corpus id set or distinct-shuffles the index ids; a
    * watermark already at the release generation skips the leg
    * driver-side. One documented tail: a doc whose EVERY band bucket
    * hit `maxBucketSize` contributes no index rows and is re-selected
    * each suspect replay (re-signed, zero rows re-appended) — the same
    * degenerate-bucket population [[maintenanceTick]]'s periodic
    * [[graft.operators.Dedup.minhashIndex]] rebuild re-caps. */
  def crawlTick(plan: Plan, newWarcDir: String, workDir: String,
                extractor: String = "strip",
                minQuality: Double = 0.3,
                langs: Seq[String] = Seq("en", "de", "fr", "es"),
                minhashThreshold: Double = 0.7,
                numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
                maxBucketSize: Int = 2000,
                containment: Boolean = false,
                containmentThresholdFp: Long = 700000L): Plan = {
    require(Set("strip", "main").contains(extractor),
      s"extractor must be 'strip' or 'main', got '$extractor'")
    val spark = plan.spark
    val work = new ParquetConnector(spark, workDir)
    import graft.operators.{Robots, Warc}

    plan.step("tick_cdx") {
      work.write(Warc.readWarcCdxDir(spark, newWarcDir), "cdx_candidate")
    }

    plan.step("tick_delta") {
      val newCdx = work.read("cdx_candidate")
      val oldCdx = if (work.tables.contains("cdx_current"))
        work.read("cdx_current") else newCdx.limit(0)
      work.write(Warc.crawlDiff(oldCdx, newCdx), "crawl_delta")
    }

    plan.step("tick_ingest") {
      // crawl_delta is keyed on the CANONICAL URI (crawlDiff); the raw
      // CDX spellings match through the same projection, so an aliased
      // capture of an unchanged page never re-decodes
      val deltaUris = work.read("crawl_delta")
        .filter(col("status").isin("added", "changed"))
        .select(col("target_uri").as("_canon_uri"))
      // the CDX walk already located every capture: join it to the
      // delta URIs and decode ONLY those (path, record) slots — a 1 %
      // weekly delta decodes 1 % of the crawl, not a full
      // decode-then-discard pass
      val wanted = work.read("cdx_candidate")
        .filter(col("warc_type") === "response")
        .withColumn("_canon_uri", Robots.canonicalUrlCol(col("target_uri")))
        .join(deltaUris, Seq("_canon_uri"), "left_semi")
        .select(col("path"), col("rec_idx"))
      val texts = Warc.readWarcTextsSelected(spark, wanted)
      val toText: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        if (extractor == "main") TextFunctions.mainContent(_)
        else TextFunctions.stripHtml(_)
      work.write(texts
        .select(xxhash64(col("path"), col("rec_idx")).as("doc_id"),
          toText(col("html")).as("text"),
          col("target_uri").as("url"), col("charset"),
          col("path").as("warc_path"), col("rec_idx").as("warc_rec_idx"))
        .withColumn("n_chars", length(col("text")).cast("long")),
        "delta_documents")
    }

    plan.step("tick_filter") {
      // langs = Nil disables the language gate (a monolingual-agnostic
      // crawl keeps everything; quality still applies)
      val langOk =
        if (langs.isEmpty) lit(true) else col("lang_pred").isin(langs: _*)
      work.write(work.read("delta_documents")
        .withColumn("quality", TextFunctions.qualityScore(col("text")))
        .withColumn("lang_pred", TextFunctions.langId(col("text")))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .filter(col("quality") >= minQuality && langOk),
        "delta_clean")
    }

    plan.step("tick_publish") {
      val clean = work.read("delta_clean")
      val indexes = WorkspaceIndex.all(numHashes, bands, shingleLen, maxBucketSize,
        minhashThreshold, containmentThresholdFp)
        .filter(ix => containment || ix.name != "chunk")
      // each persisted index is READ ONCE per tick (r20): a work.read
      // costs a file-listing/schema pass once a table has accumulated
      // per-tick appended files, and the probe and heal legs used to
      // re-read each index 2-3x per tick. The map is mutable only for
      // the one-time _gen migration below, which rewrites a
      // pre-generation table and must refresh its view.
      val views = scala.collection.mutable.Map[String, DataFrame]()
      indexes.filter(ix => work.tables.contains(ix.table))
        .foreach(ix => views(ix.table) = work.read(ix.table))
      // the gates run in list order, each over the previous survivors;
      // an absent index degrades to within-delta dedup. Each gate's
      // survivors are materialized once: a lazy gate output fed to the
      // next gate would be planned, and computed, once per branch that
      // reads it (the mh gate's probe, pairing and anti-join). The last
      // checkpoint also severs lineage before every write below.
      val kept = indexes.foldLeft(clean)((d, ix) =>
        ix.probe(d, views.get(ix.table)).localCheckpoint(true))
      work.write(kept, "delta_release")

      // ---- durable release append, rows stamped with this tick's
      // GENERATION (VERDICT r18 #3). One-time migration first: a
      // pre-generation workdir stamps every existing row generation 0
      // (release and each index pay one full rewrite, once); its
      // watermarks are then established by the legacy id-presence heal
      // below, and every later tick prunes by generation.
      def migrate(t: String, cur: DataFrame): Option[DataFrame] =
        if (cur.columns.contains("_gen")) None
        else {
          work.write(cur.withColumn("_gen", lit(0L)), t)
          Some(work.read(t)) // the rewrite invalidated the view
        }
      if (work.tables.contains("release_current"))
        migrate("release_current", work.read("release_current"))
      for (ix <- indexes; cur <- views.get(ix.table); fresh <- migrate(ix.table, cur))
        views(ix.table) = fresh
      val st0 = GenState.read(work)
      val relGen0 = st0.getOrElse("release",
        if (work.tables.contains("release_current")) 0L else -1L)
      val g = relGen0 + 1L
      var relGen = relGen0
      // the sink append is idempotent by doc_id, and runs BEFORE any
      // index learns the batch: a crash in any later window replays to
      // zero novel rows, never a duplicate; a crash before this line
      // replays the identical delta. The generation is DECLARED in
      // `tick_state` BEFORE its rows land — a crash between the two
      // leaves an empty declared generation (harmless: its suspect
      // window prunes to nothing), while the reverse order would
      // strand freshly-stamped rows above every watermark forever.
      // the materialized frame holding exactly this tick's new release
      // rows (when any) — reused below as the steady-state suspect
      // window so the index heals never re-scan the release files (r20)
      var newRows: Option[DataFrame] = None
      var createdThisTick = false
      if (work.tables.contains("release_current")) {
        val novel = kept.join(work.read("release_current").select("doc_id"),
          Seq("doc_id"), "left_anti").withColumn("_gen", lit(g))
          .localCheckpoint(true)
        if (novel.head(1).nonEmpty) {
          relGen = g
          newRows = Some(novel)
          GenState.write(spark, work, st0 + ("release" -> g))
          work.write(novel, "release_current", org.apache.spark.sql.SaveMode.Append)
        }
      } else {
        relGen = g
        val first = kept.withColumn("_gen", lit(g))
        newRows = Some(first)
        createdThisTick = true
        GenState.write(spark, work, st0 + ("release" -> g))
        work.write(first, "release_current")
      }

      // ---- index appends: gen-watermarked, self-healing, O(delta).
      // Each index's watermark (`wm_<index>` in tick_state) is the
      // highest release generation it has FULLY absorbed; the rows it
      // still needs are exactly `release._gen > wm` — a parquet scan
      // whose pushed-down generation predicate prunes every settled
      // file by footer stats, so the steady-state tick reads only the
      // delta it just appended and NEVER re-scans the corpus id set or
      // distinct-shuffles the index ids (the r18 verdict's cost
      // finding). A watermark at the current release generation skips
      // the index's whole heal leg driver-side — zero scans. Without a
      // watermark (first enable, recovery, pre-gen upgrade) the legacy
      // id-presence heal runs once to establish it.
      //
      // Idempotency is ROW-granular inside the suspect window: the
      // recomputed index rows anti-join the index rows of suspect
      // generations on their natural key, so a crash that moved only
      // SOME of an append's part-files (FileTableOps.appendFiles moves files one
      // at a time — the ADVICE r18 half-indexed-doc tail) is topped up
      // band-by-band/chunk-by-chunk on replay, not skipped by bare id
      // presence. Both sides of that anti-join are generation-pruned —
      // suspect windows are delta-sized.
      // release view for the heal legs: when this tick CREATED the
      // table, the in-memory frame (a projection over the checkpointed
      // survivors) IS the table's content — re-reading the files just
      // written would only add scans (r20)
      // lazy: the steady-state fast path (genCand → newRows) never
      // touches the release files, so don't pay their listing either
      lazy val rel = if (createdThisTick) newRows.get else work.read("release_current")
      // fused suspect-window scan (VERDICT r19 #1): in steady state
      // every index watermark sits at the previous generation, so the
      // heal legs share ONE materialized delta — exactly the rows this
      // step just appended — instead of one gen-pruned release scan
      // plus a checkpoint per leg. A replay with diverged watermarks
      // falls back to one checkpointed scan per DISTINCT watermark.
      // Equivalence: rows with `_gen > relGen0` are exactly generation
      // g's rows (no row can carry a generation above the declared
      // release generation, and g = relGen0 + 1), i.e. the
      // `novel`/first-write frame.
      val candByWm = scala.collection.mutable.HashMap[Long, DataFrame]()
      def genCand(w: Long): DataFrame = candByWm.getOrElseUpdate(w,
        if (w == relGen0 && relGen == g && newRows.isDefined) newRows.get
        else rel.filter(col("_gen") > w).localCheckpoint(true))
      // legacy heal: released docs whose id the presence table lacks —
      // also the first-enable BACKFILL of an index that has no table
      // yet (turning containment on indexes every released doc once, a
      // one-time O(release-text) pass)
      def unindexed(ix: WorkspaceIndex): DataFrame = {
        val (t, idCol) = ix.presence
        val ids = views.get(t).fold(clean.select(col("doc_id")).limit(0))(
          _.select(col(idCol).as("doc_id")).distinct())
        val missing = rel.select(col("doc_id")).join(ids, Seq("doc_id"), "left_anti")
        rel.join(missing, Seq("doc_id"), "left_semi").localCheckpoint(true)
      }
      // appends run in list order (fp BEFORE mh — the fp entry's
      // presence contract), each index's rows landing durably before
      // the next index's leg starts
      for (ix <- indexes) {
        val view = views.get(ix.table)
        val wm = view.flatMap(_ => st0.get(ix.watermark))
        if (!wm.exists(_ >= relGen)) {
          val fresh = ix.rows(wm.fold(unindexed(ix))(genCand))
          val keyCols = ix.key.map(col)
          val append = ((wm, view) match {
            case (Some(w), Some(v)) => fresh.join(
              v.filter(col("_gen") > w).select(keyCols: _*), ix.key, "left_anti")
            // legacy candidates keyed on the index's OWN ids are absent
            // from it already; borrowed presence needs the full anti-join
            case (None, Some(v)) if ix.presence._1 != ix.table =>
              fresh.join(v.select(keyCols: _*), ix.key, "left_anti")
            case _ => fresh
          }).localCheckpoint(true)
          if (view.isDefined)
            work.write(append, ix.table, org.apache.spark.sql.SaveMode.Append)
          else work.write(append, ix.table)
        }
      }
      // watermarks advance LAST, and only to the generation whose index
      // rows are durably down: a crash anywhere above leaves them
      // stale, and the replay's suspect-window anti-joins converge to
      // the same index with no duplicates and no lost rows. An index
      // off the list (chunk with containment off) keeps its watermark,
      // so turning the gate back on replays only the missed generations.
      val wmUpdates = indexes.map(_.watermark -> relGen).toMap
      // state tracked in-process: st0 plus the release declaration this
      // step may have written above — re-reading the tiny table here
      // cost one more collect job per tick for the same map (r19)
      val stNow = if (relGen == g) st0 + ("release" -> g) else st0
      GenState.write(spark, work, stNow ++ wmUpdates)
    }

    plan.step("tick_promote") {
      if (work.tables.contains("cdx_current")) {
        if (work.tables.contains("cdx_previous")) work.drop("cdx_previous")
        work.rename("cdx_current", "cdx_previous")
      }
      work.rename("cdx_candidate", "cdx_current")
    }
    plan
  }

  /** The TAKEDOWN / retraction tick (VERDICT r17 #3) — the removal path
    * [[crawlTick]]'s grow-only release needs before it is a real corpus
    * operation: a robots opt-out discovered post-release, a DMCA
    * notice, or a PII escalation must remove documents from
    * `release_current` AND retire their entries from every persisted
    * dedup index — otherwise a legitimately re-ingestable near-twin of
    * a removed doc is silently dropped forever by a fingerprint that
    * should have been forgotten. `removals` names the docs by `idCol`
    * (build it from a doc list, or from a policy audit like the
    * [[graft.operators.Robots.urlGate]] robots-revocation composition —
    * released urls today's robots refuse).
    *
    * Steps over the SAME `workDir` a [[crawlTick]] maintains:
    *
    *   `take_stage`   — persist `takedown_pending`: the matched release
    *                    rows' `(doc_id, fp)` — captured while the text
    *                    still exists, UNIONED into any pending rows a
    *                    previous crashed takedown left (never
    *                    overwritten with fewer) →
    *   `take_release` — drop the pending docs from `release_current`
    *                    (the durable forget) →
    *   `take_indexes` — only now may the indexes forget: every
    *                    [[WorkspaceIndex]] present anti-joins the
    *                    staged rows on its `retireBy` column (`fp_index`
    *                    the staged fingerprints, `mh_index` /
    *                    `chunk_index` the staged ids) →
    *   `take_clear`   — drop `takedown_pending`.
    *
    * CRASH ORDERING — the MIRROR of the ingest tick's sink-before-index
    * contract: indexes forget only AFTER the release drop is durable,
    * so no crash window can leave an index blocking a doc the release
    * no longer holds the original of... in the WRONG direction (an
    * index that forgot early while the doc still sat in the release
    * would let the next tick ingest a duplicate). Replay converges from
    * every window: the staged `(doc_id, fp)` rows survive the release
    * drop (a replayed `take_stage` finds no matching release rows and
    * UNIONS nothing away), each index anti-join is idempotent, and the
    * pending table clears last. `fp_index` retirement is sound because
    * the release is exact-deduped — exactly one released doc per
    * fingerprint, so a retired fp never belonged to a survivor.
    *
    * Scale shape: the pending set is takedown-sized and broadcasts, so
    * every retirement is a scan → anti-filter → rewrite of the touched
    * table with NO shuffle; physical erasure from immutable files costs
    * the rewrite IO by nature (that is what erasure means) — batch
    * takedowns to amortize it, or keep the release on a partitioned
    * layout ([[graft.sources.PartitionedParquetConnector]]) so only
    * touched partitions rewrite. Every write is tmp+atomic-swap, so the
    * table the anti-join reads is intact until the swap. */
  def takedownTick(plan: Plan, workDir: String, removals: DataFrame,
                   idCol: String = "doc_id"): Plan =
    takedownTick(plan, workDir, () => removals, idCol)

  /** Deferred-removals form: `removals` is evaluated only when
    * `take_stage` RUNS, so an earlier step of the same plan may produce
    * it (the [[revocationTick]] composition writes its audit table one
    * step before). */
  def takedownTick(plan: Plan, workDir: String, removals: () => DataFrame,
                   idCol: String): Plan = {
    val work = new ParquetConnector(plan.spark, workDir)

    plan.step("take_stage") {
      if (work.tables.contains("release_current")) {
        // loud removal-key guard (ADVICE r18): a silent cast("long")
        // turned a malformed removal id into null, which matches no
        // release row — the takedown (a DMCA/PII compliance action)
        // no-ops and the plan reports success. The longKeyed-style
        // try_cast + named assert_true makes a bad feed fail the step.
        val rm = removals()
          .select(expr(s"try_cast(`$idCol` AS BIGINT)").as("doc_id"))
          .filter(assert_true(col("doc_id").isNotNull,
            lit(s"takedownTick: non-numeric or null $idCol in the removals " +
              "feed — a malformed takedown list must fail loudly, not " +
              "silently remove nothing")).isNull)
          .distinct()
        val matched = WorkspaceIndex.keyed(work.read("release_current")
            .join(rm, Seq("doc_id"), "left_semi"))
          .select(col("doc_id"), col("fp"))
        val pending =
          (if (work.tables.contains("takedown_pending"))
             matched.unionByName(work.read("takedown_pending"))
           else matched)
            .dropDuplicates("doc_id")
            .localCheckpoint(true) // reads takedown_pending, then rewrites it
        work.write(pending, "takedown_pending")
      }
    }

    plan.step("take_release") {
      if (work.tables.contains("takedown_pending") &&
          work.tables.contains("release_current")) {
        val gone = work.read("takedown_pending").select(col("doc_id"))
        // no checkpoint on the corpus: the write lands in a tmp dir and
        // atomically swaps, so the anti-join's source files are intact
        // for the whole job — materializing 100 TB first would be the
        // real hazard
        work.write(work.read("release_current")
          .join(gone, Seq("doc_id"), "left_anti"), "release_current")
      }
    }

    plan.step("take_indexes") {
      if (work.tables.contains("takedown_pending")) {
        val pending = work.read("takedown_pending").localCheckpoint(true)
        for (ix <- WorkspaceIndex.all() if work.tables.contains(ix.table)) {
          val (from, to) = ix.retireBy
          work.write(work.read(ix.table)
            .join(pending.select(col(from).as(to)), Seq(to), "left_anti"), ix.table)
        }
      }
    }

    plan.step("take_clear") { work.drop("takedown_pending") }
    plan
  }

  /** The index/release MAINTENANCE tick (VERDICT r18 #1) — the third
    * lifecycle leg after ingest ([[crawlTick]]) and retraction
    * ([[takedownTick]]): every ingest tick APPENDS a file set to
    * `release_current` and each persisted index (after ~500 weekly
    * ticks the "O(delta)" reads pay a 500-generation file-listing
    * tax), and the mh index's per-batch bucket caps can strand a doc
    * whose every band bucket was hot when it arrived — zero index
    * rows, invisible to every later near-dup probe. Run this on a
    * maintenance cadence (weekly/monthly against daily ingest ticks):
    *
    *   `maint_rebuild_mh` — rebuild `mh_index` from `release_current`
    *                        ([[graft.operators.Dedup.minhashIndex]] —
    *                        the periodic rebuild that index's own
    *                        contract promises; MUST use the ingest
    *                        ticks' numHashes/bands/shingleLen): re-caps
    *                        degenerate buckets against TODAY'S corpus —
    *                        a doc whose hot bucket-mates have since
    *                        been taken down becomes probeable again —
    *                        and, being a full rebuild, also clears any
    *                        pre-watermark half-indexed tail. The
    *                        rebuilt rows are stamped at the current
    *                        release generation and `wm_mh` set to it
    *                        (empty suspect window).
    *   `maint_compact`    — [[graft.operators.Layout.compactSmallFiles]]
    *                        over `release_current`, every
    *                        [[WorkspaceIndex]],
    *                        and the `revocations` audit:
    *                        ⌈bytes / targetFileBytes⌉ files replace the
    *                        per-tick fragments. Shuffle-free (the scan
    *                        groups small files into splits, `coalesce`
    *                        narrows) with an atomic swap per table.
    *                        Reference analog: the retention role of the
    *                        mysqldump sink's prune step
    *                        ([[graft.operators.Archive]], `archive.rb`).
    *
    * Probe-equivalence contract (journey-spec-pinned): compaction never
    * changes a row; the mh rebuild changes exactly the capped tail —
    * same params ⇒ identical rows wherever no bucket crossed the cap.
    * Post-compaction the `_gen` file clustering coarsens, which is
    * safe: watermarks equal the release generation after any completed
    * tick, so later suspect scans prune to post-maintenance appends.
    * Cost is O(release + index bytes) IO by design — that is what
    * compaction means — scheduled, not per-ingest-tick. */
  def maintenanceTick(plan: Plan, workDir: String,
                      numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
                      maxBucketSize: Int = 2000,
                      targetFileBytes: Long = 128L << 20,
                      rebuildMinhash: Boolean = true): Plan = {
    val work = new ParquetConnector(plan.spark, workDir)

    plan.step("maint_rebuild_mh") {
      if (rebuildMinhash && work.tables.contains("release_current")) {
        val rel = work.read("release_current")
        val st = GenState.read(work)
        val relGen = st.getOrElse("release", 0L)
        // r20 (VERDICT r19 #4): the rebuild is INCREMENTAL — only docs
        // the index does not fully cover re-shingle (O(strand), not
        // O(corpus text)), and a settled index (one that row-equals its
        // rebuild, cap-stranded docs included) skips the rewrite outright.
        // Dedup.minhashIndexIncremental proves row-equivalence to the
        // full rebuild; the _gen stamp coarsens identically (the full
        // rebuild stamped every row at relGen too), and wm_mh advances
        // either way — the suspect window stays empty.
        val rebuilt =
          if (!work.tables.contains("mh_index"))
            Some(Dedup.minhashIndex(rel, "text", "doc_id",
              numHashes, bands, shingleLen, maxBucketSize))
          else Dedup.minhashIndexIncremental(rel, "text", "doc_id",
            work.read("mh_index"), numHashes, bands, shingleLen, maxBucketSize)
        rebuilt match {
          case Some(r) => work.write(r.withColumn("_gen", lit(relGen)), "mh_index")
          case None => plan.logger.info(
            "maintenance: mh_index already equals its rebuild — rewrite skipped")
        }
        GenState.write(plan.spark, work, st + ("wm_mh" -> relGen))
      }
    }

    plan.step("maint_compact") {
      (("release_current" +: WorkspaceIndex.all().map(_.table)) :+ "revocations")
        // data-file presence is a DRIVER-side listing (r20): the old
        // `count(t) > 0` guard cost one Spark job per table per tick and
        // only existed to keep compactSmallFiles from throwing on a
        // zero-data-file dir (an empty-frame write leaves none)
        .filter(t => graft.sources.FileTableOps.dataFiles(work.tablePath(t), ".parquet").nonEmpty)
        .foreach { t =>
          val (before, after) = graft.operators.Layout.compactSmallFiles(
            plan.spark, work.tablePath(t).toString, targetFileBytes)
          plan.logger.info(s"maintenance: $t compacted $before -> $after files")
        }
    }
    plan
  }

  /** Domain-level takedown (VERDICT r18 #2) — the most common legal
    * notice shape: remove every released capture whose URL lives under
    * one of `domains` (one registered domain or host per row of
    * `domainCol`). A notice domain matches a release row when the
    * row's CANONICAL host ([[graft.operators.Robots.canonicalUrl]] —
    * so case/port/escape alias spellings of a noticed domain's pages
    * are removed too) equals the domain or is a dot-subdomain of it;
    * naming a registered domain therefore covers every host under it,
    * and naming one host covers exactly that subtree.
    *
    * Overbroad notices fail LOUDLY
    * ([[graft.functions.PublicSuffix.registeredDomain]] resolves the
    * notice itself): a "domain" that is a bare public suffix
    * (`co.uk`, `com`) would suffix-match half the release — a
    * notice-sized eager guard refuses it by name, before any step
    * mutates state, instead of quietly mass-deleting.
    *
    * Scale shape: the release pays one codegen'd canonicalize+extract
    * scan; each host explodes into its ≤ label-count dot-suffixes and
    * EQUI-semi-joins the broadcast notice list (no nested-loop
    * suffix matching), and the matched ids feed [[takedownTick]]'s
    * four mirrored-crash-contract steps unchanged. */
  def takedownByDomain(plan: Plan, workDir: String, domains: DataFrame,
                       domainCol: String = "domain",
                       urlCol: String = "url"): Plan = {
    val work = new ParquetConnector(plan.spark, workDir)
    takedownTick(plan, workDir, () => {
      import graft.operators.Robots
      val dom = domains
        .select(lower(trim(col(domainCol))).as("_dom")).distinct()
      // the guard is EAGER, on the notice list alone — not an in-plan
      // assert_true: through the `_suffix === _dom` equi-join, constraint
      // propagation would re-infer an in-plan predicate onto the RELEASE
      // side's suffixes (every host's `.com` tail would trip it). The
      // list is notice-sized by nature, so the validation action is a
      // bounded driver check, and it fails BEFORE any step mutates state.
      val bad = dom.filter(col("_dom").isNull || col("_dom") === "" ||
          graft.functions.PublicSuffix.registeredDomain(col("_dom")) === "")
        .limit(5).collect()
        .map(r => Option(r.getString(0)).map("'" + _ + "'").getOrElse("null"))
      require(bad.isEmpty,
        s"takedownByDomain: ${bad.mkString(", ")} — empty or bare public " +
          "suffix notice; refusing an overbroad takedown")
      work.read("release_current")
        .withColumn("_canon", Robots.canonicalUrlCol(col(urlCol)))
        .withColumn("_host",
          regexp_extract(col("_canon"), "^[a-z0-9+.\\-]+://(?:[^/@]*@)?([^/:]+)", 1))
        .withColumn("_n", explode(sequence(lit(1), size(split(col("_host"), "\\.")))))
        .withColumn("_suffix", expr("substring_index(_host, '.', -_n)"))
        .join(dom.hint("broadcast"), col("_suffix") === col("_dom"), "left_semi")
        .select(col("doc_id"))
    }, "doc_id")
  }

  /** URL-PREFIX takedown — the finer notice shape ("everything under
    * `https://site.com/user/123/`"): both the notice prefixes and the
    * released URLs canonicalize first, so alias spellings on either
    * side meet. String-prefix semantics on the canonical form: end a
    * prefix with `/` to name a path subtree (a bare `/user` prefix
    * also matches `/username` — standard prefix-notice caveat), and
    * keep prefixes query-free (the canonical form sorts query
    * parameters). Non-absolute prefixes fail loudly. The prefix list
    * is notice-sized and broadcasts; the release pays one canonicalize
    * scan and a broadcast prefix semi-join. */
  def takedownByUrlPrefix(plan: Plan, workDir: String, prefixes: DataFrame,
                          prefixCol: String = "url_prefix",
                          urlCol: String = "url"): Plan = {
    val work = new ParquetConnector(plan.spark, workDir)
    takedownTick(plan, workDir, () => {
      import graft.operators.Robots
      val pre = prefixes
        .select(Robots.canonicalUrlCol(trim(col(prefixCol))).as("_pre")).distinct()
      // eager notice-sized guard (see takedownByDomain on why not an
      // in-plan assert)
      val bad = pre.filter(col("_pre").isNull ||
          !col("_pre").rlike("^[a-z0-9+.\\-]+://"))
        .limit(5).collect()
        .map(r => Option(r.getString(0)).map("'" + _ + "'").getOrElse("null"))
      require(bad.isEmpty,
        s"takedownByUrlPrefix: ${bad.mkString(", ")} — not absolute URL " +
          "prefixes; refusing the notice")
      work.read("release_current")
        .withColumn("_canon", Robots.canonicalUrlCol(col(urlCol)))
        .join(pre.hint("broadcast"), col("_canon").startsWith(col("_pre")),
          "left_semi")
        .select(col("doc_id"))
    }, "doc_id")
  }

  /** The robots-REVOCATION sweep — the compliance composition the
    * takedown tick exists for: audit every RELEASED capture against
    * TODAY'S robots ([[graft.operators.Robots.urlGate]] — a site that
    * added a `Disallow` after we crawled has revoked consent), persist
    * the refusals as the cumulative `revocations` audit table
    * (`doc_id, url, rule` — which rule refused what, the compliance
    * report), and feed them straight into [[takedownTick]]'s four
    * mirrored-crash-contract steps.
    *
    * `robots` carries one current robots.txt per host, keyed by
    * `xxhash64(host)` — the same derivation this tick applies to
    * `release_current`'s `urlCol`: the URL canonicalizes
    * ([[graft.operators.Robots.canonicalUrl]] — so `:80` / case /
    * dot-segment spellings meet their robots host), splits into host
    * and path+query, and the host hashes to the join key.
    *
    * Replay-safe like its parts: `revoke_audit` UNIONS into
    * `revocations` (a replay after the release drop finds no matching
    * rows and unions nothing away; cross-sweep rows accumulate — it is
    * an audit LOG, deduped per doc deterministically), and the takedown
    * steps carry their own staged-pending contract. Scale shape: one
    * release scan (canonicalize + split are codegen'd row-local), the
    * rules equi-join fan-out bounded per host by the RFC cap, then the
    * takedown's broadcast-anti rewrites. */
  def revocationTick(plan: Plan, workDir: String, robots: DataFrame,
                     keyCol: String, txtCol: String, userAgent: String,
                     urlCol: String = "url"): Plan = {
    val work = new ParquetConnector(plan.spark, workDir)
    import graft.operators.Robots

    plan.step("revoke_audit") {
      if (work.tables.contains("release_current")) {
        val rel = work.read("release_current")
          .withColumn("_canon", Robots.canonicalUrlCol(col(urlCol)))
          .withColumn("_hkey",
            xxhash64(regexp_extract(col("_canon"), "^[a-z0-9+.\\-]+://([^/]+)", 1)))
          .withColumn("_path",
            regexp_replace(col("_canon"), "^[a-z0-9+.\\-]+://[^/]+", ""))
        val rb = robots.select(col(keyCol).as("_hkey"), col(txtCol))
        val refused = Robots.urlGate(rb, "_hkey", txtCol,
            rel.select(col("_hkey"), col("_path")), "_hkey", "_path", userAgent)
          .filter(!col("allowed"))
          .select(col("_hkey"), col("_path"), col("rule"))
        val fresh = rel.join(refused, Seq("_hkey", "_path"))
          .select(col("doc_id"), col(urlCol).as("url"), col("rule"))
        val audit =
          (if (work.tables.contains("revocations"))
             fresh.unionByName(work.read("revocations"))
           else fresh)
            // deterministic cumulative dedup per doc (min is arbitrary
            // but stable when one doc is refused under changing rules).
            // ONE atomic min(struct) — not independent min(url)/min(rule)
            // (ADVICE r18): the kept (url, rule) pair must come from one
            // OBSERVED refusal row, never a chimera pairing a url with a
            // rule that refused a different spelling in another sweep.
            .groupBy(col("doc_id"))
            .agg(min(struct(col("url"), col("rule"))).as("_best"))
            .select(col("doc_id"), col("_best.url").as("url"),
              col("_best.rule").as("rule"))
            .localCheckpoint(true) // reads revocations, then rewrites it
        work.write(audit, "revocations")
      }
    }
    takedownTick(plan, workDir,
      () => if (work.tables.contains("revocations")) work.read("revocations")
            else work.read("release_current").select(col("doc_id")).limit(0),
      "doc_id")
  }

  /** The tiny per-workdir generation table the incremental ticks
    * maintain (`tick_state`, a handful of rows, atomically
    * overwritten): `release` = the highest release-append generation
    * DECLARED (declared before its rows land, so no crash can strand
    * stamped rows above it), and `wm_<index>` = the highest generation
    * that index has FULLY absorbed. The gap `(wm, release]` is an
    * index's suspect window — in steady state exactly the current
    * tick's delta, after a crash also the stranded generations a
    * replayed survivor set would otherwise lose; either way the heal
    * scans prune to it by the pushed-down `_gen` predicate
    * (VERDICT r18 #3: the heal no longer re-scans the corpus id set or
    * distinct-shuffles the index ids every tick). */
  private[pipelines] object GenState {
    val Table = "tick_state"

    // r20 (VERDICT r19 #1 — tick_publish job count): tick_state is a
    // handful of rows, yet reading it cost one collect JOB and each
    // write another — ~3 fixed-cost Spark jobs per tick at local-mode
    // job rates. Both now run DRIVER-SIDE over the same parquet dir
    // (parquet-hadoop's example Group API, same jars Spark ships), with
    // the identical on-disk contract: a directory table named
    // `tick_state.parquet`, schema (optional binary name (UTF8),
    // required int64 gen) — byte-compatible with what
    // `toDF("name","gen").write.parquet` produced, so Spark readers
    // (journey specs read and even rewrite the table through the
    // connector to simulate crashes) and this reader interoperate in
    // both directions. Writes keep the connector's tmp + atomic-swap
    // publish. At 100 TB this table is a metastore pointer; the seam is
    // unchanged.
    private val Schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message spark_schema { optional binary name (UTF8); required int64 gen; }")

    def read(work: ParquetConnector): Map[String, Long] =
      if (!work.tables.contains(Table)) Map.empty
      else {
        val conf = work.spark.sessionState.newHadoopConf()
        val out = Map.newBuilder[String, Long]
        graft.sources.FileTableOps.dataFiles(work.tablePath(Table), ".parquet").foreach { f =>
          val reader = org.apache.parquet.hadoop.ParquetReader.builder(
            new org.apache.parquet.hadoop.example.GroupReadSupport(),
            new org.apache.hadoop.fs.Path(f.toString)).withConf(conf).build()
          try {
            var g = reader.read()
            while (g != null) {
              if (g.getFieldRepetitionCount("name") > 0)
                out += g.getString("name", 0) -> g.getLong("gen", 0)
              g = reader.read()
            }
          } finally reader.close()
        }
        out.result()
      }

    def write(spark: org.apache.spark.sql.SparkSession, work: ParquetConnector,
              state: Map[String, Long]): Unit = {
      val conf = spark.sessionState.newHadoopConf()
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(Schema, conf)
      graft.sources.FileTableOps.publish(work.tablePath(Table)) { tmp =>
        java.nio.file.Files.createDirectories(tmp)
        val file = tmp.resolve("part-00000-genstate.parquet")
        val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
          .builder(new org.apache.hadoop.fs.Path(file.toString))
          .withConf(conf).withType(Schema)
          .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
          .build()
        try state.toSeq.sortBy(_._1).foreach { case (name, gen) =>
          val g = new org.apache.parquet.example.data.simple.SimpleGroup(Schema)
          g.add("name", name)
          g.add("gen", gen)
          writer.write(g)
        } finally writer.close()
      }
    }
  }

  /** Stage counts (cheap: parquet count() uses footer row counts).
    * Stages that have not run yet report 0 for their counts. */
  def funnel(plan: Plan, srcDir: String, workDir: String,
             useFinal: Option[Boolean] = None): Funnel = {
    val src = new ParquetConnector(plan.spark, srcDir)
    val work = new ParquetConnector(plan.spark, workDir)
    def countIf(t: String): Long = if (work.tables.contains(t)) work.count(t) else 0L
    val near = work.count("docs_unique")
    Funnel(
      ingested = src.count("documents"),
      profiled = work.count("doc_profile"),
      kept = work.count("docs_clean"),
      scrubbed = work.count("docs_scrubbed"),
      exactUnique = work.count("docs_exact_unique"),
      nearUnique = near,
      finalKept =
        if (useFinal.getOrElse(work.tables.contains("docs_final")))
          work.count("docs_final")
        else near,
      mixed = countIf("docs_mixed"),
      packedChunks = countIf("docs_packed"),
      lmKept = countIf("docs_lm"),
      dsirKept = countIf("docs_selected"))
  }
}
