package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Bpe, Curation, Dedup, Dsir, LanguageModel, LinkGraph, Multimodal, Patterns, Similarity, TemporalJoin, TextClassifier, Validate}
import graft.sources.{ParquetConnector, SchemaInfer, UpsertWriter}

/** Driver contract: the declared operator surface (SURVEY.md §2), one
  * query per operator, each with a DuckDB-equivalent oracle where the
  * semantics are SQL-expressible.
  *
  * Oracle-parity rules used throughout (see Verify):
  *  - every computed column aliased identically in Spark and SQL;
  *  - money arithmetic done in DECIMAL (exact), cast to DOUBLE at the end
  *    so both engines produce bit-identical doubles regardless of
  *    summation order;
  *  - deterministic ORDER BY on a unique key in every query.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    ParquetConnector.readTable(s, s"$dir/$name.parquet")

  /** A crawl workspace seeded the way a pre-generation release looked:
    * `docs` as `release_current` plus every
    * [[pipelines.WorkspaceIndex]] built from it (MinHash buckets capped
    * at `maxBucketSize`), in a fresh `prefix`-named temp dir. */
  private def seedWorkspace(s: SparkSession, prefix: String, docs: DataFrame,
                            maxBucketSize: Int = 2000): (String, ParquetConnector) = {
    val work = java.nio.file.Files.createTempDirectory(prefix).toString
    val conn = new ParquetConnector(s, work)
    conn.write(docs, "release_current")
    pipelines.WorkspaceIndex.all(maxBucketSize = maxBucketSize)
      .foreach(ix => conn.write(ix.rows(docs), ix.table))
    (work, conn)
  }

  /** The `lead` columns of `docs` (doc_id, text, …) followed by each
    * doc's membership after a workspace tick — `in_release`, then
    * `in_<name>` per workspace index, matched on the key a takedown
    * retires it by — ordered by doc_id. */
  private def workspaceMembership(conn: ParquetConnector, docs: DataFrame,
                                  lead: Column*): DataFrame = {
    val members = ("in_release" -> conn.read("release_current").select(col("doc_id"))) +:
      pipelines.WorkspaceIndex.all().map { ix =>
        val (by, idxCol) = ix.retireBy
        s"in_${ix.name}" -> conn.read(ix.table).select(col(idxCol).as(by))
      }
    members.foldLeft(pipelines.WorkspaceIndex.keyed(docs)) { case (d, (flag, m)) =>
      d.join(m.distinct().withColumn(flag, lit(true)), m.columns.toSeq, "left")
    }.select(lead ++ members.map { case (f, _) => coalesce(col(f), lit(false)).as(f) }: _*)
      .orderBy(col("doc_id"))
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_nation_revenue")(spark, "/root/testdata/sf0.001")

  // Shared SQL fragments (valid in both Spark SQL and DuckDB):
  private val Disc = "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))"
  private val Chrg = "(CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))"
  private val Price = "CAST(l_extendedprice AS DECIMAL(12,2))"
  private val Qty = "CAST(l_quantity AS DECIMAL(12,2))"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- scans / incremental reads (S2, S6) ----
    "q_scan_project" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q_read_since" -> ((s, dir) => {
      // read_since parity: matcher >= since, ordered by matcher (mysql.rb:149-158)
      T(s, dir, "events")
        .filter(expr("ts >= TIMESTAMP '2024-01-25 00:00:00'"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("ts"), col("event_id"))
    }),

    "q_limit_offset" -> ((s, dir) => {
      // LIMIT offset,n pagination (mysql.rb:32-52) as a deterministic page
      T(s, dir, "orders")
        .orderBy(col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .offset(50).limit(100)
    }),

    // ---- engine-issued aggregates (A1, A2) ----
    "q_count" -> ((s, dir) =>
      T(s, dir, "lineitem").agg(count(lit(1)).as("cnt"))),

    "q_max_watermark" -> ((s, dir) =>
      T(s, dir, "events").agg(
        max(col("ts")).as("max_ts"),
        count(lit(1)).as("cnt"))),

    // ---- aggregation (TPC-H Q1 shape) ----
    "q_agg_pricing" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(expr("l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr(s"CAST(SUM($Qty) AS DOUBLE)").as("sum_qty"),
          expr(s"CAST(SUM($Price) AS DOUBLE)").as("sum_base"),
          expr(s"CAST(SUM($Price * $Disc) AS DOUBLE)").as("sum_disc_price"),
          expr(s"CAST(SUM($Price * $Disc * $Chrg) AS DOUBLE)").as("sum_charge"),
          expr(s"CAST(SUM($Qty) AS DOUBLE) / COUNT(*)").as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // ---- joins (broadcast dims; Catalyst/AQE pick the big-side strategy) ----
    "q_join_nation_revenue" -> ((s, dir) => {
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders")
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"))
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          expr(s"CAST(SUM($Price * $Disc) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_salted_join" -> ((s, dir) => {
      // skew-salted shuffle join: lineitem (probe, orderkey-skewed at
      // scale) against an orders projection (build, replicated 8×).
      // The oracle is the PLAIN join — salting must be result-invariant.
      val li = T(s, dir, "lineitem")
      val o = T(s, dir, "orders").select(col("o_orderkey").as("l_orderkey"),
        col("o_orderpriority"))
      graft.operators.Skew.saltedJoin(li, o, Seq("l_orderkey"), buckets = 8)
        .groupBy(col("o_orderpriority"))
        .agg(expr(s"CAST(SUM($Price * $Disc) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_semi_join" -> ((s, dir) => {
      val recent = T(s, dir, "orders").filter(expr("o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'"))
      T(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    "q_anti_join" -> ((s, dir) => {
      val recent = T(s, dir, "orders").filter(expr("o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'"))
      T(s, dir, "customer")
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    }),

    // ---- window / ranking / top-k ----
    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T(s, dir, "orders")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
        .orderBy(col("o_custkey"), col("rk"))
    }),

    "q_running_sum" -> ((s, dir) => {
      // l_quantity is the FINAL tiebreaker: (orderkey, linenumber) is
      // not unique in the synthetic lineitem and full (shipdate,
      // orderkey, linenumber) ties exist at sf0.1 — without it the
      // running sum's intermediate values are legally order-dependent
      // and engines (or two runs of one engine) can disagree. With it,
      // remaining ties are identical rows, whose order cannot change
      // any prefix sum.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "lineitem")
        .withColumn("running_qty", sum(col("l_quantity")).over(w))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"))
    }),

    "q_first_touch" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("event_id").as("first_event_id"),
          col("event_type").as("first_event_type"), col("ts").as("first_ts"))
        .orderBy(col("user_id"))
    }),

    "q_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      T(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("brk",
          when(col("prev_ts").isNull, lit(0))
            .otherwise(expr("CASE WHEN ts - prev_ts > INTERVAL '30' MINUTE THEN 1 ELSE 0 END")))
        .withColumn("session_id",
          sum(col("brk")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("user_id"), col("event_id"), col("ts"), col("session_id"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),

    // ---- set operations ----
    "q_union" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(expr("year(o_orderdate) = 1996")).select(col("o_custkey"))
        .union(o.filter(expr("year(o_orderdate) = 1997")).select(col("o_custkey")))
        .distinct()
        .orderBy(col("o_custkey"))
    }),

    "q_intersect" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(expr("year(o_orderdate) = 1996")).select(col("o_custkey"))
        .intersect(o.filter(expr("year(o_orderdate) = 1997")).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    "q_except" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      o.filter(expr("year(o_orderdate) = 1996")).select(col("o_custkey"))
        .except(o.filter(expr("year(o_orderdate) = 1997")).select(col("o_custkey")))
        .orderBy(col("o_custkey"))
    }),

    // ---- grouping sets ----
    "q_rollup" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), expr(s"CAST(SUM($Qty) AS DOUBLE)").as("sum_qty"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy(col("rflag"), col("lstatus"))
    }),

    "q_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS (the rollup/cube generalization): two
      // independent one-dimension groupings in ONE Expand pass — SQL
      // parity both engines share verbatim
      T(s, dir, "lineitem").createOrReplaceTempView("lineitem_gs")
      s.sql(s"""SELECT coalesce(l_returnflag, 'ALL') AS rflag,
                |       coalesce(l_linestatus, 'ALL') AS lstatus,
                |       count(1) AS cnt, CAST(SUM($Qty) AS DOUBLE) AS sum_qty
                |FROM lineitem_gs
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
                |ORDER BY rflag, lstatus""".stripMargin)
    }),

    "q_cube" -> ((s, dir) => {
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE)").as("sum_price"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("cnt"), col("sum_price"))
        .orderBy(col("status"), col("priority"))
    }),

    "q_pivot" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr(s"CAST(SUM(CASE WHEN l_linestatus = 'O' THEN $Qty ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)").as("qty_open"),
          expr(s"CAST(SUM(CASE WHEN l_linestatus = 'F' THEN $Qty ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)").as("qty_finished"))
        .orderBy(col("l_returnflag"))
    }),

    // ---- upsert / incremental pipe (S3, P2 semantics as queries) ----
    "q_upsert" -> ((s, dir) => {
      val o = T(s, dir, "orders")
      val target = o.filter(col("o_orderkey") <= 10000)
      val updates = o.filter(col("o_orderkey") > 7500 && col("o_orderkey") <= 12500)
        .withColumn("o_totalprice",
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)"))
      UpsertWriter.mergeByKey(target, updates, "o_orderkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
    }),

    "q_incremental_pipe" -> ((s, dir) => {
      // Full P2 machinery against real connectors in a scratch workspace:
      // dst starts as a stale snapshot (ts < cutoff, value zeroed), src is
      // the live table; after the pipe dst must hold stale rows + fresh.
      val work = java.nio.file.Files.createTempDirectory("graft_pipe_").toString
      val src = new ParquetConnector(s, dir)
      val dst = new ParquetConnector(s, work)
      val stale = src.read("events")
        .filter(expr("ts < TIMESTAMP '2024-01-20 00:00:00'"))
        .withColumn("value", lit(0.0))
      dst.write(stale, "events")
      Patterns.incrementalPipe(src, "events", dst, "events", matcher = "ts", primaryKey = "event_id")
      dst.read("events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    "q_mix_sources" -> ((s, dir) => {
      // weighted language mix: en/de/fr at 2:1:1, bottleneck stratum sets
      // the total, deterministic first-k per stratum by doc_id
      Curation.mixSources(T(s, dir, "documents"), "lang",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25), orderCol = "doc_id")
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_quantize" -> ((s, dir) => {
      // int8 quantize → dequantize fidelity report; floor-based half-up
      // rounding keeps the arithmetic engine-identical
      val e = T(s, dir, "embeddings")
      val q = e.withColumn("_qs", VectorFunctions.quantize(col("embedding")))
      q.select(col("vec_id"),
          round(col("_qs.scale"), 6).as("scale"),
          round(VectorFunctions.cosine(col("embedding"),
            VectorFunctions.dequantize(col("_qs"))), 6).as("fidelity"))
        .orderBy(col("vec_id"))
    }),

    "q_vocab" -> ((s, dir) => {
      TextFunctions.vocabulary(T(s, dir, "documents"), "text", topK = 100)
    }),

    "q_vocab_sketch" -> ((s, dir) => {
      // SpaceSaving sketch in its EXACT regime (summary >> distinct
      // tokens → est = true count, err = 0), so DuckDB can hash-check
      // it; the approximate regime's bounds are property-tested in
      // HeavyHittersSpec. One aggregation, k counters per map task —
      // no distinct-token shuffle.
      TextFunctions.vocabularySketch(T(s, dir, "documents"), "text", topK = 10000)
        .orderBy(col("est").desc, col("token"))
    }),

    "q_perplexity" -> ((s, dir) => {
      // CCNet-style LM quality scoring: bigram LM trained on the 'en'
      // slice (the trusted-reference stand-in), every document scored by
      // mean bigram NLL. vocabSize 1000 < the corpus vocabulary, so the
      // UNK mass is genuinely exercised; the oracle re-derives vocab,
      // counts, and scores from scratch in DuckDB.
      val d = T(s, dir, "documents")
      val lm = LanguageModel.train(d.filter(col("lang") === "en"), "text", vocabSize = 1000)
      LanguageModel.scoreNll(d, "text", "doc_id", lm, addK = 0.5)
        .orderBy(col("doc_id"))
    }),

    "q_kn_trigram" -> ((s, dir) => {
      // the REAL CCNet gate shape: interpolated Kneser–Ney trigram LM
      // (fixed D = 3/4) trained on the 'en' slice, every document
      // scored by mean trigram NLL with full backoff and a
      // uniform-floor unigram (so all-UNK trigrams stay finite). The
      // oracle re-derives the vocabulary, all five count tables, and
      // the fixed-order probability arithmetic from scratch in DuckDB.
      val d = T(s, dir, "documents")
      val lm = LanguageModel.trainKn(d.filter(col("lang") === "en"), "text", vocabSize = 1000)
      LanguageModel.scoreKnNll(d, "text", "doc_id", lm)
        .orderBy(col("doc_id"))
    }),

    "q_minkprob" -> ((s, dir) => {
      // Min-K% Prob membership audit under the q_kn_trigram LM: the
      // mean NLL of each doc's WORST 20% trigrams next to its plain
      // mean — the Shi et al. 2023 membership-inference readout (seen
      // docs score their worst tokens anomalously well). Worst-k%
      // selection is a doc-bounded rank; tie rows beyond the cut are
      // sum-invariant, so the readout replays exactly.
      val d = T(s, dir, "documents")
      val lm = LanguageModel.trainKn(d.filter(col("lang") === "en"), "text", vocabSize = 1000)
      LanguageModel.minKProb(d, "text", "doc_id", lm, kNum = 1, kDen = 5)
        .orderBy(col("doc_id"))
    }),

    "q_quality_buckets" -> ((s, dir) => {
      // CCNet head/middle/tail thirds over the perplexity-scored corpus:
      // cutoffs are the exact ranked boundary (avg_nll, doc_id) pairs at
      // ⌈n/3⌉ and ⌈2n/3⌉ — tie-safe and engine-exact since the scores are
      // 4-decimal-rounded identically on both sides. Unscored docs
      // (n_bigrams = 0) keep a NULL bucket.
      val d = T(s, dir, "documents")
      val lm = LanguageModel.train(d.filter(col("lang") === "en"), "text", vocabSize = 1000)
      val scored = LanguageModel.scoreNll(d, "text", "doc_id", lm, addK = 0.5)
      LanguageModel.qualityBuckets(scored, "doc_id")
        .select(col("doc_id"), col("avg_nll"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    "q_ppl_mix" -> ((s, dir) => {
      // the CCNet eval-loop closer (Wenzek et al. 2020, the
      // lm_bucket_mix funnel stage): perplexity head/middle/tail thirds
      // over the LM-scored corpus, then the deterministic token-budget
      // mix keeps the buckets at binary-exact 0.5/0.375/0.125 — the
      // oracle replays LM training, scoring, both ranked boundaries,
      // and the bottleneck-budget prefix cut end to end
      val d = T(s, dir, "documents")
      val lm = LanguageModel.train(d.filter(col("lang") === "en"), "text", vocabSize = 1000)
      // the scored projection is read by the bucket boundaries, the
      // mix's driver budget pass, AND the final output — materialize
      // the narrow (id, nll) table once or the whole train+score chain
      // re-runs per reader (bench: 7.0 s -> one scoring pass)
      val scored = LanguageModel.scoreNll(d, "text", "doc_id", lm, addK = 0.5)
        .localCheckpoint(true)
      val bucketed = LanguageModel.qualityBuckets(scored, "doc_id")
        .filter(col("bucket").isNotNull)
        .join(d.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      operators.Curation.mixByWeight(bucketed, "bucket",
          Map("head" -> 0.5, "middle" -> 0.375, "tail" -> 0.125), "n_chars", "doc_id")
        .select(col("doc_id"), col("avg_nll"), col("bucket"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_weak_labels" -> ((s, dir) => {
      // weak supervision: three noisy labeling functions (length,
      // parity-with-abstain, language prior) combined by the
      // agreement-weighted label model — anchor majority, fixed-point
      // LF reliability weights, weighted argmax, all integer-exact
      val d = T(s, dir, "documents")
      def lf(id: Int, vote: Column) = d.select(col("doc_id"),
        lit(id).as("lf"), vote.cast("long").as("vote"))
      val votes = lf(1, when(col("n_chars") >= 300, 1L).otherwise(0L))
        .unionAll(lf(2, when(col("n_chars") % 7 < 3, lit(null))
          .otherwise(when(col("n_chars") % 2 === 0, 1L).otherwise(0L))))
        .unionAll(lf(3, when(col("lang").isin("en", "de"), 1L).otherwise(0L)))
      operators.WeakSupervision.labelModel(votes, "doc_id", "lf", "vote")
        .orderBy(col("doc_id"))
    }),

    "q_nb_classify" -> ((s, dir) => {
      // trained multinomial Naive Bayes (the fastText-style linear
      // curation classifier), demonstrated as trained language-ID:
      // train on the labeled corpus (lang), classify every document.
      // vocabSize 1000 < corpus vocabulary, so the UNK mass is genuinely
      // exercised; DuckDB replays train→score→argmax from scratch.
      val d = T(s, dir, "documents")
      val m = TextClassifier.train(d, "text", "lang", vocabSize = 1000)
      TextClassifier.classify(d, "text", "doc_id", m, addK = 0.5)
        .orderBy(col("doc_id"))
    }),

    "q_chi2_terms" -> ((s, dir) =>
      // χ² feature selection: per-class discriminative vocabulary from
      // the document-presence contingency grid — integer counts all the
      // way down, the χ² doubles in a pinned sequence over HUGEINT-exact
      // (ad−bc); the curation-classifier front door
      TextClassifier.chi2Terms(T(s, dir, "documents"),
          "text", "doc_id", "lang", vocabSize = 300, topK = 10)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy(col("label"), col("rank"))),

    "q_jsonl_roundtrip" -> ((s, dir) => {
      // jsonl write + read-back of the documents table: the oracle
      // (SELECT from the original) proves the interchange codec is
      // LOSSLESS for the corpus columns — JSON string escaping handles
      // embedded newlines/quotes exactly; connector semantics (append
      // evolution, truncate, rename) are spec'd in JsonlConnectorSpec.
      val d = T(s, dir, "documents")
      val work = java.nio.file.Files.createTempDirectory("graft_jsonl_q_").toString
      val c = new graft.sources.JsonlConnector(s, work)
      c.write(d.select("doc_id", "text", "lang", "source", "n_chars"), "documents")
      c.read("documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_orc_roundtrip" -> ((s, dir) => {
      // ORC write + read-back of the documents table: the oracle
      // (SELECT from the original parquet) proves the ORC lake codec is
      // LOSSLESS for the corpus columns; connector semantics (additive
      // append, evolution, pushdown/pruning plan evidence) are spec'd
      // in OrcConnectorSpec.
      val d = T(s, dir, "documents")
      val work = java.nio.file.Files.createTempDirectory("graft_orc_q_").toString
      val c = new graft.sources.OrcConnector(s, work)
      c.write(d.select("doc_id", "text", "lang", "source", "n_chars"), "documents")
      c.read("documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_wordpiece" -> ((s, dir) => {
      // WordPiece greedy longest-match segmentation against a literal
      // vocabulary (the BERT inference algorithm): continuation pieces
      // carry ##, an uncoverable word becomes [UNK] whole — fully
      // deterministic, so golden rows pin every decision
      import s.implicits._
      val probe = Seq((1L, "low lower lowest"), (2L, "newest widest unknown"))
        .toDF("doc_id", "text")
      operators.Wordpiece.segmentCorpus(probe, "text", "doc_id",
          Seq("low", "##er", "##est", "new", "wide", "##st"))
        .select(col("doc_id"), col("pos"), col("word"),
          concat_ws("|", col("syms")).as("pieces"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "q_unigram_train" -> ((s, dir) => {
      // unigram-LM (SentencePiece) tokenizer training on the same
      // pinned Sennrich fixture as q_bpe_train — the hard-EM chain is
      // a data-dependent multi-round Viterbi/prune loop, so the oracle
      // is golden literal rows; corpus-scale behavior is UnigramSpec's
      import s.implicits._
      val fixture = Seq(
        (1L, "low low low low low"), (2L, "lower lower newest newest"),
        (3L, "newest newest newest newest"), (4L, "widest widest widest"))
        .toDF("doc_id", "text")
      operators.Unigram.train(fixture, "text", vocabSize = 20, iters = 2,
          maxPieceLen = 6, seedSize = 200)
        .pieces.toDF("piece", "score_fp").orderBy(col("piece"))
    }),

    "q_unigram_segment" -> ((s, dir) => {
      // segmentation through the trained unigram model: dict words via
      // the word-keyed join, the unseen words ("lowest", "unknown")
      // Viterbi-parsed in-plan — golden rows again
      import s.implicits._
      val fixture = Seq(
        (1L, "low low low low low"), (2L, "lower lower newest newest"),
        (3L, "newest newest newest newest"), (4L, "widest widest widest"))
        .toDF("doc_id", "text")
      val m = operators.Unigram.train(fixture, "text", vocabSize = 20, iters = 2,
        maxPieceLen = 6, seedSize = 200)
      val probe = Seq((1L, "low lower lowest"), (2L, "newest widest unknown"))
        .toDF("doc_id", "text")
      operators.Unigram.encodeTable(probe, "text", "doc_id", m, maxPieceLen = 6)
        .select(col("doc_id"), col("pos"), col("word"),
          concat_ws("|", col("syms")).as("pieces"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "q_bpe_train" -> ((s, dir) => {
      // BPE merge training on the PINNED Sennrich fixture — the merge
      // sequence is a data-dependent N-round argmax chain, so the oracle
      // is golden literal rows (q_fingerprint pattern): the exact ranks,
      // pairs, and dict frequencies pin the algorithm across JVMs and
      // partitionings. Corpus-scale behavior is spec-pinned (BpeSpec).
      import s.implicits._
      val fixture = Seq(
        (1L, "low low low low low"), (2L, "lower lower newest newest"),
        (3L, "newest newest newest newest"), (4L, "widest widest widest"))
        .toDF("doc_id", "text")
      Bpe.train(fixture, "text", numMerges = 8).merges
        .toDF("rank", "left", "right", "pair_freq")
        .orderBy(col("rank"))
    }),

    "q_bpe_segment" -> ((s, dir) => {
      // segmentation through the trained model: seen words resolve via
      // the final-dict join, unseen words ("lowest", "unknown") replay
      // the merge folds — golden rows again.
      import s.implicits._
      val fixture = Seq(
        (1L, "low low low low low"), (2L, "lower lower newest newest"),
        (3L, "newest newest newest newest"), (4L, "widest widest widest"))
        .toDF("doc_id", "text")
      val model = Bpe.train(fixture, "text", numMerges = 8)
      val corpus = Seq((10L, "Low lowest newest"), (11L, "widest unknown lower"))
        .toDF("doc_id", "text")
      Bpe.segmentCorpus(corpus, "text", "doc_id", model)
        .select(col("doc_id"), col("pos"), col("word"),
          concat_ws(" ", col("syms")).as("subwords"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    "q_bpe_ids" -> ((s, dir) => {
      // trainer-ready token ids through the trained model: the vocab is
      // alphabet chars binary-ascending from 0, then merge outputs in
      // rank order — a pure function of the model, so the ids are
      // golden; 'u'/'k' sit outside the training alphabet → <unk> (-1)
      import s.implicits._
      val fixture = Seq(
        (1L, "low low low low low"), (2L, "lower lower newest newest"),
        (3L, "newest newest newest newest"), (4L, "widest widest widest"))
        .toDF("doc_id", "text")
      val model = Bpe.train(fixture, "text", numMerges = 8)
      val corpus = Seq((10L, "Low lowest newest"), (11L, "widest unknown lower"))
        .toDF("doc_id", "text")
      // driver-facing frame renders the id list as a canonical string —
      // the driver's pandas sorter cannot order list<int64> columns; the
      // array-valued API stays on Bpe.encodeIds for library callers
      Bpe.encodeIds(corpus, "text", "doc_id", model)
        .select(col("doc_id"),
          concat_ws(" ", transform(col("token_ids"), x => x.cast("string")))
            .as("token_ids"))
        .orderBy(col("doc_id"))
    }),

    "q_bpe_decode" -> ((s, dir) => {
      // decode inverts encode on the same fixture: ids → subwords, the
      // eow id (100, one past any vocab id) → the word separator, the
      // out-of-alphabet chars (u, k) → <unk>. Golden rows — the decoded
      // strings are hand-derivable from the q_bpe_segment segmentation.
      import s.implicits._
      val fixture = Seq(
        (1L, "low low low low low"), (2L, "lower lower newest newest"),
        (3L, "newest newest newest newest"), (4L, "widest widest widest"))
        .toDF("doc_id", "text")
      val model = Bpe.train(fixture, "text", numMerges = 8)
      val corpus = Seq((10L, "Low lowest newest"), (11L, "widest unknown lower"))
        .toDF("doc_id", "text")
      val enc = Bpe.encodeIds(corpus, "text", "doc_id", model, eowId = Some(100L))
      Bpe.decodeIds(enc, "token_ids", "doc_id", model, eowId = Some(100L))
        .orderBy(col("doc_id"))
    }),

    "q_bpe_roundtrip" -> ((s, dir) => {
      // end-to-end tokenizer round trip on the REAL documents table:
      // train on the en slice, encode EVERY document with an eow
      // marker, decode, keep docs with no <unk>. The oracle derives the
      // same rows WITHOUT running BPE at all — normalized text of every
      // document whose characters all appear in the en slice — so any
      // defect in training, segmentation, vocab layout, id assignment,
      // or decode ordering breaks the hash.
      val d = T(s, dir, "documents")
      val model = Bpe.trainBatched(d.filter(col("lang") === "en"), "text",
        numMerges = 64, batchSize = 32)
      val eow = Bpe.vocab(model).size.toLong
      val enc = Bpe.encodeIds(d, "text", "doc_id", model, eowId = Some(eow))
        .filter(!array_contains(col("token_ids"), lit(-1L)))
      Bpe.decodeIds(enc, "token_ids", "doc_id", model, eowId = Some(eow))
        .orderBy(col("doc_id"))
    }),

    "q_chunk_sentences" -> ((s, dir) => {
      // sentence-boundary chunking at a 40-token budget: sentences
      // never split, chunks never exceed the budget (unless one
      // sentence alone does -> singleton). The synthetic corpus has no
      // punctuation, so sentence breaks are PLANTED deterministically
      // (a period closes every 12th word) — 12-token sentences pack 3
      // per 40-token chunk, so the packer genuinely binds. Oracle
      // replays the planting, the RE2-safe extraction, the per-doc
      // lock-step next-fit recursion, and the ordered assembly.
      val punct = T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.normalizeForFingerprint(col("text")).as("_nt"))
        .filter(length(col("_nt")) > 0)
        .select(col("doc_id"), array_join(
          transform(split(col("_nt"), " "), (w, i) =>
            when((i + 1) % 12 === 0, concat(w, lit("."))).otherwise(w)), " ").as("text"))
      Curation.chunkSentences(punct, "text", "doc_id", budgetTokens = 40)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_tokenizer_coverage" -> ((s, dir) => {
      // tokenizer-ops coverage report: after training on the en slice,
      // how much of each language the vocabulary can encode — docs,
      // <unk> token counts, affected docs, per lang. An unk id arises
      // EXACTLY at an out-of-alphabet character (seen-alphabet words
      // always segment into vocab symbols; learned merges never touch
      // unseen chars), so the oracle derives the counts from the
      // training alphabet without replaying the tokenizer — while the
      // Spark side runs the REAL train → encode path end to end.
      val d = T(s, dir, "documents")
      val model = Bpe.trainBatched(d.filter(col("lang") === "en"), "text",
        numMerges = 64, batchSize = 32)
      val enc = Bpe.encodeIds(d, "text", "doc_id", model)
      d.select(col("doc_id"), col("lang")).join(enc, Seq("doc_id"), "left")
        .select(col("lang"),
          coalesce(size(filter(col("token_ids"), x => x === lit(-1L))).cast("long"), lit(0L))
            .as("_oov"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_oov")).as("oov_tokens"),
          sum(when(col("_oov") > 0, 1L).otherwise(0L)).as("docs_with_oov"))
        .orderBy(col("lang"))
    }),

    "q_dsir" -> ((s, dir) => {
      // DSIR importance resampling (target = the src1 slice, raw = the
      // whole corpus) under the ORACLE-REPLAYABLE arithmetic bucketer —
      // the polynomial-over-codepoints fold DuckDB replays exactly; the
      // production path swaps in the codegen'd xxhash64 bucketer on the
      // identical pipeline (DsirSpec pins both). Fixed-point weights,
      // exact ranked-boundary top-30% keep.
      val d = T(s, dir, "documents")
      val arith = Some(Dsir.polyBucket(256) _)
      val table = Dsir.importanceTable(d, d.filter(col("source") === "src1"), "text",
        numBuckets = 256, bucket = arith)
      // materialize the narrow per-doc weight table once (r19): the
      // resample's eager boundary pass AND the final output both read
      // it — lazy, the corpus n-gram scoring ran twice (the q_ppl_mix
      // scored-projection pattern)
      val w = Dsir.importanceWeights(d, "text", "doc_id", table,
        numBuckets = 256, bucket = arith)
        .localCheckpoint(true)
      Dsir.resampleTop(w, "doc_id", 0.3).orderBy(col("doc_id"))
    }),

    "q_dsir_gumbel" -> ((s, dir) => {
      // the paper's SAMPLED resample: Gumbel-top-k at T=1 over the same
      // DSIR weights, with the engine-portable seeded LCG noise — the
      // whole probabilistic draw replays exactly in DuckDB (BIGINT LCG +
      // IEEE -ln(-ln(u)) + fixed-point key).
      val d = T(s, dir, "documents")
      val arith = Some(Dsir.polyBucket(256) _)
      val table = Dsir.importanceTable(d, d.filter(col("source") === "src1"), "text",
        numBuckets = 256, bucket = arith)
      // same boundary-pass + final-output double-read as q_dsir (r19)
      val w = Dsir.importanceWeights(d, "text", "doc_id", table,
        numBuckets = 256, bucket = arith)
        .localCheckpoint(true)
      Dsir.resampleGumbel(w, "doc_id", 0.3, temperature = 1.0, seed = 12345L)
        .select(col("doc_id"), col("lw_fixed"), col("gumbel_fixed"), col("kept"))
        .orderBy(col("doc_id"))
    }),

    "q_semdedup" -> ((s, dir) => {
      // SemDeDup resolution machinery under the oracle via the planted
      // seam: clusters = the embeddings table's label column (a stand-in
      // for k-means cells DuckDB can replay trivially), rank = first
      // coordinate (replayable; distinct between an original and its
      // planted 1.001f-scaled copy, so keep-min-rank picks a definite
      // winner — the NEGATIVE-coordinate originals lose to their copies,
      // exercising a non-trivial keep). Planted near-dups: every 10th
      // vector re-entered at +1000000 with each coordinate * 1.001f —
      // cosine ≈ 1 ≫ 0.999 while the max ORGANIC pair is ~0.51
      // (margin-safe in either engine's fp). The trained-centroid path
      // (nearestCellWithDist + keep-farthest) is spec-pinned in
      // DedupSpec instead — k-means cells are replayable (q_ann_ivf
      // does) but add nothing to this query's machinery coverage.
      val e = T(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 1000000).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"),
          col("label"))
      val corpus = e.select(col("vec_id"), col("embedding"), col("label")).union(planted)
      Dedup.semanticDedupFromClusters(corpus, "embedding", "vec_id",
          col("label"), element_at(col("embedding"), 1).cast("double"),
          threshold = 0.999, maxClusterSize = 5000)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    }),

    "q_validate" -> ((s, dir) => {
      // declarative data-quality report: every rule is a conditional
      // aggregate in ONE scan (uniqueness rides along as
      // count - countDistinct)
      Validate.check(T(s, dir, "lineitem"), Seq(
        Validate.Predicate("qty_in_range", col("l_quantity").between(1, 50)),
        Validate.NotNull("shipdate_not_null", "l_shipdate"),
        Validate.Unique("orderkey_unique", "l_orderkey")))
        .orderBy(col("rule"))
    }),

    "q_json_extract" -> ((s, dir) => {
      // semi-structured props: typed scalar extraction + predicate +
      // rollup, all over the JSON string column (metadata filtering, the
      // standard curation-pipeline shape)
      T(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .filter(col("k") > 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    }),

    "q_scd2" -> ((s, dir) => {
      // two-tick SCD-2 build over the events change stream must equal the
      // from-scratch lead() window the oracle computes on full history
      val work = java.nio.file.Files.createTempDirectory("graft_scd2_").toString
      val src = new ParquetConnector(s, dir)
      val cut = new ParquetConnector(s, work)
      val dst = new ParquetConnector(s, work)
      cut.write(src.read("events").filter(expr("ts < TIMESTAMP '2024-01-20 00:00:00'"))
        .select("event_id", "ts", "user_id", "event_type", "value"), "events_stale")
      Patterns.scdType2(cut, "events_stale", dst, "dim_user", "user_id", "ts")
      // tick 2 feeds the FULL history: the tick's per-key watermark must
      // discard every already-applied row itself
      val full = src.read("events").select("event_id", "ts", "user_id", "event_type", "value")
      Patterns.scdType2Tick(full, dst, "dim_user", "user_id", "ts")
      dst.read("dim_user")
        .select(col("user_id"), col("ts").as("valid_from"), col("valid_to"),
          col("event_type"), col("value"))
        .orderBy(col("user_id"), col("valid_from"))
    }),

    "q_incremental_agg" -> ((s, dir) => {
      // Incremental rollup maintenance: build the per-(user, type) rollup
      // from a stale cutoff, then one tick merges the fresh delta's
      // partials — the final table must equal the full groupBy the oracle
      // computes from scratch. Sums compared at round(4): the merge adds
      // doubles in a different order than a single-pass sum.
      val work = java.nio.file.Files.createTempDirectory("graft_iagg_").toString
      val src = new ParquetConnector(s, dir)
      val cut = new ParquetConnector(s, work)
      val dst = new ParquetConnector(s, work)
      cut.write(src.read("events").filter(expr("ts < TIMESTAMP '2024-01-20 00:00:00'")), "events_stale")
      val aggs = Seq(("count", "*", "n_events"), ("sum", "value", "sum_value"),
        ("max", "value", "max_value"))
      Patterns.incrementalAggregate(cut, "events_stale", dst, "rollup",
        Seq("user_id", "event_type"), aggs, matcher = "ts")
      Patterns.incrementalAggregate(src, "events", dst, "rollup",
        Seq("user_id", "event_type"), aggs, matcher = "ts")
      dst.read("rollup")
        .select(col("user_id"), col("event_type"), col("n_events"),
          round(col("sum_value"), 4).as("sum_value"), col("max_value"),
          col("_wm").as("last_ts"))
        .orderBy(col("user_id"), col("event_type"))
    }),

    "q_incremental_part" -> ((s, dir) => {
      // Same P2 semantics as q_incremental_pipe, but the destination is a
      // date-PARTITIONED sink: the merge is partition-scoped copy-on-write
      // (dynamic partition overwrite), so only partitions containing fresh
      // keys rewrite — the O(delta) incremental path for 100 TB tables.
      val work = java.nio.file.Files.createTempDirectory("graft_pipe_part_").toString
      val src = new ParquetConnector(s, dir)
      val dst = new graft.sources.PartitionedParquetConnector(s, work, matcher = "ts")
      val stale = src.read("events")
        .filter(expr("ts < TIMESTAMP '2024-01-20 00:00:00'"))
        .withColumn("value", lit(0.0))
      dst.write(stale, "events")
      Patterns.incrementalPipe(src, "events", dst, "events", matcher = "ts", primaryKey = "event_id")
      dst.read("events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ---- time-bucketed aggregation (events) ----
    "q_events_window" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("sum_value"))
        .orderBy(col("hour_ts"), col("event_type"))
    }),

    // ---- dedup family ----
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(T(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      // corpus + synthetic near-dups (one word appended) — candidates must
      // pair each doc with its mutation.
      val d = T(s, dir, "documents")
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" near dup suffix")).as("text"))
      val corpus = d.select(col("doc_id"), col("text")).union(mutated)
      Dedup.minhashCandidates(corpus, "text", "doc_id", numHashes = 64, bands = 16, threshold = 0.6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_simhash" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val mutated = d.select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      val corpus = d.select(col("doc_id"), col("text")).union(mutated)
      Dedup.simhashCandidates(corpus, "text", "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_minhash_banding" -> ((s, dir) => {
      // the band/bucket/pair/est pipeline under minhashCandidates, made
      // fully oracle-checkable with PLANTED signatures (the r9
      // q_hamming_neardup trick): docs group by doc_id/4; member
      // m = doc_id%4 holds the group's base value at positions j where
      // j/2 < 4-m and a personal value elsewhere. So a pair's shared
      // bands are exactly b < 4-max(m), every in-group pair shares band
      // 0 (candidates), and est_jaccard = (8-2·max(m))/8 — closed
      // integer arithmetic DuckDB replays by joining on group
      // membership (bucket ids never reach the output; bucket equality
      // IS band-slice equality). Bucket cap disabled: the oracle has no
      // cap (cap semantics are pinned in DedupSpec).
      val d = T(s, dir, "documents").select(col("doc_id"),
        expr("""transform(sequence(0, 7), j ->
                 (doc_id DIV 4) * 1000 +
                 CASE WHEN j DIV 2 < 4 - doc_id % 4 THEN CAST(j AS BIGINT)
                      ELSE (doc_id % 4) * 100 + j END)""").as("sig"))
      Dedup.minhashCandidatesFromSignatures(d, col("sig"), "doc_id",
          numHashes = 8, bands = 4, threshold = 0.5, maxBucketSize = 0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_hamming_neardup" -> ((s, dir) => {
      // the generic chunk-blocked hamming pairing — the machinery under
      // BOTH simhash text dedup and image-aHash dedup — made fully
      // oracle-checkable with PLANTED near-collisions: groups of 5 ids
      // share every bit derived from the group number g, each member
      // flips one distinct low bit, so in-group hamming is exactly 2.
      // All four 16-bit chunks carry g-derived entropy (a realistic
      // hash; leaving high chunks constant would put the whole corpus
      // in one degenerate bucket), and the oracle replays the identical
      // integer arithmetic. Bucket cap disabled: the oracle has no cap
      // (cap semantics are pinned in DedupSpec).
      val d = T(s, dir, "documents").select(col("doc_id"),
        (expr("(doc_id DIV 5) * 7 % 2048") * 32L +
          expr("shiftleft(CAST(1 AS BIGINT), CAST(doc_id % 5 AS INT))") +
          expr("(doc_id DIV 5) % 65536") * 65536L +
          expr("(doc_id DIV 5) % 65536") * 4294967296L +
          expr("(doc_id DIV 5) * 31 % 32768") * 281474976710656L).as("h"))
      Dedup.hammingNearDupPairs(d, col("h"), "doc_id", maxHamming = 3, maxBucketSize = 0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      // lang + length-bucket blocking (never lang alone — quadratic in a
      // whole language at scale); oracle replicates the same blocking.
      val d = T(s, dir, "documents")
      Dedup.ngramJaccardPairs(d, "text", "doc_id",
          Dedup.langLengthBlock(col("lang"), col("n_chars"), width = 100),
          n = 1, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_embedding_centroid" -> ((s, dir) => {
      // per-label mean pooling; flat (label, dim, c) form for exact
      // comparison. The oracle-parity form sums in DECIMAL (exact, so
      // partial-aggregation ORDER cannot move the value — round(4) of an
      // order-dependent double sum was a knife-edge that flipped at some
      // SFs) and divides as double. The production operator
      // (Similarity.groupCentroids) keeps the cheaper double avg.
      T(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "_x")))
        .groupBy(col("label"), col("dim"))
        // + 0.0 folds IEEE -0.0 to 0.0: the engines can disagree on the
        // SIGN of a rounded zero, which trips a string-keyed row sort
        // even though -0.0 == 0.0 numerically
        .agg((round(expr("CAST(SUM(CAST(_x AS DECIMAL(20,10))) AS DOUBLE)") / count(lit(1)), 4) + 0.0).as("c"))
        .orderBy(col("label"), col("dim"))
    }),

    "q_unpivot" -> ((s, dir) => {
      // melt: the inverse of q_pivot — wide measure columns to
      // (metric, val) rows, then a per-metric profile
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("l_quantity"),
          col("l_extendedprice").cast("double").as("l_extendedprice"),
          col("l_discount").cast("double").as("l_discount"),
          col("l_tax").cast("double").as("l_tax"))
        .unpivot(Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "metric", "val")
        .groupBy(col("metric"))
        .agg(count(lit(1)).as("n"), round(avg(col("val")), 4).as("avg_val"),
          round(max(col("val")), 4).as("max_val"))
        .orderBy(col("metric"))
    }),

    "q_histogram" -> ((s, dir) => {
      // value-distribution profile: explicit floor bucketing (identical
      // elementary arithmetic in every engine; DuckDB has no width_bucket)
      T(s, dir, "events")
        .groupBy((floor(col("value") / 25.0) + 1).cast("int").as("bucket"))
        .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
        .orderBy(col("bucket"))
    }),

    "q_corpus_stats" -> ((s, dir) => {
      // per-language corpus profile with EXACT interpolated percentiles —
      // oracle-able against DuckDB quantile_cont. Scale note: exact
      // percentile buffers each group's values (ObjectHashAggregate); at
      // 100 TB swap in approx_percentile (t-digest, mergeable partials) —
      // same query shape, no oracle equality.
      T(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          round(avg(col("n_chars")), 4).as("avg_chars"),
          round(percentile(col("n_chars"), lit(0.5)), 4).as("p50_chars"),
          round(percentile(col("n_chars"), lit(0.95)), 4).as("p95_chars"))
        .orderBy(col("lang"))
    }),

    "q_vocab_coverage" -> ((s, dir) =>
      // Good-Turing unseen-mass + Chao1 richness per language: exact
      // frequency-of-frequency integers off the distinct-type table,
      // two pinned double estimates — the corpus-growth saturation gauge
      operators.Profile.vocabCoverage(T(s, dir, "documents"), "text", "lang")
        .orderBy(col("lang"))),

    "q_vocab_mass" -> ((s, dir) =>
      // head-heaviness per language: distinct tokens covering 50/90/99%
      // of the slice's token mass — exact integer boundary off ONE
      // NDV-bounded ranked window
      operators.Profile.vocabMass(T(s, dir, "documents"), "text", "lang")
        .orderBy(col("lang"))),

    "q_fertility" -> ((s, dir) =>
      // tokenizer fertility audit per language: subwords-per-word and
      // chars-per-subword from one codegen'd profile pass — exact long
      // sums, pinned final divisions
      operators.Profile.tokenizerFertility(T(s, dir, "documents"), "text", "lang")
        .orderBy(col("lang"))),

    "q_threshold_sweep" -> ((s, dir) =>
      // dedup-threshold knee readout over the replayable md5-LSH
      // verified pairs: 0.05-wide Jaccard bins + the cumulative
      // pairs-at-or-above curve, every bin boundary replayed exactly
      Dedup.jaccardThresholdSweep(T(s, dir, "documents"), "text", "doc_id",
          n = 3, minJaccard = 0.3)
        .orderBy(col("bin"))),

    "q_dedup_clusters" -> ((s, dir) => {
      // cluster resolution over the (SQL-expressible) n-gram Jaccard pair
      // graph: connected components via large-star/small-star contraction;
      // isolated docs are their own cluster. Oracle = DuckDB recursive-CTE
      // transitive closure over the identical pair set.
      val d = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id",
        Dedup.langLengthBlock(col("lang"), col("n_chars"), width = 100),
        n = 1, threshold = 0.6)
      val cc = Dedup.connectedComponents(pairs).withColumnRenamed("id", "doc_id")
      d.select(col("doc_id")).join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    "q_cluster_split" -> ((s, dir) => {
      // leakage-proof splitting on the scale-safe REPLAYABLE path (r15,
      // VERDICT r14 #1): md5-MinHash LSH candidates with exact-Jaccard
      // verify replace the blocked all-pairs generator that measured
      // scaling exponent 1.99 at the 10× stress point (this md5 form:
      // 0.93 — linear; the xxhash64 sketch DEFAULT of leakageSafeSplit
      // is scale-benched separately as q_cluster_split_default).
      // Trigram shingles, threshold 0.6; components + root-hash 8/1/1
      // split unchanged. The oracle replays every md5 minhash, bucket,
      // candidate, and verified pair (DuckDB md5 == Spark md5).
      val d = T(s, dir, "documents")
      operators.Curation.leakageSafeSplit(d, "text", "doc_id",
          n = 3, threshold = 0.6, replayable = true)
        .orderBy(col("doc_id"))
    }),

    "q_dedup_keepbest" -> ((s, dir) => {
      // clusterDedup with the QUALITY keep policy over the same
      // SQL-expressible Jaccard pair graph as q_dedup_clusters: per
      // cluster keep the longest doc (n_chars as the quality signal,
      // ties -> lowest id); isolated docs survive untouched. Oracle =
      // the identical recursive-CTE components + winner resolution.
      val d = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(d, "text", "doc_id",
        Dedup.langLengthBlock(col("lang"), col("n_chars"), width = 100),
        n = 1, threshold = 0.6)
      Dedup.clusterDedupByScore(d, "doc_id", "n_chars", pairs)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_embedding_neardup" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val mutated = e.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val corpus = e.select(col("vec_id"), col("embedding")).union(mutated)
      Dedup.embeddingNearDup(corpus, "embedding", "vec_id", dim = 64, planes = 16, threshold = 0.999)
        .withColumn("cosine", round(col("cosine"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_emb_multi_lsh" -> ((s, dir) => {
      // the multi-table LSH machinery (R-table union + per-table
      // bucketing + in-bucket pairing + cosine verify + cross-table
      // dedup) made fully oracle-checkable with PLANTED bucket keys and
      // closed-form unit vectors (the q_minhash_banding trick): doc
      // m = doc_id%8 gets the 2-d unit vector at angle 0.15·m, so a
      // pair's cosine = cos(0.15·|Δm|) — ≥ 0.95 iff |Δm| ≤ 2
      // (cos 0.30 ≈ 0.9553 vs cos 0.45 ≈ 0.9004: margin-safe in either
      // engine's fp). Table 0 buckets groups of 4, table 1 groups of 8:
      // every in-g4 pair is found by BOTH tables (the distinct() dedup
      // is exercised), g8-only pairs only by table 1, and Δm = 3
      // candidates are rejected by the verify — candidates ≠ results.
      // Cosine is dropped from the output (the COMPARISON is
      // margin-safe; the raw value is not hash-safe across engines).
      val d = T(s, dir, "documents").select(col("doc_id"),
        array(cos(col("doc_id") % 8 * lit(0.15)),
          sin(col("doc_id") % 8 * lit(0.15))).as("v"))
      Dedup.embeddingNearDupMultiFromBuckets(d, "v", "doc_id",
          Seq(expr("doc_id DIV 4"), expr("doc_id DIV 8")),
          threshold = 0.95, maxBucketSize = 0)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- similarity search ----
    "q_ann_cosine" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.bruteForceTopK(e, "embedding", "vec_id", q, k = 20)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    "q_mmr" -> ((s, dir) => {
      // diverse eval-set selection: greedy MMR (relevance minus max
      // similarity to the already-picked) over a bounded candidate pool,
      // vectors integer-quantized in-plan so the whole greedy trajectory
      // — every argmax, every tie — replays as 5 unrolled oracle steps
      val e = T(s, dir, "embeddings").filter(col("vec_id") < 200)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      Similarity.mmrSelect(e, "embedding", "vec_id", q, k = 5)
        .orderBy(col("rank"))
    }),

    "q_knn_classify" -> ((s, dir) => {
      // label transfer: held-out vectors (vec_id % 5 == 0) classified
      // by majority vote of their 10 nearest labeled neighbors (the
      // remaining 80% of the corpus); neighbor ties -> lowest id, vote
      // ties -> smallest label — both mirrored by the oracle's window
      val e = T(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 5 =!= 0)
      val queries = e.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      Similarity.knnClassify(corpus, "embedding", "vec_id", "label",
          queries, "qv", "q_id", k = 10)
        .orderBy(col("q_id"))
    }),

    "q_ann_batch" -> ((s, dir) => {
      // multi-query exact top-k in ONE corpus scan via the bottom-k heap
      // aggregate (map-side k entries per query cross the exchange — the
      // window formulation this replaces shuffles Q x N scored rows);
      // oracle IS that window formulation in DuckDB
      val emb = T(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      Similarity.bruteForceTopKBatch(emb, "embedding", "vec_id", queries, "qv", "q_id", k = 10)
        .withColumn("score", round(col("score"), 6) + 0.0)
        .orderBy(col("q_id"), col("score").desc, col("vec_id"))
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // full IVF lifecycle: train -> materialize CELL-PARTITIONED index ->
      // probe (the cell filter is partition pruning at the file listing)
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val centroids = Similarity.trainCentroids(e, "embedding", "vec_id", nlist = 8, refineIterations = 1)
      val idx = java.nio.file.Files.createTempDirectory("graft_ivf_").toString + "/index"
      Similarity.writeIvfIndex(e, "embedding", centroids, idx)
      Similarity.ivfTopKIndexed(s, idx, "embedding", "vec_id", centroids, q, k = 10, nprobe = 2)
        // + 0.0 folds a rounded -0.0 (engines can disagree on the sign
        // of a rounded zero, which misaligns the string-keyed row sort)
        .select(col("vec_id"), (round(col("score"), 6) + 0.0).as("score"))
    }),

    "q_ann_pq" -> ((s, dir) => {
      // product-quantization lifecycle: train m=4 x k=8 codebooks (one
      // exploded Lloyd pass for ALL subspaces) -> encode the corpus to
      // 4 small ints/vector (the compressed index; 64 floats -> 4 bytes
      // at scale) -> ADC top-40 shortlist via driver-built distance
      // tables (fixed-order double adds, engine-replayable) -> re-rank
      // the shortlist against the full-precision vectors, exact cosine
      // top-10. Oracle re-derives every stage, codebook training included.
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val books = Similarity.trainPq(e, "embedding", "vec_id", m = 4, k = 8, refineIterations = 1)
      val codes = Similarity.pqEncode(e, "embedding", books).select(col("vec_id"), col("_code"))
      val short = Similarity.pqTopKAdc(codes, "_code", "vec_id", books, q, k = 40)
      short.join(e, "vec_id")
        .select(col("vec_id"),
          (round(col("adc_dist"), 6) + 0.0).as("adc"),
          (round(VectorFunctions.cosine(col("embedding"), typedLit(q)), 6) + 0.0).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    }),

    "q_pagerank" -> ((s, dir) => {
      // link-graph importance prior (the web-curation domain-rank
      // pattern) over a who-buys-from-whom graph: customer -> supplier
      // edges via orders x lineitem, suppliers offset into their own id
      // space. Fixed-point integer PageRank — every division integer,
      // every sum a long — so the oracle replays all 3 iterations
      // EXACTLY (no tolerance), partial-agg order notwithstanding.
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (lit(1000000L) + col("l_suppkey")).as("dst"))
        .distinct()
      LinkGraph.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy(col("rank_fp").desc, col("node"))
    }),

    "q_corpus_diff" -> ((s, dir) => {
      // release diff between corpus v_old (= documents) and a derived
      // v_new: every 17th doc dropped, every surviving 13th doc's text
      // edited, every 19th doc re-added under a fresh id. Statuses come
      // from 8-byte fingerprint comparison after per-side reduction to
      // (id, fp) — text never crosses the join shuffle; the oracle
      // compares the normalized text directly (equivalent sans
      // collisions).
      val d = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val newC = d.filter(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .union(d.filter(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 500000).as("doc_id"),
            concat(lit("fresh doc "), col("doc_id").cast("string")).as("text")))
      Curation.corpusDiff(d, newC, "doc_id", "text").orderBy(col("doc_id"))
    }),

    "q_ann_ivfpq" -> ((s, dir) => {
      // the composed production search path (FAISS IVF-PQ shape, flat
      // variant: codebooks on raw vectors, not residuals — documented
      // simplification): coarse IVF centroids prune WHICH vectors are
      // read (2 of 8 cells), PQ codes shrink WHAT each read costs (4
      // bytes/vector), ADC scores the codes, and the exact-cosine
      // re-rank touches only the 40-row shortlist. Both trainings and
      // the whole search replay in the oracle.
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val centroids = Similarity.trainCentroids(e, "embedding", "vec_id", nlist = 8, refineIterations = 1)
      val books = Similarity.trainPq(e, "embedding", "vec_id", m = 4, k = 8, refineIterations = 1)
      val indexed = Similarity.pqEncode(
        Similarity.buildIvfIndex(e, "embedding", centroids), "embedding", books)
        .select(col("vec_id"), col("_cell"), col("_code"))
      val qv = q.map(_.toDouble).toArray
      def l2(a: Array[Double], b: Array[Double]): Double = {
        var s0 = 0.0; var i = 0
        while (i < a.length && i < b.length) { val d = a(i) - b(i); s0 += d * d; i += 1 }
        s0
      }
      val probe = centroids.map { case (i, cv) => (i, l2(qv, cv)) }
        .sortBy(_._2).take(2).map(_._1)
      val short = Similarity.pqTopKAdc(
        indexed.filter(col("_cell").isin(probe.toIndexedSeq: _*)),
        "_code", "vec_id", books, q, k = 40)
      short.join(e, "vec_id")
        .select(col("vec_id"),
          (round(col("adc_dist"), 6) + 0.0).as("adc"),
          (round(VectorFunctions.cosine(col("embedding"), typedLit(q)), 6) + 0.0).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(10)
    }),

    "q_pagerank_warm" -> ((s, dir) => {
      // warm-start continuation: 3 cold iterations, then 2 more via
      // pageRankFrom on the saved ranks. The oracle runs 5 COLD
      // iterations — the exact-equivalence claim
      // pageRankFrom(pageRank(k), m) == pageRank(k+m) checked
      // externally, not just in-suite.
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (lit(1000000L) + col("l_suppkey")).as("dst"))
        .distinct()
      val prior = LinkGraph.pageRank(edges, "src", "dst", iterations = 3)
      LinkGraph.pageRankFrom(edges, prior, "src", "dst", iterations = 2)
        .orderBy(col("rank_fp").desc, col("node"))
    }),

    "q_pagerank_weighted" -> ((s, dir) => {
      // weighted domain-rank: the same customer->supplier graph but
      // each edge weighted by its lineitem count, so mass splits
      // proportionally ((r*w) div totw — exact longs, oracle-unrolled)
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("src"), (lit(1000000L) + col("l_suppkey")).as("dst"))
        .agg(count(lit(1)).as("w"))
      LinkGraph.pageRank(edges, "src", "dst", iterations = 3, weightCol = Some("w"))
        .orderBy(col("rank_fp").desc, col("node"))
    }),

    "q_kcore" -> ((s, dir) => {
      // dense-subgraph extraction: 3 peeling rounds at k=25 over the
      // customer-supplier graph — the link-farm/mutual-cluster signal;
      // all-integer degrees, oracle unrolls every round
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (lit(1000000L) + col("l_suppkey")).as("dst"))
        .distinct()
      LinkGraph.kCorePeel(edges, "src", "dst", k = 25, rounds = 3)
        .orderBy(col("node"))
    }),

    "q_label_prop" -> ((s, dir) => {
      // link-community detection over the same customer->supplier
      // graph: deterministic synchronous label propagation (most
      // frequent neighbor label + self-vote, ties to smallest label),
      // 3 iterations — integer counts + argmax only, so the oracle
      // unrolls all 3 iterations exactly
      val o = T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = T(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val edges = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"), (lit(1000000L) + col("l_suppkey")).as("dst"))
        .distinct()
      LinkGraph.labelPropagation(edges, "src", "dst", iterations = 3)
        .orderBy(col("node"))
    }),

    "q_domain_cap" -> ((s, dir) => {
      // the web-curation staple: at most K documents per registered
      // domain — planted urls whose host embeds the source (one
      // registered domain per source), extraction through the real
      // urlRegisteredDomain chain, cap keeps the K lowest doc_ids per
      // domain via the mergeable bottom-k heap (15 < the 25/source at sf0.01, so the cap binds)
      val url = concat(lit("HTTPS://docs."), upper(col("source")), lit(".COM:443/docs/"),
        col("doc_id"))
      val d = T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.urlRegisteredDomain(url).as("domain"))
      Curation.capPerGroup(d, Seq("domain"), "doc_id", maxN = 15)
        .orderBy(col("doc_id"))
    }),

    "q_psl_domain" -> ((s, dir) => {
      // PSL-aware registered-domain extraction over planted urls whose
      // TLD rotates through vendored-snapshot registries (co.uk/com.au/
      // co.jp/gob.mx), a wildcard TLD (*.ck), and a plain .com control —
      // the oracle states every registered domain BY CONSTRUCTION
      // (source is a single lowercase-able label), so the PSL walk
      // (exception > wildcard > exact > implicit-*) is pinned end to end
      val tld = element_at(array(lit("co.uk"), lit("com.au"), lit("co.jp"),
        lit("gob.mx"), lit("ck"), lit("com")),
        (pmod(col("doc_id"), lit(6)) + 1).cast("int"))
      val url = concat(lit("HTTPS://Shop."), upper(col("source")), lit("."), tld,
        lit(":443/p/"), col("doc_id"))
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.urlRegisteredDomain(url).as("domain"))
        .orderBy(col("doc_id"))
    }),

    "q_sft_render" -> ((s, dir) => {
      // SFT assembly: documents grouped into 4-turn conversations with
      // alternating roles, rendered <|role|>content<|end|> with exact
      // per-turn [start, end) offsets — the loss-mask boundaries
      val turns = T(s, dir, "documents").select(
        expr("doc_id div 4").as("conv_id"),
        pmod(col("doc_id"), lit(4L)).as("turn"),
        when(pmod(col("doc_id"), lit(2L)) === 0, "user")
          .otherwise("assistant").as("role"),
        substring(col("text"), 1, 80).as("content"))
      operators.Sft.renderConversations(turns, "conv_id", "turn", "role", "content")
        .orderBy(col("conv_id"), col("turn"))
    }),

    "q_span_corrupt" -> ((s, dir) =>
      // T5 denoising pairs: seeded-LCG Bernoulli token masks, masked
      // runs collapse to numbered sentinels, (corrupted, target)
      // rebuilt per document — every decision oracle-replayable
      operators.Curation.spanCorrupt(T(s, dir, "documents"), "text", "doc_id",
          ratioNum = 15, ratioDen = 100, seed = 42)
        .orderBy(col("doc_id"))),

    "q_readability" -> ((s, dir) =>
      // Flesch reading-ease per document: regex-replayable word /
      // sentence / vowel-group counts, one pinned double at the end
      operators.Profile.readability(T(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))),

    "q_gini" -> ((s, dir) => {
      // token-mass concentration per language: exact discrete Gini
      // over the (lang, word) count table — near-1 slices are
      // boilerplate, the concentration complement to q_diversity
      val counts = T(s, dir, "documents")
        .select(col("lang"), explode(filter(
          split(TextFunctions.normalizeForFingerprint(coalesce(col("text"), lit(""))), " "),
          t => length(t) > 0)).as("word"))
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("cnt"))
      operators.Profile.gini(counts, "lang", "word", "cnt")
        .orderBy(col("lang"))
    }),

    "q_dyn_batches" -> ((s, dir) =>
      // trainer dynamic batching: length-sorted cuts of 8 within each
      // of 4 LCG shards, per-batch pad-waste report — batch membership
      // a pure replayable function of (id, len, seed)
      operators.Curation.dynamicBatches(
          T(s, dir, "documents").select(col("doc_id"),
            TextFunctions.tokenCount(col("text")).as("len")),
          "doc_id", "len", batchSize = 8, numShards = 4, seed = 11)
        .orderBy(col("shard"), col("batch"))),

    "q_diversity" -> ((s, dir) => {
      // distinct-1/-2 lexical diversity per language: total vs DISTINCT
      // n-gram counts and their ratio — the template-spam detector run
      // per slice before mixing; exact longs + one pinned division
      operators.Profile.ngramDiversity(T(s, dir, "documents"), "text", "lang",
          maxN = 2)
        .orderBy(col("lang"), col("n"))
    }),

    // ---- text analysis ----
    "q_token_stats" -> ((s, dir) => {
      T(s, dir, "documents")
        .withColumn("tok", TextFunctions.tokenCount(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok")).as("total_tokens"),
          expr("CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)").as("avg_chars"))
        .orderBy(col("lang"))
    }),

    "q_quality" -> ((s, dir) => {
      val tx = trim(col("text"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("tok_cnt"),
          round(length(regexp_replace(tx, "\\s+", "")).cast("double") /
            TextFunctions.tokenCount(col("text")), 4).as("mean_word_len"),
          round(TextFunctions.stopwordRatio(col("text"), TextFunctions.englishStopwords,
            splitRegex = "[^a-z]+"), 4).as("stop_ratio"))
        .orderBy(col("doc_id"))
    }),

    "q_subword" -> ((s, dir) => {
      // BPE-ish subword count (native single-pass profile expression);
      // oracled: pieces = alnum runs + one per other char, a formulation
      // RE2 (DuckDB) can express — the old lookaround split could not
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.subwordCount(col("text")).as("n_subwords"))
        .orderBy(col("doc_id"))
    }),

    "q_langid" -> ((s, dir) => {
      // stopword-ratio-argmax heuristic language ID (oracled: the ratio
      // math and argmax tie-order are replicated exactly in DuckDB SQL)
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("labeled"),
          TextFunctions.langId(col("text")).as("predicted"))
        .orderBy(col("doc_id"))
    }),

    "q_split" -> ((s, dir) => {
      // deterministic train/val/test assignment — row-local hash
      // arithmetic, no shuffle; membership survives corpus changes
      operators.Curation.assignSplits(T(s, dir, "documents"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), buckets = 10)
        .select(col("doc_id"), col("lang"), col("split"))
        .orderBy(col("doc_id"))
    }),

    "q_shard_shuffle" -> ((s, dir) => {
      // deterministic seeded global shuffle → 8 trainer shards with a
      // dense within-shard position: the reproducible "shuffle and
      // shard the corpus" step before writing training files. The LCG
      // key replays exactly in DuckDB; pos is the exact (key, id) rank
      // via the de-funneled prefix (no shard ever sorts in one task).
      operators.Curation.shardShuffle(T(s, dir, "documents"),
          "doc_id", numShards = 8, seed = 42L)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy(col("doc_id"))
    }),

    "q_topk_group" -> ((s, dir) => {
      // per-language top-3 longest docs via the heap aggregate (k heap
      // entries per map task cross the exchange; the oracle IS the
      // window sort this replaces)
      operators.Curation.topKBy(T(s, dir, "documents"),
          Seq("lang"), "n_chars", "doc_id", k = 3)
        .orderBy(col("lang"), col("rank"))
    }),

    "q_mix_weighted" -> ((s, dir) => {
      // token-budget-weighted corpus mix (n_chars as the token proxy):
      // 50/25/25 across en/de/fr — weights chosen binary-exact so the
      // driver-side normalization replays bit-identically in DuckDB
      operators.Curation.mixByWeight(T(s, dir, "documents"), "lang",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25), "n_chars", "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_unimax" -> ((s, dir) => {
      // UniMax epoch-capped mixing (Chung et al. 2023): budget = 4x the
      // corpus weight, cap 6 epochs — small languages saturate at the
      // cap, the rest split the leftover equally; allocation is pure
      // integer water-filling, so the oracle replays it exactly
      val d = T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      val total = d.filter(col("lang").isNotNull)
        .agg(sum(col("n_chars").cast("long"))).head().getLong(0)
      operators.Curation.unimaxMix(d, "lang", "n_chars", "doc_id",
          budget = 4L * total, maxEpochs = 6)
        .orderBy(col("doc_id"), col("epoch"))
    }),

    "q_bm25" -> ((s, dir) => {
      // Okapi BM25 top-k against a fixed probe-term set: two corpus
      // scans (integer stats -> literal-embedded scoring projection),
      // no shuffle, TakeOrdered(k); per-term scores quantized to 1e-8
      // fixed-point longs before the per-doc sum (the scoreNll parity
      // contract), so the oracle replays every double op 1:1
      operators.Retrieval.bm25TopK(T(s, dir, "documents"), "text", "doc_id",
        terms = Seq("spark", "vector", "merge"), k = 25)
    }),

    "q_inverted_bm25" -> ((s, dir) => {
      // full inverted-index lifecycle: build the bucket-partitioned
      // postings/termdf/stats layout, then probe 3 terms reading only
      // their buckets (file-listing pruning, the IVF cell contract);
      // scores are bit-identical to the q_bm25 scan path, minus the
      // docs no probe term touches (absent, not scored 0)
      val idx = java.nio.file.Files.createTempDirectory("graft_inv_").toString + "/index"
      operators.Retrieval.buildInvertedIndex(T(s, dir, "documents"), "text", "doc_id", idx)
      operators.Retrieval.bm25TopKIndexed(s, idx,
        Seq("spark", "vector", "merge"), k = 25)
    }),

    "q_rrf_hybrid" -> ((s, dir) => {
      // hybrid retrieval: BM25 lexical top-50 fused with embedding-
      // cosine top-50 over the shared doc/vec id space via PURE-INTEGER
      // reciprocal-rank fusion (sum of 10^12 div (60+rank)) — the
      // expensive work stays in the two retrievers; fusion touches
      // 2x50 rows
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      val lex = operators.Retrieval.rankTopK(
        operators.Retrieval.bm25Scores(T(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "vector", "merge")),
        "doc_id", "score_fp", k = 50)
      val sem = operators.Retrieval.rankTopK(
        Similarity.bruteForceTopK(emb, "embedding", "vec_id", qv, k = 50)
          .withColumnRenamed("vec_id", "doc_id"),
        "doc_id", "score", k = 50)
      operators.Retrieval.rrfFuse(Seq(lex, sem), "doc_id", topK = 20)
    }),

    "q_tfidf" -> ((s, dir) => {
      // smoothed TF-IDF keyword extraction (sklearn form): top-5 terms
      // per document, hapaxes dropped (minDf = 2); tf/df/N integer
      // aggregates, idf computed in-plan, scores 1e-8 fixed-point; the
      // per-doc window partitions by document (groups bounded by doc
      // length, never corpus-sized)
      operators.Retrieval.tfidfTopK(T(s, dir, "documents"), "text", "doc_id",
          k = 5, minDf = 2)
        .orderBy(col("doc_id"), col("rank"))
    }),

    "q_pmi" -> ((s, dir) => {
      // PMI collocations (Church & Hanks): corpus top-30 adjacent
      // bigrams by ln(N*c_xy/(c_x*c_y)), pairs under 5 occurrences
      // dropped; log-domain scoring (no count products to overflow),
      // one tokenize scan feeding both count families, TakeOrdered tail
      operators.Retrieval.pmiCollocations(T(s, dir, "documents"), "text",
        k = 30, minCount = 5)
    }),

    "q_profile" -> ((s, dir) => {
      // one-scan column profiling (ANALYZE analog) in exact-NDV
      // verification mode; the scale default swaps countDistinct for
      // the mergeable HLL sketch (same single scan, no Expand)
      operators.Profile.profileColumns(T(s, dir, "lineitem"),
          Seq("l_orderkey", "l_suppkey", "l_returnflag", "l_linestatus"),
          exactNdv = true)
        .orderBy(col("col_name"))
    }),

    "q_html_strip" -> ((s, dir) => {
      // HTML -> text extraction parity at corpus scale: each document
      // is wrapped in a deterministic HTML shell (script/style/comment
      // subtrees, tags, the six named entities) IN-PLAN from its own
      // fields, then stripped; the oracle builds the identical shell
      // and replays the identical Java-cap-RE2 regex chain
      val html = concat(
        lit("<html><head><title>doc</title><style>p { color: #000; }</style></head><body><h1>"),
        col("source"),
        lit("</h1><!-- doc "), col("doc_id").cast("string"), lit(" --><p>"),
        coalesce(col("text"), lit("")),
        lit("</p><script type=\"text/javascript\">var x = 1 && 2;</script>" +
          "<div>tail &amp; &lt;raw&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.stripHtml(html).as("clean"))
        .orderBy(col("doc_id"))
    }),

    "q_percentiles" -> ((s, dir) => {
      // per-type PERCENTILE_DISC summary (selected elements, never
      // interpolated arithmetic) in exact verification mode; the scale
      // default is the mergeable percentile_approx sketch, identical
      // in its exact regime (spec-pinned)
      operators.Profile.percentiles(T(s, dir, "events"), Seq("event_type"), "value",
          ps = Seq(0.5, 0.9, 0.99), exact = true)
        .orderBy(col("event_type"))
    }),

    "q_gapfill" -> ((s, dir) => {
      // time-series regularization: hourly per-user grid from each
      // user's first to last observed hour, silent hours emitted as
      // zero-event rows, value forward-filled; grid rows come from a
      // row-local sequence explode (no calendar cross join), the fill
      // window is per-entity bounded
      operators.TimeSeries.gapFill(T(s, dir, "events"), "user_id", "ts", "value",
          stepSeconds = 3600)
        .orderBy(col("user_id"), col("bucket"))
    }),

    "q_bloom_join" -> ((s, dir) => {
      // explicit bloom-filter join pre-filter: lineitem (probe) rows
      // are might-contain tested against the NATION_3 suppliers' key
      // set AT THE SCAN, before any exchange; bloom false positives die
      // in the exact join, so the oracle is the plain join
      val sup = T(s, dir, "supplier")
        .join(T(s, dir, "nation").filter(col("n_name") === "NATION_3"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"))
      operators.BloomJoin.join(T(s, dir, "lineitem"), "l_suppkey", sup, "s_suppkey")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy(col("l_suppkey"))
    }),

    "q_fuzzy_join" -> ((s, dir) => {
      // blocked edit-distance record linkage over the part catalog:
      // first/last-token blocking -> capped in-bucket pair explode (no
      // self-join, no cross product) -> levenshtein verify on candidates
      // only. The oracle mirrors the 2000 block cap per blocker, so the
      // contract holds at ANY sf: sf0.01 blocks (max 269) pair
      // exhaustively; sf0.1's degenerate 8-name-buckets catalog (every
      // block ~2500) drops every block in BOTH engines — exactly the
      // documented near-identical-content case exact dedup owns
      operators.FuzzyJoin.blockedSelfJoin(T(s, dir, "part"), "p_name", "p_partkey",
          maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_rfm" -> ((s, dir) => {
      // RFM feature engineering: per-customer rollup, exact quintile
      // boundaries via rank selection (sketch mode at scale), codegen'd
      // comparison-chain bucketing — no ntile, whose global window is a
      // single-task sort over every customer
      operators.Analytics.rfm(T(s, dir, "orders"), "o_custkey", "o_orderdate",
          "o_totalprice", asOfDate = "2001-12-31", exact = true)
        .orderBy(col("o_custkey"))
    }),

    "q_event_funnel" -> ((s, dir) => {
      // ordered conversion funnel: earliest-completion semantics per
      // user, chained co-partitioned joins (one typed scan per stage,
      // one row per surviving user), never a per-user event gather
      operators.Analytics.funnelSteps(T(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "signup", "purchase"))
        .orderBy(col("step_idx"))
    }),

    "q_fuzzy_canon" -> ((s, dir) => {
      // entity resolution: fuzzy pairs -> star-contraction components
      // (bounded driver finish) -> min-id canonical mapping; unmatched
      // parts canonicalize to themselves. The oracle rebuilds the pair
      // graph and resolves it with a recursive-CTE transitive closure
      operators.FuzzyJoin.canonicalize(T(s, dir, "part"), "p_name", "p_partkey",
          maxDist = 1)
        .orderBy(col("id"))
    }),

    "q_cap_group" -> ((s, dir) => {
      // per-source cardinality cap (the per-domain cap of web curation
      // recipes) — lowest-id winners via the mergeable bottom-k heap,
      // never a per-group window; the oracle IS that window form
      operators.Curation.capPerGroup(T(s, dir, "documents"), Seq("source"), "doc_id", maxN = 10)
        .select(col("doc_id"), col("source"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_sample_group" -> ((s, dir) => {
      // deterministic per-language sample via the mergeable bottom-k-by-
      // hash aggregate — map tasks reduce to k pairs before the shuffle,
      // no group is sorted (the oracle replays it as a window, which IS
      // the sorted formulation this aggregate exists to avoid at scale)
      operators.Curation.sampleGroups(T(s, dir, "documents"), Seq("lang"), "doc_id", k = 8)
        .select(col("lang"), posexplode(col("sample_ids")).as(Seq("rank", "doc_id")))
        .orderBy(col("lang"), col("rank"))
    }),

    "q_chunk" -> ((s, dir) => {
      // context-length chunking with overlap (64-token windows, stride
      // 56) — row-local, shuffle-free; oracled against DuckDB slices
      operators.Curation.chunkDocuments(T(s, dir, "documents"),
          "text", "doc_id", chunkTokens = 64, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_zorder" -> ((s, dir) => {
      // Z-order clustered write + read-back: the oracle proves the
      // layout pass is LOSSLESS (same rows); the 2-D pruning evidence
      // (a box filter touches >=4x fewer files than an unclustered
      // write) is asserted in LayoutSpec.
      val ev = T(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val out = java.nio.file.Files.createTempDirectory("graft_zorder").toString
      operators.Layout.zorderWrite(ev, out, Seq("user_id", "value"), numFiles = 8)
      s.read.parquet(out)
        .filter(col("user_id") % 10 === 0)
        .orderBy(col("event_id"))
    }),

    "q_dedup_incr" -> ((s, dir) => {
      // incremental exact dedup: a delta ticks against the corpus's
      // 8-byte fingerprint index — corpus text is never read. Delta =
      // held-out docs + exact copies of corpus docs (cross-dups) +
      // second copies of the held-outs (internal dups).
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text"))
        .union(docs.filter(col("doc_id") % 10 === 1)
          .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        .union(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      Dedup.exactAgainst(delta, "text", "doc_id",
          Dedup.fingerprintIndex(corpus, "text"))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_emb_incr" -> ((s, dir) => {
      // incremental EMBEDDING dedup tick: a delta probes the corpus's
      // persisted hyperplane-bucket index; kept ids are exact-oracle-able
      // even though buckets aren't replayable, because the verified
      // output is bucket-INDEPENDENT here: scaled copies (the only
      // cos >= 0.999 pairs — organic max in this table is ~0.6) share
      // their original's bucket by construction (positive scaling
      // preserves every projection sign), and everything else fails the
      // cosine verify regardless of bucketing. The oracle replays the
      // dedup SEMANTICS (cosine joins + greedy min-id), not the
      // expected answer.
      val e = T(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") % 5 =!= 0).select(col("vec_id"), col("embedding"))
      val delta = e.filter(col("vec_id") % 5 === 0).select(col("vec_id"), col("embedding"))
        .union(e.filter(col("vec_id") % 10 === 1)
          .select((col("vec_id") + 1000000).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.001f)).as("embedding")))
        .union(e.filter(col("vec_id") % 5 === 0)
          .select((col("vec_id") + 2000000).as("vec_id"),
            transform(col("embedding"), x => x * lit(1.002f)).as("embedding")))
      Dedup.embeddingDedupAgainst(delta, "embedding", "vec_id",
          Dedup.embeddingIndex(corpus, "embedding", "vec_id", dim = 64),
          dim = 64, threshold = 0.999)
        .select(col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    "q_line_dedup" -> ((s, dir) => {
      // CCNet cross-corpus line dedup. The synthetic docs are single-line,
      // so compose 3-line docs with shared boilerplate (the exact target
      // of line dedup); even ids add a second shared boilerplate line,
      // odd ids repeat their own text (a within-doc duplicate).
      val src = T(s, dir, "documents").select(col("doc_id"),
        concat_ws("\n",
          lit("Copyright 2024 Example Corp. All rights reserved."),
          col("text"),
          when(col("doc_id") % 2 === 0,
            lit("Subscribe to our newsletter for updates!"))
            .otherwise(col("text"))).as("text"))
      Dedup.lineDedup(src, "text", "doc_id")
        .orderBy(col("doc_id"))
    }),

    "q_span_scrub" -> ((s, dir) => {
      // corpus-wide exact duplicated-SUBSTRING scrub (Lee et al.): a
      // 16-word license canary is appended to every doc_id % 3 == 0 doc;
      // its interior 8-gram windows are corpus-duplicated, so the
      // lowest such doc keeps the canary and every other loses exactly
      // those 16 tokens (boundary grams differ per doc and stay).
      // Organic duplicated 8-grams count too — both engines see the
      // identical occurrence set.
      val canary = " redistribution and use in source and binary forms" +
        " with or without modification are permitted provided that"
      val d = T(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(col("text"), lit(canary)))
          .otherwise(col("text")).as("text"))
      Dedup.duplicateSpanScrub(d, "text", "doc_id", n = 8)
        .orderBy(col("doc_id"))
    }),

    "q_contamination" -> ((s, dir) => {
      // benchmark-contamination: corpus docs vs a held-out "eval" split
      // (doc_id % 20 == 0), word-5-gram overlap. A canary eval sentence
      // is injected on BOTH sides deterministically so the metric
      // provably fires; organic cross-doc overlap counts too.
      val docs = T(s, dir, "documents")
      val canary = " the quick brown fox jumps over the lazy dog"
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(when(col("doc_id") % 100 === 0, concat(col("text"), lit(canary)))
          .otherwise(col("text")).as("text"))
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(canary)))
            .otherwise(col("text")).as("text"))
      operators.Curation.contamination(corpus, bench, "text", "doc_id", n = 5)
        .orderBy(col("doc_id"))
    }),

    "q_contamination_attr" -> ((s, dir) => {
      // reverse attribution over the SAME fixture as q_contamination:
      // per benchmark item, how many of its 5-grams leak and how many
      // distinct corpus docs carry them (the blast radius)
      val docs = T(s, dir, "documents")
      val canary = " the quick brown fox jumps over the lazy dog"
      val bench = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("bench_id"),
          when(col("doc_id") % 100 === 0, concat(col("text"), lit(canary)))
            .otherwise(col("text")).as("text"))
      val corpus = docs.filter(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(canary)))
            .otherwise(col("text")).as("text"))
      operators.Curation.contaminationAttribution(corpus, bench, "text",
          "doc_id", "bench_id", n = 5)
        .orderBy(col("bench_id"))
    }),

    "q_pii_scrub" -> ((s, dir) => {
      // documents carry no real PII, so inject deterministic synthetic
      // PII per row, then prove the rule chain strips it; counts are
      // per-rule matches against the pre-redaction text
      val rules = TextFunctions.defaultPiiRules
      val dirty = concat(col("text"),
        lit(" Contact user"), col("doc_id").cast("string"),
        lit("@example.com or call (555) 123-4567 from 10.0.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit("."))
      T(s, dir, "documents")
        .select(col("doc_id"), dirty.as("dirty"))
        .select(col("doc_id"),
          TextFunctions.redactPii(col("dirty"), rules).as("clean"),
          TextFunctions.piiCount(col("dirty"), rules(0)).as("n_emails"),
          TextFunctions.piiCount(col("dirty"), rules(1)).as("n_ips"),
          TextFunctions.piiCount(col("dirty"), rules(2)).as("n_phones"))
        .orderBy(col("doc_id"))
    }),

    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition filters: ONE native profile pass per doc
      // (subexpression elimination collapses the repeated field reads);
      // the oracle recomputes every statistic — dup lines, top-{2,3}-gram
      // coverage, duplicated-5-gram union coverage — in DuckDB list SQL
      val p = TextFunctions.repetitionProfile(col("text"), topNs = Seq(2, 3), dupNs = Seq(5))
      def frac(num: Column, den: Column): Column =
        when(den === 0L, lit(0.0)).otherwise(round(num.cast("double") / den, 6))
      T(s, dir, "documents")
        .select(col("doc_id"), p.as("p"))
        .select(col("doc_id"),
          col("p.lines").as("n_lines"),
          col("p.words").as("n_words"),
          frac(col("p.dup_lines"), col("p.lines")).as("dup_line_frac"),
          frac(col("p.dup_line_chars"), col("p.line_chars")).as("dup_line_char_frac"),
          frac(col("p.top_chars").getItem(0), col("p.word_chars")).as("top2_frac"),
          frac(col("p.top_chars").getItem(1), col("p.word_chars")).as("top3_frac"),
          frac(col("p.dup_chars").getItem(0), col("p.word_chars")).as("dup5_frac"))
        .orderBy(col("doc_id"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      // native codegen'd RollingHash over a PINNED fixture; the oracle is
      // golden literal rows (q_schema_infer style) — the hash is
      // deterministic byte math, so the exact 64-bit values pin it
      // across JVMs, partitionings, and plan changes. Rows 1/2 differ
      // only in case+whitespace and MUST collide (normalization).
      import s.implicits._
      Seq((1L, "Hello   World"), (2L, "hello world"), (3L, "hello worlds"),
          (4L, ""), (5L, "  Tabs\tand  Spaces  "))
        .toDF("doc_id", "text")
        .select(col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    "q_normalize" -> ((s, dir) => {
      // Unicode canonicalization over a PINNED fixture (the synthetic
      // docs are ASCII): NFC + strip_accents, oracled against DuckDB's
      // utf8proc-backed nfc_normalize/strip_accents on identical bytes
      import s.implicits._
      Seq((1L, "cafe\u0301 nai\u0308ve"),     // decomposed forms
          (2L, "caf\u00e9 na\u00efve"),         // composed forms
          (3L, "\u00c5ngstr\u00f6m \u00f1 \u00fc \u00e8"), (4L, ""),
          (5L, "plain ascii text"))
        .toDF("doc_id", "text")
        .select(col("doc_id"),
          TextFunctions.nfcNormalize(col("text")).as("nfc"),
          TextFunctions.stripAccents(col("text")).as("stripped"))
        .orderBy(col("doc_id"))
    }),

    "q_sanitize" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.sanitizeUtf8(col("text")).as("clean_text"),
          (length(col("text")) - length(TextFunctions.sanitizeUtf8(col("text")))).as("len_delta"))
        .orderBy(col("doc_id"))
    }),

    "q_url_normalize" -> ((s, dir) => {
      // URL canonicalization + registered domain over PLANTED urls built
      // from document fields (mixed case, default port, utm params, a
      // look-alike `xfbclid` param that must SURVIVE, a modular empty
      // path, a modular fragment) — the oracle states the expected
      // output BY CONSTRUCTION, independently of the regex chain under test
      val url = concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM:443"),
        when(pmod(col("doc_id"), lit(5)) === 0, lit(""))
          .otherwise(concat(lit("/docs/"), col("doc_id"))),
        lit("?utm_source=feed&ref="), col("lang"), lit("&xfbclid=1&utm_campaign=x"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("#frag")).otherwise(lit("")))
      T(s, dir, "documents")
        .select(col("doc_id"),
          TextFunctions.urlNormalize(url).as("url_norm"),
          TextFunctions.urlRegisteredDomain(url).as("domain"))
        .orderBy(col("doc_id"))
    }),

    // ---- schema inference (oracle = golden literal rows pinning the
    // value→type lattice: BigDecimal narrows to double, all-null stays
    // the NullType sentinel, unseen columns append) ----
    "q_schema_infer" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val rows: Seq[Map[String, Any]] = Seq(
        Map("id" -> 1L, "name" -> "a", "score" -> BigDecimal(1.5), "flag" -> true, "note" -> null),
        Map("id" -> 2L, "name" -> "b", "score" -> 2.0, "extra_col" -> 7L, "note" -> null))
      val inferred = SchemaInfer.infer(rows)
      val out = inferred.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
      s.createDataFrame(out.map(t => org.apache.spark.sql.Row(t._1, t._2)).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("col_name", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("inferred_type", org.apache.spark.sql.types.StringType))))
        .orderBy(col("col_name"))
    }),

    // ---- temporal joins (operators Spark lacks, shuffle-once shapes) ----
    "q_asof_join" -> ((s, dir) => {
      // attribution: each click gains the user's latest at-or-before
      // purchase (left-outer). Right side pre-aggregated to unique
      // (user_id, ts) — the asof contract.
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("purchase_value"))
        .withColumnRenamed("ts", "purchase_ts")
      TemporalJoin.asof(clicks, purchases, Seq("user_id"), "ts", "purchase_ts")
        .orderBy(col("event_id"))
    }),

    "q_range_join" -> ((s, dir) => {
      // overlapping promo windows (week start + 10 days) matched to the
      // clicks they contain — bucketed equi-join, never a nested loop
      val ev = T(s, dir, "events")
      val promos = ev.filter(col("event_type") === "purchase")
        .select(date_trunc("week", col("ts")).as("pstart")).distinct()
        .withColumn("pend", col("pstart") + expr("INTERVAL '10' DAY"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("ts"))
      TemporalJoin.pointInInterval(clicks, promos, "ts", "pstart", "pend",
          bucketSeconds = 7L * 86400)
        .select(col("event_id"), col("ts"), col("pstart"), col("pend"))
        .orderBy(col("event_id"), col("pstart"))
    }),

    // ---- corpus shaping (deterministic forms — exact SQL oracles) ----
    "q_stratified_sample" -> ((s, dir) =>
      Curation.stratifiedExact(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
          Seq("lang"), 0.2, "doc_id")
        .orderBy(col("doc_id"))),

    "q_pack_sequences" -> ((s, dir) =>
      Curation.packSequences(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", 16384L, Seq("lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bin"))
        .orderBy(col("doc_id"))),

    "q_pack_strict" -> ((s, dir) =>
      // strict next-fit bins (never exceed the budget — the
      // context-window contract); the oracle replays the sequential
      // state machine as a per-group LOCK-STEP recursive CTE (one row
      // per group per iteration, rn-joined), exact on the real table
      Curation.packSequencesStrict(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", 16384L, Seq("lang"), "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("bin"))
        .orderBy(col("doc_id"))),

    "q_assemble" -> ((s, dir) => {
      // trainer-batch assembly end to end: whitespace tokens -> global
      // frequency-ranked vocab ids (rank window runs over the VOCAB,
      // not the corpus) -> strict next-fit pack per lang on token
      // counts -> per-bin flat id stream with -1 document separators +
      // doc-boundary metadata. The last mile from documents to the id
      // arrays a training loop memory-maps, all under the oracle.
      val d = T(s, dir, "documents")
      val toks = d
        .select(col("doc_id"), col("lang"),
          TextFunctions.normalizeForFingerprint(col("text")).as("_nt"))
        .filter(length(col("_nt")) > 0)
        .select(col("doc_id"), col("lang"), split(col("_nt"), " ").as("_w"))
      val ranked = toks.select(explode(col("_w")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("_cnt"))
        .select(col("token"),
          (row_number().over(Window.orderBy(col("_cnt").desc, col("token"))) - 1)
            .cast("long").as("_tid"))
      val ids = toks
        .select(col("doc_id"), col("lang"), posexplode(col("_w")).as(Seq("_pos", "token")))
        .join(ranked, Seq("token"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(transform(array_sort(collect_list(struct(col("_pos"), col("_tid")))),
          x => x.getField("_tid")).as("token_ids"))
        .withColumn("n_tokens", size(col("token_ids")).cast("long"))
      val packed = Curation.packSequencesStrict(ids, "n_tokens", 8192L, Seq("lang"), "doc_id")
      // driver-facing frame renders the id/metadata lists as canonical
      // strings (the driver's pandas sorter cannot order list<int64>);
      // the array-valued API stays on assembleSequences for trainers
      def joined(c: String) =
        concat_ws(" ", transform(col(c), x => x.cast("string"))).as(c)
      Curation.assembleSequences(packed, "token_ids", "doc_id", Seq("lang"), sepId = Some(-1L))
        .select(col("lang"), col("bin"), joined("doc_ids"), joined("input_ids"),
          joined("segment_ids"), joined("position_ids"), col("n_tokens"))
        .orderBy(col("lang"), col("bin"))
    }),

    // ---- the flagship pipeline, end-to-end under the oracle ----
    "q_pipeline_funnel" -> ((s, dir) => {
      // TrainingDataPipeline.funnel as ONE oracled query: profile
      // (quality + langid + token count) → filter → LM perplexity gate →
      // scrub (PII redact + Gopher repetition) → exact dedup →
      // near-dedup → decontaminate →
      // mix → split → chunk → pack, every stage in its deterministic,
      // externally-replayable configuration: nearDedup = replayable
      // md5-MinHash LSH + exact verify + connected components (the
      // q_cluster_split pair replay — scale-safe since r15),
      // mixWeights = binary-exact explicit weights (the q_mix_weighted
      // replay), benchmark = the doc_id % 13 slice of the corpus
      // written to a real benchmark dir (the q_contamination replay at
      // n = 8). Output = the final packed-chunk set minus chunk_text —
      // one row per surviving chunk pins every stage's survivor set AND
      // the pack-bin arithmetic.
      val root = java.nio.file.Files.createTempDirectory("graft_funnel_").toString
      val benchDir = root + "/bench"
      val workDir = root + "/work"
      val docs = T(s, dir, "documents")
      new ParquetConnector(s, benchDir).write(
        docs.filter(col("doc_id") % 13 === 0).select(col("doc_id"), col("text")),
        "documents")
      val plan = new plans.Plan(s, plans.PlanConfig(
        pidDir = java.nio.file.Files.createTempDirectory("graft_funnel_pid_").toString))
      pipelines.TrainingDataPipeline.build(plan, dir, workDir,
        minQuality = 0.75, langs = Seq("en", "de", "fr", "es"),
        minhashThreshold = 0.7, benchDir = Some(benchDir),
        maxContamination = 0.05,
        // test-scale chunk/pack sizes: sf docs run 25-60 words, so the
        // production 128/2048 would yield one chunk per doc and a single
        // bin per group — these make multi-chunk docs and multi-bin
        // packing actually occur and be oracle-checked
        chunkTokens = 16, chunkOverlap = 4, packBudget = 32L,
        nearDedup = "jaccard",
        mixWeights = Some(Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "es" -> 0.125)),
        langCol = "lang",
        // r11: the CCNet perplexity gate runs INSIDE the oracled funnel —
        // LM trained on the quality-filtered en slice, cap 3.45 drops a
        // real fraction at sf0.01 AND sf0.1 (scores are 4-decimal-rounded
        // on both engines, so the boundary comparison is exact)
        maxAvgNll = Some(3.45))
      plan.run()
      new ParquetConnector(s, workDir).read("docs_packed")
        .select(col("doc_id"), col("chunk_idx"), col("lang"), col("split"),
          col("pack_shard"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_funnel_bpe" -> ((s, dir) => {
      // the funnel under TRAINED-tokenizer accounting (r11 ask #3):
      // same deterministic profile → filter → scrub → dedup → mix →
      // split prefix (LM gate and decontamination off — both already
      // oracled inside q_pipeline_funnel), then pack on REAL BPE token
      // counts: a 12-merge vocabulary trains on the quality-filtered
      // en slice, every surviving word segments through the trained
      // dict, and chunk/pack budgets count subwords
      // (Bpe.tokenBudgetChunks). The oracle replays EVERYTHING
      // including the training: 12 unrolled argmax+fold rounds over
      // the word-frequency dict — sep-joined symbol strings, where
      // sequential string replace IS the leftmost-greedy merge fold.
      val root = java.nio.file.Files.createTempDirectory("graft_funnel_bpe_").toString
      val workDir = root + "/work"
      val plan = new plans.Plan(s, plans.PlanConfig(
        pidDir = java.nio.file.Files.createTempDirectory("graft_funnel_bpe_pid_").toString))
      pipelines.TrainingDataPipeline.build(plan, dir, workDir,
        minQuality = 0.75, langs = Seq("en", "de", "fr", "es"),
        minhashThreshold = 0.7,
        chunkTokens = 16, chunkOverlap = 0, packBudget = 32L,
        nearDedup = "jaccard",
        mixWeights = Some(Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.125, "es" -> 0.125)),
        langCol = "lang",
        tokenizer = "bpe", bpeMerges = 12, bpeMinPairFreq = 2L)
      plan.run()
      new ParquetConnector(s, workDir).read("docs_packed")
        .select(col("doc_id"), col("chunk_idx"), col("lang"), col("split"),
          col("pack_shard"), col("n_tokens"), col("bin"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    "q_skew_profile" -> ((s, dir) => {
      // join-key skew diagnostics: per-key counts (map-side combined),
      // TakeOrdered top-20, fixed-point share and max/avg ratio — the
      // audit run before sizing a salted join or trusting a shuffle
      operators.Diagnostics.keySkewProfile(T(s, dir, "events"), Seq("user_id"), topN = 20)
        .orderBy(col("rank"))
    }),

    "q_ewma" -> ((s, dir) =>
      // per-user exponential smoothing: the literal recursion evaluated
      // as one sharded sequential fold (never the closed-form power
      // sum); the oracle replays the same left fold via list_reduce
      // over each user's ordered prefix — bit-equal doubles
      operators.TimeSeries.ewma(
          T(s, dir, "events").select(col("user_id"), col("event_id"), col("value")),
          "user_id", "event_id", "value", alpha = 0.3)
        .orderBy(col("event_id"))),

    "q_cusum" -> ((s, dir) =>
      // drift detection: one-sided CUSUM in 1e-6 fixed-point — the
      // whole fold is integer arithmetic, exact on any engine/partitioning
      operators.TimeSeries.cusum(
          T(s, dir, "events").select(col("user_id"), col("event_id"), col("value")),
          "user_id", "event_id", "value", target = 50.0, slack = 10.0,
          threshold = 200.0)
        .orderBy(col("event_id"))),

    "q_holt" -> ((s, dir) =>
      // trend-aware forecasting: Holt level+trend recursion, again the
      // LITERAL fold; α=0.5 γ=0.25 are exact doubles so 1−α/1−γ are too,
      // and DuckDB's struct-list fold reproduces every double bit-for-bit
      operators.TimeSeries.holt(
          T(s, dir, "events").select(col("user_id"), col("event_id"), col("value")),
          "user_id", "event_id", "value", alpha = 0.5, gamma = 0.25)
        .orderBy(col("event_id"))),

    "q_bootstrap_ci" -> ((s, dir) =>
      // uncertainty at scale: Poisson bootstrap of mean(n_chars) — a
      // seeded weight per (row, replica), integer replica means,
      // rank-selected CI band; no doubles anywhere
      operators.Analytics.bootstrapMeanCI(T(s, dir, "documents"),
          "n_chars", "doc_id", replicas = 50, seed = 999L)),

    "q_winsorize" -> ((s, dir) =>
      // tail taming: clamp value into its event_type's [p5, p95]
      // rank-selected band — actual data values as clamp edges
      operators.Profile.winsorize(
          T(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "value", loP = 0.05, hiP = 0.95, exact = true)
        .select(col("event_id"), col("event_type"), col("value"),
          col("lo"), col("hi"), col("value_w"))
        .orderBy(col("event_id"))),

    "q_welch_t" -> ((s, dir) =>
      // continuous-metric experiment readout: Welch's unequal-variance
      // t from DECIMAL-exact moment sums, pinned doubles at the end
      operators.Analytics.welchT(
          T(s, dir, "events").select(col("event_type").as("experiment"),
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("control"))
              .otherwise(lit("treatment")).as("variant"),
            col("value")),
          "experiment", "variant", "value", scale = 6)
        .orderBy(col("experiment"))),

    "q_power_mde" -> ((s, dir) =>
      // pre-registration power check on the same experiment frame as
      // q_welch_t: minimum detectable effect from the DECIMAL-exact
      // moment sums, quantiles as literals, pinned doubles at the end
      operators.Analytics.powerAnalysis(
          T(s, dir, "events").select(col("event_type").as("experiment"),
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("control"))
              .otherwise(lit("treatment")).as("variant"),
            col("value")),
          "experiment", "variant", "value")
        .orderBy(col("experiment"))),

    "q_ks_drift" -> ((s, dir) =>
      // two-sample Kolmogorov-Smirnov drift gate per event_type (even-
      // vs odd-user traffic on value): the ECDF argmax runs on exact
      // integers over the quantized distinct-value table; D, the c(α)
      // threshold, and the drift flag are pinned doubles
      operators.Analytics.ksTest(
          T(s, dir, "events").withColumn("side",
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("even"))
              .otherwise(lit("odd"))),
          "event_type", "side", "value", "even", "odd")
        .orderBy(col("event_type"))),

    "q_embedding_drift" -> ((s, dir) => {
      // the vector-space leg of the snapshot diff: release B re-embeds
      // with a planted encoder shift (+0.5 on dims 0-2, in double
      // space), and the per-dim mean/sd decomposition localizes it —
      // exact per-dim DECIMAL moments, pinned double means/sd/z
      val e = T(s, dir, "embeddings")
      val relA = e.filter(pmod(col("vec_id"), lit(3L)) =!= 0).select(col("embedding"))
      val relB = e.filter(pmod(col("vec_id"), lit(3L)) =!= 1)
        .select(transform(col("embedding"), (v, i) =>
          when(i < 3, v.cast("double") + lit(0.5))
            .otherwise(v.cast("double"))).as("embedding"))
      operators.Similarity.embeddingDrift(relA, relB, "embedding")
        .orderBy(col("dim"))
    }),

    "q_snapshot_drift" -> ((s, dir) => {
      // the pipeline snapshot_diff step's KS half, batch form: release
      // A = doc_id % 3 <> 0 of the corpus as-is; release B =
      // doc_id % 3 <> 1 re-ingested under a REGRESSED extraction
      // recipe that truncates every document to a 150-char preview —
      // the n_chars / n_tokens marginals pile up at the cap and the
      // per-feature KS verdict trips (drifted = true is exercised, not
      // just the quiet case); integer ECDF argmax per feature, pinned
      // double D / threshold
      def toks(c: Column) = size(filter(split(
        TextFunctions.normalizeForFingerprint(coalesce(c, lit(""))), " "),
        t => length(t) > 0)).cast("long")
      val d = T(s, dir, "documents")
      val relA = d.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
        .select(col("n_chars"), toks(col("text")).as("n_tokens"))
      val cleaned = substring(coalesce(col("text"), lit("")), 1, 150)
      val relB = d.filter(pmod(col("doc_id"), lit(3L)) =!= 1)
        .select(length(cleaned).cast("long").as("n_chars"),
          toks(cleaned).as("n_tokens"))
      operators.Analytics.snapshotKs(relA, relB, Seq("n_chars", "n_tokens"))
        .orderBy(col("feature"))
    }),

    "q_mann_whitney" -> ((s, dir) =>
      // nonparametric A/B readout per event_type: tie-averaged rank sum
      // in exact doubled integers (u2_a = 2·U), tie-corrected normal z
      // as one pinned double sequence
      operators.Analytics.mannWhitneyU(
          T(s, dir, "events").withColumn("side",
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("even"))
              .otherwise(lit("odd"))),
          "event_type", "side", "value", "even", "odd")
        .orderBy(col("event_type"))),

    "q_wilcoxon" -> ((s, dir) =>
      // paired before/after readout per event_type: each user's exact
      // pre-quantized value sums on even vs odd event ids form the
      // pair; zeros drop, signed tie-averaged ranks over the
      // distinct-|d| table, pinned normal z
      operators.Analytics.wilcoxonSignedRank(
          T(s, dir, "events").filter(col("user_id").isNotNull && col("value").isNotNull)
            .groupBy(col("event_type"), col("user_id"))
            .agg(
              (sum(when(pmod(col("event_id"), lit(2L)) === 0,
                floor(col("value") * lit(1e6)).cast("long"))).cast("double") /
                lit(1e6)).as("x"),
              (sum(when(pmod(col("event_id"), lit(2L)) === 1,
                floor(col("value") * lit(1e6)).cast("long"))).cast("double") /
                lit(1e6)).as("y")),
          "event_type", "x", "y")
        .orderBy(col("event_type"))),

    "q_pii_audit" -> ((s, dir) => {
      // pre-scrub exposure audit: per source, match totals and
      // affected-doc counts per PII rule — the numbers a privacy review
      // asks for BEFORE q_pii_scrub's redaction ships; pure codegen'd
      // regex counting at scan speed, one aggregate. The synthetic
      // corpus is PII-free, so every 11th doc gets a planted contact
      // line (two emails, a phone, an IP) — the oracle checks NONZERO
      // counts, not just the quiet case
      val t = when(pmod(col("doc_id"), lit(11L)) === 0,
        concat(coalesce(col("text"), lit("")),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com cc audit@example.com call 555-123-4567 from 10.0.0.1")))
        .otherwise(coalesce(col("text"), lit("")))
      val rules = TextFunctions.defaultPiiRules
      val counted = T(s, dir, "documents").select(Seq(col("source")) ++
        rules.map(r => TextFunctions.piiCount(t, r).cast("long").as(s"_${r.name}")): _*)
      val aggs = count(lit(1)).as("n_docs") +: rules.flatMap(r => Seq(
        sum(col(s"_${r.name}")).as(s"${r.name}_matches"),
        sum(when(col(s"_${r.name}") > 0, 1L).otherwise(0L)).as(s"${r.name}_docs")))
      counted.groupBy(col("source")).agg(aggs.head, aggs.tail: _*)
        .orderBy(col("source"))
    }),

    "q_anova_f" -> ((s, dir) =>
      // k-arm omnibus gate per event_type (arms = user_id mod 4): exact
      // per-arm moments, fixed-point cross-arm term sums, pinned
      // SSB/SSW/F doubles
      operators.Analytics.anovaF(
          T(s, dir, "events").filter(col("user_id").isNotNull)
            .select(col("event_type"),
              pmod(col("user_id"), lit(4L)).cast("string").as("arm"), col("value")),
          "event_type", "arm", "value")
        .orderBy(col("event_type"))),

    "q_cuped" -> ((s, dir) =>
      // CUPED-adjusted experiment readout: pre-period covariate =
      // floor(value/2) + user parity class (deterministic, correlated
      // with the metric), theta/rho2 from pooled DECIMAL moments,
      // per-arm adjusted means as pinned doubles
      operators.Analytics.cuped(
          T(s, dir, "events").filter(col("user_id").isNotNull)
            .select(col("event_type"),
              when(pmod(col("user_id"), lit(2L)) === 0L, lit("control"))
                .otherwise(lit("treatment")).as("variant"),
              col("value"),
              (floor(col("value") / 2.0) + pmod(col("user_id"), lit(7L)))
                .cast("double").as("pre")),
          "event_type", "variant", "value", "pre")
        .orderBy(col("event_type"), col("variant"))),

    "q_ratio_ci" -> ((s, dir) =>
      // delta-method CI for a ratio-of-sums metric (value per event per
      // user): per-user rollups pre-quantized so the double sums are
      // order-independent, then one DECIMAL moment pass per event_type
      operators.Analytics.ratioMetricCI(
          T(s, dir, "events").filter(col("user_id").isNotNull && col("value").isNotNull)
            .groupBy(col("event_type"), col("user_id"))
            .agg((sum(floor(col("value") * lit(1e6)).cast("long")).cast("double") /
              lit(1e6)).as("rev"), count(lit(1)).cast("double").as("cnt")),
          "event_type", "rev", "cnt")
        .orderBy(col("event_type"))),

    "q_spearman" -> ((s, dir) =>
      // monotonic association per event_type between value and a
      // derived engagement proxy: tie-averaged HALF-ranks exact on the
      // NDV-bounded distinct tables, one DECIMAL moment pass, pinned
      // final rho
      operators.Analytics.spearman(
          T(s, dir, "events").filter(col("user_id").isNotNull)
            .select(col("event_type"), col("value"),
              pmod(col("user_id"), lit(97L)).cast("double").as("proxy")),
          "event_type", "value", "proxy")
        .orderBy(col("event_type"))),

    "q_kendall_tau" -> ((s, dir) =>
      // pair-based rank association per event_type between the value
      // band and hour-of-day: concordant/discordant counts off the
      // NDV²-bounded joint distinct-value self-join, exact DECIMAL
      // pair sums, tie terms from the marginals, pinned final τ-b
      operators.Analytics.kendallTau(
          T(s, dir, "events").filter(col("value").isNotNull && col("ts").isNotNull)
            .select(col("event_type"),
              (col("value") / lit(10.0)).as("vband"),
              hour(col("ts")).cast("double").as("hr")),
          "event_type", "vband", "hr", scale = 0)
        .orderBy(col("event_type"))),

    "q_permutation" -> ((s, dir) =>
      // assumption-free paired significance on the q_wilcoxon fixture:
      // per (event_type, user) the exact pre-quantized even-vs-odd
      // value-sum difference; 199 sign-flip replicates whose every
      // sign is the replayable LCG middle bit, exact DECIMAL replicate
      // sums, add-one p
      operators.Analytics.permutationTestPaired(
          T(s, dir, "events").filter(col("user_id").isNotNull && col("value").isNotNull)
            .groupBy(col("event_type"), col("user_id"))
            .agg((coalesce(sum(when(pmod(col("event_id"), lit(2L)) === 0,
              floor(col("value") * lit(1e6)).cast("long"))), lit(0L)) -
              coalesce(sum(when(pmod(col("event_id"), lit(2L)) === 1,
                floor(col("value") * lit(1e6)).cast("long"))), lit(0L))).as("d")),
          "event_type", "user_id", "d", reps = 199)
        .orderBy(col("event_type"))),

    "q_mann_kendall" -> ((s, dir) =>
      // nonparametric trend gate on daily volumes per event_type:
      // S over the bucket²-bounded day-pair join, tie-corrected
      // variance numerator exact, continuity-corrected pinned Z
      operators.TimeSeries.mannKendall(
          T(s, dir, "events").filter(col("ts").isNotNull)
            .groupBy(col("event_type"),
              dayofmonth(col("ts")).cast("long").as("day"))
            .agg(count(lit(1)).as("volume")),
          "event_type", "day", "volume")
        .orderBy(col("event_type"))),

    "q_psi" -> ((s, dir) => {
      // Population Stability Index release gate: month-half vs
      // month-half of the event stream on (value, hour) — reference
      // decile boundaries as exact order statistics, Laplace-smoothed
      // bins, per-bin fixed-point (p−q)ln(p/q) contributions, order-
      // free integer total
      val e = T(s, dir, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("value"), hour(col("ts")).cast("double").as("hr"),
          dayofmonth(col("ts")).as("d"))
      operators.Analytics.psiDrift(
          e.filter(col("d") <= 15).drop("d"), e.filter(col("d") > 15).drop("d"),
          Seq("value", "hr"), bins = 10)
        .orderBy(col("feature"))
    }),

    "q_pca_power" -> ((s, dir) =>
      // top principal component of the embedding corpus by replayable
      // integer power iteration: one exploded-products moment pass
      // (exact DECIMAL d² partials), driver-side BigInt iterates with
      // truncating rescale, Rayleigh-quotient variance — every loading
      // an exact integer the oracle re-derives
      operators.Similarity.pcaPowerComponent(
          T(s, dir, "embeddings"), "embedding", dim = 64, iters = 8,
          scale = 3)
        .orderBy(col("dim"))),

    "q_brier" -> ((s, dir) => {
      // Murphy decomposition of the q_calibration fixture: exact
      // fixed-point Brier numerator, reliability/resolution as ordered
      // folds over the sorted bin terms (never an unordered double sum)
      val prob = (pmod(col("event_id") * lit(2654435761L), lit(4294967296L))
        % lit(1000L)).cast("double") / lit(1000.0)
      operators.Evaluation.brierDecomposition(
          T(s, dir, "events").select(col("event_type"), prob.as("prob"),
            (col("value") > lit(50.0)).as("label")),
          "event_type", "prob", "label", bins = 10)
        .orderBy(col("event_type"))
    }),

    "q_epoch_alloc" -> ((s, dir) =>
      // data-constrained epoch planning over en/de/fr char budgets:
      // binary-exact ½/¼/¼ weights, budget 400k chars, 4-epoch cap —
      // sized so two sources SATURATE at sf0.01 and the single
      // headroom-proportional redistribution pass actually moves
      // tokens; pure integer DIV arithmetic after the driver-side
      // desired = ⌊w·budget⌋
      operators.Curation.epochAllocation(
          T(s, dir, "documents"), "lang", "n_chars",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25),
          budget = 400000L, maxEpochsFp = 4000L)
        .orderBy(col("lang"))),

    "q_gopher_quality" -> ((s, dir) =>
      // the published Gopher structural-quality rules as a per-doc
      // audit table: per-rule flags + the conjunction keep verdict, all
      // integer cross-multiplied ratios over regex/split counts (word
      // bounds lowered to 20 for the synthetic corpus's short docs so
      // both verdicts appear)
      operators.Profile.gopherQualityFlags(
          T(s, dir, "documents"), "doc_id", "text",
          minWords = 20L, maxWords = 100000L)
        .orderBy(col("doc_id"))),

    "q_cliffs_delta" -> ((s, dir) =>
      // ordinal effect size for the q_mann_whitney A/B fixture: exact
      // concordant/discordant pair counts off the cumulative windows,
      // pinned final delta
      operators.Analytics.cliffsDelta(
          T(s, dir, "events").withColumn("side",
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("even"))
              .otherwise(lit("odd"))),
          "event_type", "side", "value", "even", "odd")
        .orderBy(col("event_type"))),

    "q_cramers_v" -> ((s, dir) =>
      // association strength between event type and value band — one
      // observed-grid pass, fixed-point chi2 with the unobserved-cell
      // mass recovered arithmetically, bounded-[0,1] V
      operators.Analytics.cramersV(
        T(s, dir, "events").select(col("event_type"),
          floor(col("value") / 10.0).cast("long").as("band")),
        "event_type", "band")),

    "q_seasonal" -> ((s, dir) =>
      // hour-of-week seasonal anomaly: each point vs the trailing mean
      // of its own slot — long sums over the frame (never a double avg,
      // whose frame-summation order differs per engine), integer gate
      operators.TimeSeries.seasonalBaseline(T(s, dir, "events"),
          "user_id", "ts", "event_id", "value", k = 4)
        .orderBy(col("event_id"))),

    "q_ab_test" -> ((s, dir) =>
      // experiment readout: user-parity variants per event_type,
      // conversion = value > 50 — exact counts, pinned z / lift / Wald CI
      operators.Analytics.abTest(
          T(s, dir, "events").select(col("event_type").as("experiment"),
            when(pmod(col("user_id"), lit(2L)) === 0L, lit("control"))
              .otherwise(lit("treatment")).as("variant"),
            (col("value") > lit(50.0)).as("converted")),
          "experiment", "variant", "converted")
        .orderBy(col("experiment"))),

    "q_time_split" -> ((s, dir) =>
      // sequence-safe train/val: per-user chronological 80/20 — the
      // future never leaks into training; exact integer ceil threshold
      operators.Curation.timeSplit(T(s, dir, "events"),
          "user_id", "ts", "event_id", trainPermille = 800)
        .orderBy(col("event_id"))),

    "q_cdc_apply" -> ((s, dir) =>
      // log compaction: the events stream read as a changelog
      // (pk=user, op=event_type, delete='error') reduced to final
      // state in ONE partial-aggregated max_by pass — never a window
      operators.Changelog.compact(T(s, dir, "events"),
          pkCol = "user_id", tsCol = "ts", tieCol = "event_id",
          opCol = "event_type", deleteOp = "error", payloadCols = Seq("value"))
        .orderBy(col("user_id"))),

    "q_skipgram" -> ((s, dir) =>
      // word2vec training pairs: ±3-token neighborhoods, one codegen'd
      // row-local projection (array zipped with its shifted self, all
      // offsets flattened) — the only shuffle is the pair count
      operators.Retrieval.skipGramPairs(T(s, dir, "documents"), "text",
          window = 3, minCount = 5)
        .orderBy(col("center"), col("context"))),

    "q_js_divergence" -> ((s, dir) => {
      // snapshot drift: JS divergence between the src0–9 and src10–19
      // slices over the pooled vocab + UNK — per-term contributions in
      // 1e-12 fixed point, the total an order-independent integer sum
      val d = T(s, dir, "documents")
      val isA = col("source").rlike("^src[0-9]$")
      operators.Curation.jsDivergence(d.filter(isA), d.filter(!isA),
          "text", vocabSize = 200)
        .orderBy(col("term"))
    }),

    "q_zipf" -> ((s, dir) =>
      // corpus-health power law: rank-frequency log-log OLS over the
      // top-500 vocab — the bounded vocab table is the only ordered
      // pass; the fit is the exact fixed-point moment machinery
      functions.TextFunctions.zipfFit(T(s, dir, "documents"), "text", topK = 500)),

    "q_quantile_norm" -> ((s, dir) =>
      // cross-source score calibration: per-source cume rank → pooled
      // quantile grid — selected values and integer arithmetic only;
      // the single ordered pass is over the NDV-bounded distinct table
      operators.Profile.quantileNormalize(T(s, dir, "documents"),
          "source", "n_chars", "doc_id", gridSize = 50)
        .orderBy(col("doc_id"))),

    "q_benford" -> ((s, dir) =>
      // leading-digit audit per returnflag: exact integer digit
      // extraction (cents → string, no log10), literal Benford table,
      // DECIMAL-exact deviations — the fabricated-numbers smoke test
      operators.Profile.benford(T(s, dir, "lineitem"),
          Seq("l_returnflag"), "l_extendedprice")
        .orderBy(col("l_returnflag"), col("digit"))),

    "q_neg_sample" -> ((s, dir) =>
      // contrastive negatives: k seeded uniform draws per anchor over
      // the other N−1 docs — collision-free by construction, zero
      // shuffles (a projection + posexplode); the LCG replays in SQL
      operators.Curation.negativeSample(T(s, dir, "documents"), "doc_id",
          k = 4, seed = 777L)
        .orderBy(col("anchor"), col("j"))),

    "q_ohlc" -> ((s, dir) =>
      // daily candles per user: one mergeable-aggregate groupBy — the
      // metric-downsampling shape; exact integer buckets, fixed-point sum
      operators.TimeSeries.downsample(T(s, dir, "events"),
          "user_id", "ts", "value", "event_id", bucketSeconds = 86400L)
        .orderBy(col("user_id"), col("bucket"))),

    "q_interval_merge" -> ((s, dir) => {
      // gaps-and-islands: per-user activity spans (ts .. ts + 600·⌊value⌋
      // seconds, integer epoch arithmetic) merged where they overlap or
      // touch — both windows sharded by the entity, exact long compares
      val iv = T(s, dir, "events").select(col("user_id"),
        unix_timestamp(col("ts")).as("start_s"),
        (unix_timestamp(col("ts")) + floor(col("value")).cast("long") * 600).as("end_s"))
      operators.TimeSeries.coalesceIntervals(iv, "user_id", "start_s", "end_s")
        .orderBy(col("user_id"), col("island"))
    }),

    "q_split_leakage" -> ((s, dir) => {
      // train/test leakage via NEAR-dups: assignSplits (row-local hash
      // membership) -> blocked jaccard pairs -> cross-split filter; the
      // audit run before trusting any held-out metric
      val d = Curation.assignSplits(T(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), buckets = 10)
      Curation.splitLeakage(d, "text", "doc_id", "split",
          Dedup.langLengthBlock(col("lang"), col("n_chars"), width = 100),
          n = 1, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 6))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_join_audit" -> ((s, dir) =>
      // pre-join cardinality audit: exact inner-join output size and
      // max key fan-out from the two count tables — the pre-flight that
      // catches an accidental many-to-many before it materializes
      // library API keeps DECIMAL(38,0) products (a true many-to-many can
      // exceed int64); the driver-facing frame casts to BIGINT — exact
      // here (key fan-out ≤ 7) and pandas-dtype-stable
      operators.Diagnostics.joinSizeAudit(
        T(s, dir, "orders"), Seq("o_orderkey"),
        T(s, dir, "lineitem"), Seq("l_orderkey"))
        .withColumn("est_rows", col("est_rows").cast("long"))
        .withColumn("max_key_product", col("max_key_product").cast("long"))),

    "q_triangles" -> ((s, dir) => {
      // community density over the co-purchase graph: degree-ordered
      // wedge counting (work bounded by arboricity, not max degree),
      // all joins/aggregates — replays exactly in SQL
      val pairs = operators.Analytics.cooccurrence(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minPairs = 2L, maxItemsPerTxn = 64)
        .select(col("item_a").as("src"), col("item_b").as("dst"))
      LinkGraph.triangleCounts(pairs, "src", "dst")
        .orderBy(col("node"))
    }),

    "q_link_extract" -> ((s, dir) => {
      // crawl -> link graph edges: planted anchors (mixed case/quotes,
      // a no-href decoy) built in-plan from doc fields, extracted with
      // the RE2-safe href regex, canonicalized, domain-keyed — the
      // oracle states the expected edges BY CONSTRUCTION
      val a1 = concat(lit("HTTPS://Docs."), col("source"), lit(".COM:443/guide/"),
        col("doc_id").cast("string"), lit("?utm_source=x&ref="), col("lang"))
      val a2 = concat(lit("http://www.partner"),
        pmod(col("doc_id"), lit(7)).cast("string"), lit(".org:80/p#sec"))
      val html = concat(
        lit("<div>intro <A class=\"x\" HREF=\""), a1,
        lit("\">one</A> mid <a href='"), a2,
        lit("'>two</a> <a name=\"no-href\">none</a></div>"))
      T(s, dir, "documents")
        .select(col("doc_id"), explode(TextFunctions.extractLinks(html)).as("raw"))
        .select(col("doc_id"),
          TextFunctions.urlNormalize(col("raw")).as("url"),
          TextFunctions.urlRegisteredDomain(col("raw")).as("domain"))
        .orderBy(col("doc_id"), col("url"))
    }),

    "q_curriculum" -> ((s, dir) =>
      // curriculum-learning data order: 10 difficulty deciles from
      // rank-selected boundaries (strict >, ties low), dense global
      // position via per-bucket de-funneled prefix — nothing global sorts
      Curation.curriculumOrder(
          T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
          "n_chars", "doc_id", buckets = 10, exact = true)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("difficulty_bucket"), col("curriculum_pos"))
        .orderBy(col("curriculum_pos"))),

    "q_robust_scale" -> ((s, dir) =>
      // RobustScaler standardization: (x - median) / IQR per event type
      // from rank-selected quartiles; constant groups scale to 0.0
      operators.Profile.robustScale(
          T(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "value", exact = true)
        .orderBy(col("event_id"))),

    "q_cohort_retention" -> ((s, dir) =>
      // retention triangle: first-event-week cohorts x activity-week
      // offsets, window-free (distinct activity -> min-week join ->
      // matrix aggregate), fixed-point shares
      operators.Analytics.cohortRetention(T(s, dir, "events"), "user_id", "ts")
        .orderBy(col("cohort_week"), col("week_offset"))),

    "q_transitions" -> ((s, dir) =>
      // first-order Markov transition matrix over user event streams:
      // per-user window (bounded partitions), total-ordered by
      // (ts, event_id), pair counts + P(to|from) in fixed-point
      operators.Analytics.transitionMatrix(T(s, dir, "events"), "user_id",
          "ts", "event_id", "event_type")
        .orderBy(col("from_type"), col("to_type"))),

    "q_dp_counts" -> ((s, dir) =>
      // epsilon-DP histogram release: seeded replayable Laplace noise
      // (poly-hash -> LCG -> inverse CDF) on per-lang counts, rounded
      // and clamped — the oracle regenerates the identical draw
      operators.Diagnostics.dpNoisyCounts(T(s, dir, "documents"), "lang",
          epsilon = 1.0, seed = 7L)
        .orderBy(col("lang"))),

    "q_neyman" -> ((s, dir) =>
      // optimal-allocation stratified sample: per-priority budget share
      // proportional to N_h*sigma_h via DECIMAL-exact integer variance +
      // largest-remainder rounding; deterministic prefix take per stratum
      Curation.neymanSample(T(s, dir, "orders"), "o_orderpriority",
          "o_totalprice", "o_orderkey", budget = 500L)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))),

    "q_pack_report" -> ((s, dir) => {
      // packing-efficiency audit over the strict pack: per-lang bin
      // count, fill rate, and min/max bin fill in fixed-point — two
      // partial-aggregated passes over the packed projection
      val packed = Curation.packSequencesStrict(
        T(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars")),
        "n_chars", 16384L, Seq("lang"), "doc_id")
      Curation.packEfficiency(packed, "n_chars", 16384L, Seq("lang"))
        .orderBy(col("lang"))
    }),

    "q_random_proj" -> ((s, dir) => {
      // JL dimensionality reduction, dim 64 -> 8: seeded sparse
      // Achlioptas projection, elements fixed-point-quantized BEFORE
      // the signed sum, so the output longs are engine-exact — one
      // codegen'd loop per row, no shuffle at all
      import org.apache.spark.sql.graftshim.ColumnBridge
      val proj = ColumnBridge.column(graft.functions.RandomProjectFp(
        ColumnBridge.expression(col("embedding")), 64, 8, 42L))
      T(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(proj).as(Seq("j", "value_fp")))
        .orderBy(col("vec_id"), col("j"))
    }),

    "q_corpus_overlap" -> ((s, dir) => {
      // mixture-design leakage audit: dense ordered source-pair matrix
      // of 5-gram containment/jaccard — per-gram collect_set expansion,
      // never a corpus self-join; hash-keyed, string-replayed oracle
      operators.Curation.corpusOverlap(T(s, dir, "documents"),
          "text", "source", n = 5)
        .orderBy(col("src_a"), col("src_b"))
    }),

    "q_cooccur" -> ((s, dir) => {
      // association mining over order baskets: capped distinct items,
      // co-partitioned self-join pair counts, fixed-point support /
      // confidence / lift via DECIMAL-exact truncating DIV
      operators.Analytics.cooccurrence(T(s, dir, "lineitem"),
          "l_orderkey", "l_partkey", minPairs = 2L, maxItemsPerTxn = 64)
        .orderBy(col("item_a"), col("item_b"))
    }),

    "q_group_ols" -> ((s, dir) => {
      // per-segment OLS trend from exact fixed-point moment sums:
      // revenue = extendedprice·(1−discount) regressed on extendedprice
      // per returnflag — slope ≈ mean(1−discount), r² near 1; only the
      // final stats touch doubles, in the pinned sequence the oracle
      // replays over HUGEINT sums
      operators.Analytics.groupedOls(
          T(s, dir, "lineitem")
            .withColumn("revenue", col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          "l_returnflag", "l_extendedprice", "revenue", scale = 6)
        .orderBy(col("l_returnflag"))
    }),

    "q_outlier_mad" -> ((s, dir) => {
      // robust per-type outlier audit: median/MAD rank selections (the
      // oracle-replayable exact mode; sketch mode is the 100 TB path),
      // gate |x - med| > 3*MAD — output is the flagged rows only
      operators.Profile.robustOutliers(
          T(s, dir, "events").select(col("event_id"), col("event_type"), col("value")),
          Seq("event_type"), "value", k = 3.0, exact = true)
        .orderBy(col("event_id"))
    }),

    "q_kanon" -> ((s, dir) => {
      // k-anonymity release audit: QI equivalence-class sizes over
      // (nation, market segment), classes under k=10 flagged — one
      // partial-aggregated pass, NULL treated as a QI value
      operators.Diagnostics.kAnonymity(T(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }),

    // ---- multimodal: REAL codec decode end-to-end under the driver
    // contract (PNG via ImageIO, WAV via javax.sound, animated GIF via
    // the ImageIO sequence reader). Payload parameters derive
    // arithmetically from doc_id, so every decoded feature has a closed
    // form the DuckDB oracle replays exactly — hash-checkable real
    // decodes (was rows-only through r9). Fallback decoders are spec'd
    // separately with junk payloads in MultimodalSpec. ----
    "q_image_neardup" -> ((s, dir) => {
      // perceptual image near-dup through the REAL PNG decode path:
      // striped fixtures give the aHash a closed form, so the oracle
      // computes every 64-bit hash arithmetically and replays the
      // pigeonhole-blocked hamming pairing as a plain self-join
      val docs = T(s, dir, "documents").filter(col("doc_id") % 29 === 0)
      val media = Multimodal.syntheticStripedImages(docs, "doc_id")
      Multimodal.imageNearDup(media, maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_multimodal" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val img = Multimodal.syntheticRealMedia(docs, "doc_id", "image")
      val aud = Multimodal.syntheticRealMedia(docs, "doc_id", "audio")
      val vid = Multimodal.syntheticRealMedia(docs, "doc_id", "video")
      val fi = Multimodal.extractImageFeatures(img).toDF()
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_intensity"), 4).as("mean_intensity"))
      val fa = Multimodal.extractAudioFeatures(aud).toDF()
        .select(col("media_id"), col("sample_rate"),
          col("n_frames").as("n_samples"), round(col("rms"), 6).as("rms"))
      val fv = Multimodal.extractVideoFrames(vid, everyN = 2).toDF()
        .groupBy(col("media_id"))
        .agg(max(col("n_frames")).as("n_video_frames"),
          count(lit(1)).as("frames_sampled"))
      fi.join(fa, Seq("media_id")).join(fv, Seq("media_id"))
        .orderBy(col("media_id"))
    }),

    "q_avi_frames" -> ((s, dir) => {
      // REAL MJPEG-in-AVI video decode as a corpus query: every 37th
      // doc carries a planted (2 + id%5)-frame AVI (even frames solid
      // gray, odd frames block-aligned black/white halves), so the
      // decoded frame count, dims, and PER-FRAME aHash all have closed
      // forms the oracle states arithmetically — the RIFF walk + JPEG
      // decode is the part under test
      val docs = T(s, dir, "documents").filter(col("doc_id") % 37 === 0)
      Multimodal.extractVideoFrames(Multimodal.syntheticRealAvi(docs, "doc_id"),
          everyN = 1).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    "q_mp4_probe" -> ((s, dir) => {
      // MP4 container walk as a corpus query (r15, VERDICT r14 gap #1):
      // every 41st doc carries a planted (2 + id%5)-sample MJPEG-in-MP4
      // (timescale 30, one tick per sample, odd sample numbers sync);
      // ids divisible by 82 are TRUNCATED to 16 bytes — the dirty-
      // container ok=false fallback row. The probe's totals are COUNTED
      // from the stsz/stss tables, never the header claims — the moov/
      // trak/stbl walk is the part under test, decode-free.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 41 === 0)
      val media = Multimodal.syntheticRealMp4(docs, "doc_id")
        .withColumn("payload", when(col("media_id") % 82 === 0,
          expr("substring(payload, 1, 16)")).otherwise(col("payload")))
      Multimodal.extractMp4Probe(media).toDF().orderBy(col("media_id"))
    }),

    "q_mp4_frames" -> ((s, dir) => {
      // REAL MJPEG-in-MP4 frame decode: the q_avi_frames fixture pattern
      // inside the ISO BMFF container — counted sample totals and
      // closed-form per-frame aHashes through the stsc x stco x stsz
      // offset resolution + JPEG decode of only the sampled frames
      val docs = T(s, dir, "documents").filter(col("doc_id") % 43 === 0)
      Multimodal.extractVideoFrames(Multimodal.syntheticRealMp4(docs, "doc_id"),
          everyN = 1).toDF()
        .orderBy(col("media_id"), col("frame_idx"))
    }),

    "q_webm_probe" -> ((s, dir) => {
      // WebM/Matroska EBML container walk as a corpus query (r15 — the
      // OTHER modern video wrapper next to ISO BMFF): every 47th doc
      // carries a planted (2 + id%5)-SimpleBlock V_VP8 WebM (timescale
      // 10⁶ ns, 40 ms per block, even block index keyframed); ids
      // divisible by 94 are TRUNCATED to 16 bytes — the dirty-container
      // ok=false fallback row. Block/keyframe totals are COUNTED from
      // the Cluster stream, never header claims; codec-agnostic (VP8
      // payload bytes are never read), so the walk is real for the
      // codecs the sandbox cannot decode.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 47 === 0)
      val media = Multimodal.syntheticRealWebm(docs, "doc_id")
        .withColumn("payload", when(col("media_id") % 94 === 0,
          expr("substring(payload, 1, 16)")).otherwise(col("payload")))
      Multimodal.extractWebmProbe(media).toDF().orderBy(col("media_id"))
    }),

    "q_warc_records" -> ((s, dir) => {
      // WARC record walk as a corpus query (the Common Crawl ingestion
      // front door): every 61st doc carries a planted archive — a
      // warcinfo record + (2 + id%5) fixed-width HTTP responses, EVEN
      // ids as per-record-member .warc.gz so the transparent multi-
      // member gunzip path is oracle-checked, not just spec'd; ids
      // divisible by 122 are TRUNCATED to 8 bytes — zero rows, the
      // dirty-archive contract. Every emitted field is closed-form:
      // Content-Length 91 for responses (44-byte HTTP head + 47-byte
      // padded html), 111 for the trailing Latin-1 charset-declared
      // response (64-byte head + 47 Latin-1 body bytes), 17 for
      // warcinfo, status 200 parsed from the payload's own status
      // line.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
      val media = operators.Warc.syntheticWarc(docs, "doc_id")
        .withColumn("payload", when(col("media_id") % 122 === 0,
          expr("substring(payload, 1, 8)")).otherwise(col("payload")))
      operators.Warc.extractWarcRecords(media).toDF()
        .orderBy(col("media_id"), col("rec_idx"))
    }),

    "q_warc_text" -> ((s, dir) => {
      // the crawl-ingestion composition end-to-end: WARC record walk →
      // HTTP body extraction → stripHtml — raw archive bytes to clean
      // text in one oracled query (the stage before langid/quality in
      // a real pipeline); the planted html bodies make every cleaned
      // string closed-form, and each archive's trailing Latin-1
      // response (0xE9 café byte, invalid UTF-8) oracle-checks the
      // charset fallback chain — `charset` is the one that decoded
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
      val media = operators.Warc.syntheticWarc(docs, "doc_id")
      operators.Warc.extractWarcTexts(media).toDF()
        .select(col("media_id"), col("rec_idx"), col("target_uri"),
          col("charset"), TextFunctions.stripHtml(col("html")).as("text"))
        .orderBy(col("media_id"), col("rec_idx"))
    }),

    "q_chunk_containment" -> ((s, dir) =>
      // asymmetric containment pairs over the CDC chunk digests —
      // partial-copy detection (embedded pages, quoted articles) that
      // symmetric Jaccard underestimates; digests are the LSH buckets,
      // masses and the fixed-point scores all replay externally
      operators.Dedup.chunkContainmentPairs(T(s, dir, "documents"),
          "text", "doc_id", thresholdFp = 300000L)
        .orderBy(col("id_a"), col("id_b"))),

    "q_char_entropy" -> ((s, dir) =>
      // character-distribution entropy quality signal over the corpus:
      // per-char (c·(LN(n)−LN(c))) DIV n terms — pure integer
      // arithmetic over the driver-literal ⌊ln(k)·10¹²⌋ table, exact
      // counts on the 512-char prefix, order-free integer total
      operators.Profile.charEntropy(T(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))),

    "q_politeness" -> ((s, dir) => {
      // rate-limit layout for a fetch frontier: every 7th doc is a URL,
      // hosts are doc_id % 31, priority is the doc_id itself — so each
      // host's URLs rank in id order and wave/slot are pure integer
      // arithmetic the oracle replays with a window rank
      val urls = T(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), (col("doc_id") % 31).as("host_id"))
      operators.Robots.politenessWaves(urls, "host_id", "doc_id", perWave = 4)
        .orderBy(col("host_id"), col("doc_id"))
    }),

    "q_fetch_plan" -> ((s, dir) => {
      // the TIMED fetch plan (VERDICT r16 #3): the q_politeness layout
      // composed with per-host parsed Crawl-delay — host%3==0 declares
      // a graftbot delay of 2 s, host%3==1 a * delay of 120 s (capped
      // at the 60 s max), host%3==2 none (the 1 s floor); not_before_ms
      // = wave × delay_ms is pure integer arithmetic per row
      val urls = T(s, dir, "documents").filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), (col("doc_id") % 31).as("host_id"))
      val robots = urls.select(col("host_id")).distinct()
        .withColumn("txt",
          when(col("host_id") % 3 === 0,
            lit("User-agent: graftbot\nCrawl-delay: 2\nDisallow: /tmp/\n"))
          .when(col("host_id") % 3 === 1,
            lit("User-agent: *\nCrawl-delay: 120\nDisallow: /tmp/\n"))
          .otherwise(lit("User-agent: *\nDisallow: /tmp/\n")))
      operators.Robots.fetchPlan(robots, "host_id", "txt", urls, "host_id",
          "doc_id", "graftbot", perWave = 4)
        .orderBy(col("host_id"), col("doc_id"))
    }),

    "q_url_canon" -> ((s, dir) => {
      // RFC 3986 URL normalization over planted messy spellings: case,
      // default ports, dot-segments, duplicate slashes, unreserved
      // percent-escapes, escape-hex case, query-param order, fragments
      // — every canonical form is a closed-form statement; garbage
      // passes through unchanged (dirty input total)
      val docs = T(s, dir, "documents").filter(col("doc_id") % 43 === 0)
        .select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val messy = array(
        concat(lit("HTTP://Example"), id, lit(".COM:80/a/./b/../c?b=2&a=1#frag")),
        concat(lit("https://site"), id, lit(".org:443//x//y/")),
        concat(lit("http://h"), id, lit("/%7Euser/%2fpath?q=%41")),
        concat(lit("http://h"), id, lit("/")),
        concat(lit("not a url "), id))
      operators.Robots.canonicalizeUrls(
          docs.select(col("doc_id"), posexplode(messy).as(Seq("url_idx", "url"))),
          "url")
        .orderBy(col("doc_id"), col("url_idx"))
    }),

    "q_sitemap_refs" -> ((s, dir) => {
      // robots-declared sitemap discovery: every 67th doc's robots.txt
      // names 1 + (id even) sitemap files with closed-form URLs — the
      // joinable (host, ref_idx, url) table the frontier walks next
      val docs = T(s, dir, "documents").filter(col("doc_id") % 67 === 0)
        .select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val robots = docs.withColumn("txt", concat(
        lit("User-agent: *\nDisallow: /tmp/\nSitemap: http://s"), id,
        lit("/map/0.xml\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("Sitemap: http://s"), id, lit("/map/1.xml\n")))
          .otherwise(lit(""))))
      operators.Robots.robotsSitemaps(robots, "doc_id", "txt")
        .orderBy(col("doc_id"), col("ref_idx"))
    }),

    "q_sitemap" -> ((s, dir) => {
      // sitemaps.org discovery walk: every 67th doc plants either a
      // <urlset> (even ids — 1 + id%3 pages with lastmod/changefreq/
      // priority formulas) or a <sitemapindex> (odd ids — two child
      // maps); every exploded entry is a closed-form statement
      val docs = T(s, dir, "documents").filter(col("doc_id") % 67 === 0)
        .select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val urlset = concat(lit("<urlset>"),
        array_join(transform(sequence(lit(0L), col("doc_id") % 3), j =>
          concat(lit("<url><loc>http://s"), id, lit("/page/"), j.cast("string"),
            lit("</loc><lastmod>2026-01-0"), (j + 1).cast("string"),
            lit("</lastmod><changefreq>"),
            element_at(array(lit("daily"), lit("weekly"), lit("monthly")),
              (j % 3 + 1).cast("int")),
            lit("</changefreq><priority>0."), (j % 3 + 5).cast("string"),
            lit("</priority></url>"))), ""),
        lit("</urlset>"))
      val index = concat(lit("<sitemapindex>"),
        array_join(transform(sequence(lit(0L), lit(1L)), j =>
          concat(lit("<sitemap><loc>http://s"), id, lit("/map/"),
            j.cast("string"),
            lit(".xml</loc><lastmod>2026-02-01</lastmod></sitemap>"))), ""),
        lit("</sitemapindex>"))
      val maps = docs.withColumn("xml",
        when(col("doc_id") % 2 === 0, urlset).otherwise(index))
      operators.Robots.sitemapUrls(maps, "doc_id", "xml")
        .orderBy(col("doc_id"), col("loc"))
    }),

    "q_crawl_frontier" -> ((s, dir) => {
      // the recrawl FRONTIER composition: crawl-generation diff →
      // added ∪ changed targets → RFC 9309 policy gate → the fetch
      // list. Per site the planted robots blocks pages 0 and 2 (the
      // `$`-anchored wildcard rules), so exactly the late even changed
      // pages and the non-2 added page survive — closed form
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      val oldCdx = operators.Warc.extractWarcCdx(
        operators.Warc.syntheticWarcGen(docs, "doc_id", 0)).toDF()
      val newCdx = operators.Warc.extractWarcCdx(
        operators.Warc.syntheticWarcGen(docs, "doc_id", 1)).toDF()
      val candidates = operators.Warc.crawlDiff(oldCdx, newCdx)
        .filter(col("status").isin("added", "changed"))
        .select(
          regexp_extract(col("target_uri"), "example\\.com/(\\d+)/", 1)
            .cast("long").as("doc_id"),
          regexp_replace(col("target_uri"), "^http://[^/]+", "").as("path"),
          col("status"))
      val robots = docs.withColumn("txt",
        lit("User-agent: graftbot\nDisallow: /*/0$\nDisallow: /*/2$\n"))
      operators.Robots.urlGate(robots, "doc_id", "txt",
          candidates, "doc_id", "path", "graftbot")
        .filter(col("allowed"))
        .join(candidates, Seq("doc_id", "path"))
        .select(col("doc_id"), col("path"), col("status"))
        .orderBy(col("doc_id"), col("path"))
    }),

    "q_main_content" -> ((s, dir) => {
      // boilerplate-block removal on a planted page per 41st doc: the
      // title/nav/ad blocks are too short, the link-farm footer trips
      // the link-density gate, and exactly the two prose paragraphs
      // survive — the extracted text is a closed-form string
      val docs = T(s, dir, "documents").filter(col("doc_id") % 41 === 0)
        .select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val page = concat(
        lit("<html><head><title>T</title><style>body{x}</style></head><body>" +
          "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a></nav>" +
          "<h1>Title "), id,
        lit("</h1><p>This is the main article body for document "), id,
        lit(". It has enough characters to pass the threshold and contains " +
          "<a href=\"/ref\">one link</a> inside prose.</p>" +
          "<p>Second paragraph of real content for document "), id,
        lit(" with plenty of plain words to stay above the length limit.</p>" +
          "<div>ad</div>" +
          "<footer>Copyright 2026 Example <a href=\"/t\">Terms of Service</a> " +
          "<a href=\"/p\">Privacy Policy</a> <a href=\"/c\">Contact Us</a>" +
          "</footer></body></html>"))
      docs.select(col("doc_id"), TextFunctions.mainContent(page).as("text"))
        .orderBy(col("doc_id"))
    }),

    "q_redirects" -> ((s, dir) => {
      // redirect-chain resolution over a planted CDX slice: every 37th
      // doc hosts a 2-hop chain landing on a captured 200, a 2-cycle
      // loop (resolved=false at maxHops), and a dangling redirect to an
      // uncaptured URI — all outcomes closed-form
      val docs = T(s, dir, "documents").filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"))
      val base = concat(lit("http://site"), col("doc_id").cast("string"))
      def u(p: String) = concat(base, lit(p))
      def row(p: String, status: Int, loc: Column) =
        struct(u(p).as("target_uri"), lit(status).as("http_status"),
          loc.as("redirect_location"))
      val cdx = docs.select(explode(array(
          row("/r1", 301, u("/r2")),
          row("/r2", 302, u("/final")),
          row("/final", 200, lit(null).cast("string")),
          row("/loopA", 301, u("/loopB")),
          row("/loopB", 301, u("/loopA")),
          row("/dangling", 301, u("/nowhere")))).as("r"))
        .select(col("r.target_uri"), col("r.http_status"),
          col("r.redirect_location"))
        .withColumn("warc_type", lit("response"))
      operators.Warc.resolveRedirects(cdx, maxHops = 5)
        .orderBy(col("target_uri"))
    }),

    "q_crawl_tick" -> ((s, dir) => {
      // the incremental crawl tick (VERDICT r16 #1) as a corpus query:
      // the gen0→gen1 CDX diff selects added/changed captures, ONLY
      // those texts enter the funnel, and the released corpus
      // participates through its fingerprint index alone — which plants
      // the odd-n ADDED page as already-released (ingested earlier from
      // another source), so the index probe visibly drops it. Kept =
      // every changed (even) page + the added page when n is even; all
      // closed-form.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      val oldArch = operators.Warc.syntheticWarcGen(docs, "doc_id", 0)
      val newArch = operators.Warc.syntheticWarcGen(docs, "doc_id", 1)
      val oldCdx = operators.Warc.extractWarcCdx(oldArch).toDF()
      val newCdx = operators.Warc.extractWarcCdx(newArch).toDF()
      val newDocs = operators.Warc.extractWarcTexts(newArch).toDF()
        .select(col("target_uri"), TextFunctions.stripHtml(col("html")).as("text"))
      val gen0Texts = operators.Warc.extractWarcTexts(oldArch).toDF()
        .select(TextFunctions.stripHtml(col("html")).as("text"))
      val id = col("doc_id").cast("string")
      val n = col("doc_id") % 5 + 2
      val plantedHtml = concat(
        substring(concat(lit("<html>doc "), id, lit(" "), n.cast("string"),
          lit("." * 64)), 1, 40), lit("</html>"))
      val planted = docs.filter(n % 2 === 1)
        .select(TextFunctions.stripHtml(plantedHtml).as("text"))
      val index = operators.Dedup.fingerprintIndex(
        gen0Texts.unionByName(planted), "text")
      operators.Warc.crawlTickDelta(oldCdx, newCdx, newDocs, index,
          idCol = "target_uri")
        .select(col("target_uri"), col("status"))
        .orderBy(col("target_uri"))
    }),

    "q_recrawl_plan" -> ((s, dir) => {
      // closes the crawl loop: the generation diff PRIORITIZES the next
      // fetch (changed pages first — the adaptive-recrawl heuristic:
      // recently-changed pages change again — then new, then stable;
      // gone pages leave the frontier), and the priorities feed the
      // crawl-delay-aware timed plan. fetch_order = priority·2²⁰ + page
      // index is unique per host and closed-form.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      val oldCdx = operators.Warc.extractWarcCdx(
        operators.Warc.syntheticWarcGen(docs, "doc_id", 0)).toDF()
      val newCdx = operators.Warc.extractWarcCdx(
        operators.Warc.syntheticWarcGen(docs, "doc_id", 1)).toDF()
      val urls = operators.Warc.crawlDiff(oldCdx, newCdx)
        .filter(col("status") =!= "gone")
        .select(
          regexp_extract(col("target_uri"), "example\\.com/(\\d+)/", 1)
            .cast("long").as("host_id"),
          regexp_replace(col("target_uri"), "^http://[^/]+", "").as("path"),
          col("status"),
          (when(col("status") === "changed", 0L)
            .when(col("status") === "added", 1L).otherwise(2L) * 1048576L +
            regexp_extract(col("target_uri"), "/(\\d+)$", 1).cast("long"))
            .as("fetch_order"))
      val robots = docs.select(col("doc_id"))
        .withColumn("txt",
          when(col("doc_id") % 3 === 0,
            lit("User-agent: graftbot\nCrawl-delay: 2\nDisallow: /tmp/\n"))
          .when(col("doc_id") % 3 === 1,
            lit("User-agent: *\nCrawl-delay: 120\nDisallow: /tmp/\n"))
          .otherwise(lit("User-agent: *\nDisallow: /tmp/\n")))
      operators.Robots.fetchPlan(robots, "doc_id", "txt", urls, "host_id",
          "fetch_order", "graftbot", perWave = 2)
        .orderBy(col("host_id"), col("fetch_order"))
    }),

    "q_crawl_diff" -> ((s, dir) => {
      // recrawl audit between two planted crawl generations: gen 1
      // adds one page per site, mutates even-indexed pages, and drops
      // the latin tail — so every (uri, status, digests) row is a
      // closed-form statement; the diff runs over CDX index rows,
      // never archives
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      val oldCdx = operators.Warc.extractWarcCdx(
        operators.Warc.syntheticWarcGen(docs, "doc_id", 0)).toDF()
      val newCdx = operators.Warc.extractWarcCdx(
        operators.Warc.syntheticWarcGen(docs, "doc_id", 1)).toDF()
      operators.Warc.crawlDiff(oldCdx, newCdx).orderBy(col("target_uri"))
    }),

    "q_crawl_alias" -> ((s, dir) => {
      // canonical-keyed crawl diff (VERDICT r17 #2): the new generation
      // RE-SPELLS its unchanged page — uppercase scheme+host, default
      // port, dot-segments, shuffled query params, twice in one
      // generation — and the diff keys on the RFC 3986 canonical form,
      // so aliases report as unchanged, never as the spurious
      // added+gone pair raw-URI keying produced; a genuinely changed,
      // gone, and added (escape-spelled) page round out the statuses.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      val id = col("doc_id").cast("string")
      def cdx(rows: org.apache.spark.sql.Column*): DataFrame =
        docs.select(explode(array(rows: _*)).as("r"))
          .select(col("r.target_uri"), col("r.text_md5"))
          .withColumn("warc_type", lit("response"))
      def row(uri: org.apache.spark.sql.Column, digest: org.apache.spark.sql.Column) =
        struct(uri.as("target_uri"), digest.as("text_md5"))
      val oldCdx = cdx(
        row(concat(lit("http://alias"), id, lit(".com/a/b?x=1&y=2")),
          md5(concat(lit("page-a-"), id))),
        row(concat(lit("http://alias"), id, lit(".com/chg")),
          md5(concat(lit("old-c-"), id))),
        row(concat(lit("http://alias"), id, lit(".com/gone")),
          md5(concat(lit("page-g-"), id))))
      val newCdx = cdx(
        row(concat(lit("HTTP://ALIAS"), id, lit(".COM:80/a/./b?y=2&x=1")),
          md5(concat(lit("page-a-"), id))),
        row(concat(lit("http://alias"), id, lit(".com:80/a/b?y=2&x=1")),
          md5(concat(lit("page-a-"), id))),
        row(concat(lit("http://alias"), id, lit(".com/chg")),
          md5(concat(lit("new-c-"), id))),
        row(concat(lit("http://alias"), id, lit(".com/%7Enew/")),
          md5(concat(lit("page-n-"), id))))
      operators.Warc.crawlDiff(oldCdx, newCdx).orderBy(col("target_uri"))
    }),

    "q_sitemap_priority" -> ((s, dir) => {
      // sitemap-freshness recrawl prior (VERDICT r17 #4): four pages
      // per site — page 0 changed, page 3 added, pages 1-2 unchanged;
      // the sitemap claims page 1 moved AFTER the released crawl date
      // (two entries, the newer wins) so it promotes into the changed
      // band; page 2's entry (an alias spelling, joined canonically) is
      // older — fresh; page 3's lastmod is garbage — malformed dates
      // are not evidence of staleness. All bands closed-form.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
        .select(col("doc_id"))
      val id = col("doc_id").cast("string")
      val diff = docs
        .select(col("doc_id"), explode(sequence(lit(0), lit(3))).as("i"))
        .select(
          concat(lit("http://f"), id, lit("/p/"), col("i").cast("string"))
            .as("target_uri"),
          when(col("i") === 0, lit("changed"))
            .when(col("i") === 3, lit("added"))
            .otherwise(lit("unchanged")).as("status"))
      def entry(loc: org.apache.spark.sql.Column, lm: String) =
        struct(loc.as("loc"), lit(lm).as("lastmod"))
      val sitemap = docs.select(explode(array(
          entry(concat(lit("http://f"), id, lit("/p/1")), "2026-03-05T08:00:00Z"),
          entry(concat(lit("http://f"), id, lit("/p/1")), "2025-06-01"),
          entry(concat(lit("HTTP://f"), id, lit(":80/p/2")), "2025-11-30"),
          entry(concat(lit("http://f"), id, lit("/p/3")), "next tuesday")))
          .as("e"))
        .select(col("e.loc"), col("e.lastmod"))
      operators.Robots.recrawlBands(diff, sitemap, releasedAt = "2026-01-01")
        .orderBy(col("target_uri"))
    }),

    "q_robots_revoke" -> ((s, dir) => {
      // robots-revocation audit (the policy feed of the takedown tick,
      // VERDICT r17 #3): which RELEASED captures would TODAY'S robots
      // refuse — every 47th doc's released path cycles /keep/ /old/
      // /gone/ by id%3, and the site's current robots disallows the
      // latter two; the refusals and their deciding rules are
      // closed-form.
      val rel = T(s, dir, "documents").filter(col("doc_id") % 47 === 0)
        .select(col("doc_id"),
          concat(element_at(array(lit("/keep/"), lit("/old/"), lit("/gone/")),
            (col("doc_id") % 3 + 1).cast("int")),
            col("doc_id").cast("string")).as("path"))
      val robots = rel.select(col("doc_id")).withColumn("txt",
        lit("User-agent: *\nDisallow: /old/\nDisallow: /gone/\n"))
      operators.Robots.urlGate(robots, "doc_id", "txt", rel, "doc_id",
          "path", "graftbot")
        .filter(!col("allowed"))
        .select(col("doc_id"), col("path"), col("rule"))
        .orderBy(col("doc_id"))
    }),

    "q_takedown" -> ((s, dir) => {
      // the takedown/retraction tick (VERDICT r17 #3) as a corpus
      // query: a planted release (every 31st doc, text made unique by
      // its id so the exact-dedup one-doc-per-fingerprint invariant
      // holds) with all three persisted indexes; docs ≡ 0 (mod 62) are
      // then taken down through the four-step mirrored-crash-contract
      // tick. Output: per planted doc, membership in the release and in
      // EVERY index after the tick — removed docs vanish from all four,
      // survivors stay in all four; pure doc_id arithmetic.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"),
          concat(lit("takedown article "), col("doc_id").cast("string"),
            lit(" :: "), col("text")).as("text"))
        // one parquet scan: release + 3 index writes + the readback all
        // derive from this planted frame (r19)
        .localCheckpoint(true)
      val (work, conn) = seedWorkspace(s, "graft_takedown_", docs)
      val plan = new plans.Plan(s, plans.PlanConfig(pidDir = work + "/pid"))
      pipelines.TrainingDataPipeline.takedownTick(plan, work,
        docs.filter(col("doc_id") % 62 === 0).select(col("doc_id")))
      plan.run()
      workspaceMembership(conn, docs,
        col("doc_id"), (col("doc_id") % 62 === 0).as("removed"))
    }),

    "q_revocation_tick" -> ((s, dir) => {
      // the robots-revocation COMPLIANCE sweep end-to-end (the
      // composition VERDICT r17 #3 asked for): a planted release whose
      // urls cycle /keep/ /old/ /gone/ across 7 hosts, all three
      // indexes live; today's robots disallows /old/ and /gone/ — the
      // tick audits the release through urlGate (urls canonicalized,
      // hosts hashed to the robots key), persists the `revocations`
      // audit, and takes the refusals down through the mirrored crash
      // contract. Output: per doc, the refusing rule and its
      // membership everywhere after the sweep — pure id arithmetic.
      val id = col("doc_id").cast("string")
      val docs = T(s, dir, "documents").filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"),
          concat(lit("revocation article "), id, lit(" :: "), col("text")).as("text"),
          concat(lit("http://h"), (col("doc_id") % 7).cast("string"), lit(".com"),
            element_at(array(lit("/keep/"), lit("/old/"), lit("/gone/")),
              (col("doc_id") % 3 + 1).cast("int")), id).as("url"))
        // one scan for the 4 workspace writes + robots + readback (r19)
        .localCheckpoint(true)
      val (work, conn) = seedWorkspace(s, "graft_revoke_", docs)
      val robots = docs
        .select(concat(lit("h"), (col("doc_id") % 7).cast("string"), lit(".com"))
          .as("host")).distinct()
        .select(xxhash64(col("host")).as("hkey"),
          lit("User-agent: *\nDisallow: /old/\nDisallow: /gone/\n").as("txt"))
      val plan = new plans.Plan(s, plans.PlanConfig(pidDir = work + "/pid"))
      pipelines.TrainingDataPipeline.revocationTick(plan, work, robots,
        "hkey", "txt", "graftbot")
      plan.run()
      val rev = conn.read("revocations").select(col("doc_id"), col("rule"))
      workspaceMembership(conn, docs.join(rev, Seq("doc_id"), "left"),
        col("doc_id"), coalesce(col("rule"), lit("")).as("rule"))
    }),

    "q_takedown_domain" -> ((s, dir) => {
      // domain-level takedown (VERDICT r18 #2): planted release urls
      // cycle five host shapes per doc — a www subdomain, an
      // ALIAS-spelled apex (case + default port), a deep subdomain
      // under a co.uk registrant (the PSL leg), an innocent look-alike
      // that shares the spelling but not a label boundary, and an
      // unrelated host. The notice names bad<k>.com and bad<k>.co.uk
      // (k = doc_id % 7); removal is pure id arithmetic: hosts 0-2
      // removed, 3-4 kept, with membership checked in the release and
      // every index after the four-step tick.
      val id = col("doc_id").cast("string")
      val k = (col("doc_id") % 7).cast("string")
      val root = element_at(array(
        concat(lit("http://www.bad"), k, lit(".com")),
        concat(lit("HTTP://BAD"), k, lit(".COM:80")),
        concat(lit("http://deep.sub.bad"), k, lit(".co.uk")),
        concat(lit("http://goodbad"), k, lit(".com")),
        concat(lit("http://news.other"), k, lit(".org"))),
        (col("doc_id") % 5 + 1).cast("int"))
      val docs = T(s, dir, "documents").filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"),
          concat(lit("domain takedown article "), id, lit(" :: "), col("text"))
            .as("text"),
          concat(root, lit("/p/"), id).as("url"))
        // one scan for the 4 workspace writes + notices + readback (r19)
        .localCheckpoint(true)
      val (work, conn) = seedWorkspace(s, "graft_takedom_", docs)
      val notices = docs.select((col("doc_id") % 7).cast("string").as("k")).distinct()
        .select(explode(array(
          concat(lit("bad"), col("k"), lit(".com")),
          concat(lit("bad"), col("k"), lit(".co.uk")))).as("domain"))
      val plan = new plans.Plan(s, plans.PlanConfig(pidDir = work + "/pid"))
      pipelines.TrainingDataPipeline.takedownByDomain(plan, work, notices)
      plan.run()
      workspaceMembership(conn, docs,
        col("doc_id"), (col("doc_id") % 5 <= 2).as("removed"))
    }),

    "q_maintenance_tick" -> ((s, dir) => {
      // the index/release MAINTENANCE tick (VERDICT r18 #1) as a corpus
      // query, exercising the re-cap semantics end-to-end: every 62nd
      // doc is planted as a TRIO — the doc plus two clones (one base
      // sentence cyclically repeated 3/4/5 times: identical word-
      // trigram shingle SETS, hence identical minhash signatures and
      // the same bucket in every band, while the texts and
      // fingerprints stay distinct) — so at maxBucketSize = 2 the
      // initial index build caps all three out of every band: the doc
      // has ZERO sketch rows (the documented degenerate tail). The
      // clones are then taken down, and the maintenance rebuild
      // re-caps against the surviving corpus: the stranded doc becomes
      // probeable. Output per surviving doc: whether it sat in the mh
      // index BEFORE maintenance (false exactly for the stranded
      // docs), and its membership everywhere after — pure id
      // arithmetic.
      val id = col("doc_id").cast("string")
      val base = T(s, dir, "documents").filter(col("doc_id") % 31 === 0)
      val filler = base.filter(col("doc_id") % 62 =!= 0)
        .select(col("doc_id"),
          concat(lit("maintenance article "), id, lit(" body "), md5(id),
            lit(" "), md5(concat(id, lit("x")))).as("text"))
      val sentence = concat(lit("maint "), id, lit(" alpha beta gamma delta"))
      val trio = base.filter(col("doc_id") % 62 === 0)
        .select(col("doc_id"), explode(array(
          struct(col("doc_id").as("i"),
            concat_ws(" ", sentence, sentence, sentence).as("t")),
          struct((-col("doc_id") - 1).as("i"),
            concat_ws(" ", sentence, sentence, sentence, sentence).as("t")),
          struct((-col("doc_id") - 2).as("i"),
            concat_ws(" ", sentence, sentence, sentence, sentence, sentence)
              .as("t")))).as("e"))
        .select(col("e.i").as("doc_id"), col("e.t").as("text"))
      // one scan for the 4 workspace writes + takedown feed + readback (r19)
      val docs = filler.unionByName(trio).localCheckpoint(true)
      val (work, conn) = seedWorkspace(s, "graft_mainq_", docs, maxBucketSize = 2)
      val preMh = conn.read("mh_index").select(col("_id").as("doc_id")).distinct()
        .withColumn("_pre", lit(true)).localCheckpoint(true)
      val tplan = new plans.Plan(s, plans.PlanConfig(pidDir = work + "/pid"))
      pipelines.TrainingDataPipeline.takedownTick(tplan, work,
        docs.filter(col("doc_id") < 0).select(col("doc_id")))
      tplan.run()
      val mplan = new plans.Plan(s, plans.PlanConfig(pidDir = work + "/pid2"))
      pipelines.TrainingDataPipeline.maintenanceTick(mplan, work,
        maxBucketSize = 2)
      mplan.run()
      workspaceMembership(conn,
        docs.filter(col("doc_id") >= 0).join(preMh, Seq("doc_id"), "left"),
        col("doc_id"), (col("doc_id") % 62 === 0).as("recapped"),
        coalesce(col("_pre"), lit(false)).as("was_in_mh"))
    }),

    "q_content_chunks" -> ((s, dir) =>
      // content-defined chunking (rsync/FastCDC boundaries at word
      // granularity): boundary after every word whose md5 opens below
      // hex '2' — chunks, word counts, and chunk digests all replay
      // from md5/string ops alone
      operators.Dedup.contentDefinedChunks(T(s, dir, "documents"),
          "text", "doc_id")
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "q_chunk_share" -> ((s, dir) =>
      // chunk-level duplication profile: per doc, how many of its CDC
      // chunks appear in other documents too (boilerplate/mirror
      // detector); fixed-point millionths, distinct-doc ownership
      // partial-aggregated per chunk digest
      operators.Dedup.chunkSharing(T(s, dir, "documents"), "text", "doc_id")
        .orderBy(col("doc_id"))),

    "q_chunk_incr" -> ((s, dir) => {
      // incremental CDC-containment probe (VERDICT r16 #2): the corpus
      // (doc_id % 3 != 0) is touched only through its persisted chunk
      // index; the delta (doc_id % 3 == 0) probes it. The oracle
      // replays the BATCH pairing over the union corpus restricted to
      // delta-involving pairs — which the probe equals by construction
      // (same buckets, same cap, same masses, same fixed-point scores)
      val docs = T(s, dir, "documents")
      val index = operators.Dedup.chunkIndex(
        docs.filter(col("doc_id") % 3 =!= 0), "text", "doc_id")
      operators.Dedup.containmentAgainstIndex(
          docs.filter(col("doc_id") % 3 === 0), "text", "doc_id", index,
          thresholdFp = 300000L)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_containment_dedup" -> ((s, dir) => {
      // containment RESOLUTION (VERDICT r16 #4): every 31st doc gets a
      // planted "quoting" twin — preface + the full article + closing —
      // so the original is near-fully contained in its twin; the policy
      // keeps the superset and drops the contained side. Output = the
      // surviving doc ids, md5-replayable end to end.
      val base = T(s, dir, "documents").filter(col("doc_id") % 31 === 0)
        .select(col("doc_id"), col("text"))
      val quoting = base.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("Preface remarks before the quoted article begins. "),
          col("text"),
          lit(" Closing commentary after the quotation ends.")).as("text"))
      operators.Dedup.containmentDedup(base.unionByName(quoting),
          "text", "doc_id", thresholdFp = 700000L)
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    "q_robots_gate" -> ((s, dir) => {
      // the crawl-policy gate as a corpus query: every 47th doc hosts a
      // planted robots.txt — EVEN ids carry a graftbot group that
      // SHADOWS a Disallow-everything * group (RFC 9309 group
      // selection), ODD ids only a * group — crossed with 6 fixed URL
      // paths; every verdict (longest-match, Allow tie-break, wildcard
      // + anchor, default-allow) is a closed-form statement the oracle
      // writes out directly
      val docs = T(s, dir, "documents").filter(col("doc_id") % 47 === 0)
        .select(col("doc_id"))
      val shadowed = "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\n" +
        "Disallow: /private/\nAllow: /private/pub$\nDisallow: /*.zip$\n"
      val starOnly = "User-agent: *\nDisallow: /tmp/\nAllow: /tmp/ok\n"
      val robots = docs.withColumn("txt",
        when(col("doc_id") % 2 === 0, lit(shadowed)).otherwise(lit(starOnly)))
      val urls = docs.withColumn("path", explode(array(Seq("/index.html",
        "/private/x", "/private/pub", "/data.zip", "/tmp/ok123", "/tmp/zzz")
        .map(lit): _*)))
      operators.Robots.urlGate(robots, "doc_id", "txt", urls, "doc_id",
          "path", "graftbot")
        .orderBy(col("doc_id"), col("path"))
    }),

    "q_warc_cdx" -> ((s, dir) => {
      // CDX-style capture index over the planted archives: every
      // record's offset in the UNCOMPRESSED stream is CLOSED-FORM
      // (records are back-to-back, sizes are fixed-width + the
      // media_id's digit count), content lengths/status replay from
      // q_warc_records, and text_md5 is the md5 of the decoded
      // response text — the gzip parity (even ids) proves offsets are
      // compression-independent locators
      val docs = T(s, dir, "documents").filter(col("doc_id") % 61 === 0)
      val media = operators.Warc.syntheticWarc(docs, "doc_id")
        .withColumn("payload", when(col("media_id") % 122 === 0,
          expr("substring(payload, 1, 8)")).otherwise(col("payload")))
      operators.Warc.extractWarcCdx(media).toDF()
        .orderBy(col("media_id"), col("rec_idx"))
    }),

    "q_mp3_probe" -> ((s, dir) => {
      // MPEG-audio frame-header walk as a corpus query: every 53rd doc
      // carries a planted (2 + id%5)-frame 128kbps/32kHz Layer III
      // stream (ID3v2 front tag skipped via syncsafe size, ID3v1 "TAG"
      // trailer ends the walk cleanly); ids divisible by 106 are
      // TRUNCATED to 8 bytes — the dirty ok=false fallback row. Frame
      // and sample totals are COUNTED complete frames, never a tag
      // claim; duration is exact integer math (36 ms per frame).
      val docs = T(s, dir, "documents").filter(col("doc_id") % 53 === 0)
      val media = Multimodal.syntheticRealMp3(docs, "doc_id")
        .withColumn("payload", when(col("media_id") % 106 === 0,
          expr("substring(payload, 1, 8)")).otherwise(col("payload")))
      Multimodal.extractMp3Probe(media).toDF().orderBy(col("media_id"))
    }),

    "q_ogg_probe" -> ((s, dir) => {
      // Ogg page walk as a corpus query: every 59th doc carries a
      // planted Vorbis stream (BOS id page + (2 + id%5) two-packet
      // data pages, granule stepping 3200 samples at 32 kHz ⇒ 100 ms
      // per page); ids divisible by 118 are TRUNCATED to 8 bytes — the
      // dirty ok=false fallback row. Page/packet totals are COUNTED
      // from headers and lacing tables; duration comes from the final
      // granule, never a comment tag.
      val docs = T(s, dir, "documents").filter(col("doc_id") % 59 === 0)
      val media = Multimodal.syntheticRealOgg(docs, "doc_id")
        .withColumn("payload", when(col("media_id") % 118 === 0,
          expr("substring(payload, 1, 8)")).otherwise(col("payload")))
      Multimodal.extractOggProbe(media).toDF().orderBy(col("media_id"))
    }),

    // ---- model-evaluation metrics: the offline-eval pass after every
    // ranker / classifier / reward-model change ----
    "q_eval_rank" -> ((s, dir) =>
      // ranked-retrieval eval per user: rank events by value, relevance
      // = purchase; NDCG/MRR from inlined gain literals (integer sums),
      // the only doubles pinned divisions
      operators.Evaluation.rankedEval(
          T(s, dir, "events").select(col("user_id"), col("event_id"),
            col("value"), (col("event_type") === "purchase").as("rel")),
          "user_id", "event_id", "value", "rel", k = 10)
        .orderBy(col("user_id"))),

    "q_auc" -> ((s, dir) =>
      // tie-aware Mann-Whitney AUC per event_type in histogram shape:
      // corpus pass = one (group, score) aggregate; rank arithmetic
      // runs on the distinct-score table only
      operators.Evaluation.rocAuc(
          T(s, dir, "events").select(col("event_type"), col("value"),
            (pmod(col("user_id"), lit(3L)) === 0L).as("label")),
          "event_type", "value", "label")
        .orderBy(col("event_type"))),

    "q_eval_f1" -> ((s, dir) =>
      // confusion-matrix rollup of our OWN langid against the labeled
      // lang column — per-class precision/recall/F1, label set = truth
      // ∪ predicted so 'und' still reports precision
      operators.Evaluation.classifierEval(
          T(s, dir, "documents").select(col("lang").as("truth"),
            TextFunctions.langId(col("text")).as("pred")),
          "truth", "pred")
        .orderBy(col("label"))),

    "q_calibration" -> ((s, dir) => {
      // calibration bins of a replayable pseudo-score (the q_split hash
      // as a probability) against conversion: exact counts + the
      // fixed-point gap whose sum IS the ECE numerator
      val prob = (pmod(col("event_id") * lit(2654435761L), lit(4294967296L))
        % lit(1000L)).cast("double") / lit(1000.0)
      operators.Evaluation.calibrationBins(
          T(s, dir, "events").select(col("event_type"), prob.as("prob"),
            (col("value") > lit(50.0)).as("label")),
          "event_type", "prob", "label", bins = 10)
        .orderBy(col("event_type"), col("bin"))
    }),

    "q_fdr_bh" -> ((s, dir) => {
      // multiple-testing gate over a per-(type, day) hypothesis grid
      // with replayable pseudo p-values (the q_calibration hash
      // pattern) — integer-exact BH rejection boundary, rank ties by key
      val hyp = T(s, dir, "events")
        .select(col("event_type"), dayofmonth(col("ts")).as("day")).distinct()
        .withColumn("hyp_id", ascii(col("event_type")) * lit(1000L) +
          col("day") * lit(31L) + length(col("event_type")))
        .withColumn("p", (pmod(col("hyp_id") * lit(2654435761L), lit(4294967296L)) %
          lit(1000000L)).cast("double") / lit(1000000.0))
      operators.Analytics.bhCorrect(hyp.select(col("hyp_id"), col("p")),
          "hyp_id", "p", alphaNum = 10, alphaDen = 100)
        .orderBy(col("rank"))
    }),

    "q_holm" -> ((s, dir) => {
      // the FWER step-down gate over the same hypothesis grid as
      // q_fdr_bh — exact integer p(j)·(m−j+1) boundary, ties by key
      val hyp = T(s, dir, "events")
        .select(col("event_type"), dayofmonth(col("ts")).as("day")).distinct()
        .withColumn("hyp_id", ascii(col("event_type")) * lit(1000L) +
          col("day") * lit(31L) + length(col("event_type")))
        .withColumn("p", (pmod(col("hyp_id") * lit(2654435761L), lit(4294967296L)) %
          lit(1000000L)).cast("double") / lit(1000000.0))
      operators.Analytics.holmCorrect(hyp.select(col("hyp_id"), col("p")),
          "hyp_id", "p", alphaNum = 10, alphaDen = 100)
        .orderBy(col("rank"))
    }),

    "q_experiment_report" -> ((s, dir) =>
      // the COMPOSED experiment readout (r15, VERDICT r14 #4): CUPED
      // pooled-θ adjustment of every unit (the q_cuped covariate) →
      // Welch t on the adjusted metric per event_type experiment →
      // A&S-erfc two-sided p at 1e9 fixed point → Holm FWER gate
      // across the experiment family — one table a launch review reads
      operators.Analytics.experimentReport(
          T(s, dir, "events").filter(col("user_id").isNotNull && col("value").isNotNull)
            .select(col("event_type").as("experiment"),
              when(pmod(col("user_id"), lit(2L)) === 0L, lit("control"))
                .otherwise(lit("treatment")).as("variant"),
              col("value"),
              (floor(col("value") / 2.0) + pmod(col("user_id"), lit(7L)))
                .cast("double").as("pre")),
          "experiment", "variant", "value", "pre")
        .orderBy(col("experiment"))),

    "q_isotonic" -> ((s, dir) => {
      // PAV isotonic calibration on a pinned score/label fixture with
      // known pooling violations — the pooling chain is data-dependent,
      // so golden rows (the q_bpe_train pattern); corpus-scale behavior
      // and the exact-rational pooling rule are EvaluationSpec's
      import s.implicits._
      val fx = Seq(
        (0.1, false), (0.1, false), (0.2, true), (0.3, false), (0.3, false),
        (0.4, true), (0.5, false), (0.6, true), (0.6, true), (0.7, true),
        (0.8, false), (0.9, true), (0.9, true), (0.95, true))
        .toDF("score", "label")
      operators.Evaluation.isotonicCalibrate(fx, "score", "label")
        .orderBy(col("score_lo"))
    }),

    "q_isotonic_apply" -> ((s, dir) => {
      // the fitted PAV step function applied to fresh scores: clamp
      // below the first block, extend beyond the last, nulls stay null
      import s.implicits._
      val fx = Seq(
        (0.1, false), (0.1, false), (0.2, true), (0.3, false), (0.3, false),
        (0.4, true), (0.5, false), (0.6, true), (0.6, true), (0.7, true),
        (0.8, false), (0.9, true), (0.9, true), (0.95, true))
        .toDF("score", "label")
      val blocks = operators.Evaluation.isotonicCalibrate(fx, "score", "label")
      val probe = Seq((1L, Some(0.05)), (2L, Some(0.25)), (3L, Some(0.45)),
        (4L, Some(0.6)), (5L, Some(0.93)), (6L, Some(2.0)), (7L, None))
        .toDF("id", "score")
      operators.Evaluation.applyCalibration(probe, "score", blocks)
        .orderBy(col("id"))
    }),

    "q_conformal" -> ((s, dir) => {
      // split-conformal drift gate: the 95% conformal threshold from
      // early-month purchase values (rank = ceil((n+1)*95/100), exact
      // order statistic via TakeOrdered), late-month purchases flagged
      // against it — calibrated <=5% false-positive rate by construction
      val ev = T(s, dir, "events").filter(col("event_type") === "purchase")
      val calib = ev.filter(dayofmonth(col("ts")) <= 20)
      val test = ev.filter(dayofmonth(col("ts")) > 20)
        .select(col("event_id"), col("value"))
      operators.Evaluation.conformalFlag(calib, "value", test, "value",
          alphaNum = 5, alphaDen = 100)
        .orderBy(col("event_id"))
    }),

    "q_ips" -> ((s, dir) => {
      // offline policy evaluation on logged traffic: replayable
      // pseudo-propensities (Knuth-hash buckets in [0.1, 1.0) at 1e6
      // scale) for the logging and target policies, reward =
      // floor(value*1e6); clipped IPS + SNIPS per event_type — every
      // sum an exact integer, the estimates pinned final divisions
      val h1 = pmod(col("event_id") * lit(2654435761L), lit(4294967296L)) %
        lit(900000L) + lit(100000L)
      val h2 = pmod((col("event_id") + lit(7L)) * lit(2246822519L), lit(4294967296L)) %
        lit(900000L) + lit(100000L)
      val d = T(s, dir, "events").select(col("event_type"),
        h1.cast("long").as("prop_fp"), h2.cast("long").as("target_fp"),
        floor(col("value") * lit(1000000.0)).cast("long").as("reward_fp"))
      // library API keeps DECIMAL(38,0) sums (overflow-proof at scale);
      // the driver-facing frame casts to BIGINT — exact at verify SFs
      // (max |sum_wr_fp| ~1.4e18 at sf0.1) and pandas-dtype-stable
      operators.Preference.ipsEstimate(d, "event_type", "prop_fp", "target_fp",
          "reward_fp")
        .withColumn("sum_w_fp", col("sum_w_fp").cast("long"))
        .withColumn("sum_wr_fp", col("sum_wr_fp").cast("long"))
        .orderBy(col("event_type"))
    }),

    // ---- preference-data operators: judgments → reward/DPO data ----
    "q_bradley_terry" -> ((s, dir) => {
      // per-user pairwise event-type preferences (winner = larger
      // fixed-point value total, ties to the lexicographically smaller
      // type) aggregated by the integer-exact MM solve — the corpus
      // passes once; the driver sees item-cardinality state
      val base = T(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          floor(col("value") * lit(1000000.0)).cast("long").as("_vfp"))
        .groupBy(col("user_id"), col("event_type"))
        .agg(sum(col("_vfp")).as("_tot"))
      val a = base.select(col("user_id"), col("event_type").as("_ta"), col("_tot").as("_sa"))
      val b = base.select(col("user_id"), col("event_type").as("_tb"), col("_tot").as("_sb"))
      val pairs = a.join(b, Seq("user_id")).filter(col("_ta") < col("_tb"))
        .select(
          when(col("_sa") >= col("_sb"), col("_ta")).otherwise(col("_tb")).as("winner"),
          when(col("_sa") >= col("_sb"), col("_tb")).otherwise(col("_ta")).as("loser"))
      operators.Preference.bradleyTerry(pairs, "winner", "loser", iterations = 3)
        .orderBy(col("item"))
    }),

    "q_pref_pairs" -> ((s, dir) =>
      // DPO pair construction: per source, best-vs-worst doc by length
      // score with a 50-char margin gate — one max/min-struct pass
      operators.Preference.preferencePairs(
          T(s, dir, "documents").select(col("source"), col("doc_id"),
            col("n_chars").cast("double").as("score")),
          "source", "doc_id", "score", minMargin = 50.0)
        .orderBy(col("source"))),

    "q_corr" -> ((s, dir) =>
      // pairwise Pearson matrix over the lineitem numerics from ONE
      // pass of exact DECIMAL fixed-point moments (scale 2: cents)
      operators.Profile.corrMatrix(
          T(s, dir, "lineitem").select(col("l_quantity"),
            col("l_extendedprice"), col("l_discount"), col("l_tax")),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), scale = 2)
        .orderBy(col("col_a"), col("col_b"))),

    "q_dist_match" -> ((s, dir) => {
      // histogram matching: thin the src0-9 slice so its length-bucket
      // distribution matches the src1x slice's — exact integer keep
      // fractions, seeded LCG survival, corpus read once
      val d = T(s, dir, "documents")
      val isA = col("source").rlike("^src[0-9]$")
      def bucketed(df: DataFrame) =
        df.withColumn("bucket", expr("CAST(n_chars AS BIGINT) DIV 100"))
      operators.Curation.distMatch(bucketed(d.filter(isA)),
          bucketed(d.filter(!isA)), "bucket", "doc_id", seed = 77L)
        .select(col("doc_id"), col("bucket"), col("keep_fp"))
        .orderBy(col("doc_id"))
    }),

    // ---- annotator-agreement + generation-overlap eval ----
    "q_kappa" -> ((s, dir) =>
      // chance-corrected agreement of our langid with the gold lang
      // column, per source slice — one confusion pass, all-integer
      // numerators, pinned final divisions
      operators.Evaluation.cohenKappa(
          T(s, dir, "documents").select(col("source"),
            col("lang").as("gold"), TextFunctions.langId(col("text")).as("pred")),
          "source", "gold", "pred")
        .select(col("source"), col("n"), col("agree"),
          col("pe_num").cast("long").as("pe_num"),
          col("po"), col("pe"), col("kappa"))
        .orderBy(col("source"))),

    "q_mcnemar" -> ((s, dir) => {
      // paired model comparison per source on the SAME documents: does
      // the trained langid beat the crude contains-"the" heuristic at
      // English detection? Only discordant docs carry evidence; exact
      // cell counts, pinned chi2
      val toks = filter(split(lower(coalesce(col("text"), lit(""))), "[^\\p{L}]+"),
        t => length(t) > 0)
      val gold = col("lang") === "en"
      operators.Evaluation.mcnemar(
          T(s, dir, "documents").select(col("source"),
            ((TextFunctions.langId(col("text")) === "en") === gold).as("ca"),
            (array_contains(toks, "the") === gold).as("cb")),
          "source", "ca", "cb")
        .orderBy(col("source"))
    }),

    "q_gwet_ac1" -> ((s, dir) =>
      // the prevalence-robust agreement coefficient on the q_kappa
      // fixture: same confusion pass, chance term from the averaged
      // category marginals — exact HUGEINT-replayable numerators
      operators.Evaluation.gwetAC1(
          T(s, dir, "documents").select(col("source"),
            col("lang").as("gold"), TextFunctions.langId(col("text")).as("pred")),
          "source", "gold", "pred")
        .orderBy(col("source"))),

    "q_rouge_l" -> ((s, dir) => {
      // LCS-based generation eval over TWO closed-form pair families
      // (VERDICT r13 #3). Family 0 (pair_id even): cand = ref minus
      // every third token — a subsequence, LCS = |cand| = n − ⌊n/3⌋,
      // exercising the match diagonal. Family 1 (pair_id odd): per-row
      // DISTINCT tokens w1…wn block-swapped — ref = A·B, cand = B·A
      // with |A| = ⌊n/2⌋; a common subsequence can't mix A and B
      // elements (their order flips between the sides), so LCS =
      // max(|A|,|B|) = n − ⌊n/2⌋ < |cand| — the DP's else/max branch
      // is oracle-checked, not just spec-pinned. Both sides are built
      // from the first 1000 tokens so rougeL's maxTokens = 1024 cap
      // can never engage and the oracle needs no cap mirror.
      val d = T(s, dir, "documents")
      val toksAll = slice(filter(split(TextFunctions.normalizeForFingerprint(
        coalesce(col("text"), lit(""))), " "), t => length(t) > 0), 1, 1000)
      val sub = d.select((col("doc_id") * 2).as("pair_id"),
        concat_ws(" ", filter(toksAll, (t, i) => pmod(i, lit(3)) =!= 2)).as("cand"),
        concat_ws(" ", toksAll).as("ref"))
      val n = size(toksAll)
      def words(from: Column, to: Column) =
        when(from <= to, concat_ws(" ",
          transform(sequence(from, to), i => concat(lit("w"), i.cast("string")))))
          .otherwise(lit(""))
      val k = floor(n / 2).cast("int")
      val swap = d.select((col("doc_id") * 2 + 1).as("pair_id"),
        concat_ws(" ", words(k + 1, n), words(lit(1), k)).as("cand"),
        words(lit(1), n).as("ref"))
      operators.Evaluation.rougeL(sub.unionAll(swap), "cand", "ref", "pair_id")
        .orderBy(col("pair_id"))
    }),

    "q_krippendorff" -> ((s, dir) => {
      // annotation-queue reliability with MISSING ratings — the case
      // Fleiss can't weight: gold lang rates every doc, a noisy parity
      // rater skips doc_id%5==0, a gold copy skips doc_id%3==0; docs
      // left with one rating (doc_id%15==0) drop as unpairable, alpha's
      // per-item 1/(m-1) weighting handles the rest exactly
      val d = T(s, dir, "documents")
      val r1 = d.select(col("doc_id"), col("lang").as("v"))
      val r2 = d.filter(pmod(col("doc_id"), lit(5L)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("n_chars"), lit(2L)) === 0, col("lang"))
            .otherwise(lit("und")).as("v"))
      val r3 = d.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
        .select(col("doc_id"), col("lang").as("v"))
      operators.Evaluation.krippendorffAlpha(
        r1.unionAll(r2).unionAll(r3), "doc_id", "v")
    }),

    "q_fleiss" -> ((s, dir) => {
      // three raters per document (gold lang, our langid, and a seeded
      // degradation of gold) → the variable-rater Fleiss kappa; one
      // corpus pass to (item, category) counts, exact decimal sums
      val d = T(s, dir, "documents").select(col("doc_id"), col("lang"),
        TextFunctions.langId(col("text")).as("pred"))
      val rated = d.select(col("doc_id"), explode(array(col("lang"), col("pred"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("und"))
          .otherwise(col("lang")))).as("cat"))
      operators.Evaluation.fleissKappa(rated, "doc_id", "cat")
        .select(col("n_items"), col("n_ratings"),
          col("a_num").cast("long").as("a_num"),
          col("d_num").cast("long").as("d_num"),
          col("s_num").cast("long").as("s_num"),
          col("pbar"), col("pbar_e"), col("kappa"))
    }),

    "q_bleu" -> ((s, dir) => {
      // corpus BLEU-4 of a stopword-stripping transform against the
      // original text — the distortion readout any cleaning stage
      // should publish; gram strings (not hashes) on both engines
      val d = T(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"),
          "(?i)\\b(the|and|of|to|in|is|that|it|for|was)\\b", " ").as("cand"),
        col("text").as("ref"))
      val ov = operators.Evaluation.ngramOverlap(d, "cand", "ref", "doc_id", maxN = 4)
      operators.Evaluation.bleuSummary(ov)
        .withColumn("bp", round(col("bp"), 9) + 0.0)
    }),

    "q_sq8" -> ((s, dir) => {
      // int8 scalar quantization of the embedding corpus: train per-dim
      // ranges, encode, rank by the integer asymmetric dot against
      // vec 0, and report each hit's worst-dim reconstruction error
      val e = T(s, dir, "embeddings")
      val stats = operators.Similarity.sq8Train(e, "embedding")
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0)
      // materialize the codes (in production: write the index) so the
      // score/error branches reference the stored column instead of
      // re-inlining 64 encode expressions each — the collapsed
      // single-projection form overflows the 64 KB codegen method
      // limit and drops the scan to interpreted eval
      val enc = operators.Similarity.sq8Encode(e, "embedding", stats)
        .localCheckpoint(true)
      val withErr = operators.Similarity.sq8Error(enc, "embedding", "_sq", stats)
      operators.Similarity.sq8TopK(enc, "_sq", "vec_id", stats, q, k = 50)
        .join(withErr.select(col("vec_id"), col("err_fp")), Seq("vec_id"))
        .select(col("vec_id"), col("score_fp"), col("err_fp"))
        .orderBy(col("score_fp").desc, col("vec_id"))
    }),

    // ---- privacy audit, interval overlap, hard-negative mining ----
    "q_ldiversity" -> ((s, dir) =>
      // k-anonymity / l-diversity audit over (event_type, value band)
      // quasi-identifiers with user_id sensitive: one pass, exact
      // count_distinct, group-cardinality output
      operators.Privacy.kAnonymityAudit(
          T(s, dir, "events").select(col("event_type"),
            floor(col("value") / 10.0).cast("long").as("value_band"),
            col("user_id")),
          Seq("event_type", "value_band"), "user_id", k = 150, l = 60)
        .orderBy(col("event_type"), col("value_band"))),

    "q_tcloseness" -> ((s, dir) =>
      // the third privacy rung: per quasi group, exact ordered EMD
      // between the group's sensitive-cohort distribution and the
      // corpus's — integer cumulative differences on the bounded
      // groups x values grid, strict-integer violation test at t = 1/20
      operators.Privacy.tClosenessAudit(
          T(s, dir, "events").filter(col("value").isNotNull)
            .select(col("event_type"),
            floor(col("value") / 10.0).cast("long").as("value_band"),
            pmod(col("user_id"), lit(8L)).as("cohort")),
          Seq("event_type", "value_band"), "cohort", tNum = 1L, tDen = 20L)
        .orderBy(col("event_type"), col("value_band"))),

    "q_kanon_suppress" -> ((s, dir) =>
      // the release-safe subset: rows whose quasi group passes both
      // thresholds survive via one co-partitioned left_semi join
      operators.Privacy.suppress(
          T(s, dir, "events").select(col("event_id"), col("event_type"),
            floor(col("value") / 10.0).cast("long").as("value_band"),
            col("user_id")),
          Seq("event_type", "value_band"), "user_id", k = 150, l = 60)
        .select(col("event_id"), col("event_type"), col("value_band"))
        .orderBy(col("event_id"))),

    "q_pseudonymize" -> ((s, dir) =>
      // release-time tokenization: direct identifiers replaced by
      // salted md5 tokens — joinability preserved (same value, same
      // token), salt rotation revokes; stateless codegen'd expression
      // chain, no shuffle
      operators.Privacy.pseudonymize(
          T(s, dir, "customer").select(col("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_mktsegment")),
          Seq("c_name", "c_nationkey"), salt = "graft-release-2024")
        .orderBy(col("c_custkey"))),

    "q_overlap_join" -> ((s, dir) => {
      // concurrent-activity pairing: per-user daily click sessions ×
      // daily view sessions whose half-open windows intersect — bucket
      // equi-join, pair counted only in its max-start bucket, never a
      // nested loop
      val ev = T(s, dir, "events")
      def daily(t: String, p: String) = ev.filter(col("event_type") === t)
        .groupBy(col("user_id"), to_date(col("ts")).as(s"${p}_day"))
        .agg(min(col("ts")).as(s"${p}_start"),
          (max(col("ts")) + expr("INTERVAL 1 SECOND")).as(s"${p}_end"))
      operators.TemporalJoin.intervalOverlap(
          daily("click", "a"), daily("view", "b"), Seq("user_id"),
          "a_start", "a_end", "b_start", "b_end", bucketSeconds = 21600)
        .select(col("user_id"), col("a_day"), col("b_day"),
          col("a_start"), col("a_end"), col("b_start"), col("b_end"))
        .orderBy(col("user_id"), col("a_day"), col("b_day"))
    }),

    "q_hard_neg" -> ((s, dir) => {
      // BM25 hard negatives for 3 queries in ONE index pass: top-15
      // highest-scoring docs per query that are NOT in its relevance
      // set (doc_id % 7 == q_id), per-query top-k on the mergeable heap
      val docs = T(s, dir, "documents")
      val idx = java.nio.file.Files.createTempDirectory("graft_hn_").toString + "/index"
      operators.Retrieval.buildInvertedIndex(docs, "text", "doc_id", idx)
      val qs = Seq(1L -> Seq("spark", "vector"), 2L -> Seq("merge", "spark"),
        3L -> Seq("data", "model"))
      val rel = docs.select(explode(typedLit(Seq(1L, 2L, 3L))).as("q_id"),
          col("doc_id"))
        .filter(pmod(col("doc_id"), lit(7)) === col("q_id"))
      operators.Retrieval.bm25HardNegativesIndexed(s, idx, qs, rel, k = 15)
        .orderBy(col("q_id"), col("score_fp").desc, col("doc_id"))
    }),

    "q_doremi" -> ((s, dir) => {
      // DoReMi readout: per-source token-weighted excess NLL under the
      // en-trained bigram LM → exponentiated-gradient mixture weights,
      // softmax on order-independent e_fp integers
      val d = T(s, dir, "documents")
      val lm = LanguageModel.train(d.filter(col("lang") === "en"), "text",
        vocabSize = 1000)
      val scored = LanguageModel.scoreNll(d, "text", "doc_id", lm, addK = 0.5)
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
      operators.Curation.domainSoftmaxWeights(scored, "source",
          "avg_nll", "n_bigrams", eta = 1.0, smoothing = 0.2)
        .orderBy(col("source"))
    }),

    "q_snapshot_diff" -> ((s, dir) => {
      // run-over-run audit: orders vs a deterministically perturbed
      // copy (drop %101, reprice %97, add %103 under shifted keys) —
      // one co-partitioned full-outer diff, unchanged keys absent
      val o = T(s, dir, "orders").select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
      val n = o.filter(pmod(col("o_orderkey"), lit(101)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(97)) === 0, col("o_totalprice") + 10.0)
            .otherwise(col("o_totalprice")))
        .unionByName(o.filter(pmod(col("o_orderkey"), lit(103)) === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
      operators.Changelog.snapshotDiff(o, n, "o_orderkey",
          Seq("o_orderstatus", "o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "q_kaplan_meier" -> ((s, dir) => {
      // per-cohort churn survival: duration = active days per user,
      // censored if still active near window end; KM over the
      // (cohort x distinct-duration) counts table, survival via the
      // ordered-frame ln-sum (identical sequential order both engines)
      val subj = T(s, dir, "events").groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("_f"), max(col("ts")).as("_l"))
        .select(col("event_type"),
          datediff(to_date(col("_l")), to_date(col("_f"))).as("duration"),
          (col("_l") < lit("2024-01-24").cast("timestamp")).as("churned"))
      operators.Analytics.kaplanMeier(subj, "event_type", "duration", "churned")
        .orderBy(col("event_type"), col("t"))
    }),

    "q_logrank" -> ((s, dir) => {
      // do even- and odd-user churn curves differ per cohort: the
      // two-sample log-rank gate over the same KM subject table —
      // hypergeometric expectations off the NDV-bounded at-risk
      // windows, per-time pinned-division terms, time-ordered folds
      val subj = T(s, dir, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("_f"), max(col("ts")).as("_l"))
        .select(col("event_type"),
          when(pmod(col("user_id"), lit(2L)) === 0L, lit("even"))
            .otherwise(lit("odd")).as("arm"),
          datediff(to_date(col("_l")), to_date(col("_f"))).as("duration"),
          (col("_l") < lit("2024-01-24").cast("timestamp")).as("churned"))
      operators.Analytics.logRank(subj, "event_type", "arm",
          "duration", "churned", "even", "odd")
        .orderBy(col("event_type"))
    }),

    "q_attribution" -> ((s, dir) =>
      // U-shaped multi-touch attribution of purchases: each
      // conversion's 10^6-scale credit splits 40/20/40 over its path's
      // touches; one user window pass + path-bounded position ranks
      operators.Analytics.positionAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_type", convType = "purchase")
        .orderBy(col("event_type"))),

    "q_active_select" -> ((s, dir) => {
      // active-learning margin sampling: the 100 docs whose trained-NB
      // best-vs-runner-up gap is smallest — exact LONG margins on the
      // same fixed-point joint table q_nb_classify scores with
      val d = T(s, dir, "documents")
      val m = TextClassifier.train(d, "text", "lang", vocabSize = 1000)
      TextClassifier.uncertaintySample(d, "text", "doc_id", m, k = 100)
        .orderBy(col("margin_fp"), col("doc_id"))
    })
  )

  /** DuckDB oracle SQL per query (same parquet tables registered by name).
    * Omitted keys → driver records a rows-only check.
    *
    * THE ROWS-ONLY FLOOR (3 queries, by construction): `q_dedup_minhash`,
    * `q_dedup_simhash`, and `q_embedding_neardup` run their LSH families
    * over xxhash64-derived sketches, which DuckDB cannot replay — no
    * SQL formulation exists, so these stay rows-only permanently. Each
    * family's machinery is separately hash-green through a planted
    * arithmetic twin on the same code path: `q_minhash_banding`
    * (band/bucket/pair/est pipeline), `q_hamming_neardup` (chunk-blocked
    * hamming pairing under simhash), and `q_emb_multi_lsh` (multi-table
    * bucket union + cosine verify + cross-table dedup). */
  /** The langid replay (q_langid / q_eval_f1's oracle verbatim) as a
    * reusable `pd` CTE body: expects a CTE `t` providing `$carry` plus
    * `toks`, yields `$carry` plus `pred`. */
  private def langidPdSql(carry: String): String = {
    def ratio(words: Seq[String]): String = {
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> x IN ($lst))) AS DOUBLE) / len(toks) END"
    }
    val en = ratio(Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "are", "his", "this", "they"))
    val de = ratio(Seq("der", "die", "und", "das", "ist", "nicht", "von", "sie", "mit", "ein", "eine", "auf", "den", "dem", "zu"))
    val fr = ratio(Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "que", "pour", "qui", "sur", "pas", "au"))
    val es = ratio(Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por", "con", "para", "del"))
    s"""SELECT $carry,
       |       CASE WHEN GREATEST(r_en, r_de, r_fr, r_es) <= 0.08 THEN 'und'
       |            WHEN r_en >= r_de AND r_en >= r_fr AND r_en >= r_es THEN 'en'
       |            WHEN r_de >= r_fr AND r_de >= r_es THEN 'de'
       |            WHEN r_fr >= r_es THEN 'fr'
       |            ELSE 'es' END AS pred
       |  FROM (SELECT $carry, $en AS r_en, $de AS r_de, $fr AS r_fr, $es AS r_es FROM t) r""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        | ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_read_since" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        | WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' ORDER BY ts, event_id""".stripMargin,

    "q_limit_offset" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 100 OFFSET 50",

    "q_count" -> "SELECT COUNT(1) AS cnt FROM lineitem",

    "q_max_watermark" -> "SELECT MAX(ts) AS max_ts, COUNT(1) AS cnt FROM events",

    "q_agg_pricing" ->
      s"""SELECT l_returnflag, l_linestatus,
         | CAST(SUM($Qty) AS DOUBLE) AS sum_qty,
         | CAST(SUM($Price) AS DOUBLE) AS sum_base,
         | CAST(SUM($Price * $Disc) AS DOUBLE) AS sum_disc_price,
         | CAST(SUM($Price * $Disc * $Chrg) AS DOUBLE) AS sum_charge,
         | CAST(SUM($Qty) AS DOUBLE) / COUNT(*) AS avg_qty,
         | COUNT(1) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_nation_revenue" ->
      s"""SELECT n_name, CAST(SUM($Price * $Disc) AS DOUBLE) AS revenue, COUNT(1) AS n_items
         |FROM lineitem
         | JOIN orders ON l_orderkey = o_orderkey
         | JOIN customer ON o_custkey = c_custkey
         | JOIN nation ON c_nationkey = n_nationkey
         | JOIN region ON n_regionkey = r_regionkey
         |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q_salted_join" ->
      s"""SELECT o_orderpriority, CAST(SUM($Price * $Disc) AS DOUBLE) AS revenue, COUNT(1) AS n_items
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        | WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        | ORDER BY c_custkey""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        | WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        | ORDER BY c_custkey""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) t WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin,

    "q_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |       SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |         ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin,

    "q_first_touch" ->
      """SELECT user_id, event_id AS first_event_id, event_type AS first_event_type, ts AS first_ts
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                   > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events)
        |SELECT user_id, event_id, ts,
        |       CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM g ORDER BY user_id, ts, event_id""".stripMargin,

    "q_union" ->
      """SELECT DISTINCT o_custkey FROM (
        |  SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |  UNION SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997) t
        |ORDER BY o_custkey""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin,

    "q_except" ->
      """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY o_custkey""".stripMargin,

    "q_rollup" ->
      s"""SELECT COALESCE(l_returnflag, 'ALL') AS rflag, COALESCE(l_linestatus, 'ALL') AS lstatus,
         |       COUNT(1) AS cnt, CAST(SUM($Qty) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY rflag, lstatus""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status, COALESCE(o_orderpriority, 'ALL') AS priority,
        |       COUNT(1) AS cnt, CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_pivot" ->
      s"""SELECT l_returnflag,
         | CAST(SUM(CASE WHEN l_linestatus = 'O' THEN $Qty ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_open,
         | CAST(SUM(CASE WHEN l_linestatus = 'F' THEN $Qty ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS qty_finished
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_upsert" ->
      """WITH target AS (SELECT * FROM orders WHERE o_orderkey <= 10000),
        |updates AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE) AS o_totalprice,
        |         o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey > 7500 AND o_orderkey <= 12500)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM (
        |  SELECT * FROM target WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
        |  UNION ALL SELECT * FROM updates) t
        |ORDER BY o_orderkey""".stripMargin,

    "q_incremental_pipe" ->
      """SELECT event_id, ts, user_id, event_type,
        |       CASE WHEN ts > (SELECT MAX(ts) FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00')
        |            THEN value ELSE 0.0 END AS value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_incremental_part" ->
      """SELECT event_id, ts, user_id, event_type,
        |       CASE WHEN ts > (SELECT MAX(ts) FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00')
        |            THEN value ELSE 0.0 END AS value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour_ts, event_type, COUNT(1) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type
        |ORDER BY hour_ts, event_type""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
        |                            ORDER BY doc_id) AS rn
        |  FROM documents) t WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_token_stats" ->
      """SELECT lang, COUNT(1) AS n_docs,
        |       CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
        |       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_quality" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         len(regexp_split_to_array(trim(text), '\s+')) AS tok_cnt,
        |         length(regexp_replace(trim(text), '\s+', '', 'g')) AS nws,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '[^a-z]+'), x -> len(x) > 0) AS toks
        |  FROM documents)
        |SELECT doc_id, tok_cnt,
        |       ROUND(CAST(nws AS DOUBLE) / tok_cnt, 4) AS mean_word_len,
        |       CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |         ROUND(CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','are','was','were','that','it','for','on','with','as','at','by','this','be','from','has','have','not','but','they','his','her'))) AS DOUBLE) / len(toks), 4)
        |       END AS stop_ratio
        |FROM u ORDER BY doc_id""".stripMargin,

    "q_url_normalize" ->
      """SELECT doc_id,
        |       'https://' || lower(source) || '.example.com' ||
        |         CASE WHEN doc_id % 5 = 0 THEN '/'
        |              ELSE '/docs/' || CAST(doc_id AS VARCHAR) END ||
        |         '?ref=' || lang || '&xfbclid=1' AS url_norm,
        |       'example.com' AS domain
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_sanitize" ->
      """SELECT doc_id, regexp_replace(text, '[\x{10000}-\x{10FFFF}]', '???', 'g') AS clean_text,
        |       length(text) - length(regexp_replace(text, '[\x{10000}-\x{10FFFF}]', '???', 'g')) AS len_delta
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      """WITH p0 AS (
        |  SELECT doc_id,
        |         lang || '_' || CAST(n_chars // 100 AS VARCHAR) AS block,
        |         list_distinct(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS sh
        |  FROM documents),
        |p AS (
        |  -- mirror the operator's maxBlockSize=10000 guard: blocks over
        |  -- the cap are dropped whole on BOTH sides
        |  SELECT p0.* FROM p0
        |  JOIN (SELECT block FROM p0 GROUP BY block HAVING COUNT(1) <= 10000) ok
        |    USING (block))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM p a JOIN p b ON a.block = b.block AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_embedding_centroid" ->
      """SELECT label, CAST(i - 1 AS INTEGER) AS dim,
        |       ROUND(CAST(SUM(CAST(embedding[i] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(1), 4) + 0.0 AS c
        |FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q_unpivot" ->
      """SELECT metric, COUNT(1) AS n, ROUND(AVG(val), 4) AS avg_val,
        |       ROUND(MAX(val), 4) AS max_val
        |FROM (
        |  UNPIVOT (SELECT l_orderkey, l_linenumber,
        |                  CAST(l_quantity AS DOUBLE) AS l_quantity,
        |                  CAST(l_extendedprice AS DOUBLE) AS l_extendedprice,
        |                  CAST(l_discount AS DOUBLE) AS l_discount,
        |                  CAST(l_tax AS DOUBLE) AS l_tax
        |           FROM lineitem)
        |  ON l_quantity, l_extendedprice, l_discount, l_tax
        |  INTO NAME metric VALUE val)
        |GROUP BY metric ORDER BY metric""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(FLOOR(value / 25.0) + 1 AS INTEGER) AS bucket,
        |       COUNT(1) AS n, ROUND(AVG(value), 4) AS avg_value
        |FROM events GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_corpus_stats" ->
      """SELECT lang, COUNT(1) AS n_docs, COUNT(DISTINCT source) AS n_sources,
        |       ROUND(AVG(n_chars), 4) AS avg_chars,
        |       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |       ROUND(quantile_cont(n_chars, 0.95), 4) AS p95_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // Good-Turing replay: same type-count table, exact n/V/n1/n2
    // integers, the identical pinned unseen-mass and Chao1 divisions
    // (n1·(n1−1) as a DOUBLE product on both sides).
    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT lang,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                            x -> len(x) > 0)) AS w
        |  FROM documents),
        |c AS MATERIALIZED (SELECT lang, w, COUNT(1) AS c FROM toks GROUP BY 1, 2),
        |a AS (
        |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens, COUNT(1) AS n_types,
        |         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_singletons,
        |         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_doubletons
        |  FROM c GROUP BY 1)
        |SELECT lang, n_tokens, n_types, n_singletons, n_doubletons,
        |       CAST(n_singletons AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS unseen_mass,
        |       CAST(n_types AS DOUBLE)
        |         + CAST(n_singletons AS DOUBLE) * CAST(n_singletons - 1 AS DOUBLE)
        |           / (2.0 * (CAST(n_doubletons AS DOUBLE) + 1.0)) AS chao1
        |FROM a ORDER BY lang""".stripMargin,

    // Top-p mass replay: same ranked window (count desc, token asc), the
    // exact cum·100 >= p·total integer boundary per requested percent.
    "q_vocab_mass" ->
      """WITH toks AS (
        |  SELECT lang,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                            x -> len(x) > 0)) AS w
        |  FROM documents),
        |c AS MATERIALIZED (SELECT lang, w, COUNT(1) AS c FROM toks GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, c,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w ASC) AS rank,
        |         SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, w ASC
        |                      ROWS UNBOUNDED PRECEDING) AS cum,
        |         SUM(c) OVER (PARTITION BY lang) AS total
        |  FROM c)
        |SELECT lang, CAST(MAX(total) AS BIGINT) AS n_tokens, COUNT(1) AS n_types,
        |       MIN(CASE WHEN CAST(cum AS HUGEINT) * 100 >= CAST(total AS HUGEINT) * 50
        |                THEN rank END) AS tokens_p50,
        |       MIN(CASE WHEN CAST(cum AS HUGEINT) * 100 >= CAST(total AS HUGEINT) * 90
        |                THEN rank END) AS tokens_p90,
        |       MIN(CASE WHEN CAST(cum AS HUGEINT) * 100 >= CAST(total AS HUGEINT) * 99
        |                THEN rank END) AS tokens_p99
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    "q_mix_sources" ->
      """WITH c AS (SELECT lang, COUNT(1) AS n FROM documents
        |           WHERE lang IN ('en','de','fr') GROUP BY lang),
        |t AS (SELECT MIN(n / CASE lang WHEN 'en' THEN 0.5 ELSE 0.25 END) AS tv FROM c),
        |k AS (SELECT lang, FLOOR(CASE lang WHEN 'en' THEN 0.5 ELSE 0.25 END * tv) AS kk
        |      FROM c, t),
        |r AS (SELECT doc_id, lang,
        |             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |      FROM documents WHERE lang IN ('en','de','fr'))
        |SELECT r.doc_id, r.lang FROM r JOIN k ON r.lang = k.lang
        |WHERE r.rn <= k.kk ORDER BY doc_id""".stripMargin,

    "q_quantize" ->
      """WITH s AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |         CASE WHEN list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) = 0
        |              THEN 1.0
        |              ELSE list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) / 127.0
        |         END AS scale
        |  FROM embeddings),
        |d AS (
        |  SELECT vec_id, v, scale,
        |         CAST(CAST(list_transform(v, x -> floor(x / scale + 0.5) * scale) AS FLOAT[]) AS DOUBLE[]) AS dq
        |  FROM s)
        |SELECT vec_id, ROUND(scale, 6) AS scale,
        |       ROUND(CAST(list_cosine_similarity(v, dq) AS DOUBLE), 6) AS fidelity
        |FROM d ORDER BY vec_id""".stripMargin,

    "q_vocab" ->
      """SELECT token, COUNT(1) AS freq
        |FROM (SELECT unnest(regexp_split_to_array(
        |        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |      FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY freq DESC, token LIMIT 100""".stripMargin,

    "q_vocab_sketch" ->
      """SELECT token, COUNT(1) AS est, CAST(0 AS BIGINT) AS err
        |FROM (SELECT unnest(regexp_split_to_array(
        |        trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |      FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY est DESC, token""".stripMargin,

    "q_validate" ->
      """WITH t AS (SELECT COUNT(1) AS total,
        |  SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS r_qty,
        |  SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS r_null,
        |  COUNT(l_orderkey) - COUNT(DISTINCT l_orderkey) AS r_uni
        |  FROM lineitem)
        |SELECT rule, violations, total, violations = 0 AS pass FROM (
        |  SELECT 'qty_in_range' AS rule, CAST(r_qty AS BIGINT) AS violations, total FROM t
        |  UNION ALL SELECT 'shipdate_not_null', CAST(r_null AS BIGINT), total FROM t
        |  UNION ALL SELECT 'orderkey_unique', CAST(r_uni AS BIGINT), total FROM t)
        |ORDER BY rule""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, COUNT(1) AS n,
        |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_scd2" ->
      """SELECT user_id, ts AS valid_from,
        |       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
        |       event_type, value
        |FROM events ORDER BY user_id, valid_from""".stripMargin,

    "q_incremental_agg" ->
      """SELECT user_id, event_type, COUNT(1) AS n_events,
        |       ROUND(SUM(value), 4) AS sum_value, MAX(value) AS max_value,
        |       MAX(ts) AS last_ts
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE p0 AS (
        |  SELECT doc_id,
        |         lang || '_' || CAST(n_chars // 100 AS VARCHAR) AS block,
        |         list_distinct(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS sh
        |  FROM documents),
        |p AS (
        |  -- mirror ngramJaccardPairs' maxBlockSize=10000 guard
        |  SELECT p0.* FROM p0
        |  JOIN (SELECT block FROM p0 GROUP BY block HAVING COUNT(1) <= 10000) ok
        |    USING (block)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM p a JOIN p b ON a.block = b.block AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u, LEAST(u, MIN(v)) AS c FROM reach GROUP BY u)
        |SELECT d.doc_id, COALESCE(c.c, d.doc_id) AS cluster_id
        |FROM documents d LEFT JOIN comp c ON d.doc_id = c.u
        |ORDER BY doc_id""".stripMargin,

    // Cluster-split replay of the SCALE-SAFE default path: md5-MinHash
    // LSH candidate generation (DuckDB md5 == Spark md5, so min over
    // md5(i || ':' || shingle) replays every bucket), 2..2000 bucket
    // cap, exact trigram-Jaccard verify at 0.6, then the
    // q_dedup_clusters closure, root = the component (or own id),
    // split = the Knuth bucket walked through the 8/1/1 bounds.
    "q_cluster_split" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN len(nw) >= 3
        |              THEN list_distinct(list_transform(range(1, len(nw) - 1),
        |                                                i -> array_to_string(nw[i:i+2], ' ')))
        |              ELSE [] END AS sh
        |  FROM (SELECT doc_id,
        |               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS nw
        |        FROM documents)),
        |mh AS MATERIALIZED (
        |  SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || s)) AS h
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM p WHERE len(sh) > 0), range(8) t(i)
        |  GROUP BY doc_id, i),
        |ok AS (SELECT i, h FROM mh GROUP BY i, h HAVING COUNT(1) BETWEEN 2 AND 2000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM mh a JOIN mh b ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN ok ON ok.i = a.i AND ok.h = a.h),
        |pairs AS (
        |  SELECT id_a, id_b FROM cand
        |  JOIN p pa ON pa.doc_id = cand.id_a
        |  JOIN p pb ON pb.doc_id = cand.id_b
        |  WHERE CAST(len(list_intersect(pa.sh, pb.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(pa.sh, pb.sh))) >= 0.6),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u, LEAST(u, MIN(v)) AS c FROM reach GROUP BY u),
        |rooted AS (
        |  SELECT d.doc_id, COALESCE(c.c, d.doc_id) AS root
        |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.u)
        |SELECT doc_id, root,
        |       CASE WHEN (root * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
        |            WHEN (root * 2654435761) % 4294967296 % 10 < 9 THEN 'dev'
        |            ELSE 'test' END AS split
        |FROM rooted ORDER BY doc_id""".stripMargin,

    // Keep-best replay: identical pair graph + transitive closure as
    // q_dedup_clusters, then the quality winner per component (max
    // n_chars, tie -> min doc_id); losers = paired members that are not
    // winners; everything else survives.
    "q_dedup_keepbest" ->
      """WITH RECURSIVE p0 AS (
        |  SELECT doc_id,
        |         lang || '_' || CAST(n_chars // 100 AS VARCHAR) AS block,
        |         list_distinct(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS sh
        |  FROM documents),
        |p AS (
        |  SELECT p0.* FROM p0
        |  JOIN (SELECT block FROM p0 GROUP BY block HAVING COUNT(1) <= 10000) ok
        |    USING (block)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM p a JOIN p b ON a.block = b.block AND a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.6),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u, LEAST(u, MIN(v)) AS c FROM reach GROUP BY u),
        |sc AS (SELECT c.u AS doc_id, c.c AS cluster_id, d.n_chars
        |       FROM comp c JOIN documents d ON d.doc_id = c.u),
        |best AS (SELECT cluster_id, MAX(n_chars) AS smax FROM sc GROUP BY cluster_id),
        |winners AS (
        |  SELECT s.cluster_id, MIN(s.doc_id) AS doc_id
        |  FROM sc s JOIN best b ON s.cluster_id = b.cluster_id AND s.n_chars = b.smax
        |  GROUP BY s.cluster_id),
        |losers AS (SELECT doc_id FROM sc
        |           WHERE doc_id NOT IN (SELECT doc_id FROM winners))
        |SELECT d.doc_id, d.n_chars FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY d.doc_id""".stripMargin,

    "q_subword" ->
      """SELECT doc_id,
        |       CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
        |         len(regexp_extract_all(text, '[\p{L}\p{N}]+')) +
        |         len(regexp_extract_all(text, '[^\p{L}\p{N}]'))
        |       END AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Fertility replay: the q_quality token-count and q_subword
    // subword-count formulations rolled to per-language exact sums,
    // then the identical pinned divisions.
    "q_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |         CASE WHEN length(trim(text)) = 0 THEN 0
        |              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS w,
        |         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE
        |           len(regexp_extract_all(text, '[\p{L}\p{N}]+')) +
        |           len(regexp_extract_all(text, '[^\p{L}\p{N}]'))
        |         END AS sw,
        |         COALESCE(length(text), 0) AS ch
        |  FROM documents),
        |g AS (SELECT lang, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |             CAST(SUM(w) AS BIGINT) AS n_words,
        |             CAST(SUM(sw) AS BIGINT) AS n_subwords,
        |             CAST(SUM(ch) AS BIGINT) AS n_chars
        |      FROM t GROUP BY lang)
        |SELECT lang, n_docs, n_words, n_subwords, n_chars,
        |       CASE WHEN n_words > 0
        |            THEN CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE) END AS fertility,
        |       CASE WHEN n_subwords > 0
        |            THEN CAST(n_chars AS DOUBLE) / CAST(n_subwords AS DOUBLE) END AS chars_per_subword
        |FROM g ORDER BY lang""".stripMargin,

    // Threshold-sweep replay: the q_cluster_split md5-LSH chain at the
    // 0.3 floor, verified jaccards binned at 0.05 with the descending
    // cumulative curve.
    "q_threshold_sweep" ->
      """WITH p AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN len(nw) >= 3
        |              THEN list_distinct(list_transform(range(1, len(nw) - 1),
        |                                                i -> array_to_string(nw[i:i+2], ' ')))
        |              ELSE [] END AS sh
        |  FROM (SELECT doc_id,
        |               regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS nw
        |        FROM documents)),
        |mh AS MATERIALIZED (
        |  SELECT doc_id, i, MIN(md5(CAST(i AS VARCHAR) || ':' || s)) AS h
        |  FROM (SELECT doc_id, unnest(sh) AS s FROM p WHERE len(sh) > 0), range(8) t(i)
        |  GROUP BY doc_id, i),
        |ok AS (SELECT i, h FROM mh GROUP BY i, h HAVING COUNT(1) BETWEEN 2 AND 2000),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM mh a JOIN mh b ON a.i = b.i AND a.h = b.h AND a.doc_id < b.doc_id
        |  JOIN ok ON ok.i = a.i AND ok.h = a.h),
        |pairs0 AS (
        |  SELECT CAST(len(list_intersect(pa.sh, pb.sh)) AS DOUBLE) /
        |         len(list_distinct(list_concat(pa.sh, pb.sh))) AS j
        |  FROM cand
        |  JOIN p pa ON pa.doc_id = cand.id_a
        |  JOIN p pb ON pb.doc_id = cand.id_b),
        |bins AS (
        |  SELECT CAST(FLOOR(j * 20.0) AS BIGINT) AS bin, CAST(COUNT(1) AS BIGINT) AS n_pairs
        |  FROM pairs0 WHERE j >= 0.3 GROUP BY 1)
        |SELECT bin, CAST(bin AS DOUBLE) / 20.0 AS jaccard_lo, n_pairs,
        |       CAST(SUM(n_pairs) OVER (ORDER BY bin DESC
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS pairs_at_or_above
        |FROM bins ORDER BY bin""".stripMargin,

    "q_fingerprint" ->
      """SELECT * FROM (VALUES
        | (CAST(1 AS BIGINT), CAST(-3228224702038751617 AS BIGINT)),
        | (2, -3228224702038751617),
        | (3, -7841245394653541932),
        | (4, -3750763034362895579),
        | (5, 5356262287253956275))
        | AS t(doc_id, fp) ORDER BY doc_id""".stripMargin,

    "q_schema_infer" ->
      """SELECT * FROM (VALUES
        | ('id', 'bigint'), ('name', 'string'), ('score', 'double'),
        | ('flag', 'boolean'), ('note', 'void'), ('extra_col', 'bigint'))
        | AS t(col_name, inferred_type) ORDER BY col_name""".stripMargin,

    "q_langid" -> {
      def ratio(words: Seq[String]): String = {
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> x IN ($lst))) AS DOUBLE) / len(toks) END"
      }
      val en = ratio(Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "are", "his", "this", "they"))
      val de = ratio(Seq("der", "die", "und", "das", "ist", "nicht", "von", "sie", "mit", "ein", "eine", "auf", "den", "dem", "zu"))
      val fr = ratio(Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "que", "pour", "qui", "sur", "pas", "au"))
      val es = ratio(Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por", "con", "para", "del"))
      s"""WITH t AS (
         |  SELECT doc_id, lang AS labeled,
         |         list_filter(regexp_split_to_array(lower(trim(text)), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, labeled, $en AS r_en, $de AS r_de, $fr AS r_fr, $es AS r_es
         |  FROM t)
         |SELECT doc_id, labeled,
         |       CASE WHEN GREATEST(r_en, r_de, r_fr, r_es) <= 0.08 THEN 'und'
         |            WHEN r_en >= r_de AND r_en >= r_fr AND r_en >= r_es THEN 'en'
         |            WHEN r_de >= r_fr AND r_de >= r_es THEN 'de'
         |            WHEN r_fr >= r_es THEN 'fr'
         |            ELSE 'es' END AS predicted
         |FROM r ORDER BY doc_id""".stripMargin
    },

    "q_split" ->
      """SELECT doc_id, lang,
        |       CASE WHEN b < 8 THEN 'train' WHEN b < 9 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id, lang,
        |             (doc_id * 2654435761) % 4294967296 % 10 AS b
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    // Seeded-LCG shard + exact (key, id) rank; pmod mirrored as
    // ((x % m) + m) % m so the replay holds for any long id
    "q_shard_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |         ((((((doc_id % 2147483648) + 2147483648) % 2147483648)
        |            * 1103515245 + 42) % 2147483648) + 2147483648) % 2147483648 AS key
        |  FROM documents)
        |SELECT doc_id, CAST(((key % 8) + 8) % 8 AS INTEGER) AS shard,
        |       row_number() OVER (PARTITION BY ((key % 8) + 8) % 8
        |                          ORDER BY key, doc_id) AS pos
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_topk_group" ->
      """SELECT lang, CAST(rn - 1 AS INTEGER) AS rank, doc_id,
        |       CAST(n_chars AS DOUBLE) AS n_chars
        |FROM (SELECT lang, doc_id, n_chars,
        |             row_number() OVER (PARTITION BY lang
        |                                ORDER BY n_chars DESC, doc_id) AS rn
        |      FROM documents)
        |WHERE rn <= 3 ORDER BY lang, rank""".stripMargin,

    "q_mix_weighted" ->
      """WITH avail AS (
        |  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS wsum
        |  FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY lang),
        |t AS (
        |  SELECT MIN(wsum / (CASE lang WHEN 'en' THEN 0.5 ELSE 0.25 END)) AS t
        |  FROM avail),
        |b AS (
        |  SELECT lang, (CASE lang WHEN 'en' THEN 0.5 ELSE 0.25 END) * (SELECT t FROM t) AS budget
        |  FROM avail),
        |c AS (
        |  SELECT doc_id, lang, n_chars,
        |         COALESCE(SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM documents WHERE lang IN ('en', 'de', 'fr'))
        |SELECT c.doc_id, c.lang, c.n_chars
        |FROM c JOIN b USING (lang) WHERE c.cb < b.budget
        |ORDER BY c.doc_id""".stripMargin,

    "q_unimax" ->
      """WITH avail AS MATERIALIZED (
        |  SELECT lang, CAST(SUM(n_chars) AS BIGINT) AS w FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang HAVING SUM(n_chars) > 0),
        |b AS (SELECT 4 * SUM(w) AS budget FROM avail),
        |ord AS (
        |  SELECT lang, w, 6 * w AS c,
        |         row_number() OVER (ORDER BY 6 * w, lang) AS i,
        |         COUNT(*) OVER () AS m,
        |         COALESCE(SUM(6 * w) OVER (ORDER BY 6 * w, lang
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
        |  FROM avail),
        |flag AS MATERIALIZED (
        |  SELECT ord.*, (c * (m - i + 1) <= (SELECT budget FROM b) - p) AS sat FROM ord),
        |agg AS (
        |  SELECT COALESCE(SUM(CASE WHEN sat THEN c END), 0) AS satsum,
        |         COUNT(*) FILTER (WHERE sat) AS j, MAX(m) AS m FROM flag),
        |alloc AS (
        |  SELECT f.lang, f.w,
        |         CASE WHEN f.sat THEN f.c
        |              ELSE ((SELECT budget FROM b) - a.satsum) // (a.m - a.j) END AS alc
        |  FROM flag f CROSS JOIN agg a),
        |parts AS (SELECT lang, CAST(alc // w AS BIGINT) AS fe,
        |                 CAST(alc % w AS BIGINT) AS rem FROM alloc),
        |cb AS (
        |  SELECT d.doc_id, d.lang, d.n_chars,
        |         COALESCE(SUM(d.n_chars) OVER (PARTITION BY d.lang ORDER BY d.doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM documents d WHERE d.lang IN (SELECT lang FROM avail)),
        |sel AS (
        |  SELECT c.doc_id, c.lang, c.n_chars,
        |         unnest(range(0, p.fe + CASE WHEN c.cb < p.rem THEN 1 ELSE 0 END)) AS e
        |  FROM cb c JOIN parts p USING (lang))
        |SELECT doc_id, lang, n_chars, CAST(e AS BIGINT) AS epoch
        |FROM sel ORDER BY doc_id, epoch""".stripMargin,

    "q_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(t) AS dl,
        |         len(list_filter(t, x -> x = 'spark')) AS tf0,
        |         len(list_filter(t, x -> x = 'vector')) AS tf1,
        |         len(list_filter(t, x -> x = 'merge')) AS tf2
        |  FROM toks),
        |s AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
        |         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df0 AS DOUBLE) + 0.5) / (CAST(s.df0 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf0 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    + CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df1 AS DOUBLE) + 0.5) / (CAST(s.df1 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf1 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    + CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df2 AS DOUBLE) + 0.5) / (CAST(s.df2 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf2 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    AS score_fp,
        |    CAST((CASE WHEN d.tf0 > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN d.tf1 > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN d.tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched
        |  FROM d CROSS JOIN s)
        |SELECT doc_id, score_fp, matched FROM sc
        |ORDER BY score_fp DESC, doc_id LIMIT 25""".stripMargin,

    // The q_bm25 replay restricted to matched docs — an inverted index
    // never visits a doc containing no probe term, so the index path's
    // candidate set is exactly `matched > 0`; scores are the identical
    // expression tree.
    "q_inverted_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, len(t) AS dl,
        |         len(list_filter(t, x -> x = 'spark')) AS tf0,
        |         len(list_filter(t, x -> x = 'vector')) AS tf1,
        |         len(list_filter(t, x -> x = 'merge')) AS tf2
        |  FROM toks),
        |s AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
        |         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df0 AS DOUBLE) + 0.5) / (CAST(s.df0 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf0 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    + CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df1 AS DOUBLE) + 0.5) / (CAST(s.df1 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf1 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    + CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df2 AS DOUBLE) + 0.5) / (CAST(s.df2 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf2 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    AS score_fp,
        |    CAST((CASE WHEN d.tf0 > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN d.tf1 > 0 THEN 1 ELSE 0 END)
        |       + (CASE WHEN d.tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS matched
        |  FROM d CROSS JOIN s)
        |SELECT doc_id, score_fp, matched FROM sc WHERE matched > 0
        |ORDER BY score_fp DESC, doc_id LIMIT 25""".stripMargin,

    "q_rrf_hybrid" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |d AS MATERIALIZED (
        |  SELECT doc_id, len(t) AS dl,
        |         len(list_filter(t, x -> x = 'spark')) AS tf0,
        |         len(list_filter(t, x -> x = 'vector')) AS tf1,
        |         len(list_filter(t, x -> x = 'merge')) AS tf2
        |  FROM toks),
        |s AS (
        |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl,
        |         SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
        |         SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
        |         SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
        |  FROM d),
        |sc AS (
        |  SELECT d.doc_id,
        |    CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df0 AS DOUBLE) + 0.5) / (CAST(s.df0 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf0 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf0 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    + CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df1 AS DOUBLE) + 0.5) / (CAST(s.df1 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf1 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf1 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    + CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df2 AS DOUBLE) + 0.5) / (CAST(s.df2 AS DOUBLE) + 0.5))
        |      * (CAST(d.tf2 AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(d.tf2 AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)
        |    AS score_fp
        |  FROM d CROSS JOIN s),
        |lexr AS (
        |  SELECT doc_id, r FROM (
        |    SELECT doc_id, row_number() OVER (ORDER BY score_fp DESC, doc_id) AS r
        |    FROM sc) WHERE r <= 50),
        |semr AS (
        |  SELECT doc_id, r FROM (
        |    SELECT vec_id AS doc_id,
        |           row_number() OVER (ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]),
        |             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC,
        |             vec_id) AS r
        |    FROM embeddings) WHERE r <= 50)
        |SELECT doc_id,
        |       CAST(COALESCE(1000000000000 // (60 + l.r), 0)
        |          + COALESCE(1000000000000 // (60 + s2.r), 0) AS BIGINT) AS rrf_fp,
        |       CAST((CASE WHEN l.r IS NULL THEN 0 ELSE 1 END)
        |          + (CASE WHEN s2.r IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS lists_hit
        |FROM lexr l FULL OUTER JOIN semr s2 USING (doc_id)
        |ORDER BY rrf_fp DESC, doc_id LIMIT 20""".stripMargin,

    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                x -> len(x) > 0)) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(1) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(1) AS n FROM documents),
        |dft AS (SELECT token, COUNT(1) AS df_t FROM tf GROUP BY 1 HAVING COUNT(1) >= 2),
        |s AS (
        |  SELECT tf.doc_id, tf.token,
        |         CAST(FLOOR(CAST(tf.tf AS DOUBLE)
        |           * (ln((1.0 + CAST(n.n AS DOUBLE)) / (1.0 + CAST(dft.df_t AS DOUBLE))) + 1.0)
        |           * 1e8) AS BIGINT) AS tfidf_fp
        |  FROM tf JOIN dft USING (token) CROSS JOIN n)
        |SELECT doc_id, rank, token, tfidf_fp FROM (
        |  SELECT doc_id, token, tfidf_fp,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_fp DESC, token) AS rank
        |  FROM s)
        |WHERE rank <= 5
        |ORDER BY doc_id, rank""".stripMargin,

    // SFT-render replay: same template concat, offsets as ordered
    // running length sums, full text via an ordered window string_agg.
    "q_sft_render" ->
      """WITH base AS (
        |  SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn,
        |         CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |         substr(text, 1, 80) AS content
        |  FROM documents),
        |r AS (
        |  SELECT conv_id, turn, role,
        |         '<|' || role || '|>' || coalesce(content, '') || '<|end|>' AS rr
        |  FROM base),
        |o AS (
        |  SELECT conv_id, turn, role,
        |         CAST(length(rr) AS BIGINT) AS len,
        |         SUM(CAST(length(rr) AS BIGINT))
        |           OVER (PARTITION BY conv_id ORDER BY turn) AS e,
        |         string_agg(rr, '')
        |           OVER (PARTITION BY conv_id ORDER BY turn
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS text
        |  FROM r)
        |SELECT conv_id, turn, role, CAST(e - len AS BIGINT) AS start,
        |       CAST(e AS BIGINT) AS "end",
        |       role = 'assistant' AS loss, text
        |FROM o ORDER BY conv_id, turn""".stripMargin,

    // Span-corruption replay: same LCG mask, same lag-based run starts,
    // same running-sum sentinel numbers, string_agg rebuild (NULL
    // pieces skipped = concat_ws over the empty array, coalesced).
    "q_span_corrupt" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, t[i] AS w
        |  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS i FROM base)),
        |m AS (
        |  SELECT doc_id, pos, w,
        |         ((doc_id * 1103515245 + pos * 12345 + 42) % 2147483648) % 100 < 15 AS m
        |  FROM toks),
        |r AS (
        |  SELECT doc_id, pos, w, m,
        |         m AND NOT coalesce(lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE) AS st
        |  FROM m),
        |s AS (
        |  SELECT doc_id, pos, w, m, st,
        |         SUM(CASE WHEN st THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS k
        |  FROM r)
        |SELECT doc_id,
        |  coalesce(string_agg(CASE WHEN NOT m THEN w
        |                           WHEN st THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        |                      END, ' ' ORDER BY pos), '') AS corrupted,
        |  coalesce(string_agg(CASE WHEN m AND st
        |                             THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || w
        |                           WHEN m THEN w
        |                      END, ' ' ORDER BY pos), '') AS target,
        |  COUNT(1) AS n_tokens,
        |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS n_masked
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Flesch replay: identical tokenization and regex counts, the same
    // pinned formula over exact integers.
    "q_readability" ->
      """WITH t AS (
        |  SELECT doc_id, coalesce(text, '') AS txt,
        |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS tk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
        |         GREATEST(CAST(1 AS BIGINT),
        |           CAST(len(regexp_extract_all(lower(txt), '[.!?]+')) AS BIGINT)) AS n_sentences,
        |         CAST(len(regexp_extract_all(lower(txt), '[aeiouy]+')) AS BIGINT)
        |           + CAST(len(tk) AS BIGINT)
        |           - CAST(len(list_filter(tk, x -> regexp_matches(x, '[aeiouy]'))) AS BIGINT)
        |           AS n_syllables
        |  FROM t)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |       CASE WHEN n_words > 0 THEN
        |         ROUND(CAST(206.835 AS DOUBLE)
        |           - CAST(1.015 AS DOUBLE) * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |           - CAST(84.6 AS DOUBLE) * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6) + 0.0
        |       END AS flesch
        |FROM c ORDER BY doc_id""".stripMargin,

    // Gini replay: same count table, same (weight, item) rank order,
    // same integer numerator, one pinned division.
    "q_gini" ->
      """WITH toks AS (
        |  SELECT lang,
        |         unnest(list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                            x -> len(x) > 0)) AS w
        |  FROM documents),
        |c AS (SELECT lang, w, COUNT(1) AS cnt FROM toks GROUP BY 1, 2),
        |r AS (SELECT lang, w, cnt,
        |             CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt, w) AS BIGINT) AS i
        |      FROM c)
        |SELECT lang, COUNT(1) AS n_items, CAST(SUM(cnt) AS BIGINT) AS total,
        |       CASE WHEN SUM(cnt) > 0 THEN
        |         CAST(SUM(cnt * 2 * i) - (COUNT(1) + 1) * SUM(cnt) AS DOUBLE)
        |           / CAST(COUNT(1) * SUM(cnt) AS DOUBLE)
        |       END AS gini
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // Dynamic-batching replay: same tokenCount, same LCG shard, same
    // (len DESC, id) rank cuts, integer padding arithmetic.
    "q_dyn_batches" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS len
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, len,
        |         ((doc_id * 1103515245 + 11) % 2147483648) % 4 AS shard
        |  FROM d WHERE len IS NOT NULL AND len >= 0),
        |r AS (
        |  SELECT shard, len,
        |         ROW_NUMBER() OVER (PARTITION BY shard ORDER BY len DESC, doc_id) AS rn
        |  FROM s),
        |b AS (SELECT shard, CAST((rn - 1) // 8 AS BIGINT) AS batch, len FROM r)
        |SELECT shard, batch, COUNT(1) AS n_seqs, MAX(len) AS max_len,
        |       CAST(SUM(len) AS BIGINT) AS sum_len,
        |       COUNT(1) * MAX(len) - CAST(SUM(len) AS BIGINT) AS padding
        |FROM b GROUP BY 1, 2 ORDER BY shard, batch""".stripMargin,

    // Distinct-n replay: identical tokenization, unigrams via unnest,
    // bigrams via adjacent element concat, one count rollup per (lang, n).
    "q_diversity" ->
      """WITH toks AS (
        |  SELECT lang,
        |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |a AS (
        |  SELECT lang, 1 AS n, unnest(t) AS gram FROM toks
        |  UNION ALL
        |  SELECT lang, 2 AS n, t[i] || ' ' || t[i + 1] AS gram
        |  FROM (SELECT lang, t, unnest(range(1, len(t))) AS i FROM toks)),
        |c AS (SELECT lang, n, gram, COUNT(1) AS c FROM a GROUP BY 1, 2, 3)
        |SELECT lang, n, CAST(SUM(c) AS BIGINT) AS total_ngrams,
        |       COUNT(1) AS distinct_ngrams,
        |       CAST(COUNT(1) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_ratio
        |FROM c GROUP BY lang, n
        |ORDER BY lang, n""".stripMargin,

    "q_pmi" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |p0 AS (SELECT t, unnest(range(1, len(t))) AS i FROM toks),
        |pc AS (SELECT t[i] AS term_a, t[i + 1] AS term_b, COUNT(1) AS pair_n
        |       FROM p0 GROUP BY 1, 2 HAVING COUNT(1) >= 5),
        |uc AS (SELECT term, COUNT(1) AS n1
        |       FROM (SELECT unnest(t) AS term FROM toks) GROUP BY 1),
        |nt AS (SELECT CAST(SUM(n1) AS BIGINT) AS n FROM uc)
        |SELECT term_a, term_b, pair_n,
        |       CAST(FLOOR((ln(CAST(nt.n AS DOUBLE)) + ln(CAST(pair_n AS DOUBLE))
        |         - ln(CAST(a.n1 AS DOUBLE)) - ln(CAST(b.n1 AS DOUBLE))) * 1e8) AS BIGINT) AS pmi_fp
        |FROM pc JOIN uc a ON pc.term_a = a.term JOIN uc b ON pc.term_b = b.term CROSS JOIN nt
        |ORDER BY pmi_fp DESC, term_a, term_b LIMIT 30""".stripMargin,

    "q_profile" ->
      """SELECT 'l_orderkey' AS col_name, COUNT(1) AS n_rows,
        |       CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        |       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |       CAST(MIN(l_orderkey) AS VARCHAR) AS min_val,
        |       CAST(MAX(l_orderkey) AS VARCHAR) AS max_val
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', COUNT(1),
        |       CAST(SUM(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
        |       CAST(MIN(l_suppkey) AS VARCHAR), CAST(MAX(l_suppkey) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', COUNT(1),
        |       CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(DISTINCT l_returnflag) AS BIGINT),
        |       CAST(MIN(l_returnflag) AS VARCHAR), CAST(MAX(l_returnflag) AS VARCHAR)
        |FROM lineitem
        |UNION ALL
        |SELECT 'l_linestatus', COUNT(1),
        |       CAST(SUM(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(COUNT(DISTINCT l_linestatus) AS BIGINT),
        |       CAST(MIN(l_linestatus) AS VARCHAR), CAST(MAX(l_linestatus) AS VARCHAR)
        |FROM lineitem
        |ORDER BY col_name""".stripMargin,

    "q_html_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>doc</title><style>p { color: #000; }</style></head><body><h1>'
        |    || source || '</h1><!-- doc ' || CAST(doc_id AS VARCHAR) || ' --><p>'
        |    || coalesce(text, '')
        |    || '</p><script type="text/javascript">var x = 1 && 2;</script><div>tail &amp; &lt;raw&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>'
        |    AS html
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_percentiles" ->
      """WITH v AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |         COUNT(1) OVER (PARTITION BY event_type) AS n
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, COUNT(1) AS n,
        |       MAX(CASE WHEN rn = CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT) THEN value END) AS p_50,
        |       MAX(CASE WHEN rn = CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT) THEN value END) AS p_90,
        |       MAX(CASE WHEN rn = CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT) THEN value END) AS p_99
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_gapfill" ->
      """WITH obs AS MATERIALIZED (
        |  SELECT user_id,
        |         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS bucket,
        |         COUNT(1) AS n_events,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
        |  FROM events GROUP BY 1, 2),
        |span AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1),
        |grid AS (SELECT user_id, unnest(range(lo, hi + 3600, 3600)) AS bucket FROM span)
        |SELECT g.user_id, g.bucket,
        |       COALESCE(o.n_events, 0) AS n_events,
        |       o.value_sum,
        |       last_value(o.value_sum IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
        |FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.bucket = o.bucket
        |ORDER BY g.user_id, g.bucket""".stripMargin,

    "q_bloom_join" ->
      """SELECT l_suppkey, COUNT(1) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |JOIN (SELECT s_suppkey FROM supplier JOIN nation
        |      ON s_nationkey = n_nationkey WHERE n_name = 'NATION_3') s
        |  ON l_suppkey = s_suppkey
        |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    "q_fuzzy_join" ->
      """WITH p AS MATERIALIZED (
        |  SELECT p_partkey AS id,
        |         trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS key,
        |         (str_split(trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')), ' '))[1] AS fk,
        |         (str_split(trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')), ' '))[-1] AS lk
        |  FROM part),
        |-- mirror blockedSelfJoin's maxBlockSize=2000 per-blocker cap
        |fb AS MATERIALIZED (SELECT fk, COUNT(1) AS c FROM p GROUP BY 1),
        |lb AS MATERIALIZED (SELECT lk, COUNT(1) AS c FROM p GROUP BY 1),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
        |  FROM p a JOIN p b ON a.fk = b.fk AND a.id < b.id
        |  JOIN fb ON fb.fk = a.fk
        |  WHERE fb.c <= 2000
        |  UNION
        |  SELECT a.id, b.id, a.key, b.key
        |  FROM p a JOIN p b ON a.lk = b.lk AND a.id < b.id
        |  JOIN lb ON lb.lk = a.lk
        |  WHERE lb.c <= 2000)
        |SELECT DISTINCT id_a, id_b, key_a, key_b,
        |       CAST(levenshtein(key_a, key_b) AS BIGINT) AS dist
        |FROM pairs WHERE levenshtein(key_a, key_b) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q_rfm" ->
      """WITH base AS MATERIALIZED (
        |  SELECT o_custkey,
        |         CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)), DATE '2001-12-31') AS BIGINT) AS recency_days,
        |         COUNT(1) AS frequency,
        |         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
        |  FROM orders GROUP BY 1),
        |rr AS (SELECT CAST(recency_days AS DOUBLE) AS m,
        |              row_number() OVER (ORDER BY CAST(recency_days AS DOUBLE)) AS rn,
        |              COUNT(1) OVER () AS n FROM base),
        |rcut AS (SELECT
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.2 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c1,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.4 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c2,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.6 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c3,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.8 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c4
        |  FROM rr),
        |fr AS (SELECT CAST(frequency AS DOUBLE) AS m,
        |              row_number() OVER (ORDER BY CAST(frequency AS DOUBLE)) AS rn,
        |              COUNT(1) OVER () AS n FROM base),
        |fcut AS (SELECT
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.2 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c1,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.4 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c2,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.6 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c3,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.8 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c4
        |  FROM fr),
        |mr AS (SELECT monetary AS m,
        |              row_number() OVER (ORDER BY monetary) AS rn,
        |              COUNT(1) OVER () AS n FROM base),
        |mcut AS (SELECT
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.2 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c1,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.4 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c2,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.6 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c3,
        |  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.8 AS DOUBLE) * n) AS BIGINT) THEN m END) AS c4
        |  FROM mr),
        |scored AS (
        |  SELECT b.o_custkey, b.recency_days, b.frequency, b.monetary,
        |    1 + (CASE WHEN CAST(b.recency_days AS DOUBLE) > r.c1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(b.recency_days AS DOUBLE) > r.c2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(b.recency_days AS DOUBLE) > r.c3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(b.recency_days AS DOUBLE) > r.c4 THEN 1 ELSE 0 END) AS r_bucket,
        |    1 + (CASE WHEN CAST(b.frequency AS DOUBLE) > f.c1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(b.frequency AS DOUBLE) > f.c2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(b.frequency AS DOUBLE) > f.c3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN CAST(b.frequency AS DOUBLE) > f.c4 THEN 1 ELSE 0 END) AS f_bucket,
        |    1 + (CASE WHEN b.monetary > m.c1 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b.monetary > m.c2 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b.monetary > m.c3 THEN 1 ELSE 0 END)
        |      + (CASE WHEN b.monetary > m.c4 THEN 1 ELSE 0 END) AS m_bucket
        |  FROM base b CROSS JOIN rcut r CROSS JOIN fcut f CROSS JOIN mcut m)
        |SELECT o_custkey, recency_days, frequency, monetary,
        |       r_bucket, f_bucket, m_bucket,
        |       CAST(r_bucket AS VARCHAR) || CAST(f_bucket AS VARCHAR)
        |         || CAST(m_bucket AS VARCHAR) AS segment
        |FROM scored ORDER BY o_custkey""".stripMargin,

    "q_event_funnel" ->
      """WITH s1 AS MATERIALIZED (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS MATERIALIZED (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS MATERIALIZED (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'signup' GROUP BY 1),
        |s4 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s3 ON e.user_id = s3.user_id AND e.ts > s3.t
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT 1 AS step_idx, 'view' AS step, (SELECT COUNT(1) FROM s1) AS n_users
        |UNION ALL SELECT 2, 'click', (SELECT COUNT(1) FROM s2)
        |UNION ALL SELECT 3, 'signup', (SELECT COUNT(1) FROM s3)
        |UNION ALL SELECT 4, 'purchase', (SELECT COUNT(1) FROM s4)
        |ORDER BY step_idx""".stripMargin,

    "q_fuzzy_canon" ->
      """WITH RECURSIVE p AS MATERIALIZED (
        |  SELECT p_partkey AS id,
        |         trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')) AS key,
        |         (str_split(trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')), ' '))[1] AS fk,
        |         (str_split(trim(regexp_replace(lower(p_name), '\s+', ' ', 'g')), ' '))[-1] AS lk
        |  FROM part),
        |-- mirror blockedSelfJoin's maxBlockSize=2000 per-blocker cap
        |fb AS MATERIALIZED (SELECT fk, COUNT(1) AS c FROM p GROUP BY 1),
        |lb AS MATERIALIZED (SELECT lk, COUNT(1) AS c FROM p GROUP BY 1),
        |pairs AS MATERIALIZED (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.id AS id_a, b.id AS id_b, a.key AS key_a, b.key AS key_b
        |    FROM p a JOIN p b ON a.fk = b.fk AND a.id < b.id
        |    JOIN fb ON fb.fk = a.fk
        |    WHERE fb.c <= 2000
        |    UNION
        |    SELECT a.id, b.id, a.key, b.key
        |    FROM p a JOIN p b ON a.lk = b.lk AND a.id < b.id
        |    JOIN lb ON lb.lk = a.lk
        |    WHERE lb.c <= 2000)
        |  WHERE levenshtein(key_a, key_b) <= 1),
        |edges AS (SELECT id_a AS u, id_b AS v FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT u, v FROM edges
        |          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
        |comp AS (SELECT u, LEAST(u, MIN(v)) AS c FROM reach GROUP BY u)
        |SELECT p.id, p.key,
        |       COALESCE(comp.c, p.id) AS canonical_id,
        |       ck.key AS canonical_key
        |FROM p LEFT JOIN comp ON p.id = comp.u
        |JOIN p ck ON ck.id = COALESCE(comp.c, p.id)
        |ORDER BY p.id""".stripMargin,

    "q_cap_group" ->
      """SELECT doc_id, source, lang FROM (
        |  SELECT doc_id, source, lang,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q_sample_group" ->
      """WITH h AS (
        |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS p FROM documents),
        |r AS (
        |  SELECT lang, doc_id,
        |         row_number() OVER (PARTITION BY lang ORDER BY p, doc_id) AS rn
        |  FROM h)
        |SELECT lang, CAST(rn - 1 AS INTEGER) AS rank, doc_id
        |FROM r WHERE rn <= 8 ORDER BY lang, rank""".stripMargin,

    "q_chunk" ->
      """WITH w AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> len(x) > 0) AS w
        |  FROM documents WHERE len(trim(text)) > 0),
        |c AS (
        |  SELECT doc_id, len(w) AS n, w,
        |         unnest(range(0, (len(w) - 1) // 56 + 1)) AS chunk_idx
        |  FROM w)
        |SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
        |       array_to_string(w[chunk_idx * 56 + 1 : least(chunk_idx * 56 + 64, n)], ' ') AS chunk_text,
        |       CAST(least(64, n - chunk_idx * 56) AS BIGINT) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_zorder" ->
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id % 10 = 0 ORDER BY event_id""".stripMargin,

    "q_dedup_incr" ->
      """WITH corpus AS (
        |  SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id % 5 <> 0),
        |delta AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 1
        |  UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 5 = 0),
        |d AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM delta),
        |surv AS (
        |  SELECT doc_id, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        |  FROM d WHERE norm NOT IN (SELECT norm FROM corpus))
        |SELECT doc_id FROM surv WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_line_dedup" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         'Copyright 2024 Example Corp. All rights reserved.' || chr(10) ||
        |         text || chr(10) ||
        |         CASE WHEN doc_id % 2 = 0 THEN 'Subscribe to our newsletter for updates!'
        |              ELSE text END AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id, i AS pos, ln[i] AS line
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ln FROM src),
        |       UNNEST(generate_series(1, len(ln))) AS t(i)
        |  WHERE len(ln[i]) > 0),
        |k AS (
        |  SELECT doc_id, pos, line,
        |         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        |  FROM l)
        |SELECT doc_id,
        |       string_agg(line, chr(10) ORDER BY pos) FILTER (rn = 1) AS text,
        |       CAST(count(*) FILTER (rn = 1) AS BIGINT) AS n_lines,
        |       CAST(count(*) FILTER (rn > 1) AS BIGINT) AS n_dropped
        |FROM k GROUP BY doc_id
        |HAVING count(*) FILTER (rn = 1) > 0
        |ORDER BY doc_id""".stripMargin,

    // Span-scrub replay on gram STRINGS (Spark joins on xxhash64 gram
    // fingerprints — identical modulo ~|grams|²/2⁶⁴ collision odds, the
    // q_contamination/lineDedup trade). first-occurrence-keeps = rn 1
    // over (doc_id, i); covered positions union per doc; kept tokens
    // reassemble in position order.
    "q_span_scrub" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 3 = 0
        |              THEN text || ' redistribution and use in source and binary forms with or without modification are permitted provided that'
        |              ELSE text END AS text
        |  FROM documents),
        |t AS MATERIALIZED (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id,
        |           regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS w
        |    FROM src)
        |  WHERE len(w) > 0 AND length(w[1]) > 0),
        |occ AS (
        |  SELECT doc_id, i, array_to_string(w[i:i+7], ' ') AS g
        |  FROM (SELECT doc_id, w, unnest(range(1, greatest(len(w) - 7, 0) + 1)) AS i FROM t)),
        |r AS (
        |  SELECT doc_id, i,
        |         row_number() OVER (PARTITION BY g ORDER BY doc_id, i) AS rn
        |  FROM occ),
        |rm AS (SELECT doc_id, i FROM r WHERE rn > 1),
        |cov AS MATERIALIZED (SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p FROM rm),
        |kept AS (
        |  SELECT t.doc_id, x.p, t.w[CAST(x.p AS INT)] AS tok
        |  FROM t, UNNEST(range(1, len(w) + 1)) AS x(p)
        |  WHERE NOT EXISTS (SELECT 1 FROM cov WHERE cov.doc_id = t.doc_id AND cov.p = x.p)),
        |agg AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text, count(*) AS n_tokens
        |  FROM kept GROUP BY doc_id)
        |SELECT a.doc_id, a.text, CAST(a.n_tokens AS BIGINT) AS n_tokens,
        |       CAST(len(t.w) - a.n_tokens AS BIGINT) AS n_tokens_removed
        |FROM agg a JOIN t ON a.doc_id = t.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    "q_contamination" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 20 = 0 AND doc_id % 100 = 0
        |                THEN text || ' the quick brown fox jumps over the lazy dog'
        |              WHEN doc_id % 20 <> 0 AND doc_id % 7 = 0
        |                THEN text || ' the quick brown fox jumps over the lazy dog'
        |              ELSE text END AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM src),
        |grams AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 5
        |              THEN list_distinct(list_transform(range(1, len(w) - 3),
        |                                                i -> array_to_string(w[i:i+4], ' ')))
        |              ELSE [] END AS gs
        |  FROM norm),
        |bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 20 = 0),
        |corpus AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_ngrams, gs
        |           FROM grams WHERE doc_id % 20 <> 0),
        |hits AS (SELECT e.doc_id, CAST(count(*) AS BIGINT) AS n_hit
        |         FROM (SELECT doc_id, unnest(gs) AS g FROM corpus) e
        |         JOIN bench b ON e.g = b.g GROUP BY e.doc_id)
        |SELECT c.doc_id, c.n_ngrams,
        |       COALESCE(h.n_hit, 0) AS n_contaminated,
        |       CASE WHEN c.n_ngrams = 0 THEN 0.0
        |            ELSE ROUND(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / c.n_ngrams, 6) END AS contamination_frac
        |FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // Reverse attribution replay: Spark joins on 64-bit gram hashes, the
    // oracle on the gram STRINGS the hashes identify — identical modulo
    // ~n²/2⁶⁴ collision odds (the q_contamination trade).
    "q_contamination_attr" ->
      """WITH src AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 20 = 0 AND doc_id % 100 = 0
        |                THEN text || ' the quick brown fox jumps over the lazy dog'
        |              WHEN doc_id % 20 <> 0 AND doc_id % 7 = 0
        |                THEN text || ' the quick brown fox jumps over the lazy dog'
        |              ELSE text END AS text
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id,
        |         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM src),
        |grams AS (
        |  SELECT doc_id,
        |         CASE WHEN len(w) >= 5
        |              THEN list_distinct(list_transform(range(1, len(w) - 3),
        |                                                i -> array_to_string(w[i:i+4], ' ')))
        |              ELSE [] END AS gs
        |  FROM norm),
        |bench AS (SELECT doc_id AS bench_id, gs FROM grams WHERE doc_id % 20 = 0),
        |corpus AS (SELECT doc_id, gs FROM grams WHERE doc_id % 20 <> 0),
        |bg AS (SELECT bench_id, unnest(gs) AS g FROM bench),
        |cg AS (SELECT doc_id, unnest(gs) AS g FROM corpus),
        |hits AS (
        |  SELECT b.bench_id, CAST(count(DISTINCT b.g) AS BIGINT) AS n_hit_ngrams,
        |         CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs
        |  FROM bg b JOIN cg c ON b.g = c.g GROUP BY b.bench_id)
        |SELECT b.bench_id, CAST(len(b.gs) AS BIGINT) AS n_ngrams,
        |       COALESCE(h.n_hit_ngrams, 0) AS n_hit_ngrams,
        |       COALESCE(h.n_corpus_docs, 0) AS n_corpus_docs,
        |       CASE WHEN len(b.gs) = 0 THEN 0.0
        |            ELSE ROUND(CAST(COALESCE(h.n_hit_ngrams, 0) AS DOUBLE) / len(b.gs), 6)
        |       END AS hit_frac
        |FROM bench b LEFT JOIN hits h USING (bench_id)
        |ORDER BY bench_id""".stripMargin,

    "q_pii_scrub" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         text || ' Contact user' || CAST(doc_id AS VARCHAR) ||
        |         '@example.com or call (555) 123-4567 from 10.0.0.' ||
        |         CAST(doc_id % 256 AS VARCHAR) || '.' AS dirty
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(dirty,
        |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |           '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
        |           '\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}\b', '<PHONE>', 'g') AS clean,
        |       len(regexp_extract_all(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |       len(regexp_extract_all(dirty, '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ips,
        |       len(regexp_extract_all(dirty, '\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}\b')) AS n_phones
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_normalize" ->
      """WITH f(doc_id, t) AS (VALUES
        |  (1, 'cafe' || chr(769) || ' nai' || chr(776) || 've'),
        |  (2, 'caf' || chr(233) || ' na' || chr(239) || 've'),
        |  (3, chr(197) || 'ngstr' || chr(246) || 'm ' || chr(241) || ' ' || chr(252) || ' ' || chr(232)),
        |  (4, ''),
        |  (5, 'plain ascii text'))
        |SELECT doc_id, nfc_normalize(t) AS nfc, strip_accents(t) AS stripped
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_repetition" ->
      """WITH base AS (
        |  SELECT doc_id,
        |         list_filter(string_split(text, chr(10)), x -> len(x) > 0) AS lns,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS w
        |  FROM documents),
        |lstat AS (
        |  SELECT doc_id,
        |         CAST(SUM(cnt) AS BIGINT) AS n_lines,
        |         CAST(SUM(cnt * len) AS BIGINT) AS line_chars,
        |         CAST(SUM(cnt - 1) AS BIGINT) AS dup_lines,
        |         CAST(SUM((cnt - 1) * len) AS BIGINT) AS dup_line_chars
        |  FROM (SELECT doc_id, line, count(*) AS cnt, length(line) AS len
        |        FROM (SELECT doc_id, unnest(lns) AS line FROM base)
        |        GROUP BY doc_id, line)
        |  GROUP BY doc_id),
        |wstat AS (
        |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
        |         CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS word_chars
        |  FROM base),
        |g2 AS (SELECT doc_id, g, count(*) AS cnt, any_value(glen) AS glen FROM (
        |         SELECT doc_id, array_to_string(w[i:i+1], ' ') AS g,
        |                length(w[i]) + length(w[i+1]) AS glen
        |         FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM base))
        |       GROUP BY doc_id, g),
        |top2 AS (SELECT doc_id, cnt * glen AS top_chars FROM (
        |           SELECT doc_id, cnt, glen,
        |                  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
        |           FROM g2) WHERE rn = 1 AND cnt >= 2),
        |g3 AS (SELECT doc_id, g, count(*) AS cnt, any_value(glen) AS glen FROM (
        |         SELECT doc_id, array_to_string(w[i:i+2], ' ') AS g,
        |                length(w[i]) + length(w[i+1]) + length(w[i+2]) AS glen
        |         FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM base))
        |       GROUP BY doc_id, g),
        |top3 AS (SELECT doc_id, cnt * glen AS top_chars FROM (
        |           SELECT doc_id, cnt, glen,
        |                  row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g ASC) AS rn
        |           FROM g3) WHERE rn = 1 AND cnt >= 2),
        |g5 AS (SELECT doc_id, i, array_to_string(w[i:i+4], ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM base)),
        |d5 AS (SELECT doc_id, g FROM g5 GROUP BY doc_id, g HAVING count(*) > 1),
        |cov AS (SELECT DISTINCT g5.doc_id, unnest(range(g5.i, g5.i + 5)) AS pos
        |        FROM g5 JOIN d5 ON g5.doc_id = d5.doc_id AND g5.g = d5.g),
        |dup5 AS (SELECT cov.doc_id, CAST(SUM(length(base.w[CAST(pos AS INT)])) AS BIGINT) AS dup_chars
        |         FROM cov JOIN base ON cov.doc_id = base.doc_id GROUP BY cov.doc_id)
        |SELECT b.doc_id,
        |       COALESCE(l.n_lines, 0) AS n_lines,
        |       s.n_words AS n_words,
        |       CASE WHEN COALESCE(l.n_lines, 0) = 0 THEN 0.0
        |            ELSE ROUND(CAST(l.dup_lines AS DOUBLE) / l.n_lines, 6) END AS dup_line_frac,
        |       CASE WHEN COALESCE(l.line_chars, 0) = 0 THEN 0.0
        |            ELSE ROUND(CAST(l.dup_line_chars AS DOUBLE) / l.line_chars, 6) END AS dup_line_char_frac,
        |       CASE WHEN s.word_chars = 0 THEN 0.0
        |            ELSE ROUND(CAST(COALESCE(t2.top_chars, 0) AS DOUBLE) / s.word_chars, 6) END AS top2_frac,
        |       CASE WHEN s.word_chars = 0 THEN 0.0
        |            ELSE ROUND(CAST(COALESCE(t3.top_chars, 0) AS DOUBLE) / s.word_chars, 6) END AS top3_frac,
        |       CASE WHEN s.word_chars = 0 THEN 0.0
        |            ELSE ROUND(CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / s.word_chars, 6) END AS dup5_frac
        |FROM base b
        |LEFT JOIN lstat l ON b.doc_id = l.doc_id
        |JOIN wstat s ON b.doc_id = s.doc_id
        |LEFT JOIN top2 t2 ON b.doc_id = t2.doc_id
        |LEFT JOIN top3 t3 ON b.doc_id = t3.doc_id
        |LEFT JOIN dup5 d ON b.doc_id = d.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // Greedy-MMR replay: integer-quantized vectors, 5 unrolled argmax
    // steps — each one max-sim aggregate against the selected set plus
    // a (score DESC, id ASC) LIMIT 1. Dot products ride
    // list_dot_product on integer-valued doubles (exact below 2^53).
    "q_mmr" -> {
      def dot(a: String, b: String) =
        s"CAST(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])) AS BIGINT)"
      val head = s"""WITH e AS MATERIALIZED (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |                                x -> CAST(FLOOR(x * 1000.0) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 200),
        |q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
        |pool AS MATERIALIZED (
        |  SELECT vec_id, v, ${dot("v", "(SELECT qv FROM q)")} AS rel FROM e),
        |sel1 AS MATERIALIZED (
        |  SELECT 1 AS rank, vec_id, rel, 7 * rel AS score, v
        |  FROM pool ORDER BY 7 * rel DESC, vec_id LIMIT 1),
        |selset1 AS (SELECT vec_id, v FROM sel1)""".stripMargin
      def step(i: Int) = s"""sel$i AS MATERIALIZED (
        |  SELECT $i AS rank, t.vec_id, t.rel, t.score, p.v FROM (
        |    SELECT r.vec_id, MAX(r.rel) AS rel,
        |           7 * MAX(r.rel) - 3 * MAX(${dot("r.v", "s.v")}) AS score
        |    FROM pool r CROSS JOIN selset${i - 1} s
        |    WHERE r.vec_id NOT IN (SELECT vec_id FROM selset${i - 1})
        |    GROUP BY r.vec_id) t
        |  JOIN pool p ON p.vec_id = t.vec_id
        |  ORDER BY t.score DESC, t.vec_id LIMIT 1),
        |selset$i AS (SELECT vec_id, v FROM selset${i - 1}
        |             UNION ALL SELECT vec_id, v FROM sel$i)""".stripMargin
      head + ",\n" + (2 to 5).map(step).mkString(",\n") + "\n" +
        (1 to 5).map(i =>
          s"SELECT rank, vec_id, rel AS rel_fp, score AS score_fp FROM sel$i")
          .mkString("\nUNION ALL\n") +
        "\nORDER BY rank"
    },

    // kNN label-transfer replay: exact top-10 by (cosine DESC, id ASC)
    // per held-out query, then majority vote with (count DESC, label
    // ASC) tie-breaking — the vote is pure integers.
    "q_knn_classify" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
        |c AS (SELECT * FROM e WHERE vec_id % 5 <> 0),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 5 = 0),
        |scored AS (
        |  SELECT q.q_id, c.vec_id, c.label,
        |         row_number() OVER (PARTITION BY q.q_id
        |           ORDER BY CAST(list_cosine_similarity(c.v, q.qv) AS DOUBLE) DESC,
        |                    c.vec_id ASC) AS rn
        |  FROM c CROSS JOIN q),
        |counted AS (
        |  SELECT q_id, label, COUNT(*) AS cnt
        |  FROM scored WHERE rn <= 10 GROUP BY q_id, label),
        |best AS (SELECT q_id, MAX(cnt) AS mc FROM counted GROUP BY q_id)
        |SELECT counted.q_id, MIN(label) AS label, CAST(MAX(cnt) AS BIGINT) AS votes
        |FROM counted JOIN best USING (q_id)
        |WHERE cnt = mc
        |GROUP BY counted.q_id
        |ORDER BY q_id""".stripMargin,

    "q_ann_batch" ->
      """WITH q AS (
        |  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 5),
        |s AS (
        |  SELECT q.q_id, e.vec_id,
        |         CAST(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) AS DOUBLE) AS score
        |  FROM embeddings e CROSS JOIN q),
        |r AS (
        |  SELECT q_id, vec_id, score,
        |         row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
        |  FROM s)
        |SELECT q_id, vec_id, ROUND(score, 6) + 0.0 AS score
        |FROM r WHERE rn <= 10
        |ORDER BY q_id, score DESC, vec_id""".stripMargin,

    "q_ann_cosine" ->
      """SELECT vec_id, ROUND(CAST(list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) AS DOUBLE), 6) AS score
        |FROM embeddings
        |ORDER BY list_cosine_similarity(CAST(embedding AS DOUBLE[]), (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)) DESC, vec_id
        |LIMIT 20""".stripMargin,

    // Semantic replay of the incremental embedding tick: matched = delta
    // vectors with a corpus cosine-match; losers = greedy min-id dedup
    // within the remainder. Decision margins are enormous (planted pairs
    // ~1.0 vs threshold 0.999 vs organic max ~0.6), so float-vs-double
    // scaling differences cannot flip membership.
    "q_dedup_emb_incr" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |corpus AS (SELECT vec_id, v FROM e WHERE vec_id % 5 <> 0),
        |delta AS (
        |  SELECT vec_id, v FROM e WHERE vec_id % 5 = 0
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, list_transform(v, x -> x * 1.001) AS v
        |  FROM e WHERE vec_id % 10 = 1
        |  UNION ALL
        |  SELECT vec_id + 2000000 AS vec_id, list_transform(v, x -> x * 1.002) AS v
        |  FROM e WHERE vec_id % 5 = 0),
        |matched AS (
        |  SELECT DISTINCT d.vec_id FROM delta d JOIN corpus c
        |    ON list_cosine_similarity(d.v, c.v) >= 0.999),
        |rest AS (SELECT * FROM delta WHERE vec_id NOT IN (SELECT vec_id FROM matched)),
        |losers AS (
        |  SELECT DISTINCT b.vec_id FROM rest a JOIN rest b
        |    ON a.vec_id < b.vec_id AND list_cosine_similarity(a.v, b.v) >= 0.999)
        |SELECT vec_id FROM rest WHERE vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY vec_id""".stripMargin,

    // Planted-signature banding replay: member m agrees with member m'
    // exactly on positions j < 2·(4-max(m,m')) (both base), so
    // est = (8-2·max)/8; they share band b iff b < 4-max, which is ≥ 1
    // for every in-group pair — all pairs are candidates, the threshold
    // keeps max ≤ 2. Division by 8 is dyadic-exact in both engines.
    "q_minhash_banding" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       (8 - 2 * GREATEST(a.m, b.m)) / 8.0 AS est_jaccard
        |FROM d a JOIN d b ON a.g = b.g AND a.doc_id < b.doc_id
        |WHERE (8 - 2 * GREATEST(a.m, b.m)) / 8.0 >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // Multi-table LSH replay: the candidate union over (g4, g8) tables
    // collapses to "same g8" (g4 ⊂ g8), and the cosine verify over the
    // planted angle-0.15·m unit vectors keeps exactly |Δm| ≤ 2 — the
    // oracle needs no vectors at all, just the closed-form angle math.
    "q_emb_multi_lsh" ->
      """WITH d AS (SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS m FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |FROM d a JOIN d b ON a.g = b.g AND a.doc_id < b.doc_id
        |WHERE abs(a.m - b.m) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // Full LM replay: vocabulary, UNK mapping, bigram/first-position
    // counts over the en slice, add-k NLL per corpus bigram (rounded to
    // 8 decimals, summed in DECIMAL — order-independent, so Spark's
    // parallel sum and this serial one agree bit-for-bit).
    "q_perplexity" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks WHERE lang = 'en')
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY COUNT(1) DESC, token LIMIT 1000),
        |big AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         unnest(t[1:len(t)-1]) AS w1r, unnest(t[2:len(t)]) AS w2r
        |  FROM toks WHERE len(t) >= 2),
        |bigm AS MATERIALIZED (
        |  SELECT b.doc_id, b.lang,
        |         CASE WHEN v1.token IS NULL THEN chr(1) ELSE b.w1r END AS w1,
        |         CASE WHEN v2.token IS NULL THEN chr(1) ELSE b.w2r END AS w2
        |  FROM big b
        |  LEFT JOIN vocab v1 ON b.w1r = v1.token
        |  LEFT JOIN vocab v2 ON b.w2r = v2.token),
        |c12 AS MATERIALIZED (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bigm WHERE lang = 'en' GROUP BY w1, w2),
        |c1 AS MATERIALIZED (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
        |vsz AS (SELECT COUNT(1) + 1.0 AS v FROM vocab),
        |nll AS (
        |  SELECT b.doc_id,
        |         CAST(floor(-ln((COALESCE(c12.c12, 0) + 0.5) /
        |                        (COALESCE(c1.c1, 0) + 0.5 * vsz.v)) * 1e8) AS BIGINT) AS nllf
        |  FROM bigm b
        |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1
        |  CROSS JOIN vsz),
        |agg AS (
        |  SELECT doc_id, COUNT(1) AS n_bigrams,
        |         CAST(CAST((CAST(SUM(nllf) AS BIGINT) + COUNT(1) * 5000)
        |                    // (COUNT(1) * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS avg_nll
        |  FROM nll GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.avg_nll,
        |       ROUND(exp(a.avg_nll), 4) + 0.0 AS ppl
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Interpolated-KN trigram replay: vocabulary and the UNK-mapped
    // trigram stream as in q_perplexity (one order up), then the five
    // count tables (plain trigram counts + prefix totals/diversity;
    // continuation counts at bigram and unigram order all derived from
    // the SAME trigram table), and the nested backoff probability as a
    // token-for-token copy of scoreKnNll's fixed-order IEEE expression
    // (P1 inlined at each of its four occurrences). NLLs floor-quantize
    // at 1e-8; the per-doc mean is the exact half-up integer formula.
    "q_kn_trigram" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks WHERE lang = 'en')
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY COUNT(1) DESC, token LIMIT 1000),
        |trig AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         unnest(t[1:len(t)-2]) AS w1r, unnest(t[2:len(t)-1]) AS w2r, unnest(t[3:len(t)]) AS w3r
        |  FROM toks WHERE len(t) >= 3),
        |trm AS MATERIALIZED (
        |  SELECT g.doc_id, g.lang,
        |         CASE WHEN v1.token IS NULL THEN chr(1) ELSE g.w1r END AS w1,
        |         CASE WHEN v2.token IS NULL THEN chr(1) ELSE g.w2r END AS w2,
        |         CASE WHEN v3.token IS NULL THEN chr(1) ELSE g.w3r END AS w3
        |  FROM trig g
        |  LEFT JOIN vocab v1 ON g.w1r = v1.token
        |  LEFT JOIN vocab v2 ON g.w2r = v2.token
        |  LEFT JOIN vocab v3 ON g.w3r = v3.token),
        |tri AS MATERIALIZED (
        |  SELECT w1, w2, w3, COUNT(1) AS c3 FROM trm WHERE lang = 'en' GROUP BY w1, w2, w3),
        |pre12 AS MATERIALIZED (
        |  SELECT w1, w2, SUM(c3) AS t12, COUNT(1) AS n12 FROM tri GROUP BY w1, w2),
        |contbi AS MATERIALIZED (
        |  SELECT w2, w3, COUNT(DISTINCT w1) AS n1p23 FROM tri GROUP BY w2, w3),
        |contmid AS MATERIALIZED (
        |  SELECT w2, SUM(n1p23) AS t2c, COUNT(1) AS n2f FROM contbi GROUP BY w2),
        |contuni AS MATERIALIZED (
        |  SELECT w3, COUNT(1) AS n1p3 FROM contbi GROUP BY w3),
        |gl AS MATERIALIZED (
        |  SELECT CAST((SELECT COUNT(1) FROM contbi) AS DOUBLE) AS n1pall,
        |         CAST((SELECT COUNT(1) FROM contuni) AS DOUBLE) AS t1types,
        |         (SELECT COUNT(1) + 1.0 FROM vocab) AS v),
        |nll AS (
        |  SELECT m.doc_id,
        |    CAST(floor(-ln(
        |      CASE WHEN COALESCE(p.t12, 0) > 0 THEN
        |        (GREATEST(CAST(COALESCE(t.c3, 0) AS DOUBLE) - 0.75, 0.0)
        |         + 0.75 * CAST(COALESCE(p.n12, 0) AS DOUBLE) *
        |           (CASE WHEN COALESCE(cm.t2c, 0) > 0 THEN
        |              (GREATEST(CAST(COALESCE(cb.n1p23, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * CAST(COALESCE(cm.n2f, 0) AS DOUBLE) *
        |                 ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |                   + 0.75 * g.t1types / g.v) / g.n1pall))
        |              / CAST(COALESCE(cm.t2c, 0) AS DOUBLE)
        |            ELSE ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |                   + 0.75 * g.t1types / g.v) / g.n1pall) END))
        |        / CAST(COALESCE(p.t12, 0) AS DOUBLE)
        |      ELSE
        |        CASE WHEN COALESCE(cm.t2c, 0) > 0 THEN
        |          (GREATEST(CAST(COALESCE(cb.n1p23, 0) AS DOUBLE) - 0.75, 0.0)
        |           + 0.75 * CAST(COALESCE(cm.n2f, 0) AS DOUBLE) *
        |             ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * g.t1types / g.v) / g.n1pall))
        |          / CAST(COALESCE(cm.t2c, 0) AS DOUBLE)
        |        ELSE ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * g.t1types / g.v) / g.n1pall) END
        |      END) * 1e8) AS BIGINT) AS nllf
        |  FROM trm m
        |  LEFT JOIN tri t ON m.w1 = t.w1 AND m.w2 = t.w2 AND m.w3 = t.w3
        |  LEFT JOIN pre12 p ON m.w1 = p.w1 AND m.w2 = p.w2
        |  LEFT JOIN contbi cb ON m.w2 = cb.w2 AND m.w3 = cb.w3
        |  LEFT JOIN contmid cm ON m.w2 = cm.w2
        |  LEFT JOIN contuni u ON m.w3 = u.w3
        |  CROSS JOIN gl g),
        |agg AS (
        |  SELECT doc_id, COUNT(1) AS n_trigrams,
        |         CAST(CAST((CAST(SUM(nllf) AS BIGINT) + COUNT(1) * 5000)
        |                    // (COUNT(1) * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS avg_nll
        |  FROM nll GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(a.n_trigrams, 0) AS n_trigrams, a.avg_nll,
        |       ROUND(exp(a.avg_nll), 4) + 0.0 AS ppl
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Min-K% Prob replay: the identical KN chain down to the
    // per-trigram fixed-point NLL, then the doc-bounded worst-20% rank
    // (ties beyond the cut sum-invariant) and the same half-up 1e-4
    // mean idiom for both readouts.
    "q_minkprob" ->
      ("""WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks WHERE lang = 'en')
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY COUNT(1) DESC, token LIMIT 1000),
        |trig AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         unnest(t[1:len(t)-2]) AS w1r, unnest(t[2:len(t)-1]) AS w2r, unnest(t[3:len(t)]) AS w3r
        |  FROM toks WHERE len(t) >= 3),
        |trm AS MATERIALIZED (
        |  SELECT g.doc_id, g.lang,
        |         CASE WHEN v1.token IS NULL THEN chr(1) ELSE g.w1r END AS w1,
        |         CASE WHEN v2.token IS NULL THEN chr(1) ELSE g.w2r END AS w2,
        |         CASE WHEN v3.token IS NULL THEN chr(1) ELSE g.w3r END AS w3
        |  FROM trig g
        |  LEFT JOIN vocab v1 ON g.w1r = v1.token
        |  LEFT JOIN vocab v2 ON g.w2r = v2.token
        |  LEFT JOIN vocab v3 ON g.w3r = v3.token),
        |tri AS MATERIALIZED (
        |  SELECT w1, w2, w3, COUNT(1) AS c3 FROM trm WHERE lang = 'en' GROUP BY w1, w2, w3),
        |pre12 AS MATERIALIZED (
        |  SELECT w1, w2, SUM(c3) AS t12, COUNT(1) AS n12 FROM tri GROUP BY w1, w2),
        |contbi AS MATERIALIZED (
        |  SELECT w2, w3, COUNT(DISTINCT w1) AS n1p23 FROM tri GROUP BY w2, w3),
        |contmid AS MATERIALIZED (
        |  SELECT w2, SUM(n1p23) AS t2c, COUNT(1) AS n2f FROM contbi GROUP BY w2),
        |contuni AS MATERIALIZED (
        |  SELECT w3, COUNT(1) AS n1p3 FROM contbi GROUP BY w3),
        |gl AS MATERIALIZED (
        |  SELECT CAST((SELECT COUNT(1) FROM contbi) AS DOUBLE) AS n1pall,
        |         CAST((SELECT COUNT(1) FROM contuni) AS DOUBLE) AS t1types,
        |         (SELECT COUNT(1) + 1.0 FROM vocab) AS v),
        |nll AS MATERIALIZED (
        |  SELECT m.doc_id,
        |    CAST(floor(-ln(
        |      CASE WHEN COALESCE(p.t12, 0) > 0 THEN
        |        (GREATEST(CAST(COALESCE(t.c3, 0) AS DOUBLE) - 0.75, 0.0)
        |         + 0.75 * CAST(COALESCE(p.n12, 0) AS DOUBLE) *
        |           (CASE WHEN COALESCE(cm.t2c, 0) > 0 THEN
        |              (GREATEST(CAST(COALESCE(cb.n1p23, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * CAST(COALESCE(cm.n2f, 0) AS DOUBLE) *
        |                 ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |                   + 0.75 * g.t1types / g.v) / g.n1pall))
        |              / CAST(COALESCE(cm.t2c, 0) AS DOUBLE)
        |            ELSE ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |                   + 0.75 * g.t1types / g.v) / g.n1pall) END))
        |        / CAST(COALESCE(p.t12, 0) AS DOUBLE)
        |      ELSE
        |        CASE WHEN COALESCE(cm.t2c, 0) > 0 THEN
        |          (GREATEST(CAST(COALESCE(cb.n1p23, 0) AS DOUBLE) - 0.75, 0.0)
        |           + 0.75 * CAST(COALESCE(cm.n2f, 0) AS DOUBLE) *
        |             ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * g.t1types / g.v) / g.n1pall))
        |          / CAST(COALESCE(cm.t2c, 0) AS DOUBLE)
        |        ELSE ((GREATEST(CAST(COALESCE(u.n1p3, 0) AS DOUBLE) - 0.75, 0.0)
        |               + 0.75 * g.t1types / g.v) / g.n1pall) END
        |      END) * 1e8) AS BIGINT) AS nllf
        |  FROM trm m
        |  LEFT JOIN tri t ON m.w1 = t.w1 AND m.w2 = t.w2 AND m.w3 = t.w3
        |  LEFT JOIN pre12 p ON m.w1 = p.w1 AND m.w2 = p.w2
        |  LEFT JOIN contbi cb ON m.w2 = cb.w2 AND m.w3 = cb.w3
        |  LEFT JOIN contmid cm ON m.w2 = cm.w2
        |  LEFT JOIN contuni u ON m.w3 = u.w3
        |  CROSS JOIN gl g),
        |ranked AS (
        |  SELECT doc_id, nllf,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY nllf DESC) AS r,
        |         COUNT(1) OVER (PARTITION BY doc_id) AS n
        |  FROM nll),
        |kagg AS (
        |  SELECT doc_id, n, (n * 1 + 4) // 5 AS m,
        |         SUM(nllf) AS suma,
        |         SUM(CASE WHEN r <= (n * 1 + 4) // 5 THEN nllf ELSE 0 END) AS sumk
        |  FROM ranked GROUP BY doc_id, n)
        |SELECT d.doc_id,
        |       COALESCE(k.n, 0) AS n_trigrams, COALESCE(k.m, 0) AS k_trigrams,
        |       CAST(CAST((CAST(suma AS BIGINT) + n * 5000)
        |                  // (n * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS avg_nll,
        |       CAST(CAST((CAST(sumk AS BIGINT) + m * 5000)
        |                  // (m * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS min_k_avg_nll
        |FROM documents d LEFT JOIN kagg k USING (doc_id)
        |ORDER BY d.doc_id""").stripMargin,

    // CCNet thirds replay: the same LM chain down to per-doc avg_nll,
    // then the ⌈n/3⌉ / ⌈2n/3⌉ ranked boundary (score, id) pairs via
    // row_number over the identical total order, and lexicographic
    // pair comparison for membership — tie-exact in both engines.
    "q_quality_buckets" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks WHERE lang = 'en')
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY COUNT(1) DESC, token LIMIT 1000),
        |big AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         unnest(t[1:len(t)-1]) AS w1r, unnest(t[2:len(t)]) AS w2r
        |  FROM toks WHERE len(t) >= 2),
        |bigm AS MATERIALIZED (
        |  SELECT b.doc_id, b.lang,
        |         CASE WHEN v1.token IS NULL THEN chr(1) ELSE b.w1r END AS w1,
        |         CASE WHEN v2.token IS NULL THEN chr(1) ELSE b.w2r END AS w2
        |  FROM big b
        |  LEFT JOIN vocab v1 ON b.w1r = v1.token
        |  LEFT JOIN vocab v2 ON b.w2r = v2.token),
        |c12 AS MATERIALIZED (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bigm WHERE lang = 'en' GROUP BY w1, w2),
        |c1 AS MATERIALIZED (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
        |vsz AS (SELECT COUNT(1) + 1.0 AS v FROM vocab),
        |nll AS (
        |  SELECT b.doc_id,
        |         CAST(floor(-ln((COALESCE(c12.c12, 0) + 0.5) /
        |                        (COALESCE(c1.c1, 0) + 0.5 * vsz.v)) * 1e8) AS BIGINT) AS nllf
        |  FROM bigm b
        |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1
        |  CROSS JOIN vsz),
        |scored AS MATERIALIZED (
        |  SELECT d.doc_id, a.avg_nll FROM documents d
        |  LEFT JOIN (
        |    SELECT doc_id,
        |           CAST(CAST((CAST(SUM(nllf) AS BIGINT) + COUNT(1) * 5000)
        |                      // (COUNT(1) * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS avg_nll
        |    FROM nll GROUP BY doc_id) a USING (doc_id)),
        |ranked AS MATERIALIZED (
        |  SELECT avg_nll AS s, doc_id AS i,
        |         ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) AS rn,
        |         COUNT(1) OVER () AS n
        |  FROM scored WHERE avg_nll IS NOT NULL),
        |b1 AS (SELECT s, i FROM ranked WHERE rn = CAST(ceil(n / 3.0) AS BIGINT)),
        |b2 AS (SELECT s, i FROM ranked WHERE rn = CAST(ceil(2.0 * n / 3.0) AS BIGINT))
        |SELECT doc_id, avg_nll,
        |       CASE WHEN avg_nll IS NULL THEN NULL
        |            WHEN avg_nll < (SELECT s FROM b1)
        |                 OR (avg_nll = (SELECT s FROM b1) AND doc_id <= (SELECT i FROM b1)) THEN 'head'
        |            WHEN avg_nll < (SELECT s FROM b2)
        |                 OR (avg_nll = (SELECT s FROM b2) AND doc_id <= (SELECT i FROM b2)) THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM scored
        |ORDER BY doc_id""".stripMargin,

    // The q_quality_buckets LM + thirds chain, then the q_mix_weighted
    // bottleneck-budget prefix cut keyed on the BUCKET: avail per
    // bucket, t = min(avail/w) with binary-exact 0.5/0.375/0.125, keep
    // while the cumulative n_chars BEFORE the row stays under budget.
    "q_ppl_mix" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks WHERE lang = 'en')
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY COUNT(1) DESC, token LIMIT 1000),
        |big AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         unnest(t[1:len(t)-1]) AS w1r, unnest(t[2:len(t)]) AS w2r
        |  FROM toks WHERE len(t) >= 2),
        |bigm AS MATERIALIZED (
        |  SELECT b.doc_id, b.lang,
        |         CASE WHEN v1.token IS NULL THEN chr(1) ELSE b.w1r END AS w1,
        |         CASE WHEN v2.token IS NULL THEN chr(1) ELSE b.w2r END AS w2
        |  FROM big b
        |  LEFT JOIN vocab v1 ON b.w1r = v1.token
        |  LEFT JOIN vocab v2 ON b.w2r = v2.token),
        |c12 AS MATERIALIZED (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bigm WHERE lang = 'en' GROUP BY w1, w2),
        |c1 AS MATERIALIZED (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
        |vsz AS (SELECT COUNT(1) + 1.0 AS v FROM vocab),
        |nll AS (
        |  SELECT b.doc_id,
        |         CAST(floor(-ln((COALESCE(c12.c12, 0) + 0.5) /
        |                        (COALESCE(c1.c1, 0) + 0.5 * vsz.v)) * 1e8) AS BIGINT) AS nllf
        |  FROM bigm b
        |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1
        |  CROSS JOIN vsz),
        |scored AS MATERIALIZED (
        |  SELECT d.doc_id, d.n_chars, a.avg_nll FROM documents d
        |  LEFT JOIN (
        |    SELECT doc_id,
        |           CAST(CAST((CAST(SUM(nllf) AS BIGINT) + COUNT(1) * 5000)
        |                      // (COUNT(1) * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS avg_nll
        |    FROM nll GROUP BY doc_id) a USING (doc_id)),
        |ranked AS MATERIALIZED (
        |  SELECT avg_nll AS s, doc_id AS i,
        |         ROW_NUMBER() OVER (ORDER BY avg_nll, doc_id) AS rn,
        |         COUNT(1) OVER () AS n
        |  FROM scored WHERE avg_nll IS NOT NULL),
        |b1 AS (SELECT s, i FROM ranked WHERE rn = CAST(ceil(n / 3.0) AS BIGINT)),
        |b2 AS (SELECT s, i FROM ranked WHERE rn = CAST(ceil(2.0 * n / 3.0) AS BIGINT)),
        |bucketed AS MATERIALIZED (
        |  SELECT doc_id, avg_nll, n_chars,
        |         CASE WHEN avg_nll < (SELECT s FROM b1)
        |                   OR (avg_nll = (SELECT s FROM b1) AND doc_id <= (SELECT i FROM b1)) THEN 'head'
        |              WHEN avg_nll < (SELECT s FROM b2)
        |                   OR (avg_nll = (SELECT s FROM b2) AND doc_id <= (SELECT i FROM b2)) THEN 'middle'
        |              ELSE 'tail' END AS bucket
        |  FROM scored WHERE avg_nll IS NOT NULL),
        |avail AS (
        |  SELECT bucket, CAST(SUM(n_chars) AS DOUBLE) AS wsum
        |  FROM bucketed GROUP BY bucket),
        |t AS (
        |  SELECT MIN(wsum / (CASE bucket WHEN 'head' THEN 0.5
        |                                 WHEN 'middle' THEN 0.375
        |                                 ELSE 0.125 END)) AS t
        |  FROM avail),
        |bud AS (
        |  SELECT bucket,
        |         (CASE bucket WHEN 'head' THEN 0.5
        |                      WHEN 'middle' THEN 0.375
        |                      ELSE 0.125 END) * (SELECT t FROM t) AS budget
        |  FROM avail),
        |c AS (
        |  SELECT doc_id, avg_nll, bucket, n_chars,
        |         COALESCE(SUM(n_chars) OVER (PARTITION BY bucket ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM bucketed)
        |SELECT c.doc_id, c.avg_nll, c.bucket, c.n_chars
        |FROM c JOIN bud USING (bucket) WHERE c.cb < bud.budget
        |ORDER BY c.doc_id""".stripMargin,

    // Full NB replay: vocabulary over the WHOLE labeled corpus, UNK
    // mapping, per-(class, token) counts, priors and per-token log-probs
    // as 1e-8 FIXED-POINT BIGINTS (floor(x*1e8) is pure IEEE arithmetic,
    // bit-identical across engines — round(double, 8) is NOT: its
    // half-way cases resolve by decimal string in Spark but by binary
    // value in DuckDB), long sums, exact argmax with ties to the
    // Weak-supervision replay: identical LF definitions, anchor via a
    // (count DESC, vote ASC) window, integer weights
    // (agreements·10⁶ // cast), weighted argmax the same way.
    "q_weak_labels" ->
      """WITH votes AS (
        |  SELECT doc_id, 1 AS lf,
        |         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS vote
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 2,
        |         CASE WHEN n_chars % 7 < 3 THEN NULL
        |              WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 3,
        |         CASE WHEN lang IN ('en', 'de') THEN 1 ELSE 0 END
        |  FROM documents),
        |v AS (SELECT * FROM votes WHERE vote IS NOT NULL),
        |anchor AS (
        |  SELECT doc_id, vote AS anchor FROM (
        |    SELECT doc_id, vote,
        |           ROW_NUMBER() OVER (PARTITION BY doc_id
        |             ORDER BY COUNT(*) DESC, vote ASC) AS rn
        |    FROM v GROUP BY doc_id, vote) t WHERE rn = 1),
        |w AS (
        |  SELECT lf,
        |         (SUM(CASE WHEN v.vote = a.anchor THEN 1 ELSE 0 END) * 1000000)
        |           // COUNT(*) AS w
        |  FROM v JOIN anchor a USING (doc_id) GROUP BY lf),
        |sc AS (
        |  SELECT doc_id, vote, CAST(SUM(w.w) AS BIGINT) AS s, COUNT(*) AS cv
        |  FROM v JOIN w USING (lf) GROUP BY doc_id, vote)
        |SELECT doc_id, CAST(vote AS BIGINT) AS label, s AS score_fp,
        |       CAST(n_votes AS BIGINT) AS n_votes FROM (
        |  SELECT doc_id, vote, s,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, vote ASC) AS rn,
        |         SUM(cv) OVER (PARTITION BY doc_id) AS n_votes
        |  FROM sc) t
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // ascending label, one exact decimal ×1e-8 + round(4) at the end.
    "q_nb_classify" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |tokf AS MATERIALIZED (
        |  SELECT doc_id, lang, w FROM (
        |    SELECT doc_id, lang, unnest(t) AS w FROM toks)
        |  WHERE length(w) > 0),
        |vocab AS MATERIALIZED (
        |  SELECT w AS token FROM tokf
        |  GROUP BY w ORDER BY COUNT(1) DESC, w LIMIT 1000),
        |mapped AS MATERIALIZED (
        |  SELECT f.doc_id, f.lang,
        |         CASE WHEN v.token IS NULL THEN chr(1) ELSE f.w END AS w
        |  FROM tokf f LEFT JOIN vocab v ON f.w = v.token),
        |counts AS MATERIALIZED (
        |  SELECT lang AS label, w, COUNT(1) AS c FROM mapped GROUP BY 1, 2),
        |totals AS MATERIALIZED (SELECT label, SUM(c) AS tot FROM counts GROUP BY 1),
        |vsz AS (SELECT COUNT(1) + 1.0 AS v FROM vocab),
        |priors AS MATERIALIZED (
        |  SELECT lang AS label,
        |         CAST(floor(ln(COUNT(1) / (SELECT CAST(COUNT(1) AS DOUBLE) FROM documents)) * 1e8) AS BIGINT) AS priorf
        |  FROM documents GROUP BY 1),
        |scored AS MATERIALIZED (
        |  SELECT m.doc_id, p.label,
        |         CAST(floor(ln((COALESCE(c.c, 0) + 0.5) / (t.tot + 0.5 * vsz.v)) * 1e8) AS BIGINT) AS lpf
        |  FROM mapped m
        |  CROSS JOIN priors p
        |  JOIN totals t ON t.label = p.label
        |  LEFT JOIN counts c ON c.label = p.label AND c.w = m.w
        |  CROSS JOIN vsz),
        |joint AS MATERIALIZED (
        |  SELECT s.doc_id, s.label, SUM(lpf) + p.priorf AS jointf
        |  FROM scored s JOIN priors p USING (label)
        |  GROUP BY s.doc_id, s.label, p.priorf),
        |mx AS (SELECT doc_id, MAX(jointf) AS mj FROM joint GROUP BY 1),
        |best AS (
        |  SELECT j.doc_id, MIN(j.label) AS label,
        |         CAST(ROUND(CAST(j.jointf AS DECIMAL(20,0)) * 0.00000001, 4) AS DOUBLE) AS score
        |  FROM joint j JOIN mx ON j.doc_id = mx.doc_id AND j.jointf = mx.mj
        |  GROUP BY j.doc_id, j.jointf)
        |SELECT d.doc_id, b.label, b.score + 0.0 AS score
        |FROM documents d LEFT JOIN best b USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // Full χ² replay: same vocab selection, same distinct-presence
    // contingency, HUGEINT (ad−bc), the same pinned left-associated
    // double sequence — bit-equal χ² per (label, term).
    "q_chi2_terms" ->
      """WITH tok AS MATERIALIZED (
        |  SELECT doc_id, CAST(lang AS VARCHAR) AS label, w FROM (
        |    SELECT doc_id, lang, unnest(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |    FROM documents)
        |  WHERE length(w) > 0),
        |vocab AS MATERIALIZED (
        |  SELECT w AS term FROM (
        |    SELECT w, COUNT(1) AS f FROM tok GROUP BY 1 ORDER BY f DESC, w LIMIT 300)),
        |nc AS (SELECT CAST(lang AS VARCHAR) AS label, COUNT(1) AS nc FROM documents GROUP BY 1),
        |n AS (SELECT COUNT(1) AS n FROM documents),
        |pres AS (SELECT DISTINCT t.doc_id, t.label, t.w AS term
        |         FROM tok t JOIN vocab v ON v.term = t.w),
        |a AS (SELECT term, label, COUNT(1) AS a FROM pres GROUP BY 1, 2),
        |td AS (SELECT term, SUM(a) AS td FROM a GROUP BY 1),
        |grid AS (
        |  SELECT v.term, c.label, c.nc, COALESCE(a.a, 0) AS a, COALESCE(td.td, 0) AS td
        |  FROM vocab v CROSS JOIN nc c
        |  LEFT JOIN a ON a.term = v.term AND a.label = c.label
        |  LEFT JOIN td ON td.term = v.term),
        |x AS (
        |  SELECT term, label, a, td - a AS b, nc - a AS c, n.n - nc - (td - a) AS d,
        |         td, nc, n.n AS n
        |  FROM grid CROSS JOIN n),
        |s AS (
        |  SELECT term, label, a, b, c, d,
        |         CASE WHEN td <> 0 AND td <> n AND nc <> n THEN
        |           (CAST(n AS DOUBLE)
        |              * CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS DOUBLE)
        |              * CAST(CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS DOUBLE))
        |           / (CAST(td AS DOUBLE) * CAST(n - td AS DOUBLE)
        |              * CAST(nc AS DOUBLE) * CAST(n - nc AS DOUBLE))
        |         END AS chi2
        |  FROM x)
        |SELECT label, term, a, CAST(b AS BIGINT) AS b, c, CAST(d AS BIGINT) AS d, chi2,
        |       CAST(row_number() OVER (PARTITION BY label ORDER BY chi2 DESC, term) AS BIGINT) AS rank
        |FROM s WHERE chi2 IS NOT NULL
        |QUALIFY rank <= 10
        |ORDER BY label, rank""".stripMargin,

    // jsonl codec losslessness: read-back must equal the source table
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // orc lake codec losslessness: read-back must equal the source table
    "q_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Golden rows: the reference BPE merge sequence for the fixture
    // (word freqs low:5 lower:2 newest:6 widest:3), hand-verified
    // against an independent reference implementation.
    // Golden literal rows from the pinned fixture (the q_bpe_train
    // pattern): the hard-EM Viterbi/prune chain is a data-dependent
    // multi-round loop, so the oracle pins its exact output —
    // vocabulary, fixed-point scores, and every segmentation decision.
    // WordPiece golden rows: every greedy decision pinned.
    "q_wordpiece" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 0, 'low', 'low'),
        |  (1, 1, 'lower', 'low|##er'),
        |  (1, 2, 'lowest', 'low|##est'),
        |  (2, 0, 'newest', 'new|##est'),
        |  (2, 1, 'widest', 'wide|##st'),
        |  (2, 2, 'unknown', '[UNK]')
        |) AS t(doc_id, pos, word, pieces) ORDER BY doc_id, pos""".stripMargin,

    "q_unigram_train" ->
      """SELECT * FROM (VALUES
        |  ('d', CAST(-340119739 AS BIGINT)), ('e', -340119739),
        |  ('i', -340119739), ('l', -340119739),
        |  ('low', -160943792), ('lower', -230258510),
        |  ('n', -340119739), ('newest', -145528724),
        |  ('o', -340119739), ('r', -340119739),
        |  ('s', -340119739), ('t', -340119739),
        |  ('w', -340119739), ('widest', -201490303)
        |) AS t(piece, score_fp) ORDER BY piece""".stripMargin,

    "q_unigram_segment" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 0, 'low', 'low'),
        |  (1, 1, 'lower', 'lower'),
        |  (1, 2, 'lowest', 'low|e|s|t'),
        |  (2, 0, 'newest', 'newest'),
        |  (2, 1, 'widest', 'widest'),
        |  (2, 2, 'unknown', '<unk>|n|<unk>|n|o|w|n')
        |) AS t(doc_id, pos, word, pieces) ORDER BY doc_id, pos""".stripMargin,

    "q_bpe_train" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS INTEGER), 'e', 's', CAST(9 AS BIGINT)),
        |  (2, 'es', 't', 9), (3, 'l', 'o', 7), (4, 'lo', 'w', 7),
        |  (5, 'e', 'w', 6), (6, 'ew', 'est', 6), (7, 'n', 'ewest', 6),
        |  (8, 'd', 'est', 3)) AS t(rank, "left", "right", pair_freq)
        |ORDER BY rank""".stripMargin,

    "q_bpe_segment" ->
      """SELECT * FROM (VALUES
        |  (CAST(10 AS BIGINT), CAST(0 AS INTEGER), 'low', 'low'),
        |  (10, 1, 'lowest', 'low est'),
        |  (10, 2, 'newest', 'newest'),
        |  (11, 0, 'widest', 'w i dest'),
        |  (11, 1, 'unknown', 'u n k n o w n'),
        |  (11, 2, 'lower', 'low e r')) AS t(doc_id, pos, word, subwords)
        |ORDER BY doc_id, pos""".stripMargin,

    // Golden ids: alphabet d,e,i,l,n,o,r,s,t,w = 0..9, merges
    // es,est,lo,low,ew,ewest,newest,dest = 10..17; u/k → <unk> = -1
    "q_bpe_ids" ->
      """SELECT * FROM (VALUES
        |  (CAST(10 AS BIGINT), '13 13 11 16'),
        |  (11, '9 2 17 -1 4 -1 4 5 9 4 13 1 6')) AS t(doc_id, token_ids)
        |ORDER BY doc_id""".stripMargin,

    // Golden decode: the q_bpe_segment segmentations re-joined, eow →
    // space, the out-of-alphabet u/k in "unknown" → <unk>
    "q_bpe_decode" ->
      """SELECT * FROM (VALUES
        |  (CAST(10 AS BIGINT), 'low lowest newest'),
        |  (11, 'widest <unk>n<unk>nown lower')) AS t(doc_id, text)
        |ORDER BY doc_id""".stripMargin,

    // The round trip's independent derivation — NO BPE anywhere: a doc
    // decodes back to its normalized text iff every character appears
    // in the training (en) slice's alphabet; the oracle computes
    // exactly that set and the normalized text directly.
    "q_bpe_roundtrip" ->
      """WITH norm AS (
        |  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |alpha AS (
        |  SELECT DISTINCT unnest(string_split(replace(t, ' ', ''), '')) AS c
        |  FROM norm WHERE lang = 'en' AND len(t) > 0),
        |chars AS (
        |  SELECT doc_id, unnest(string_split(replace(t, ' ', ''), '')) AS c
        |  FROM norm WHERE len(t) > 0),
        |bad AS (
        |  SELECT DISTINCT ch.doc_id
        |  FROM chars ch LEFT JOIN alpha a USING (c) WHERE a.c IS NULL)
        |SELECT n.doc_id, n.t AS text
        |FROM norm n LEFT JOIN bad b USING (doc_id)
        |WHERE b.doc_id IS NULL AND len(n.t) > 0
        |ORDER BY n.doc_id""".stripMargin,

    // Sentence-chunk replay: parallel unnest keeps the PRE-FILTER
    // sentence index (blank segments drop but indices don't renumber,
    // as in the Spark posexplode→filter order); weights cap at the
    // budget for the recursion; chunk text re-joins in sentence order.
    "q_chunk_sentences" ->
      """WITH RECURSIVE norm0 AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt0
        |  FROM documents),
        |words AS MATERIALIZED (
        |  SELECT doc_id,
        |         unnest(regexp_split_to_array(nt0, ' ')) AS tok,
        |         unnest(generate_series(0, len(regexp_split_to_array(nt0, ' ')) - 1)) AS i
        |  FROM norm0 WHERE length(nt0) > 0),
        |norm AS MATERIALIZED (
        |  SELECT doc_id,
        |         string_agg(tok || CASE WHEN (i + 1) % 12 = 0 THEN '.' ELSE '' END,
        |                    ' ' ORDER BY i) AS nt
        |  FROM words GROUP BY doc_id),
        |sraw AS MATERIALIZED (
        |  SELECT doc_id,
        |         unnest(regexp_extract_all(nt, '[^.!?]+[.!?]*')) AS s0,
        |         unnest(generate_series(0, len(regexp_extract_all(nt, '[^.!?]+[.!?]*')) - 1)) AS sidx
        |  FROM norm WHERE length(nt) > 0),
        |sents AS MATERIALIZED (
        |  SELECT doc_id, sidx, trim(s0) AS sent,
        |         CAST(len(regexp_split_to_array(trim(s0), ' ')) AS BIGINT) AS stok
        |  FROM sraw WHERE length(trim(s0)) > 0),
        |o AS MATERIALIZED (
        |  SELECT doc_id, sidx, sent, stok, LEAST(stok, 40) AS w,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY sidx) AS rn
        |  FROM sents),
        |r AS (
        |  SELECT doc_id, rn, sidx, sent, stok,
        |         CAST(0 AS BIGINT) AS bin, w AS used
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.rn, o.sidx, o.sent, o.stok,
        |         CASE WHEN r.used + o.w > 40 THEN r.bin + 1 ELSE r.bin END,
        |         CASE WHEN r.used + o.w > 40 THEN o.w ELSE r.used + o.w END
        |  FROM r JOIN o ON o.doc_id = r.doc_id AND o.rn = r.rn + 1)
        |SELECT doc_id, bin AS chunk_idx,
        |       string_agg(sent, ' ' ORDER BY sidx) AS chunk_text,
        |       CAST(COUNT(1) AS BIGINT) AS n_sentences,
        |       CAST(SUM(stok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY doc_id, bin
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // Coverage replay WITHOUT the tokenizer: the en training alphabet,
    // then per-doc counts of characters outside it (= the exact unk
    // count the encode path emits); blank docs carry zero.
    "q_tokenizer_coverage" ->
      """WITH norm AS MATERIALIZED (
        |  SELECT doc_id, lang, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
        |  FROM documents),
        |alpha AS MATERIALIZED (
        |  SELECT DISTINCT unnest(string_split(replace(t, ' ', ''), '')) AS c
        |  FROM norm WHERE lang = 'en' AND len(t) > 0),
        |chars AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(replace(t, ' ', ''), '')) AS c
        |  FROM norm WHERE len(t) > 0),
        |oov AS MATERIALIZED (
        |  SELECT ch.doc_id, COUNT(*) FILTER (WHERE a.c IS NULL) AS oovn
        |  FROM chars ch LEFT JOIN alpha a USING (c) GROUP BY ch.doc_id)
        |SELECT n.lang, CAST(COUNT(1) AS BIGINT) AS n_docs,
        |       CAST(SUM(COALESCE(o.oovn, 0)) AS BIGINT) AS oov_tokens,
        |       CAST(SUM(CASE WHEN COALESCE(o.oovn, 0) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_oov
        |FROM norm n LEFT JOIN oov o USING (doc_id)
        |GROUP BY n.lang ORDER BY n.lang""".stripMargin,

    // Full DSIR replay: unigram+bigram stream, polynomial codepoint
    // buckets (list_reduce fold — same integer chain as arithBucket),
    // smoothed target/raw bucket shares, fixed-point log-ratios, long
    // per-doc sums, ranked top-30% keep with the (weight desc, id asc)
    // total order.
    "q_dsir" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, source, g FROM (
        |    SELECT doc_id, source, unnest(t) AS g FROM toks WHERE len(t) > 0
        |    UNION ALL
        |    SELECT doc_id, source, w1 || ' ' || w2 AS g FROM (
        |      SELECT doc_id, source, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |      FROM toks WHERE len(t) >= 2))),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                       list_transform(string_split(g, ''), x -> CAST(unicode(x) AS BIGINT))),
        |                     (a, b) -> (a * 31 + b) % 256) AS b
        |  FROM grams),
        |cr AS MATERIALIZED (SELECT b, COUNT(1) AS c FROM bg GROUP BY b),
        |ct AS MATERIALIZED (SELECT b, COUNT(1) AS c FROM bg WHERE source = 'src1' GROUP BY b),
        |nr AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cr),
        |nt AS (SELECT CAST(COALESCE(SUM(c), 0) AS DOUBLE) AS n FROM ct),
        |lr AS MATERIALIZED (
        |  SELECT r.b,
        |         CAST(floor((ln((COALESCE(ct.c, 0) + 0.5) / (nt.n + 0.5 * 256)) -
        |                     ln((COALESCE(cr.c, 0) + 0.5) / (nr.n + 0.5 * 256))) * 1e8) AS BIGINT) AS lrf
        |  FROM range(256) r(b)
        |  LEFT JOIN cr ON r.b = cr.b
        |  LEFT JOIN ct ON r.b = ct.b
        |  CROSS JOIN nr CROSS JOIN nt),
        |w AS MATERIALIZED (
        |  SELECT d.doc_id,
        |         COALESCE(s.n_ngrams, 0) AS n_ngrams, s.lw_fixed,
        |         CAST(ROUND(CAST(s.lw_fixed AS DECIMAL(20,0)) * 0.00000001, 4) AS DOUBLE) AS log_weight
        |  FROM documents d LEFT JOIN (
        |    SELECT g.doc_id, COUNT(1) AS n_ngrams, CAST(SUM(lr.lrf) AS BIGINT) AS lw_fixed
        |    FROM bg g JOIN lr ON g.b = lr.b
        |    GROUP BY g.doc_id) s USING (doc_id)),
        |ranked AS MATERIALIZED (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY lw_fixed DESC, doc_id) AS rn,
        |         COUNT(1) OVER () AS n
        |  FROM w WHERE lw_fixed IS NOT NULL)
        |SELECT w.doc_id, w.n_ngrams, w.lw_fixed, w.log_weight,
        |       COALESCE(r.rn <= CAST(ceil(r.n * 0.3) AS BIGINT), FALSE) AS kept
        |FROM w LEFT JOIN ranked r USING (doc_id)
        |ORDER BY w.doc_id""".stripMargin,

    // Gumbel-top-k replay on the same weight chain: BIGINT LCG scramble
    // of the id (exact modular arithmetic), u -> -ln(-ln(u)) in IEEE
    // doubles, fixed-point key, ranked keep.
    "q_dsir_gumbel" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         list_filter(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT doc_id, source, g FROM (
        |    SELECT doc_id, source, unnest(t) AS g FROM toks WHERE len(t) > 0
        |    UNION ALL
        |    SELECT doc_id, source, w1 || ' ' || w2 AS g FROM (
        |      SELECT doc_id, source, unnest(t[1:len(t)-1]) AS w1, unnest(t[2:len(t)]) AS w2
        |      FROM toks WHERE len(t) >= 2))),
        |bg AS MATERIALIZED (
        |  SELECT doc_id, source,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                       list_transform(string_split(g, ''), x -> CAST(unicode(x) AS BIGINT))),
        |                     (a, b) -> (a * 31 + b) % 256) AS b
        |  FROM grams),
        |cr AS MATERIALIZED (SELECT b, COUNT(1) AS c FROM bg GROUP BY b),
        |ct AS MATERIALIZED (SELECT b, COUNT(1) AS c FROM bg WHERE source = 'src1' GROUP BY b),
        |nr AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM cr),
        |nt AS (SELECT CAST(COALESCE(SUM(c), 0) AS DOUBLE) AS n FROM ct),
        |lr AS MATERIALIZED (
        |  SELECT r.b,
        |         CAST(floor((ln((COALESCE(ct.c, 0) + 0.5) / (nt.n + 0.5 * 256)) -
        |                     ln((COALESCE(cr.c, 0) + 0.5) / (nr.n + 0.5 * 256))) * 1e8) AS BIGINT) AS lrf
        |  FROM range(256) r(b)
        |  LEFT JOIN cr ON r.b = cr.b
        |  LEFT JOIN ct ON r.b = ct.b
        |  CROSS JOIN nr CROSS JOIN nt),
        |w AS MATERIALIZED (
        |  SELECT d.doc_id, s.lw_fixed
        |  FROM documents d LEFT JOIN (
        |    SELECT g.doc_id, CAST(SUM(lr.lrf) AS BIGINT) AS lw_fixed
        |    FROM bg g JOIN lr ON g.b = lr.b
        |    GROUP BY g.doc_id) s USING (doc_id)),
        |keyed AS MATERIALIZED (
        |  SELECT doc_id, lw_fixed,
        |         CASE WHEN lw_fixed IS NOT NULL THEN
        |           CAST(floor(CAST(lw_fixed AS DOUBLE) / 1.0 +
        |                  -- ((x % m) + m) % m mirrors Spark's pmod (non-negative
        |                  -- residue) so the draw replays for NEGATIVE ids too
        |                  (-ln(-ln((CAST(((((doc_id % 2147483648) + 2147483648) % 2147483648) * 1103515245 + 12345) % 2147483648 AS DOUBLE) + 0.5)
        |                            / 2147483648.0))) * 1e8) AS BIGINT)
        |         END AS gumbel_fixed
        |  FROM w),
        |ranked AS MATERIALIZED (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY gumbel_fixed DESC, doc_id) AS rn,
        |         COUNT(1) OVER () AS n
        |  FROM keyed WHERE gumbel_fixed IS NOT NULL)
        |SELECT k.doc_id, k.lw_fixed, k.gumbel_fixed,
        |       COALESCE(r.rn <= CAST(ceil(r.n * 0.3) AS BIGINT), FALSE) AS kept
        |FROM keyed k LEFT JOIN ranked r USING (doc_id)
        |ORDER BY k.doc_id""".stripMargin,

    // SemDeDup resolution replay over the planted label clustering:
    // within-label pairs at cosine >= 0.999 (planted copies ~1.0, max
    // organic pair ~0.51 — margin-safe), transitive closure, winner =
    // min (rank, id) per component. The 1.001f copy is emulated as a
    // double multiply rounded back to FLOAT — exact: a 24-bit x 24-bit
    // product fits a double, so fl32(double product) = float32 multiply.
    "q_semdedup" ->
      """WITH RECURSIVE base AS MATERIALIZED (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |         CAST(embedding[1] AS DOUBLE) AS rank
        |  FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000, label,
        |         CAST(c AS DOUBLE[]) AS v, CAST(c[1] AS DOUBLE) AS rank
        |  FROM (SELECT vec_id, label,
        |          CAST(list_transform(CAST(embedding AS DOUBLE[]),
        |            x -> x * CAST(CAST(1.001 AS FLOAT) AS DOUBLE)) AS FLOAT[]) AS c
        |        FROM embeddings WHERE vec_id % 10 = 0)),
        |ok AS (SELECT label FROM base GROUP BY label HAVING COUNT(1) <= 5000),
        |b AS MATERIALIZED (SELECT base.* FROM base JOIN ok USING (label)),
        |pairs AS MATERIALIZED (
        |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b
        |  FROM b a JOIN b b2 ON a.label = b2.label AND a.vec_id < b2.vec_id
        |  WHERE list_cosine_similarity(a.v, b2.v) >= 0.999),
        |edges AS (SELECT id_a AS u, id_b AS w FROM pairs
        |          UNION SELECT id_b, id_a FROM pairs),
        |reach AS (SELECT u, w FROM edges
        |          UNION SELECT r.u, e.w FROM reach r JOIN edges e ON r.w = e.u),
        |comp AS (SELECT u AS id, LEAST(u, MIN(w)) AS component FROM reach GROUP BY u),
        |m AS (SELECT c.id, c.component, base.rank
        |      FROM comp c JOIN base ON base.vec_id = c.id),
        |minr AS (SELECT component, MIN(rank) AS mr FROM m GROUP BY component),
        |w AS (SELECT m.component, MIN(m.id) AS winner
        |      FROM m JOIN minr ON m.component = minr.component AND m.rank = minr.mr
        |      GROUP BY m.component),
        |losers AS (SELECT m.id FROM m JOIN w ON m.component = w.component
        |           WHERE m.id <> w.winner)
        |SELECT vec_id, label FROM base
        |WHERE vec_id NOT IN (SELECT id FROM losers)
        |ORDER BY vec_id""".stripMargin,

    "q_hamming_neardup" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         ((doc_id // 5) * 7 % 2048) * 32
        |         + (CAST(1 AS BIGINT) << CAST(doc_id % 5 AS INTEGER))
        |         + ((doc_id // 5) % 65536) * 65536
        |         + ((doc_id // 5) % 65536) * 4294967296
        |         + ((doc_id // 5) * 31 % 32768) * 281474976710656 AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, h, i AS ci, (h >> CAST(i * 16 AS INTEGER)) & 65535 AS chunk
        |  FROM h, UNNEST([0, 1, 2, 3]) AS t(i)),
        |p AS (
        |  SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |         CAST(bit_count(xor(l.h, r.h)) AS INTEGER) AS hamming
        |  FROM c l JOIN c r ON l.ci = r.ci AND l.chunk = r.chunk AND l.doc_id < r.doc_id)
        |SELECT DISTINCT id_a, id_b, hamming FROM p
        |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin,

    // Full IVF replay (every step of trainCentroids/writeIvfIndex/
    // ivfTopKIndexed is deterministic, so DuckDB can re-derive it):
    // seeds = the 8 lowest-vec_id vectors (cell = id rank); assign0 =
    // argmin-L2 cell per vector with ties to the LOWER cell (Spark's
    // nearestCell keeps the earlier centroid on ties); one Lloyd step
    // with the DECIMAL-exact mean trainCentroids uses; re-assign against
    // the refined centroids; probe = the 2 cells nearest the query
    // (vec 0); cosine top-10 inside them.
    "q_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v AS cv
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
        |assign0 AS (
        |  SELECT e.vec_id, s.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_sum(list_transform(list_zip(e.v, s.cv),
        |                     x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    s.cell ASC) AS rn
        |  FROM e CROSS JOIN seeds s),
        |cells0 AS (SELECT vec_id, cell FROM assign0 WHERE rn = 1),
        |means AS (
        |  SELECT c.cell, i AS dim,
        |         CAST(SUM(CAST(e.v[i] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(1) AS m
        |  FROM cells0 c JOIN e USING (vec_id), UNNEST(generate_series(1, len(e.v))) AS t(i)
        |  GROUP BY c.cell, i),
        |refined AS (
        |  SELECT s.cell, COALESCE(m.cv, s.cv) AS cv
        |  FROM seeds s LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS cv FROM means GROUP BY cell) m
        |    USING (cell)),
        |assign1 AS (
        |  SELECT e.vec_id, r.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_sum(list_transform(list_zip(e.v, r.cv),
        |                     x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    r.cell ASC) AS rn
        |  FROM e CROSS JOIN refined r),
        |cells1 AS (SELECT vec_id, cell FROM assign1 WHERE rn = 1),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probe AS (
        |  SELECT r.cell FROM refined r CROSS JOIN q
        |  ORDER BY list_sum(list_transform(list_zip(q.qv, r.cv),
        |             x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |           r.cell ASC
        |  LIMIT 2)
        |SELECT e.vec_id,
        |       ROUND(CAST(list_cosine_similarity(e.v, q.qv) AS DOUBLE), 6) + 0.0 AS score
        |FROM e JOIN cells1 c USING (vec_id) CROSS JOIN q
        |WHERE c.cell IN (SELECT cell FROM probe)
        |ORDER BY list_cosine_similarity(e.v, q.qv) DESC, e.vec_id
        |LIMIT 10""".stripMargin,

    // Full PQ replay: seeds = the 8 lowest-vec_id vectors sliced into
    // 4 subspaces of 16 dims (code = id rank); per-subspace argmin-L2
    // assignment with ties to the LOWER code; one Lloyd step with the
    // DECIMAL-exact mean trainPq uses; re-encode against the refined
    // books; ADC table from the query (vec 0); per-vector approximate
    // distance as the FIXED-ORDER sum d0+d1+d2+d3 (matching Spark's
    // reduceLeft); top-40 shortlist; exact-cosine re-rank top-10.
    "q_ann_pq" ->
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, v
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
        |sub AS (SELECT s FROM (VALUES (0),(1),(2),(3)) AS t(s)),
        |books0 AS (
        |  SELECT sub.s, seeds.code, list_slice(seeds.v, sub.s*16+1, sub.s*16+16) AS cv
        |  FROM seeds CROSS JOIN sub),
        |assign0 AS (
        |  SELECT e.vec_id, b.s, b.code,
        |         row_number() OVER (PARTITION BY e.vec_id, b.s
        |           ORDER BY list_sum(list_transform(
        |                      list_zip(list_slice(e.v, b.s*16+1, b.s*16+16), b.cv),
        |                      x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    b.code ASC) AS rn
        |  FROM e CROSS JOIN books0 b),
        |codes0 AS (SELECT vec_id, s, code FROM assign0 WHERE rn = 1),
        |means AS (
        |  SELECT c.s, c.code, i AS w,
        |         CAST(SUM(CAST(e.v[c.s*16 + i] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(1) AS m
        |  FROM codes0 c JOIN e USING (vec_id), UNNEST(generate_series(1, 16)) AS t(i)
        |  GROUP BY c.s, c.code, i),
        |books1 AS (
        |  SELECT b.s, b.code, COALESCE(m.cv, b.cv) AS cv
        |  FROM books0 b LEFT JOIN
        |    (SELECT s, code, list(m ORDER BY w) AS cv FROM means GROUP BY s, code) m
        |    USING (s, code)),
        |assign1 AS (
        |  SELECT e.vec_id, b.s, b.code,
        |         row_number() OVER (PARTITION BY e.vec_id, b.s
        |           ORDER BY list_sum(list_transform(
        |                      list_zip(list_slice(e.v, b.s*16+1, b.s*16+16), b.cv),
        |                      x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    b.code ASC) AS rn
        |  FROM e CROSS JOIN books1 b),
        |codes1 AS (SELECT vec_id, s, code FROM assign1 WHERE rn = 1),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |dt AS (
        |  SELECT b.s, b.code,
        |         list_sum(list_transform(
        |           list_zip(list_slice(q.qv, b.s*16+1, b.s*16+16), b.cv),
        |           x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
        |  FROM books1 b CROSS JOIN q),
        |adc AS (
        |  SELECT v0.vec_id, d0.d + d1.d + d2.d + d3.d AS adc_dist
        |  FROM (SELECT vec_id, code FROM codes1 WHERE s = 0) v0
        |  JOIN (SELECT vec_id, code FROM codes1 WHERE s = 1) v1 USING (vec_id)
        |  JOIN (SELECT vec_id, code FROM codes1 WHERE s = 2) v2 USING (vec_id)
        |  JOIN (SELECT vec_id, code FROM codes1 WHERE s = 3) v3 USING (vec_id)
        |  JOIN dt d0 ON d0.s = 0 AND d0.code = v0.code
        |  JOIN dt d1 ON d1.s = 1 AND d1.code = v1.code
        |  JOIN dt d2 ON d2.s = 2 AND d2.code = v2.code
        |  JOIN dt d3 ON d3.s = 3 AND d3.code = v3.code),
        |short AS (SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 40)
        |SELECT s.vec_id, ROUND(s.adc_dist, 6) + 0.0 AS adc,
        |       ROUND(CAST(list_cosine_similarity(e.v, q.qv) AS DOUBLE), 6) + 0.0 AS score
        |FROM short s JOIN e USING (vec_id) CROSS JOIN q
        |ORDER BY ROUND(CAST(list_cosine_similarity(e.v, q.qv) AS DOUBLE), 6) + 0.0 DESC, s.vec_id
        |LIMIT 10""".stripMargin,

    // Fixed-point PageRank replay: the recurrence is pure BIGINT
    // arithmetic (integer divisions, long sums), so the oracle unrolls
    // the 3 iterations and matches EXACTLY. base and init mirror the
    // operator's left-assoc integer divisions verbatim; dangling mass
    // (supplier nodes have no out-edges) decays, as documented.
    "q_pagerank" ->
      """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |p AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS MATERIALIZED (
        |  SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN p),
        |it1 AS MATERIALIZED (
        |  SELECT nd.node,
        |         CAST(1000000000000 * 15 // 100 // p.n
        |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, SUM(r.r // o.deg) AS s
        |             FROM edges e JOIN r0 r ON r.node = e.src
        |             JOIN outdeg o ON o.src = e.src
        |             GROUP BY e.dst) c ON c.node = nd.node),
        |it2 AS MATERIALIZED (
        |  SELECT nd.node,
        |         CAST(1000000000000 * 15 // 100 // p.n
        |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, SUM(r.r // o.deg) AS s
        |             FROM edges e JOIN it1 r ON r.node = e.src
        |             JOIN outdeg o ON o.src = e.src
        |             GROUP BY e.dst) c ON c.node = nd.node),
        |it3 AS MATERIALIZED (
        |  SELECT nd.node,
        |         CAST(1000000000000 * 15 // 100 // p.n
        |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, SUM(r.r // o.deg) AS s
        |             FROM edges e JOIN it2 r ON r.node = e.src
        |             JOIN outdeg o ON o.src = e.src
        |             GROUP BY e.dst) c ON c.node = nd.node)
        |SELECT node, r AS rank_fp FROM it3
        |ORDER BY rank_fp DESC, node""".stripMargin,

    // Release-diff replay: rebuild v_new with the same three mutations,
    // then a full-outer join on doc_id comparing NORMALIZED text (the
    // fingerprint-equality contract, replayed as direct string compare).
    "q_corpus_diff" ->
      """WITH oldc AS MATERIALIZED (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |  FROM documents),
        |newc AS MATERIALIZED (
        |  SELECT doc_id,
        |         trim(regexp_replace(lower(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END),
        |                             '\s+', ' ', 'g')) AS nt
        |  FROM documents WHERE doc_id % 17 <> 0
        |  UNION ALL
        |  SELECT doc_id + 500000,
        |         trim(regexp_replace(lower('fresh doc ' || CAST(doc_id AS VARCHAR)), '\s+', ' ', 'g'))
        |  FROM documents WHERE doc_id % 19 = 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'removed'
        |            WHEN o.nt = n.nt THEN 'unchanged'
        |            ELSE 'changed' END AS status
        |FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Composed IVF-PQ replay: the q_ann_ivf coarse-quantizer chain
    // (seeds -> one Lloyd step -> re-assign -> probe the 2 nearest
    // cells) + the q_ann_pq codebook chain (per-subspace seeds -> Lloyd
    // -> re-encode -> ADC tables), joined: ADC runs over the vectors of
    // the probed cells only, top-40 shortlist, exact-cosine re-rank.
    "q_ann_ivfpq" ->
      """WITH e AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |iseeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v AS cv
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
        |iassign0 AS (
        |  SELECT e.vec_id, s.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_sum(list_transform(list_zip(e.v, s.cv),
        |                     x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    s.cell ASC) AS rn
        |  FROM e CROSS JOIN iseeds s),
        |icells0 AS MATERIALIZED (SELECT vec_id, cell FROM iassign0 WHERE rn = 1),
        |imeans AS MATERIALIZED (
        |  SELECT c.cell, i AS dim,
        |         CAST(SUM(CAST(e.v[i] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(1) AS m
        |  FROM icells0 c JOIN e USING (vec_id), UNNEST(generate_series(1, len(e.v))) AS t(i)
        |  GROUP BY c.cell, i),
        |irefined AS MATERIALIZED (
        |  SELECT s.cell, COALESCE(m.cv, s.cv) AS cv
        |  FROM iseeds s LEFT JOIN (SELECT cell, list(m ORDER BY dim) AS cv FROM imeans GROUP BY cell) m
        |    USING (cell)),
        |iassign1 AS (
        |  SELECT e.vec_id, r.cell,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_sum(list_transform(list_zip(e.v, r.cv),
        |                     x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    r.cell ASC) AS rn
        |  FROM e CROSS JOIN irefined r),
        |icells1 AS MATERIALIZED (SELECT vec_id, cell FROM iassign1 WHERE rn = 1),
        |q AS MATERIALIZED (SELECT v AS qv FROM e WHERE vec_id = 0),
        |probe AS MATERIALIZED (
        |  SELECT r.cell FROM irefined r CROSS JOIN q
        |  ORDER BY list_sum(list_transform(list_zip(q.qv, r.cv),
        |             x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |           r.cell ASC
        |  LIMIT 2),
        |seeds AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, v
        |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
        |sub AS (SELECT s FROM (VALUES (0),(1),(2),(3)) AS t(s)),
        |books0 AS MATERIALIZED (
        |  SELECT sub.s, seeds.code, list_slice(seeds.v, sub.s*16+1, sub.s*16+16) AS cv
        |  FROM seeds CROSS JOIN sub),
        |assign0 AS (
        |  SELECT e.vec_id, b.s, b.code,
        |         row_number() OVER (PARTITION BY e.vec_id, b.s
        |           ORDER BY list_sum(list_transform(
        |                      list_zip(list_slice(e.v, b.s*16+1, b.s*16+16), b.cv),
        |                      x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    b.code ASC) AS rn
        |  FROM e CROSS JOIN books0 b),
        |codes0 AS MATERIALIZED (SELECT vec_id, s, code FROM assign0 WHERE rn = 1),
        |means AS MATERIALIZED (
        |  SELECT c.s, c.code, i AS w,
        |         CAST(SUM(CAST(e.v[c.s*16 + i] AS DECIMAL(20,10))) AS DOUBLE) / COUNT(1) AS m
        |  FROM codes0 c JOIN e USING (vec_id), UNNEST(generate_series(1, 16)) AS t(i)
        |  GROUP BY c.s, c.code, i),
        |books1 AS MATERIALIZED (
        |  SELECT b.s, b.code, COALESCE(m.cv, b.cv) AS cv
        |  FROM books0 b LEFT JOIN
        |    (SELECT s, code, list(m ORDER BY w) AS cv FROM means GROUP BY s, code) m
        |    USING (s, code)),
        |assign1 AS (
        |  SELECT e.vec_id, b.s, b.code,
        |         row_number() OVER (PARTITION BY e.vec_id, b.s
        |           ORDER BY list_sum(list_transform(
        |                      list_zip(list_slice(e.v, b.s*16+1, b.s*16+16), b.cv),
        |                      x -> (x[1] - x[2]) * (x[1] - x[2]))) ASC,
        |                    b.code ASC) AS rn
        |  FROM e CROSS JOIN books1 b),
        |codes1 AS MATERIALIZED (SELECT vec_id, s, code FROM assign1 WHERE rn = 1),
        |dt AS MATERIALIZED (
        |  SELECT b.s, b.code,
        |         list_sum(list_transform(
        |           list_zip(list_slice(q.qv, b.s*16+1, b.s*16+16), b.cv),
        |           x -> (x[1] - x[2]) * (x[1] - x[2]))) AS d
        |  FROM books1 b CROSS JOIN q),
        |adc AS (
        |  SELECT v0.vec_id, d0.d + d1.d + d2.d + d3.d AS adc_dist
        |  FROM (SELECT vec_id, code FROM codes1 WHERE s = 0) v0
        |  JOIN (SELECT vec_id, code FROM codes1 WHERE s = 1) v1 USING (vec_id)
        |  JOIN (SELECT vec_id, code FROM codes1 WHERE s = 2) v2 USING (vec_id)
        |  JOIN (SELECT vec_id, code FROM codes1 WHERE s = 3) v3 USING (vec_id)
        |  JOIN icells1 ic ON ic.vec_id = v0.vec_id
        |  JOIN dt d0 ON d0.s = 0 AND d0.code = v0.code
        |  JOIN dt d1 ON d1.s = 1 AND d1.code = v1.code
        |  JOIN dt d2 ON d2.s = 2 AND d2.code = v2.code
        |  JOIN dt d3 ON d3.s = 3 AND d3.code = v3.code
        |  WHERE ic.cell IN (SELECT cell FROM probe)),
        |short AS (SELECT vec_id, adc_dist FROM adc ORDER BY adc_dist ASC, vec_id ASC LIMIT 40)
        |SELECT s.vec_id, ROUND(s.adc_dist, 6) + 0.0 AS adc,
        |       ROUND(CAST(list_cosine_similarity(e.v, q.qv) AS DOUBLE), 6) + 0.0 AS score
        |FROM short s JOIN e USING (vec_id) CROSS JOIN q
        |ORDER BY ROUND(CAST(list_cosine_similarity(e.v, q.qv) AS DOUBLE), 6) + 0.0 DESC, s.vec_id
        |LIMIT 10""".stripMargin,

    // Warm-start replay: 5 unrolled COLD iterations — equal by the
    // recurrence to the Spark side's 3 cold + 2 warm (generated
    // programmatically; the per-iteration block is the q_pagerank one).
    "q_pagerank_warm" -> {
      val head = """WITH edges AS MATERIALIZED (
        |  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |p AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
        |r0 AS MATERIALIZED (
        |  SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN p)""".stripMargin
      def it(cur: String, prev: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT nd.node,
           |         CAST(1000000000000 * 15 // 100 // p.n
           |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
           |  FROM nodes nd CROSS JOIN p
           |  LEFT JOIN (SELECT e.dst AS node, SUM(r.r // o.deg) AS s
           |             FROM edges e JOIN $prev r ON r.node = e.src
           |             JOIN outdeg o ON o.src = e.src
           |             GROUP BY e.dst) c ON c.node = nd.node)""".stripMargin
      head + ",\n" +
        (1 to 5).map(i => it(s"it$i", if (i == 1) "r0" else s"it${i - 1}")).mkString(",\n") +
        "\nSELECT node, r AS rank_fp FROM it5\nORDER BY rank_fp DESC, node"
    },

    // Weighted PageRank replay: same unrolled recurrence, mass split
    // proportionally — per-edge (r·w) // Σw, exact BIGINT throughout.
    "q_pagerank_weighted" ->
      """WITH edges AS MATERIALIZED (
        |  SELECT o_custkey AS src, 1000000 + l_suppkey AS dst, CAST(COUNT(1) AS BIGINT) AS w
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |p AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |outw AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS tw FROM edges GROUP BY src),
        |r0 AS MATERIALIZED (
        |  SELECT node, 1000000000000 // n AS r FROM nodes CROSS JOIN p),
        |it1 AS MATERIALIZED (
        |  SELECT nd.node,
        |         CAST(1000000000000 * 15 // 100 // p.n
        |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.w) // o.tw) AS s
        |             FROM edges e JOIN r0 r ON r.node = e.src
        |             JOIN outw o ON o.src = e.src
        |             GROUP BY e.dst) c ON c.node = nd.node),
        |it2 AS MATERIALIZED (
        |  SELECT nd.node,
        |         CAST(1000000000000 * 15 // 100 // p.n
        |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.w) // o.tw) AS s
        |             FROM edges e JOIN it1 r ON r.node = e.src
        |             JOIN outw o ON o.src = e.src
        |             GROUP BY e.dst) c ON c.node = nd.node),
        |it3 AS MATERIALIZED (
        |  SELECT nd.node,
        |         CAST(1000000000000 * 15 // 100 // p.n
        |              + 85 * COALESCE(c.s, 0) // 100 AS BIGINT) AS r
        |  FROM nodes nd CROSS JOIN p
        |  LEFT JOIN (SELECT e.dst AS node, SUM((r.r * e.w) // o.tw) AS s
        |             FROM edges e JOIN it2 r ON r.node = e.src
        |             JOIN outw o ON o.src = e.src
        |             GROUP BY e.dst) c ON c.node = nd.node)
        |SELECT node, r AS rank_fp FROM it3
        |ORDER BY rank_fp DESC, node""".stripMargin,

    // k-core peel replay: 3 unrolled rounds of degree-among-survivors +
    // threshold filter, then one final degree pass — all integers.
    "q_kcore" -> {
      val head = """WITH und AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(o_custkey, 1000000 + l_suppkey) AS u,
        |                  GREATEST(o_custkey, 1000000 + l_suppkey) AS v
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_custkey <> 1000000 + l_suppkey),
        |a0 AS MATERIALIZED (SELECT u AS node FROM und UNION SELECT v FROM und)""".stripMargin
      def deg(name: String, alive: String) =
        s"""$name AS MATERIALIZED (
           |  SELECT node, COUNT(1) AS degree FROM (
           |    SELECT e.u AS node FROM und e
           |    WHERE e.u IN (SELECT node FROM $alive) AND e.v IN (SELECT node FROM $alive)
           |    UNION ALL
           |    SELECT e.v AS node FROM und e
           |    WHERE e.u IN (SELECT node FROM $alive) AND e.v IN (SELECT node FROM $alive)) t
           |  GROUP BY node)""".stripMargin
      def peel(i: Int) =
        deg(s"d$i", s"a${i - 1}") + ",\n" +
          s"a$i AS MATERIALIZED (SELECT node FROM d$i WHERE degree >= 25)"
      head + ",\n" + (1 to 3).map(peel).mkString(",\n") + ",\n" +
        deg("dfin", "a3") +
        "\nSELECT node, degree FROM dfin ORDER BY node"
    },

    // Synchronous label-propagation replay: 3 unrolled iterations, each
    // a (node, label) vote count (neighbor labels + the node's own) and
    // a (count DESC, label ASC) argmax — all integers, exact.
    "q_label_prop" -> {
      val head = """WITH und AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(o_custkey, 1000000 + l_suppkey) AS u,
        |                  GREATEST(o_custkey, 1000000 + l_suppkey) AS v
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_custkey <> 1000000 + l_suppkey),
        |e AS MATERIALIZED (
        |  SELECT u AS src, v AS dst FROM und
        |  UNION ALL SELECT v AS src, u AS dst FROM und),
        |it0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM e)""".stripMargin
      def it(cur: String, prev: String) =
        s"""$cur AS MATERIALIZED (
           |  SELECT node, label FROM (
           |    SELECT node, label,
           |           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
           |    FROM (SELECT node, label, COUNT(*) AS c FROM (
           |            SELECT e.dst AS node, l.label FROM e JOIN $prev l ON e.src = l.node
           |            UNION ALL SELECT node, label FROM $prev) v
           |          GROUP BY node, label) t) q
           |  WHERE rn = 1)""".stripMargin
      head + ",\n" +
        (1 to 3).map(i => it(s"it$i", if (i == 1) "it0" else s"it${i - 1}")).mkString(",\n") +
        "\nSELECT node, label FROM it3 ORDER BY node"
    },

    // Domain-cap replay: the planted url's registered domain is
    // lower(source)||'.com' BY CONSTRUCTION; keep the 40 lowest ids per
    // domain.
    "q_domain_cap" ->
      """WITH d AS (SELECT doc_id, lower(source) || '.com' AS domain FROM documents),
        |k AS (SELECT doc_id, domain,
        |             ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
        |      FROM d)
        |SELECT doc_id, domain FROM k WHERE rn <= 15 ORDER BY doc_id""".stripMargin,

    // Registered domains BY CONSTRUCTION: multi-label registry TLDs keep
    // source + registry suffix; the *.ck wildcard makes shop.<source>.ck
    // itself the registrable name; .com keeps the implicit-* pair.
    "q_psl_domain" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 6 AS INTEGER)
        |    WHEN 0 THEN lower(source) || '.co.uk'
        |    WHEN 1 THEN lower(source) || '.com.au'
        |    WHEN 2 THEN lower(source) || '.co.jp'
        |    WHEN 3 THEN lower(source) || '.gob.mx'
        |    WHEN 4 THEN 'shop.' || lower(source) || '.ck'
        |    ELSE lower(source) || '.com'
        |  END AS domain
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_asof_join" ->
      """WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |     purch  AS (SELECT user_id, ts AS purchase_ts, MAX(value) AS purchase_value
        |                FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, c.ts, p.purchase_ts, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
        |ORDER BY c.event_id""".stripMargin,

    "q_range_join" ->
      """WITH promo AS (
        |  SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS pstart,
        |         CAST(date_trunc('week', ts) AS TIMESTAMP) + INTERVAL 10 DAY AS pend
        |  FROM events WHERE event_type = 'purchase'),
        |clicks AS (SELECT event_id, ts FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.ts, p.pstart, p.pend
        |FROM clicks c JOIN promo p ON c.ts >= p.pstart AND c.ts < p.pend
        |ORDER BY c.event_id, p.pstart""".stripMargin,

    "q_stratified_sample" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, source, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn,
        |         COUNT(1)     OVER (PARTITION BY lang) AS cnt
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars FROM ranked
        |WHERE rn <= CEIL(cnt * 0.2) ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH c AS (
        |  SELECT doc_id, lang, n_chars,
        |         SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT doc_id, lang, n_chars,
        |       CAST(FLOOR((cum - n_chars) / 16384.0) AS BIGINT) AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    // strict next-fit replay: the per-group sequential (bin, used)
    // state advances one row per group per recursion step — the rn
    // join is the lock-step clock, so iterations = the largest group,
    // not the row count
    "q_pack_strict" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT lang, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT lang, rn, doc_id, n_chars,
        |         CAST(0 AS BIGINT) AS bin, CAST(n_chars AS BIGINT) AS used
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.lang, o.rn, o.doc_id, o.n_chars,
        |         CASE WHEN r.used + o.n_chars > 16384 THEN r.bin + 1 ELSE r.bin END,
        |         CASE WHEN r.used + o.n_chars > 16384 THEN CAST(o.n_chars AS BIGINT)
        |              ELSE r.used + o.n_chars END
        |  FROM r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1)
        |SELECT doc_id, lang, n_chars, bin FROM r ORDER BY doc_id""".stripMargin,

    // Assembly replay: vocab ranks, per-doc id lists (parallel unnest
    // zips token with position), the q_pack_strict lock-step recursive
    // pack on token counts, then per-bin list aggregation ordered by
    // doc_id — sep appended after every doc, trailing one sliced off.
    "q_assemble" ->
      """WITH RECURSIVE toks AS MATERIALIZED (
        |  SELECT doc_id, lang, regexp_split_to_array(nt, ' ') AS t
        |  FROM (SELECT doc_id, lang,
        |               trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |        FROM documents)
        |  WHERE length(nt) > 0),
        |vocab AS MATERIALIZED (
        |  SELECT token,
        |         CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS BIGINT) AS tid
        |  FROM (SELECT token, COUNT(1) AS cnt
        |        FROM (SELECT unnest(t) AS token FROM toks)
        |        GROUP BY token)),
        |ids AS MATERIALIZED (
        |  SELECT u.doc_id, u.lang, list(v.tid ORDER BY u.pos) AS token_ids,
        |         CAST(COUNT(1) AS BIGINT) AS n
        |  FROM (SELECT doc_id, lang, unnest(t) AS token,
        |               unnest(generate_series(1, len(t))) AS pos FROM toks) u
        |  JOIN vocab v USING (token)
        |  GROUP BY u.doc_id, u.lang),
        |o AS MATERIALIZED (
        |  SELECT lang, doc_id, token_ids, n,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM ids),
        |r AS (
        |  SELECT lang, rn, doc_id, token_ids, n, CAST(0 AS BIGINT) AS bin, n AS used
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.lang, o.rn, o.doc_id, o.token_ids, o.n,
        |         CASE WHEN r.used + o.n > 8192 THEN r.bin + 1 ELSE r.bin END,
        |         CASE WHEN r.used + o.n > 8192 THEN o.n ELSE r.used + o.n END
        |  FROM r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1),
        |binm AS MATERIALIZED (
        |  SELECT lang, bin, doc_id, token_ids,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY lang, bin ORDER BY doc_id) - 1 AS BIGINT) AS ord
        |  FROM r),
        |asm AS (
        |  SELECT lang, bin,
        |         list(doc_id ORDER BY doc_id) AS doc_ids,
        |         flatten(list(list_concat(token_ids, [CAST(-1 AS BIGINT)]) ORDER BY doc_id)) AS ws,
        |         flatten(list(list_transform(list_concat(token_ids, [CAST(-1 AS BIGINT)]),
        |                                     x -> ord) ORDER BY doc_id)) AS sg,
        |         flatten(list(generate_series(0, len(token_ids)) ORDER BY doc_id)) AS ps
        |  FROM binm GROUP BY lang, bin)
        |SELECT lang, bin, array_to_string(doc_ids, ' ') AS doc_ids,
        |       array_to_string(ws[1:len(ws)-1], ' ') AS input_ids,
        |       array_to_string(sg[1:len(sg)-1], ' ') AS segment_ids,
        |       array_to_string(ps[1:len(ps)-1], ' ') AS position_ids,
        |       CAST(len(ws) - 1 AS BIGINT) AS n_tokens
        |FROM asm ORDER BY lang, bin""".stripMargin,

    // Full-funnel replay: every stage's already-proven oracle pattern
    // (q_quality/q_langid profile math, q_pii_scrub redaction chain,
    // q_repetition Gopher stats, q_dedup_exact, q_ngram_jaccard +
    // q_dedup_clusters components, q_contamination 8-grams,
    // q_mix_weighted budget cut, q_split buckets, q_chunk slicing,
    // q_pack_sequences bins) composed into one WITH chain over the same
    // deterministic configuration the Spark query runs. Threshold
    // constants are interpolated from TextFunctions so the two surfaces
    // cannot drift. NOTE s-interpolation processes escapes even in
    // triple quotes — every regex backslash below is doubled.
    // Full funnel replay incl. LM gate + decontamination, whitespace
    // token accounting — built programmatically (FunnelOracle shares
    // the prefix with q_funnel_bpe)
    "q_pipeline_funnel" -> FunnelOracle(lm = true, contam = true, bpe = false),

    // Same funnel prefix (gates off) under TRAINED-BPE accounting: the
    // oracle replays the 12 tokenizer-training merge rounds themselves
    // (unrolled argmax+fold CTEs), then quota-chunks/packs on subword
    // counts — see FunnelOracle scaladoc for the replay argument
    "q_funnel_bpe" -> FunnelOracle(lm = false, contam = false, bpe = true),

    // Closed-form replay of the REAL decoders: syntheticRealMedia's
    // payload parameters are arithmetic in doc_id, so the true decode
    // outputs are predictable exactly — width/height are the PNG's
    // The striped fixture's aHash closed form: stripe columns replicate
    // down the 8 rows (×0x0101010101010101), the marker pixel ORs in
    // bit 62 (already inside the stripe mask when bright=7). The
    // pairing replays as a plain self-join + bit_count(xor).
    "q_image_neardup" ->
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 29 = 0),
        |h AS (SELECT id,
        |        ((CAST(1 AS BIGINT) << CAST(1 + id % 7 AS INTEGER)) - 1) * 72340172838076673
        |          | CASE WHEN id % 2 = 1 THEN 4611686018427387904 ELSE 0 END AS ph
        |      FROM d)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(bit_count(xor(a.ph, b.ph)) AS INTEGER) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.ph, b.ph)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // encoded dims; mean_intensity is BT.601 of the solid gray (every
    // pixel identical, so the mean is the per-pixel luminance to within
    // an ulp — far inside round(4)); rms of a constant-amplitude PCM
    // signal is |a|/32768 with dyadic-exact arithmetic (a²·2⁻³⁰ and its
    // n-fold sum are exactly representable, so both engines take the
    // same sqrt of the same double); GIF frame count and the everyN=2
    // sample count are integer arithmetic.
    "q_multimodal" ->
      """SELECT doc_id AS media_id,
        | CAST(8 + doc_id % 9 AS INTEGER) AS width,
        | CAST(8 + doc_id % 5 AS INTEGER) AS height,
        | ROUND(0.299 * (28 + doc_id % 200) + 0.587 * (28 + doc_id % 200)
        |       + 0.114 * (28 + doc_id % 200), 4) AS mean_intensity,
        | CAST(8000 AS INTEGER) AS sample_rate,
        | CAST(800 + (doc_id % 5) * 160 AS BIGINT) AS n_samples,
        | ROUND(SQRT(((1000 + doc_id % 1000) / 32768.0)
        |            * ((1000 + doc_id % 1000) / 32768.0)), 6) AS rms,
        | CAST(2 + doc_id % 4 AS INTEGER) AS n_video_frames,
        | CAST((2 + doc_id % 4 + 1) // 2 AS BIGINT) AS frames_sampled
        |FROM documents ORDER BY media_id""".stripMargin,

    // The AVI fixture's decode outputs are all closed-form: frame count
    // 2 + id%5, 16x12 dims, aHash 0 for the solid even frames and the
    // half-split 0xF0-per-row mask (as signed -1085102592571150096) for
    // the odd ones — quality-1.0 JPEG keeps block-aligned flat regions
    // DCT-exact, so the real decoder lands the arithmetic values.
    "q_avi_frames" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 37 = 0)
        |SELECT media_id, CAST(n AS INTEGER) AS n_frames,
        |       CAST(i AS INTEGER) AS frame_idx,
        |       CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
        |       CAST(CASE WHEN i % 2 = 1 THEN -1085102592571150096 ELSE 0 END AS BIGINT) AS ahash
        |FROM d, unnest(range(0, n, 1)) AS t(i)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // MP4 probe replay: every planted field is arithmetic — counted
    // samples n = 2 + id%5, counted keyframes ceil(n/2) (odd sample
    // numbers sync), timescale 30, duration n/30, jpeg 16x12 — and the
    // truncated ids are the all-zero ok=false fallback row.
    "q_mp4_probe" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n,
        |                  doc_id % 82 = 0 AS dirty
        |           FROM documents WHERE doc_id % 41 = 0)
        |SELECT media_id, NOT dirty AS ok,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n END AS INTEGER) AS n_samples,
        |       CAST(CASE WHEN dirty THEN 0 ELSE (n + 1) // 2 END AS INTEGER) AS n_keyframes,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 30 END AS INTEGER) AS timescale,
        |       CASE WHEN dirty THEN 0.0 ELSE CAST(n AS DOUBLE) / 30.0 END AS duration_s,
        |       CASE WHEN dirty THEN '' ELSE 'jpeg' END AS codec,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 16 END AS INTEGER) AS width,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 12 END AS INTEGER) AS height
        |FROM d ORDER BY media_id""".stripMargin,

    // MJPEG-in-MP4 frame replay: the q_avi_frames closed forms over the
    // % 43 fixture slice.
    "q_mp4_frames" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 43 = 0)
        |SELECT media_id, CAST(n AS INTEGER) AS n_frames,
        |       CAST(i AS INTEGER) AS frame_idx,
        |       CAST(16 AS INTEGER) AS width, CAST(12 AS INTEGER) AS height,
        |       CAST(CASE WHEN i % 2 = 1 THEN -1085102592571150096 ELSE 0 END AS BIGINT) AS ahash
        |FROM d, unnest(range(0, n, 1)) AS t(i)
        |ORDER BY media_id, frame_idx""".stripMargin,

    // WebM probe replay: counted blocks n = 2 + id%5, counted keyframes
    // ceil(n/2) (even block indices keyframed), timescale 10⁶ ns,
    // duration_ms = n·40 exact, V_VP8 16x12 — and the truncated ids are
    // the all-zero ok=false fallback row.
    "q_webm_probe" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n,
        |                  doc_id % 94 = 0 AS dirty
        |           FROM documents WHERE doc_id % 47 = 0)
        |SELECT media_id, NOT dirty AS ok,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n END AS INTEGER) AS n_blocks,
        |       CAST(CASE WHEN dirty THEN 0 ELSE (n + 1) // 2 END AS INTEGER) AS n_keyframes,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 1000000 END AS BIGINT) AS timescale_ns,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n * 40 END AS BIGINT) AS duration_ms,
        |       CASE WHEN dirty THEN '' ELSE 'V_VP8' END AS codec,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 16 END AS INTEGER) AS width,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 12 END AS INTEGER) AS height
        |FROM d ORDER BY media_id""".stripMargin,

    // WARC replay: one warcinfo row + n closed-form response rows per
    // archive (gzipped or not — the walk is transparent), truncated
    // ids contribute zero rows.
    "q_warc_records" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n,
        |                  doc_id % 122 = 0 AS dirty
        |           FROM documents WHERE doc_id % 61 = 0),
        |info AS (
        |  SELECT media_id, CAST(0 AS INTEGER) AS rec_idx,
        |         'warcinfo' AS warc_type, '' AS target_uri,
        |         CAST(17 AS BIGINT) AS content_length,
        |         CAST(NULL AS INTEGER) AS http_status
        |  FROM d WHERE NOT dirty),
        |resp AS (
        |  SELECT media_id, CAST(i + 1 AS INTEGER) AS rec_idx,
        |         'response' AS warc_type,
        |         'http://example.com/' || media_id || '/' || i AS target_uri,
        |         CAST(91 AS BIGINT) AS content_length,
        |         CAST(200 AS INTEGER) AS http_status
        |  FROM d, unnest(range(0, n, 1)) AS t(i) WHERE NOT dirty),
        |latin AS (
        |  SELECT media_id, CAST(n + 1 AS INTEGER) AS rec_idx,
        |         'response' AS warc_type,
        |         'http://example.com/' || media_id || '/latin1' AS target_uri,
        |         CAST(111 AS BIGINT) AS content_length,
        |         CAST(200 AS INTEGER) AS http_status
        |  FROM d WHERE NOT dirty)
        |SELECT * FROM (SELECT * FROM info UNION ALL SELECT * FROM resp
        |               UNION ALL SELECT * FROM latin)
        |ORDER BY media_id, rec_idx""".stripMargin,

    // WARC→text replay: rebuild the planted html bodies verbatim
    // (including the Latin-1 café row — chr(233) = U+00E9, the byte
    // 0xE9 that strict UTF-8 rejects and the declared ISO-8859-1
    // decodes), then the q_html_strip cleaning chain — archive bytes
    // to clean text, every string and the decoding charset closed-form.
    "q_warc_text" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 61 = 0),
        |h AS (
        |  SELECT media_id, CAST(i + 1 AS INTEGER) AS rec_idx,
        |         'http://example.com/' || media_id || '/' || i AS target_uri,
        |         'UTF-8' AS charset,
        |         substring('<html>doc ' || media_id || ' ' || i || repeat('.', 64),
        |                   1, 40) || '</html>' AS html
        |  FROM d, unnest(range(0, n, 1)) AS t(i)
        |  UNION ALL
        |  SELECT media_id, CAST(n + 1 AS INTEGER) AS rec_idx,
        |         'http://example.com/' || media_id || '/latin1' AS target_uri,
        |         'ISO-8859-1' AS charset,
        |         substring('<html>caf' || chr(233) || ' doc ' || media_id ||
        |                   repeat('.', 64), 1, 40) || '</html>' AS html
        |  FROM d)
        |SELECT media_id, rec_idx, target_uri, charset,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
        |            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
        |          '(?s)<!--.*?-->', ' ', 'g'),
        |        '<[^>]*>', ' ', 'g'),
        |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS text
        |FROM h ORDER BY media_id, rec_idx""".stripMargin,

    // Containment replay: the same chunk digests, per-(doc, digest)
    // masses, min-shared sums over the digest buckets (with the same
    // 2..2000 owner gate), truncating fixed-point scores.
    "q_chunk_containment" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws), 1)) AS pos
        |  FROM (SELECT doc_id,
        |               list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                           x -> len(x) > 0) AS ws
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, w, pos,
        |         COALESCE(SUM(CASE WHEN substring(md5(w), 1, 1) < '2'
        |                           THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS chunk_idx
        |  FROM w),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5,
        |         COUNT(1) AS n_words
        |  FROM c GROUP BY doc_id, chunk_idx),
        |mass AS MATERIALIZED (
        |  SELECT doc_id, chunk_md5, SUM(n_words) AS mass
        |  FROM chunks GROUP BY 1, 2),
        |own AS (SELECT chunk_md5, COUNT(1) AS nd FROM mass GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(SUM(LEAST(a.mass, b.mass)) AS BIGINT) AS shared_words
        |  FROM mass a JOIN mass b USING (chunk_md5) JOIN own USING (chunk_md5)
        |  WHERE a.doc_id < b.doc_id AND nd BETWEEN 2 AND 2000
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(SUM(mass) AS BIGINT) AS words
        |        FROM mass GROUP BY 1)
        |SELECT id_a, id_b, shared_words, ta.words AS words_a,
        |       tb.words AS words_b,
        |       CAST(shared_words * 1000000 // ta.words AS BIGINT)
        |         AS containment_a_fp,
        |       CAST(shared_words * 1000000 // tb.words AS BIGINT)
        |         AS containment_b_fp
        |FROM pairs JOIN tot ta ON pairs.id_a = ta.doc_id
        |           JOIN tot tb ON pairs.id_b = tb.doc_id
        |WHERE GREATEST(shared_words * 1000000 // ta.words,
        |               shared_words * 1000000 // tb.words) >= 300000
        |ORDER BY id_a, id_b""".stripMargin,

    // Char-entropy replay: same char split, same exact counts, and the
    // IDENTICAL driver-literal ⌊ln(k)·10¹²⌋ table the operator plans —
    // the per-term arithmetic is pure integer on both sides (no libm in
    // either engine), so entropy_fp matches bit-for-bit by construction.
    "q_char_entropy" -> {
      val lnTab = (1 to 512).map(k =>
        s"($k, ${math.floor(math.log(k.toDouble) * 1e12).toLong})").mkString(", ")
      s"""WITH lntab(k, lf) AS (VALUES $lnTab),
        |ch AS MATERIALIZED (
        |  SELECT doc_id,
        |         unnest(list_filter(string_split(substring(text, 1, 512), ''),
        |                            x -> len(x) > 0)) AS c
        |  FROM documents),
        |cnt AS MATERIALIZED (
        |  SELECT doc_id, c, COUNT(1) AS cc FROM ch GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(cc) AS n, COUNT(1) AS dc FROM cnt GROUP BY 1)
        |SELECT doc_id, CAST(n AS BIGINT) AS n_chars_used,
        |       CAST(dc AS BIGINT) AS distinct_chars,
        |       CAST(SUM((cc * (lfn.lf - lfc.lf)) // n) AS BIGINT) AS entropy_fp
        |FROM cnt JOIN tot USING (doc_id)
        |         JOIN lntab lfc ON lfc.k = cnt.cc
        |         JOIN lntab lfn ON lfn.k = tot.n
        |GROUP BY doc_id, n, dc ORDER BY doc_id""".stripMargin
    },

    // Politeness replay: per-host 0-based rank in id order, then
    // truncating DIV/mod into waves of 4.
    "q_politeness" ->
      """WITH u AS (SELECT doc_id, doc_id % 31 AS host_id
        |           FROM documents WHERE doc_id % 7 = 0),
        |r AS (SELECT doc_id, host_id,
        |             ROW_NUMBER() OVER (PARTITION BY host_id ORDER BY doc_id) - 1
        |               AS rk
        |      FROM u)
        |SELECT doc_id, host_id, CAST(rk // 4 AS BIGINT) AS wave,
        |       CAST(rk % 4 AS BIGINT) AS slot
        |FROM r ORDER BY host_id, doc_id""".stripMargin,

    // Fetch-plan replay: the politeness rank layout plus the planted
    // per-host delay CASE — graftbot 2 s, capped * 120 s → 60 s, none →
    // the 1 s floor; not_before_ms = wave × delay_ms.
    "q_fetch_plan" ->
      """WITH u AS (SELECT doc_id, doc_id % 31 AS host_id
        |           FROM documents WHERE doc_id % 7 = 0),
        |r AS (SELECT doc_id, host_id,
        |             ROW_NUMBER() OVER (PARTITION BY host_id ORDER BY doc_id) - 1
        |               AS rk,
        |             CASE host_id % 3 WHEN 0 THEN 2000 WHEN 1 THEN 60000
        |                  ELSE 1000 END AS dms
        |      FROM u)
        |SELECT host_id, doc_id, CAST(rk // 4 AS BIGINT) AS wave,
        |       CAST(rk % 4 AS BIGINT) AS slot,
        |       CAST(dms AS BIGINT) AS delay_ms,
        |       CAST((rk // 4) * dms AS BIGINT) AS not_before_ms
        |FROM r ORDER BY host_id, doc_id""".stripMargin,

    // URL-canonicalization replay: each planted spelling's normal form
    // is a closed-form statement ({} carries the doc id).
    "q_url_canon" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 43 = 0),
        |v(url_idx, u, c) AS (VALUES
        |  (0, 'HTTP://Example{}.COM:80/a/./b/../c?b=2&a=1#frag',
        |      'http://example{}.com/a/c?a=1&b=2'),
        |  (1, 'https://site{}.org:443//x//y/', 'https://site{}.org/x/y/'),
        |  (2, 'http://h{}/%7Euser/%2fpath?q=%41', 'http://h{}/~user/%2Fpath?q=A'),
        |  (3, 'http://h{}/', 'http://h{}/'),
        |  (4, 'not a url {}', 'not a url {}'))
        |SELECT doc_id, CAST(url_idx AS INTEGER) AS url_idx,
        |       replace(u, '{}', CAST(doc_id AS VARCHAR)) AS url,
        |       replace(c, '{}', CAST(doc_id AS VARCHAR)) AS canonical_url
        |FROM d CROSS JOIN v ORDER BY doc_id, url_idx""".stripMargin,

    // Sitemap-refs replay: each planted robots.txt names its 1 + (id
    // even) closed-form sitemap URLs in file order.
    "q_sitemap_refs" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 67 = 0)
        |SELECT doc_id, CAST(j AS INTEGER) AS ref_idx,
        |       'http://s' || doc_id || '/map/' || j || '.xml' AS sitemap_url
        |FROM d, unnest(range(0, CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END, 1))
        |       AS t(j)
        |ORDER BY doc_id, ref_idx""".stripMargin,

    // Sitemap replay: even ids explode to their 1 + id%3 urlset pages
    // with the planted lastmod/changefreq/priority formulas; odd ids to
    // their two sitemapindex children.
    "q_sitemap" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 67 = 0),
        |pages AS (
        |  SELECT doc_id, 'url' AS kind,
        |         'http://s' || doc_id || '/page/' || j AS loc,
        |         '2026-01-0' || (j + 1) AS lastmod,
        |         (['daily', 'weekly', 'monthly'])[CAST(j % 3 + 1 AS INTEGER)]
        |           AS changefreq,
        |         '0.' || (j % 3 + 5) AS priority
        |  FROM d, unnest(range(0, doc_id % 3 + 1, 1)) AS t(j)
        |  WHERE doc_id % 2 = 0),
        |children AS (
        |  SELECT doc_id, 'sitemap' AS kind,
        |         'http://s' || doc_id || '/map/' || j || '.xml' AS loc,
        |         '2026-02-01' AS lastmod, '' AS changefreq, '' AS priority
        |  FROM d, unnest(range(0, 2, 1)) AS t(j)
        |  WHERE doc_id % 2 = 1)
        |SELECT * FROM (SELECT * FROM pages UNION ALL SELECT * FROM children)
        |ORDER BY doc_id, loc""".stripMargin,

    // Frontier replay: added = page n unless n = 2 (the /*/2$ rule);
    // changed = even pages below n minus the blocked 0 and 2 — i.e.
    // page 4 exactly when n > 4.
    "q_crawl_frontier" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 61 = 0),
        |changed AS (
        |  SELECT id, '/' || id || '/' || i AS path, 'changed' AS status
        |  FROM d, unnest(range(0, n, 1)) AS t(i)
        |  WHERE i % 2 = 0 AND i NOT IN (0, 2)),
        |added AS (
        |  SELECT id, '/' || id || '/' || n AS path, 'added' AS status
        |  FROM d WHERE n <> 2)
        |SELECT id AS doc_id, path, status
        |FROM (SELECT * FROM changed UNION ALL SELECT * FROM added)
        |ORDER BY doc_id, path""".stripMargin,

    // Main-content replay: exactly the two prose paragraphs survive the
    // block gates, so the extracted text is this closed-form string.
    "q_main_content" ->
      """SELECT doc_id,
        |       'This is the main article body for document ' || doc_id ||
        |       '. It has enough characters to pass the threshold and contains ' ||
        |       'one link inside prose.' || chr(10) ||
        |       'Second paragraph of real content for document ' || doc_id ||
        |       ' with plenty of plain words to stay above the length limit.'
        |         AS text
        |FROM documents WHERE doc_id % 41 = 0
        |ORDER BY doc_id""".stripMargin,

    // Redirect replay: every chain outcome is a closed-form statement —
    // the 2-hop chain lands on /final, the 2-cycle walks 5 hops and
    // reports resolved=false, the dangling hop resolves to an
    // uncaptured URI.
    "q_redirects" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 0),
        |v(sfx, fin, hops, resolved, captured) AS (VALUES
        |  ('/r1',       '/final',   2, true,  true),
        |  ('/r2',       '/final',   1, true,  true),
        |  ('/loopA',    '/loopB',   5, false, true),
        |  ('/loopB',    '/loopA',   5, false, true),
        |  ('/dangling', '/nowhere', 1, true,  false))
        |SELECT 'http://site' || doc_id || sfx AS target_uri,
        |       'http://site' || doc_id || fin AS final_uri,
        |       CAST(hops AS BIGINT) AS hops, resolved, captured
        |FROM d CROSS JOIN v
        |ORDER BY target_uri""".stripMargin,

    // Recrawl-plan replay: per site, changed evens (priority 0, by page
    // index), then the added page n (priority 1), then unchanged odds
    // (priority 2) rank into waves of 2; the delay CASE is the planted
    // per-host robots (graftbot 2 s / capped 60 s / 1 s floor).
    "q_recrawl_plan" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 61 = 0),
        |u AS (
        |  SELECT id, '/' || id || '/' || i AS path,
        |         CASE WHEN i = n THEN 'added'
        |              WHEN i % 2 = 0 THEN 'changed' ELSE 'unchanged' END AS status,
        |         CASE WHEN i = n THEN 1 WHEN i % 2 = 0 THEN 0 ELSE 2 END
        |           * 1048576 + i AS fetch_order
        |  FROM d, unnest(range(0, n + 1, 1)) AS t(i)),
        |r AS (
        |  SELECT id, path, status, fetch_order,
        |         ROW_NUMBER() OVER (PARTITION BY id ORDER BY fetch_order) - 1
        |           AS rk,
        |         CASE id % 3 WHEN 0 THEN 2000 WHEN 1 THEN 60000 ELSE 1000 END
        |           AS dms
        |  FROM u)
        |SELECT id AS host_id, path, status,
        |       CAST(fetch_order AS BIGINT) AS fetch_order,
        |       CAST(rk // 2 AS BIGINT) AS wave, CAST(rk % 2 AS BIGINT) AS slot,
        |       CAST(dms AS BIGINT) AS delay_ms,
        |       CAST((rk // 2) * dms AS BIGINT) AS not_before_ms
        |FROM r ORDER BY host_id, fetch_order""".stripMargin,

    // Crawl-tick replay: the delta is added ∪ changed; changed (even)
    // pages carry fresh gen1 text and always survive the index probe;
    // the added page n survives only when n is even — the odd-n page
    // was planted in the released corpus's fingerprint index and drops.
    "q_crawl_tick" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 61 = 0),
        |changed AS (
        |  SELECT 'http://example.com/' || id || '/' || i AS target_uri,
        |         'changed' AS status
        |  FROM d, unnest(range(0, n, 1)) AS t(i) WHERE i % 2 = 0),
        |added AS (
        |  SELECT 'http://example.com/' || id || '/' || n AS target_uri,
        |         'added' AS status
        |  FROM d WHERE n % 2 = 0)
        |SELECT * FROM (SELECT * FROM changed UNION ALL SELECT * FROM added)
        |ORDER BY target_uri""".stripMargin,

    // Crawl-diff replay: both generations' decoded-page digests rebuild
    // from the planted html formulas (gen 1's even-page marker is
    // 'gen1'), statuses follow from index parity / the added tail / the
    // dropped latin capture.
    "q_crawl_diff" ->
      """WITH d AS (SELECT doc_id AS id, 2 + doc_id % 5 AS n
        |           FROM documents WHERE doc_id % 61 = 0),
        |resp AS (
        |  SELECT 'http://example.com/' || id || '/' || i AS target_uri,
        |         CASE WHEN i % 2 = 0 THEN 'changed' ELSE 'unchanged' END AS status,
        |         md5(substring('<html>doc ' || id || ' ' || i || repeat('.', 64),
        |             1, 40) || '</html>') AS old_md5,
        |         md5(substring('<html>' ||
        |             CASE WHEN i % 2 = 0 THEN 'gen1' ELSE 'doc ' END ||
        |             id || ' ' || i || repeat('.', 64), 1, 40) || '</html>') AS new_md5
        |  FROM d, unnest(range(0, n, 1)) AS t(i)),
        |added AS (
        |  SELECT 'http://example.com/' || id || '/' || n AS target_uri,
        |         'added' AS status, CAST(NULL AS VARCHAR) AS old_md5,
        |         md5(substring('<html>' ||
        |             CASE WHEN n % 2 = 0 THEN 'gen1' ELSE 'doc ' END ||
        |             id || ' ' || n || repeat('.', 64), 1, 40) || '</html>') AS new_md5
        |  FROM d),
        |gone AS (
        |  SELECT 'http://example.com/' || id || '/latin1' AS target_uri,
        |         'gone' AS status,
        |         md5(substring('<html>caf' || chr(233) || ' doc ' || id ||
        |             repeat('.', 64), 1, 40) || '</html>') AS old_md5,
        |         CAST(NULL AS VARCHAR) AS new_md5
        |  FROM d)
        |SELECT * FROM (SELECT * FROM resp UNION ALL SELECT * FROM added
        |               UNION ALL SELECT * FROM gone)
        |ORDER BY target_uri""".stripMargin,

    // Alias-diff replay: every spelling folds to its RFC 3986 canonical
    // form, so the re-spelled page is one unchanged row (min digest over
    // its two aliases), never an added+gone pair.
    "q_crawl_alias" ->
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 61 = 0)
        |SELECT 'http://alias' || id || '.com/a/b?x=1&y=2' AS target_uri,
        |       'unchanged' AS status, md5('page-a-' || id) AS old_md5,
        |       md5('page-a-' || id) AS new_md5 FROM d
        |UNION ALL
        |SELECT 'http://alias' || id || '.com/chg', 'changed',
        |       md5('old-c-' || id), md5('new-c-' || id) FROM d
        |UNION ALL
        |SELECT 'http://alias' || id || '.com/gone', 'gone',
        |       md5('page-g-' || id), CAST(NULL AS VARCHAR) FROM d
        |UNION ALL
        |SELECT 'http://alias' || id || '.com/~new/', 'added',
        |       CAST(NULL AS VARCHAR), md5('page-n-' || id) FROM d
        |ORDER BY target_uri""".stripMargin,

    // Staleness replay: page 1's newer-than-release lastmod promotes it
    // to band 0; page 2's older entry and page 3's malformed one do not.
    "q_sitemap_priority" ->
      """WITH d AS (SELECT doc_id AS id FROM documents WHERE doc_id % 61 = 0),
        |v(i, status, stale, band) AS (VALUES
        |  (0, 'changed',   false, 0),
        |  (1, 'unchanged', true,  0),
        |  (2, 'unchanged', false, 2),
        |  (3, 'added',     false, 1))
        |SELECT 'http://f' || id || '/p/' || i AS target_uri, status, stale,
        |       CAST(band AS BIGINT) AS band
        |FROM d CROSS JOIN v ORDER BY target_uri""".stripMargin,

    // Revocation replay: ids ≡ 1 (mod 3) sit under /old/, ≡ 2 under
    // /gone/ — both disallowed by today's robots; /keep/ rows pass the
    // gate and leave the audit.
    "q_robots_revoke" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 1 THEN '/old/' ELSE '/gone/' END
        |         || doc_id AS path,
        |       CASE doc_id % 3 WHEN 1 THEN '/old/' ELSE '/gone/' END AS rule
        |FROM documents WHERE doc_id % 47 = 0 AND doc_id % 3 <> 0
        |ORDER BY doc_id""".stripMargin,

    // Takedown replay: membership after the tick is pure id arithmetic —
    // removed docs (≡ 0 mod 62) leave the release AND every index,
    // survivors stay everywhere.
    "q_takedown" ->
      """SELECT doc_id, doc_id % 62 = 0 AS removed,
        |       doc_id % 62 <> 0 AS in_release, doc_id % 62 <> 0 AS in_fp,
        |       doc_id % 62 <> 0 AS in_mh, doc_id % 62 <> 0 AS in_chunk
        |FROM documents WHERE doc_id % 31 = 0
        |ORDER BY doc_id""".stripMargin,

    // Revocation-sweep replay: ids ≡ 1 (mod 3) sit under /old/, ≡ 2
    // under /gone/ — today's robots refuses both, so they leave the
    // release and every index with the refusing rule on audit; /keep/
    // rows stay everywhere with no rule.
    "q_revocation_tick" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 1 THEN '/old/' WHEN 2 THEN '/gone/'
        |            ELSE '' END AS rule,
        |       doc_id % 3 = 0 AS in_release, doc_id % 3 = 0 AS in_fp,
        |       doc_id % 3 = 0 AS in_mh, doc_id % 3 = 0 AS in_chunk
        |FROM documents WHERE doc_id % 31 = 0
        |ORDER BY doc_id""".stripMargin,

    // Domain-takedown replay: hosts 0-2 of the five-way cycle (www
    // subdomain, alias-spelled apex, deep co.uk subdomain) fall under
    // the noticed domains; the look-alike and the unrelated host stay.
    "q_takedown_domain" ->
      """SELECT doc_id, doc_id % 5 <= 2 AS removed,
        |       doc_id % 5 > 2 AS in_release, doc_id % 5 > 2 AS in_fp,
        |       doc_id % 5 > 2 AS in_mh, doc_id % 5 > 2 AS in_chunk
        |FROM documents WHERE doc_id % 31 = 0
        |ORDER BY doc_id""".stripMargin,

    // Maintenance replay: the trio docs (≡ 0 mod 62) were capped out of
    // the mh index at build time (was_in_mh = false) and become
    // probeable after the clones' takedown + the rebuild's re-cap;
    // every surviving doc ends in the release and all three indexes.
    "q_maintenance_tick" ->
      """SELECT doc_id, doc_id % 62 = 0 AS recapped,
        |       doc_id % 62 <> 0 AS was_in_mh,
        |       true AS in_release, true AS in_fp,
        |       true AS in_mh, true AS in_chunk
        |FROM documents WHERE doc_id % 31 = 0
        |ORDER BY doc_id""".stripMargin,

    // CDC replay: the same md5-first-hex boundary test, the same
    // 1-preceding cumulative boundary count, the same space-joined
    // chunk assembly — chunk text and digest are engine-independent by
    // construction.
    "q_content_chunks" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws), 1)) AS pos
        |  FROM (SELECT doc_id,
        |               list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                           x -> len(x) > 0) AS ws
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, w, pos,
        |         COALESCE(SUM(CASE WHEN substring(md5(w), 1, 1) < '2'
        |                           THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS chunk_idx
        |  FROM w)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |       string_agg(w, ' ' ORDER BY pos) AS chunk_text,
        |       CAST(COUNT(1) AS BIGINT) AS n_words,
        |       md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5
        |FROM c GROUP BY doc_id, chunk_idx
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // Chunk-sharing replay: same chunk table, distinct-doc ownership
    // per digest, truncating fixed-point millionths.
    "q_chunk_share" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws), 1)) AS pos
        |  FROM (SELECT doc_id,
        |               list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                           x -> len(x) > 0) AS ws
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, w, pos,
        |         COALESCE(SUM(CASE WHEN substring(md5(w), 1, 1) < '2'
        |                           THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS chunk_idx
        |  FROM w),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5,
        |         COUNT(1) AS n_words
        |  FROM c GROUP BY doc_id, chunk_idx),
        |owners AS (
        |  SELECT chunk_md5, COUNT(DISTINCT doc_id) AS docs
        |  FROM chunks GROUP BY 1)
        |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_chunks,
        |       CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |       CAST(SUM(n_words) AS BIGINT) AS n_words,
        |       CAST(SUM(CASE WHEN docs >= 2 THEN n_words ELSE 0 END) AS BIGINT)
        |         AS shared_words,
        |       CAST(SUM(CASE WHEN docs >= 2 THEN 1 ELSE 0 END) * 1000000
        |            // COUNT(1) AS BIGINT) AS shared_fp,
        |       CAST(CASE WHEN SUM(n_words) > 0 THEN
        |              SUM(CASE WHEN docs >= 2 THEN n_words ELSE 0 END) * 1000000
        |              // SUM(n_words)
        |            ELSE 0 END AS BIGINT) AS shared_words_fp
        |FROM chunks JOIN owners USING (chunk_md5)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Incremental-probe replay: the probe must equal the BATCH
    // containment pairing over the union corpus restricted to pairs
    // involving a delta (doc_id % 3 = 0) doc — same chunk chain as
    // q_chunk_containment, one extra predicate.
    "q_chunk_incr" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws), 1)) AS pos
        |  FROM (SELECT doc_id,
        |               list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                           x -> len(x) > 0) AS ws
        |        FROM documents)),
        |c AS (
        |  SELECT doc_id, w, pos,
        |         COALESCE(SUM(CASE WHEN substring(md5(w), 1, 1) < '2'
        |                           THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS chunk_idx
        |  FROM w),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5,
        |         COUNT(1) AS n_words
        |  FROM c GROUP BY doc_id, chunk_idx),
        |mass AS MATERIALIZED (
        |  SELECT doc_id, chunk_md5, SUM(n_words) AS mass
        |  FROM chunks GROUP BY 1, 2),
        |own AS (SELECT chunk_md5, COUNT(1) AS nd FROM mass GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(SUM(LEAST(a.mass, b.mass)) AS BIGINT) AS shared_words
        |  FROM mass a JOIN mass b USING (chunk_md5) JOIN own USING (chunk_md5)
        |  WHERE a.doc_id < b.doc_id AND nd BETWEEN 2 AND 2000
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(SUM(mass) AS BIGINT) AS words
        |        FROM mass GROUP BY 1)
        |SELECT id_a, id_b, shared_words, ta.words AS words_a,
        |       tb.words AS words_b,
        |       CAST(shared_words * 1000000 // ta.words AS BIGINT)
        |         AS containment_a_fp,
        |       CAST(shared_words * 1000000 // tb.words AS BIGINT)
        |         AS containment_b_fp
        |FROM pairs JOIN tot ta ON pairs.id_a = ta.doc_id
        |           JOIN tot tb ON pairs.id_b = tb.doc_id
        |WHERE GREATEST(shared_words * 1000000 // ta.words,
        |               shared_words * 1000000 // tb.words) >= 300000
        |  AND (id_a % 3 = 0 OR id_b % 3 = 0)
        |ORDER BY id_a, id_b""".stripMargin,

    // Containment-dedup replay: the planted quoting twin contains its
    // article; the loser CASE keeps the superset side — survivors are
    // everything minus the distinct losers.
    "q_containment_dedup" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 31 = 0),
        |corp AS MATERIALIZED (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |         'Preface remarks before the quoted article begins. ' || text ||
        |         ' Closing commentary after the quotation ends.'
        |  FROM base),
        |w AS MATERIALIZED (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(0, len(ws), 1)) AS pos
        |  FROM (SELECT doc_id,
        |               list_filter(regexp_split_to_array(trim(text), '\s+'),
        |                           x -> len(x) > 0) AS ws
        |        FROM corp)),
        |c AS (
        |  SELECT doc_id, w, pos,
        |         COALESCE(SUM(CASE WHEN substring(md5(w), 1, 1) < '2'
        |                           THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |           0) AS chunk_idx
        |  FROM w),
        |chunks AS MATERIALIZED (
        |  SELECT doc_id, md5(string_agg(w, ' ' ORDER BY pos)) AS chunk_md5,
        |         COUNT(1) AS n_words
        |  FROM c GROUP BY doc_id, chunk_idx),
        |mass AS MATERIALIZED (
        |  SELECT doc_id, chunk_md5, SUM(n_words) AS mass
        |  FROM chunks GROUP BY 1, 2),
        |own AS (SELECT chunk_md5, COUNT(1) AS nd FROM mass GROUP BY 1),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |         CAST(SUM(LEAST(a.mass, b.mass)) AS BIGINT) AS shared_words
        |  FROM mass a JOIN mass b USING (chunk_md5) JOIN own USING (chunk_md5)
        |  WHERE a.doc_id < b.doc_id AND nd BETWEEN 2 AND 2000
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, CAST(SUM(mass) AS BIGINT) AS words
        |        FROM mass GROUP BY 1),
        |scored AS (
        |  SELECT id_a, id_b, ta.words AS words_a, tb.words AS words_b,
        |         shared_words * 1000000 // ta.words AS ca,
        |         shared_words * 1000000 // tb.words AS cb
        |  FROM pairs JOIN tot ta ON pairs.id_a = ta.doc_id
        |             JOIN tot tb ON pairs.id_b = tb.doc_id
        |  WHERE GREATEST(shared_words * 1000000 // ta.words,
        |                 shared_words * 1000000 // tb.words) >= 700000),
        |losers AS (
        |  SELECT DISTINCT CASE
        |    WHEN ca >= 700000 AND cb < 700000 THEN id_a
        |    WHEN cb >= 700000 AND ca < 700000 THEN id_b
        |    WHEN words_a < words_b THEN id_a
        |    WHEN words_b < words_a THEN id_b
        |    ELSE GREATEST(id_a, id_b) END AS doc_id
        |  FROM scored)
        |SELECT doc_id FROM corp
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,

    // Robots-gate replay: the RFC 9309 verdict for every (parity, path)
    // pair is a closed-form statement — group shadowing, longest-match
    // precedence, the Allow tie-break, wildcard+anchor matching and
    // default-allow are all encoded in the VALUES table the planted
    // fixture must reproduce.
    "q_robots_gate" ->
      """WITH d AS (SELECT doc_id, doc_id % 2 = 0 AS sh
        |           FROM documents WHERE doc_id % 47 = 0),
        |v(path, a_even, r_even, a_odd, r_odd) AS (VALUES
        |  ('/index.html',  true,  '',              true,  ''),
        |  ('/private/x',   false, '/private/',     true,  ''),
        |  ('/private/pub', true,  '/private/pub$', true,  ''),
        |  ('/data.zip',    false, '/*.zip$',       true,  ''),
        |  ('/tmp/ok123',   true,  '',              true,  '/tmp/ok'),
        |  ('/tmp/zzz',     true,  '',              false, '/tmp/'))
        |SELECT doc_id, path,
        |       CASE WHEN sh THEN a_even ELSE a_odd END AS allowed,
        |       CASE WHEN sh THEN r_even ELSE r_odd END AS rule
        |FROM d CROSS JOIN v ORDER BY doc_id, path""".stripMargin,

    // CDX replay: offsets are pure arithmetic — the warcinfo record is
    // 74 bytes, every response record is 188 + digits(media_id) bytes
    // (fixed-width header text + the uri's id digits), the latin tail
    // record follows the n responses; text_md5 replays as md5 of the
    // same decoded html strings q_warc_text rebuilds.
    "q_warc_cdx" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n,
        |                  length(CAST(doc_id AS VARCHAR)) AS ld
        |           FROM documents WHERE doc_id % 61 = 0 AND doc_id % 122 <> 0),
        |info AS (
        |  SELECT media_id, CAST(0 AS INTEGER) AS rec_idx,
        |         'warcinfo' AS warc_type, '' AS target_uri,
        |         CAST(0 AS BIGINT) AS "offset",
        |         CAST(17 AS BIGINT) AS content_length,
        |         CAST(NULL AS INTEGER) AS http_status,
        |         CAST(NULL AS VARCHAR) AS text_md5,
        |         CAST(NULL AS VARCHAR) AS redirect_location
        |  FROM d),
        |resp AS (
        |  SELECT media_id, CAST(i + 1 AS INTEGER) AS rec_idx,
        |         'response' AS warc_type,
        |         'http://example.com/' || media_id || '/' || i AS target_uri,
        |         CAST(74 + i * (188 + ld) AS BIGINT) AS "offset",
        |         CAST(91 AS BIGINT) AS content_length,
        |         CAST(200 AS INTEGER) AS http_status,
        |         md5(substring('<html>doc ' || media_id || ' ' || i ||
        |             repeat('.', 64), 1, 40) || '</html>') AS text_md5,
        |         CAST(NULL AS VARCHAR) AS redirect_location
        |  FROM d, unnest(range(0, n, 1)) AS t(i)),
        |latin AS (
        |  SELECT media_id, CAST(n + 1 AS INTEGER) AS rec_idx,
        |         'response' AS warc_type,
        |         'http://example.com/' || media_id || '/latin1' AS target_uri,
        |         CAST(74 + n * (188 + ld) AS BIGINT) AS "offset",
        |         CAST(111 AS BIGINT) AS content_length,
        |         CAST(200 AS INTEGER) AS http_status,
        |         md5(substring('<html>caf' || chr(233) || ' doc ' || media_id ||
        |             repeat('.', 64), 1, 40) || '</html>') AS text_md5,
        |         CAST(NULL AS VARCHAR) AS redirect_location
        |  FROM d)
        |SELECT * FROM (SELECT * FROM info UNION ALL SELECT * FROM resp
        |               UNION ALL SELECT * FROM latin)
        |ORDER BY media_id, rec_idx""".stripMargin,

    // MP3 probe replay: counted frames n = 2 + id%5, 32 kHz joint
    // stereo at 128 kbps, duration_ms = n·36 exact (1152 samples/frame
    // at 32 kHz) — and the truncated ids are the all-zero ok=false row.
    "q_mp3_probe" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n,
        |                  doc_id % 106 = 0 AS dirty
        |           FROM documents WHERE doc_id % 53 = 0)
        |SELECT media_id, NOT dirty AS ok,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n END AS INTEGER) AS n_frames,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 32000 END AS INTEGER) AS sample_rate,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 2 END AS INTEGER) AS channels,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 128 END AS INTEGER) AS bitrate_kbps,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n * 36 END AS BIGINT) AS duration_ms
        |FROM d ORDER BY media_id""".stripMargin,

    // Ogg probe replay: counted pages n+1 (BOS + n data pages), lacing
    // packets 2n+1, vorbis at 32 kHz, duration_ms = n·100 exact — and
    // the truncated ids are the all-zero ok=false row.
    "q_ogg_probe" ->
      """WITH d AS (SELECT doc_id AS media_id, 2 + doc_id % 5 AS n,
        |                  doc_id % 118 = 0 AS dirty
        |           FROM documents WHERE doc_id % 59 = 0)
        |SELECT media_id, NOT dirty AS ok,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n + 1 END AS INTEGER) AS n_pages,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 2 * n + 1 END AS INTEGER) AS n_packets,
        |       CASE WHEN dirty THEN '' ELSE 'vorbis' END AS codec,
        |       CAST(CASE WHEN dirty THEN 0 ELSE 32000 END AS INTEGER) AS sample_rate,
        |       CAST(CASE WHEN dirty THEN 0 ELSE n * 100 END AS BIGINT) AS duration_ms
        |FROM d ORDER BY media_id""".stripMargin,

    // Every metric is truncating integer arithmetic (// here, DIV in the
    // Spark plan) so the fixed-point columns are bit-equal by design.
    "q_skew_profile" ->
      """WITH counts AS MATERIALIZED (
        |  SELECT user_id, COUNT(1) AS cnt FROM events GROUP BY 1),
        |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
        |             COUNT(1) AS nkeys, MAX(cnt) AS maxc FROM counts),
        |topn AS (
        |  SELECT user_id, cnt,
        |         row_number() OVER (ORDER BY cnt DESC, user_id) AS rank
        |  FROM counts ORDER BY cnt DESC, user_id LIMIT 20)
        |SELECT CAST(rank AS INTEGER) AS rank, user_id, cnt,
        |       CAST(cnt * 100000000 // g.total AS BIGINT) AS share_fp,
        |       g.total AS total_rows,
        |       CAST(g.nkeys AS BIGINT) AS n_keys,
        |       g.maxc AS max_cnt,
        |       CAST(g.maxc * g.nkeys * 10000 // g.total AS BIGINT) AS skew_x10000
        |FROM topn CROSS JOIN g ORDER BY rank""".stripMargin,

    // list_reduce over each user's ordered prefix IS the operator's
    // left fold — same doubles, same order, bit-equal; (1.0 - 0.3)
    // mirrors the driver's `1.0 - alpha` computation.
    "q_ewma" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_id, value FROM events),
        |l AS MATERIALIZED (
        |  SELECT user_id, list(value ORDER BY event_id) AS vs,
        |         list(event_id ORDER BY event_id) AS ids
        |  FROM e GROUP BY 1),
        |x AS (SELECT user_id, unnest(ids) AS event_id,
        |             unnest(range(1, len(ids) + 1)) AS i, vs
        |      FROM l)
        |SELECT x.user_id, x.event_id, e.value,
        |       list_reduce(vs[1:i], (acc, v) -> 0.3 * v + (1.0 - 0.3) * acc) AS ewma
        |FROM x JOIN e ON e.event_id = x.event_id
        |ORDER BY x.event_id""".stripMargin,

    // The prepended 0 makes the fold's first step max(0, c0 - mu - k),
    // the operator's init; everything is 1e-6 fixed-point longs.
    "q_cusum" ->
      """WITH e AS MATERIALIZED (SELECT user_id, event_id, value FROM events),
        |l AS MATERIALIZED (
        |  SELECT user_id,
        |         list(CAST(FLOOR(value * 1000000) AS BIGINT) ORDER BY event_id) AS cs,
        |         list(event_id ORDER BY event_id) AS ids
        |  FROM e GROUP BY 1),
        |x AS (SELECT user_id, unnest(ids) AS event_id,
        |             unnest(range(1, len(ids) + 1)) AS i, cs FROM l),
        |f AS (SELECT user_id, event_id,
        |             list_reduce(list_prepend(CAST(0 AS BIGINT), cs[1:i]),
        |               (acc, c) -> GREATEST(CAST(0 AS BIGINT), acc + c - 60000000)) AS cusum_fp
        |      FROM x)
        |SELECT f.user_id, f.event_id, e.value, f.cusum_fp,
        |       CASE WHEN f.cusum_fp > 200000000 THEN 1 ELSE 0 END AS alarm
        |FROM f JOIN e ON e.event_id = f.event_id
        |ORDER BY f.event_id""".stripMargin,

    // The recursive CTE IS Holt's recursion, one row per (entity, step):
    // scalar doubles only (DuckDB 1.0's list_reduce mis-evaluates
    // chained multi-field struct folds, so the state lives in two plain
    // columns); lNew is recomputed inline for the trend term — the
    // identical IEEE sequence the operator runs, bit-exact.
    "q_holt" ->
      """WITH RECURSIVE
        |e AS MATERIALIZED (SELECT user_id, event_id, value FROM events),
        |l AS MATERIALIZED (
        |  SELECT user_id, list(value ORDER BY event_id) AS vs,
        |         list(event_id ORDER BY event_id) AS ids
        |  FROM e GROUP BY 1),
        |s AS (
        |  SELECT user_id, 1 AS i, vs[1] AS lvl, CAST(0 AS DOUBLE) AS trd FROM l
        |  UNION ALL
        |  SELECT s.user_id, s.i + 1,
        |         0.5 * l.vs[s.i + 1] + 0.5 * (s.lvl + s.trd),
        |         0.25 * ((0.5 * l.vs[s.i + 1] + 0.5 * (s.lvl + s.trd)) - s.lvl) + 0.75 * s.trd
        |  FROM s JOIN l ON l.user_id = s.user_id
        |  WHERE s.i < len(l.vs)),
        |f AS (SELECT s.user_id, l.ids[s.i] AS event_id, s.lvl, s.trd
        |      FROM s JOIN l ON l.user_id = s.user_id)
        |SELECT f.user_id, f.event_id, e.value, f.lvl AS level, f.trd AS trend,
        |       f.lvl + f.trd AS forecast
        |FROM f JOIN e ON e.event_id = f.event_id
        |ORDER BY f.event_id""".stripMargin,

    // The identical LCG → literal Poisson CDF table → integer replica
    // means → rank-selected band; ids non-negative so % == pmod.
    "q_bootstrap_ci" ->
      """WITH v AS MATERIALIZED (
        |  SELECT doc_id AS id, CAST(FLOOR(n_chars * 1000000.0) AS BIGINT) AS vfp
        |  FROM documents WHERE n_chars IS NOT NULL),
        |rr AS (SELECT unnest(range(0, 50)) AS r),
        |e AS (SELECT id, vfp, r,
        |        -- 1786503607 = (999 * 2654435761) % 2^31, the Knuth-mixed seed offset
        |        (((id * 50 + r + 1786503607) % 2147483648) * 1103515245 + 999) % 2147483648 AS u
        |      FROM v CROSS JOIN rr),
        |w AS (SELECT r, vfp,
        |        CASE WHEN u < 790015084 THEN 0 WHEN u < 1580030168 THEN 1
        |             WHEN u < 1975037710 THEN 2 WHEN u < 2106706891 THEN 3
        |             WHEN u < 2139624186 THEN 4 WHEN u < 2146207645 THEN 5
        |             WHEN u < 2147304888 THEN 6 WHEN u < 2147461638 THEN 7
        |             WHEN u < 2147481231 THEN 8 ELSE 9 END AS w
        |      FROM e),
        |pr AS (SELECT r, SUM(w * vfp) // SUM(w) AS mean_fp
        |       FROM w GROUP BY r HAVING SUM(w) > 0),
        |bc AS (SELECT COUNT(1) AS b FROM pr),
        |rk AS (SELECT mean_fp, row_number() OVER (ORDER BY mean_fp, r) AS rn FROM pr),
        |band AS (
        |  SELECT MAX(CASE WHEN rn = (50 * b + 1999) // 2000 THEN mean_fp END) AS ci_lo_fp,
        |         MAX(CASE WHEN rn = (1950 * b + 1999) // 2000 THEN mean_fp END) AS ci_hi_fp
        |  FROM rk CROSS JOIN bc),
        |fl AS (SELECT COUNT(1) AS n, SUM(vfp) // COUNT(1) AS mean_fp FROM v)
        |SELECT fl.n, bc.b AS replicas, CAST(fl.mean_fp AS BIGINT) AS mean_fp,
        |       CAST(band.ci_lo_fp AS BIGINT) AS ci_lo_fp,
        |       CAST(band.ci_hi_fp AS BIGINT) AS ci_hi_fp
        |FROM fl CROSS JOIN band CROSS JOIN bc""".stripMargin,

    // PERCENTILE_DISC rank selections (rank = ceil(p·n)) as clamp
    // edges; LEAST/GREATEST of actual data values — exact everywhere.
    "q_winsorize" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type,
        |         MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT) THEN value END) AS lo,
        |         MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN value END) AS hi
        |  FROM (SELECT event_type, value,
        |               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |               COUNT(1) OVER (PARTITION BY event_type) AS n
        |        FROM events WHERE value IS NOT NULL)
        |  GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.value, b.lo, b.hi,
        |       CASE WHEN e.value IS NULL THEN NULL
        |            ELSE LEAST(GREATEST(e.value, b.lo), b.hi) END AS value_w
        |FROM events e LEFT JOIN b USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    // HUGEINT moment sums; mean/variance/se/t/df mirror the operator's
    // double sequence term for term (each CAST separate, left-assoc).
    "q_welch_t" ->
      """WITH e AS (SELECT event_type AS experiment,
        |        CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS v,
        |        CAST(FLOOR(value * 1000000.0) AS HUGEINT) AS x
        |      FROM events WHERE value IS NOT NULL),
        |g AS (SELECT experiment, v, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(x) AS sx, SUM(x*x) AS sxx FROM e GROUP BY 1, 2),
        |j AS (SELECT a.experiment, a.v AS variant_a, b.v AS variant_b,
        |             a.n AS na, a.sx AS sxa, a.sxx AS sxxa,
        |             b.n AS nb, b.sx AS sxb, b.sxx AS sxxb
        |      FROM g a JOIN g b ON a.experiment = b.experiment AND a.v < b.v),
        |s AS (SELECT *,
        |        CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0 AS ma,
        |        CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0 AS mb,
        |        CASE WHEN na > 1 THEN CAST(na * sxxa - sxa * sxa AS DOUBLE)
        |             / CAST(na * (na - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS va,
        |        CASE WHEN nb > 1 THEN CAST(nb * sxxb - sxb * sxb AS DOUBLE)
        |             / CAST(nb * (nb - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS vb
        |      FROM j),
        |s2 AS (SELECT *, va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) AS sesq FROM s)
        |SELECT experiment, variant_a, variant_b,
        |       CAST(na AS BIGINT) AS n_a, ma AS mean_a,
        |       CAST(nb AS BIGINT) AS n_b, mb AS mean_b, mb - ma AS diff,
        |       CASE WHEN sesq > 0.0 THEN (mb - ma) / sqrt(sesq) END AS t,
        |       CASE WHEN sesq > 0.0 THEN (sesq * sesq)
        |         / ((va / CAST(na AS DOUBLE)) * (va / CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0)
        |            + (vb / CAST(nb AS DOUBLE)) * (vb / CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0))
        |       END AS df
        |FROM s2 ORDER BY experiment""".stripMargin,

    // MDE replay: the q_welch_t moment chain, then the identical pinned
    // (z_a + z_b)·sqrt(se²) sequence with the same quantile literals.
    "q_power_mde" ->
      """WITH e AS (
        |  SELECT event_type AS experiment,
        |         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS v,
        |         CAST(FLOOR(value * 1000000.0) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |g AS (SELECT experiment, v, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(x) AS sx, SUM(x*x) AS sxx FROM e GROUP BY 1, 2),
        |j AS (SELECT a.experiment, a.v AS variant_a, b.v AS variant_b,
        |             a.n AS na, a.sx AS sxa, a.sxx AS sxxa,
        |             b.n AS nb, b.sx AS sxb, b.sxx AS sxxb
        |      FROM g a JOIN g b ON a.experiment = b.experiment AND a.v < b.v),
        |s AS (SELECT *,
        |        CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0 AS ma,
        |        CASE WHEN na > 1 THEN CAST(na * sxxa - sxa * sxa AS DOUBLE)
        |             / CAST(na * (na - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS va,
        |        CASE WHEN nb > 1 THEN CAST(nb * sxxb - sxb * sxb AS DOUBLE)
        |             / CAST(nb * (nb - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS vb
        |      FROM j),
        |s2 AS (SELECT *, va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) AS sesq,
        |              CASE WHEN va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) > 0.0
        |                   THEN (1.959963984540054 + 0.8416212335729143)
        |                        * sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) END AS mde
        |       FROM s)
        |SELECT experiment, variant_a, variant_b,
        |       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CASE WHEN sesq >= 0.0 THEN sqrt((va + vb) / 2.0) END AS sd_pooled,
        |       mde AS mde_abs,
        |       CASE WHEN ma <> 0.0 THEN mde / abs(ma) END AS mde_rel
        |FROM s2 ORDER BY experiment""".stripMargin,

    // KS replay: quantized distinct-value side counts, HUGEINT-exact
    // |cumA·nB − cumB·nA| argmax, then the identical pinned D /
    // threshold doubles (c(0.05) via the same sqrt(−ln(α/2)/2)).
    "q_ks_drift" ->
      """WITH v AS MATERIALIZED (
        |  SELECT event_type,
        |         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS s,
        |         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |c AS MATERIALIZED (
        |  SELECT event_type, x,
        |         COUNT(1) FILTER (s = 'even') AS ca,
        |         COUNT(1) FILTER (s = 'odd') AS cb
        |  FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT event_type,
        |         SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb,
        |         SUM(ca) OVER (PARTITION BY event_type) AS na,
        |         SUM(cb) OVER (PARTITION BY event_type) AS nb
        |  FROM c
        |  WINDOW w AS (PARTITION BY event_type ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |agg AS (
        |  SELECT event_type, MAX(na) AS na, MAX(nb) AS nb,
        |         MAX(ABS(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)) AS m
        |  FROM cum GROUP BY 1),
        |f AS (
        |  SELECT event_type, na, nb,
        |         CASE WHEN na > 0 AND nb > 0 THEN
        |           CAST(m AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS d,
        |         CASE WHEN na > 0 AND nb > 0 THEN
        |           sqrt(-ln(0.05 / 2.0) / 2.0)
        |             * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) END AS d_crit
        |  FROM agg)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       d, d_crit, d > d_crit AS drifted
        |FROM f ORDER BY event_type""".stripMargin,

    // Embedding-drift replay: per-dim HUGEINT moments over the
    // quantized element stream (release B's planted +0.5 shift applied
    // in double space), the identical pinned mean/variance/pooled-sd/z
    // double chain per dimension.
    "q_embedding_drift" ->
      """WITH ea AS MATERIALIZED (
        |  SELECT i AS dim,
        |         CAST(FLOOR(CAST(embedding[i + 1] AS DOUBLE) * 1000000.0) AS HUGEINT) AS x
        |  FROM embeddings, unnest(range(len(embedding))) AS t(i)
        |  WHERE vec_id % 3 <> 0),
        |eb AS MATERIALIZED (
        |  SELECT i AS dim,
        |         CAST(FLOOR((CASE WHEN i < 3 THEN CAST(embedding[i + 1] AS DOUBLE) + 0.5
        |                          ELSE CAST(embedding[i + 1] AS DOUBLE) END)
        |                    * 1000000.0) AS HUGEINT) AS x
        |  FROM embeddings, unnest(range(len(embedding))) AS t(i)
        |  WHERE vec_id % 3 <> 1),
        |ag AS (SELECT dim, CAST(COUNT(1) AS HUGEINT) AS na, SUM(x) AS sxa,
        |              SUM(x * x) AS sxxa FROM ea GROUP BY 1),
        |bg AS (SELECT dim, CAST(COUNT(1) AS HUGEINT) AS nb, SUM(x) AS sxb,
        |              SUM(x * x) AS sxxb FROM eb GROUP BY 1),
        |f AS (
        |  SELECT ag.dim, na, nb,
        |    CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0 AS ma,
        |    CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0 AS mb,
        |    CASE WHEN na > 1 THEN CAST(na * sxxa - sxa * sxa AS DOUBLE)
        |      / CAST(na * (na - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS va,
        |    CASE WHEN nb > 1 THEN CAST(nb * sxxb - sxb * sxb AS DOUBLE)
        |      / CAST(nb * (nb - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS vb
        |  FROM ag JOIN bg USING (dim)),
        |g AS (
        |  SELECT dim, na, nb, ma, mb, mb - ma AS delta,
        |         CASE WHEN va + vb >= 0.0 THEN sqrt((va + vb) / 2.0) END AS sd
        |  FROM f)
        |SELECT CAST(dim AS INTEGER) AS dim, CAST(na AS BIGINT) AS n_a,
        |       CAST(nb AS BIGINT) AS n_b, ma AS mean_a, mb AS mean_b, delta,
        |       sd AS sd_pooled,
        |       CASE WHEN sd > 0.0 THEN abs(delta) / sd END AS std_delta
        |FROM g ORDER BY dim""".stripMargin,

    // Snapshot-diff KS replay: both releases melt to (feature, side,
    // quantized value) rows — release B recomputed under the 150-char
    // truncation recipe — then the identical HUGEINT ECDF argmax and
    // pinned D / threshold chain, per feature.
    "q_snapshot_drift" ->
      """WITH docs AS MATERIALIZED (
        |  SELECT doc_id, n_chars, coalesce(text, '') AS t,
        |         substring(coalesce(text, ''), 1, 150) AS tb
        |  FROM documents),
        |v AS MATERIALIZED (
        |  SELECT feature, s, CAST(FLOOR(val * 1000000.0) AS BIGINT) AS x FROM (
        |    SELECT 'n_chars' AS feature, 'a' AS s, CAST(n_chars AS DOUBLE) AS val
        |    FROM docs WHERE doc_id % 3 <> 0
        |    UNION ALL
        |    SELECT 'n_tokens', 'a',
        |           CAST(len(list_filter(regexp_split_to_array(lower(trim(t)), '\s+'),
        |                                x -> len(x) > 0)) AS DOUBLE)
        |    FROM docs WHERE doc_id % 3 <> 0
        |    UNION ALL
        |    SELECT 'n_chars', 'b', CAST(length(tb) AS DOUBLE)
        |    FROM docs WHERE doc_id % 3 <> 1
        |    UNION ALL
        |    SELECT 'n_tokens', 'b',
        |           CAST(len(list_filter(regexp_split_to_array(lower(trim(tb)), '\s+'),
        |                                x -> len(x) > 0)) AS DOUBLE)
        |    FROM docs WHERE doc_id % 3 <> 1)
        |  WHERE val IS NOT NULL),
        |c AS MATERIALIZED (
        |  SELECT feature, x,
        |         COUNT(1) FILTER (s = 'a') AS ca,
        |         COUNT(1) FILTER (s = 'b') AS cb
        |  FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT feature,
        |         SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb,
        |         SUM(ca) OVER (PARTITION BY feature) AS na,
        |         SUM(cb) OVER (PARTITION BY feature) AS nb
        |  FROM c
        |  WINDOW w AS (PARTITION BY feature ORDER BY x ROWS UNBOUNDED PRECEDING)),
        |agg AS (
        |  SELECT feature, MAX(na) AS na, MAX(nb) AS nb,
        |         MAX(ABS(CAST(cuma AS HUGEINT) * nb - CAST(cumb AS HUGEINT) * na)) AS m
        |  FROM cum GROUP BY 1),
        |f AS (
        |  SELECT feature, na, nb,
        |         CASE WHEN na > 0 AND nb > 0 THEN
        |           CAST(m AS DOUBLE) / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) END AS d,
        |         CASE WHEN na > 0 AND nb > 0 THEN
        |           sqrt(-ln(0.05 / 2.0) / 2.0)
        |             * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
        |                    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) END AS d_crit
        |  FROM agg)
        |SELECT feature, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       d, d_crit, d > d_crit AS drifted
        |FROM f ORDER BY feature""".stripMargin,

    // Wilcoxon replay: pre-quantized per-user pair sums, zero diffs
    // dropped, the same distinct-|d| cumulative chain (2W+ and ties as
    // HUGEINT integers), identical pinned variance/z doubles.
    "q_wilcoxon" ->
      """WITH u AS MATERIALIZED (
        |  SELECT event_type AS g, user_id,
        |    CAST(SUM(CASE WHEN event_id % 2 = 0
        |                  THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) END) AS DOUBLE)
        |      / 1000000.0 AS x,
        |    CAST(SUM(CASE WHEN event_id % 2 = 1
        |                  THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) END) AS DOUBLE)
        |      / 1000000.0 AS y
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |dd AS (SELECT g, CAST(FLOOR((x - y) * 1000000.0) AS BIGINT) AS d
        |       FROM u WHERE x IS NOT NULL AND y IS NOT NULL),
        |c AS MATERIALIZED (
        |  SELECT g, abs(d) AS ad,
        |         COUNT(1) FILTER (d > 0) AS cp, COUNT(1) AS c
        |  FROM dd WHERE d <> 0 GROUP BY 1, 2),
        |b AS (SELECT g, cp, c,
        |             COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY ad
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |      FROM c),
        |agg AS (SELECT g, CAST(SUM(c) AS HUGEINT) AS n,
        |               SUM(CAST(cp AS HUGEINT) * (2 * bef + c + 1)) AS w2,
        |               SUM(CAST(c AS HUGEINT) * c * c - c) AS ties
        |        FROM b GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, CAST(w2 AS BIGINT) AS w2_pos,
        |  CASE WHEN CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 6.0
        |            - CAST(ties AS DOUBLE) / 12.0 > 0.0 THEN
        |    (CAST(w2 AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 2.0)
        |      / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 6.0
        |             - CAST(ties AS DOUBLE) / 12.0) END AS z
        |FROM agg ORDER BY event_type""".stripMargin,

    // PII-audit replay: the identical Java∩RE2 rule patterns (parity
    // proven by q_pii_scrub's redaction oracle) over the same planted
    // contact lines, full-match counts per doc, integer rollups.
    "q_pii_audit" ->
      """WITH d AS (
        |  SELECT source,
        |         CASE WHEN doc_id % 11 = 0 THEN
        |           coalesce(text, '') || ' contact user' || CAST(doc_id AS VARCHAR)
        |             || '@example.com cc audit@example.com call 555-123-4567 from 10.0.0.1'
        |         ELSE coalesce(text, '') END AS t
        |  FROM documents),
        |c AS (
        |  SELECT source,
        |    len(regexp_extract_all(t,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS e,
        |    len(regexp_extract_all(t,
        |        '\b\d{1,3}(\.\d{1,3}){3}\b')) AS i,
        |    len(regexp_extract_all(t,
        |        '\(?\d{3}\)?[-.\s]?\d{3}[-.\s]?\d{4}\b')) AS p
        |  FROM d)
        |SELECT source, COUNT(1) AS n_docs,
        |       CAST(SUM(e) AS BIGINT) AS email_matches,
        |       CAST(SUM(CASE WHEN e > 0 THEN 1 ELSE 0 END) AS BIGINT) AS email_docs,
        |       CAST(SUM(i) AS BIGINT) AS ipv4_matches,
        |       CAST(SUM(CASE WHEN i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS ipv4_docs,
        |       CAST(SUM(p) AS BIGINT) AS phone_matches,
        |       CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT) AS phone_docs
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // ANOVA F replay: per-arm HUGEINT moments, each arm's SSB/SSW term
    // the identical pinned double floor-quantized at 1e6 before the
    // cross-arm HUGEINT sum, the same final F chain.
    "q_anova_f" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type AS e, CAST(user_id % 4 AS VARCHAR) AS v,
        |         CAST(FLOOR(value * 1000000.0) AS HUGEINT) AS x
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |arm AS MATERIALIZED (
        |  SELECT e, v, CAST(COUNT(1) AS HUGEINT) AS n, SUM(x) AS sx, SUM(x * x) AS sxx
        |  FROM b GROUP BY 1, 2),
        |t AS (
        |  SELECT e, n, sx, sxx,
        |    CAST(FLOOR(CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
        |               / 1000000.0 / 1000000.0 * 1000000.0) AS HUGEINT) AS bfp,
        |    CAST(FLOOR((CAST(sxx AS DOUBLE)
        |                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |               / 1000000.0 / 1000000.0 * 1000000.0) AS HUGEINT) AS wfp
        |  FROM arm),
        |agg AS (
        |  SELECT e, COUNT(1) AS k, SUM(n) AS tn, SUM(sx) AS ts,
        |         SUM(bfp) AS sb, SUM(wfp) AS sw
        |  FROM t GROUP BY 1),
        |f AS (
        |  SELECT e, k, tn,
        |    CAST(sb AS DOUBLE) / 1000000.0
        |      - CAST(ts AS DOUBLE) * CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE)
        |        / 1000000.0 / 1000000.0 AS ssb,
        |    CAST(sw AS DOUBLE) / 1000000.0 AS ssw
        |  FROM agg)
        |SELECT e AS event_type, CAST(k AS BIGINT) AS k, CAST(tn AS BIGINT) AS n,
        |       ssb, ssw,
        |       CASE WHEN k > 1 AND CAST(tn AS DOUBLE) > CAST(k AS DOUBLE) AND ssw > 0.0
        |            THEN (ssb / (CAST(k AS DOUBLE) - 1.0))
        |                 / (ssw / (CAST(tn AS DOUBLE) - CAST(k AS DOUBLE))) END AS f
        |FROM f ORDER BY event_type""".stripMargin,

    // CUPED replay: per-arm HUGEINT moment sums over the quantized
    // metric/covariate, pooled theta/rho2 in the identical pinned
    // num/den double order, adjusted means as the same double chain.
    "q_cuped" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type AS e,
        |         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant,
        |         CAST(FLOOR(value * 1000000.0) AS HUGEINT) AS y,
        |         CAST(FLOOR((FLOOR(value / 2.0) + user_id % 7) * 1000000.0) AS HUGEINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |arm AS MATERIALIZED (
        |  SELECT e, variant, CAST(COUNT(1) AS HUGEINT) AS n,
        |         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
        |         SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM b GROUP BY 1, 2),
        |pool AS MATERIALIZED (
        |  SELECT e, SUM(n) AS pn, SUM(sx) AS psx, SUM(sy) AS psy,
        |         SUM(sxy) AS psxy, SUM(sxx) AS psxx, SUM(syy) AS psyy
        |  FROM arm GROUP BY 1),
        |pt AS (
        |  SELECT e,
        |    CASE WHEN pn * psxx - psx * psx > 0 THEN
        |      CAST(pn * psxy - psx * psy AS DOUBLE) / CAST(pn * psxx - psx * psx AS DOUBLE)
        |    END AS theta,
        |    CASE WHEN pn * psxx - psx * psx > 0 AND pn * psyy - psy * psy > 0 THEN
        |      CAST(pn * psxy - psx * psy AS DOUBLE) / CAST(pn * psxx - psx * psx AS DOUBLE)
        |        * CAST(pn * psxy - psx * psy AS DOUBLE) / CAST(pn * psyy - psy * psy AS DOUBLE)
        |    END AS rho2,
        |    CAST(psx AS DOUBLE) / CAST(pn AS DOUBLE) / 1000000.0 AS pxbar
        |  FROM pool)
        |SELECT arm.e AS event_type, variant, CAST(n AS BIGINT) AS n,
        |       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS mean_y,
        |       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0
        |         - theta * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 - pxbar) AS mean_adj,
        |       theta, rho2
        |FROM arm JOIN pt ON pt.e = arm.e
        |ORDER BY event_type, variant""".stripMargin,

    // Ratio-metric delta-method replay: pre-quantized per-user rollups
    // (integer sums, order-independent), HUGEINT moments, the identical
    // pinned variance/SE/CI double sequence.
    "q_ratio_ci" ->
      """WITH u AS MATERIALIZED (
        |  SELECT event_type AS g, user_id,
        |         CAST(SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0 AS rev,
        |         CAST(COUNT(1) AS DOUBLE) AS cnt
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS MATERIALIZED (
        |  SELECT g, CAST(FLOOR(rev * 1000000.0) AS HUGEINT) AS y,
        |         CAST(FLOOR(cnt * 1000000.0) AS HUGEINT) AS x
        |  FROM u),
        |agg AS (
        |  SELECT g, CAST(COUNT(1) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM b GROUP BY 1),
        |f AS (
        |  SELECT g, n, sx,
        |    CASE WHEN sx <> 0 THEN CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) END AS ratio,
        |    CAST(n * syy - sy * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 1000000.0 / 1000000.0 AS vy,
        |    CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 1000000.0 / 1000000.0 AS vx,
        |    CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE) / 1000000.0 / 1000000.0 AS cxy,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS xbar
        |  FROM agg),
        |s AS (
        |  SELECT g, n, ratio,
        |    CASE WHEN n > 1 AND ratio IS NOT NULL AND xbar <> 0.0 THEN
        |      (vy - 2.0 * ratio * cxy + ratio * ratio * vx)
        |        / (CAST(n AS DOUBLE) * xbar * xbar) END AS varr
        |  FROM f),
        |t AS (SELECT g, n, ratio,
        |             CASE WHEN varr >= 0.0 THEN sqrt(varr) END AS se FROM s)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, ratio, se,
        |       ratio - 1.959963984540054 * se AS lo,
        |       ratio + 1.959963984540054 * se AS hi
        |FROM t ORDER BY event_type""".stripMargin,

    // Spearman replay: per-axis doubled tie-average ranks off the
    // quantized distinct tables (2r = 2·cumBefore + c + 1), HUGEINT
    // moment sums, the identical pinned num/sqrt/sqrt double sequence.
    "q_spearman" ->
      """WITH r0 AS MATERIALIZED (
        |  SELECT event_type AS g,
        |         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS qx,
        |         CAST(FLOOR(CAST(user_id % 97 AS DOUBLE) * 1000000.0) AS BIGINT) AS qy
        |  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |rx AS MATERIALIZED (
        |  SELECT g, qx,
        |         2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY qx
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2x
        |  FROM (SELECT g, qx, COUNT(1) AS c FROM r0 GROUP BY 1, 2)),
        |ry AS MATERIALIZED (
        |  SELECT g, qy,
        |         2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY qy
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1 AS r2y
        |  FROM (SELECT g, qy, COUNT(1) AS c FROM r0 GROUP BY 1, 2)),
        |j AS (
        |  SELECT r0.g, CAST(r2x AS HUGEINT) AS x, CAST(r2y AS HUGEINT) AS y
        |  FROM r0 JOIN rx USING (g, qx) JOIN ry USING (g, qy)),
        |agg AS (
        |  SELECT g, COUNT(1) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |         SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM j GROUP BY 1)
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
        |       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |         CAST(n * sxy - sx * sy AS DOUBLE)
        |           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |           / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) END AS rho
        |FROM agg ORDER BY event_type""".stripMargin,

    // Kendall τ-b replay: the same quantized JOINT distinct-value table,
    // the same strict-qx self-join (each unordered cell pair once),
    // HUGEINT pair sums, marginal tie terms, pinned final division.
    "q_kendall_tau" ->
      """WITH r0 AS MATERIALIZED (
        |  SELECT event_type AS g,
        |         CAST(FLOOR(value / 10.0) AS BIGINT) AS qx,
        |         CAST(FLOOR(CAST(hour(ts) AS DOUBLE)) AS BIGINT) AS qy
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |j AS MATERIALIZED (
        |  SELECT g, qx, qy, CAST(COUNT(1) AS HUGEINT) AS c FROM r0 GROUP BY 1, 2, 3),
        |p AS (
        |  SELECT a.g,
        |         SUM(CASE WHEN b.qy > a.qy THEN a.c * b.c ELSE 0 END) AS conc,
        |         SUM(CASE WHEN b.qy < a.qy THEN a.c * b.c ELSE 0 END) AS disc
        |  FROM j a JOIN j b ON a.g = b.g AND b.qx > a.qx GROUP BY 1),
        |tx AS (SELECT g, SUM(t * (t - 1) // 2) AS n1
        |       FROM (SELECT g, qx, SUM(c) AS t FROM j GROUP BY 1, 2) GROUP BY 1),
        |ty AS (SELECT g, SUM(t * (t - 1) // 2) AS n2
        |       FROM (SELECT g, qy, SUM(c) AS t FROM j GROUP BY 1, 2) GROUP BY 1),
        |sz AS (SELECT g, SUM(c) AS n, SUM(c) * (SUM(c) - 1) // 2 AS n0 FROM j GROUP BY 1)
        |SELECT sz.g AS event_type, CAST(n AS BIGINT) AS n,
        |       CAST(COALESCE(conc, 0) AS BIGINT) AS concordant,
        |       CAST(COALESCE(disc, 0) AS BIGINT) AS discordant,
        |       CASE WHEN CAST(n0 - n1 AS DOUBLE) > 0 AND CAST(n0 - n2 AS DOUBLE) > 0 THEN
        |         CAST(COALESCE(conc, 0) - COALESCE(disc, 0) AS DOUBLE)
        |           / sqrt(CAST(n0 - n1 AS DOUBLE)) / sqrt(CAST(n0 - n2 AS DOUBLE))
        |       END AS tau_b
        |FROM sz JOIN tx USING (g) JOIN ty USING (g) LEFT JOIN p USING (g)
        |ORDER BY event_type""".stripMargin,

    // Permutation-test replay: the same per-user even-minus-odd exact
    // fixed-point difference, 199 replicates via range(), the identical
    // LCG middle-bit sign, HUGEINT replicate sums, add-one p.
    "q_permutation" ->
      """WITH d AS MATERIALIZED (
        |  SELECT event_type AS g, user_id AS i,
        |         COALESCE(SUM(CASE WHEN event_id % 2 = 0
        |           THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) END), 0) -
        |         COALESCE(SUM(CASE WHEN event_id % 2 = 1
        |           THEN CAST(FLOOR(value * 1000000.0) AS BIGINT) END), 0) AS dv
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |obs AS (SELECT g, COUNT(1) AS n, SUM(CAST(dv AS HUGEINT)) AS tobs
        |        FROM d GROUP BY 1),
        |reps AS (
        |  SELECT g, r.r,
        |         SUM(CAST(CASE WHEN ((i * 2654435761 + r.r * 40503) % 4294967296)
        |               // 65536 % 2 = 0 THEN dv ELSE -dv END AS HUGEINT)) AS t
        |  FROM d, (SELECT unnest(range(0, 199)) AS r) r GROUP BY 1, 2)
        |SELECT obs.g AS event_type, CAST(n AS BIGINT) AS n,
        |       CAST(tobs AS BIGINT) AS t_obs,
        |       CAST(1 + SUM(CASE WHEN abs(t) >= abs(tobs) THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_extreme,
        |       CAST(1 + SUM(CASE WHEN abs(t) >= abs(tobs) THEN 1 ELSE 0 END) AS DOUBLE)
        |         / 200.0 AS p
        |FROM reps JOIN obs USING (g) GROUP BY obs.g, n, tobs
        |ORDER BY event_type""".stripMargin,

    // Mann–Kendall replay: daily counts, the same strict day-pair join
    // for S, the exact tie-corrected variance numerator, continuity-
    // corrected pinned Z.
    "q_mann_kendall" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type AS g, CAST(day(ts) AS BIGINT) AS t,
        |         CAST(COUNT(1) AS BIGINT) AS x
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
        |s AS (
        |  SELECT a.g, SUM(CAST(CASE WHEN b2.x > a.x THEN 1
        |                            WHEN b2.x < a.x THEN -1 ELSE 0 END AS HUGEINT)) AS s
        |  FROM b a JOIN b b2 ON a.g = b2.g AND b2.t > a.t GROUP BY 1),
        |ties AS (
        |  SELECT g, SUM(tc) AS n,
        |         SUM(CAST(tc AS HUGEINT) * (tc - 1) * (tc * 2 + 5)) AS tie_term
        |  FROM (SELECT g, x, COUNT(1) AS tc FROM b GROUP BY 1, 2) GROUP BY 1),
        |f AS (
        |  SELECT ties.g, n, COALESCE(s, 0) AS sv,
        |         CAST(n AS HUGEINT) * (n - 1) * (n * 2 + 5) - tie_term AS var_num
        |  FROM ties LEFT JOIN s USING (g))
        |SELECT g AS event_type, CAST(n AS BIGINT) AS n, CAST(sv AS BIGINT) AS s,
        |       CAST(var_num AS BIGINT) AS var_num,
        |       CASE WHEN n >= 2 AND var_num > 0 THEN
        |         CASE WHEN sv > 0 THEN CAST(sv - 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |              WHEN sv < 0 THEN CAST(sv + 1 AS DOUBLE) / sqrt(CAST(var_num AS DOUBLE) / 18.0)
        |              ELSE 0.0 END
        |       END AS z
        |FROM f ORDER BY event_type""".stripMargin,

    // Brier decomposition replay: identical binning and fixed-point
    // numerators; reliability/resolution fold their per-bin pinned
    // doubles in BIN ORDER via list_reduce over an ordered list — the
    // same summation sequence as the Spark sort_array fold.
    "q_brier" ->
      """WITH r AS MATERIALIZED (
        |  SELECT event_type AS g,
        |         LEAST(CAST(FLOOR(CAST(event_id * 2654435761 % 4294967296 % 1000
        |             AS DOUBLE) / 1000.0 * 10.0) AS BIGINT), 9) AS bin,
        |         CAST(FLOOR(CAST(event_id * 2654435761 % 4294967296 % 1000
        |             AS DOUBLE) / 1000.0 * 1000000.0) AS HUGEINT) AS pfp,
        |         CAST(CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS HUGEINT) AS y
        |  FROM events WHERE value IS NOT NULL),
        |bins AS MATERIALIZED (
        |  SELECT g, bin, CAST(COUNT(1) AS HUGEINT) AS nk, SUM(y) AS sok,
        |         SUM(pfp) AS spk,
        |         SUM((pfp - y * 1000000) * (pfp - y * 1000000)) AS bk
        |  FROM r GROUP BY 1, 2),
        |tot AS (SELECT g, SUM(nk) AS n, SUM(sok) AS so, SUM(bk) AS bnum
        |        FROM bins GROUP BY 1),
        |terms AS (
        |  SELECT bins.g, bin,
        |         CAST((spk - sok * 1000000) * (spk - sok * 1000000) AS DOUBLE)
        |           / CAST(nk AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000.0 AS rel_term,
        |         CAST((sok * n - nk * so) * (sok * n - nk * so) AS DOUBLE)
        |           / CAST(nk AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
        |           / CAST(n AS DOUBLE) AS res_term
        |  FROM bins JOIN tot USING (g)),
        |folded AS (
        |  SELECT g,
        |         list_reduce(list_prepend(0.0, list(rel_term ORDER BY bin)),
        |           (a, b) -> a + b) AS reliability,
        |         list_reduce(list_prepend(0.0, list(res_term ORDER BY bin)),
        |           (a, b) -> a + b) AS resolution
        |  FROM terms GROUP BY 1)
        |SELECT tot.g AS event_type, CAST(n AS BIGINT) AS n,
        |       CAST(bnum AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000.0 AS brier,
        |       CAST(so * (n - so) AS DOUBLE) / CAST(n AS DOUBLE) / CAST(n AS DOUBLE)
        |         AS uncertainty,
        |       reliability, resolution
        |FROM tot JOIN folded USING (g) ORDER BY event_type""".stripMargin,

    // PSI replay: identical melt/quantize, exact order-statistic decile
    // boundaries (cum >= ceil-rank), Laplace bins, per-bin floored
    // (p−q)ln(p/q) at 1e12, order-free integer total.
    "q_psi" ->
      """WITH e AS MATERIALIZED (
        |  SELECT value, CAST(hour(ts) AS DOUBLE) AS hr, day(ts) AS d
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |mref AS (
        |  SELECT 'value' AS feature, CAST(FLOOR(value * 1000000.0) AS BIGINT) AS q
        |  FROM e WHERE d <= 15
        |  UNION ALL
        |  SELECT 'hr', CAST(FLOOR(hr * 1000000.0) AS BIGINT) FROM e WHERE d <= 15),
        |mcur AS (
        |  SELECT 'value' AS feature, CAST(FLOOR(value * 1000000.0) AS BIGINT) AS q
        |  FROM e WHERE d > 15
        |  UNION ALL
        |  SELECT 'hr', CAST(FLOOR(hr * 1000000.0) AS BIGINT) FROM e WHERE d > 15),
        |refh AS MATERIALIZED (SELECT feature, q, COUNT(1) AS c FROM mref GROUP BY 1, 2),
        |curh AS MATERIALIZED (SELECT feature, q, COUNT(1) AS c FROM mcur GROUP BY 1, 2),
        |nref AS MATERIALIZED (SELECT feature, SUM(c) AS n FROM refh GROUP BY 1),
        |cums AS MATERIALIZED (
        |  SELECT feature, q, c, SUM(c) OVER (PARTITION BY feature ORDER BY q
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM refh),
        |ks AS (SELECT feature, n, k.k AS k, (k.k * n + 9) // 10 AS rnk
        |       FROM nref, (SELECT unnest(range(1, 10)) AS k) k),
        |bounds AS MATERIALIZED (
        |  SELECT feature, k, MIN(q) AS b FROM cums JOIN ks USING (feature)
        |  WHERE cum >= rnk GROUP BY 1, 2),
        |binref AS (
        |  SELECT feature, bin, SUM(c) AS ca FROM (
        |    SELECT h.feature, h.q, h.c,
        |           SUM(CASE WHEN b.b <= h.q THEN 1 ELSE 0 END) AS bin
        |    FROM refh h JOIN bounds b USING (feature) GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |bincur AS (
        |  SELECT feature, bin, SUM(c) AS cb FROM (
        |    SELECT h.feature, h.q, h.c,
        |           SUM(CASE WHEN b.b <= h.q THEN 1 ELSE 0 END) AS bin
        |    FROM curh h JOIN bounds b USING (feature) GROUP BY 1, 2, 3)
        |  GROUP BY 1, 2),
        |ncur AS (SELECT feature, SUM(c) AS m FROM curh GROUP BY 1),
        |grid AS (SELECT feature, n, bin.bin AS bin
        |         FROM nref, (SELECT unnest(range(0, 10)) AS bin) bin),
        |j AS (
        |  SELECT g.feature, g.n, nc.m,
        |         COALESCE(br.ca, 0) AS ca, COALESCE(bc.cb, 0) AS cb
        |  FROM grid g JOIN ncur nc USING (feature)
        |  LEFT JOIN binref br ON br.feature = g.feature AND br.bin = g.bin
        |  LEFT JOIN bincur bc ON bc.feature = g.feature AND bc.bin = g.bin),
        |terms AS (
        |  SELECT feature, n, m,
        |    CAST(FLOOR((CAST(ca + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE)
        |        - CAST(cb + 1 AS DOUBLE) / CAST(m + 10 AS DOUBLE))
        |      * ln(CAST(ca + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE)
        |          / (CAST(cb + 1 AS DOUBLE) / CAST(m + 10 AS DOUBLE)))
        |      * 1e12) AS BIGINT) AS t
        |  FROM j)
        |SELECT feature, CAST(n AS BIGINT) AS n_ref, CAST(m AS BIGINT) AS n_cur,
        |       CAST(SUM(t) AS BIGINT) AS psi_fp,
        |       CAST(CAST(SUM(t) AS BIGINT) AS DOUBLE) / 1e12 AS psi,
        |       CAST(SUM(t) AS BIGINT) > 200000000000 AS drifted
        |FROM terms GROUP BY 1, 2, 3 ORDER BY feature""".stripMargin,

    // PCA power-iteration replay: the same quantized moment table, the
    // same centered scatter M = n·Σxx − s·sᵀ, eight unrolled matvec +
    // truncating-rescale iterations in 128-bit ints (// matches the
    // driver's BigInt truncation), Rayleigh variance pinned.
    "q_pca_power" ->
      """WITH x AS MATERIALIZED (
        |  SELECT list_transform(embedding,
        |           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)) AS xs
        |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |nn AS MATERIALIZED (SELECT COUNT(1) AS n FROM x),
        |s AS MATERIALIZED (
        |  SELECT t.i AS i, SUM(CAST(xs[t.i + 1] AS HUGEINT)) AS s
        |  FROM x, (SELECT unnest(range(0, 64)) AS i) t GROUP BY 1),
        |mom AS MATERIALIZED (
        |  SELECT a.i AS i, b.j AS j,
        |         SUM(CAST(xs[a.i + 1] AS HUGEINT) * xs[b.j + 1]) AS sxx
        |  FROM x, (SELECT unnest(range(0, 64)) AS i) a,
        |       (SELECT unnest(range(0, 64)) AS j) b
        |  GROUP BY 1, 2),
        |cov AS MATERIALIZED (
        |  SELECT mom.i, mom.j, (SELECT n FROM nn) * sxx - sa.s * sb.s AS m
        |  FROM mom JOIN s sa ON sa.i = mom.i JOIN s sb ON sb.i = mom.j),
        |v0 AS MATERIALIZED (
        |  SELECT t.i AS i, CAST(CASE WHEN t.i = 0 THEN 1000000 ELSE 0 END AS HUGEINT) AS v
        |  FROM (SELECT unnest(range(0, 64)) AS i) t),
        |w1 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v0 v ON v.i = cov.j GROUP BY 1),
        |v1 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w1) AS v FROM w1),
        |w2 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v1 v ON v.i = cov.j GROUP BY 1),
        |v2 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w2) AS v FROM w2),
        |w3 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v2 v ON v.i = cov.j GROUP BY 1),
        |v3 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w3) AS v FROM w3),
        |w4 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v3 v ON v.i = cov.j GROUP BY 1),
        |v4 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w4) AS v FROM w4),
        |w5 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v4 v ON v.i = cov.j GROUP BY 1),
        |v5 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w5) AS v FROM w5),
        |w6 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v5 v ON v.i = cov.j GROUP BY 1),
        |v6 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w6) AS v FROM w6),
        |w7 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v6 v ON v.i = cov.j GROUP BY 1),
        |v7 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w7) AS v FROM w7),
        |w8 AS MATERIALIZED (SELECT cov.i AS i, SUM(m * v.v) AS w
        |  FROM cov JOIN v7 v ON v.i = cov.j GROUP BY 1),
        |v8 AS MATERIALIZED (SELECT i, w * 1000000 // (SELECT MAX(ABS(w)) FROM w8) AS v FROM w8),
        |ray AS MATERIALIZED (
        |  SELECT (SELECT SUM(c.m * va.v * vb.v)
        |          FROM cov c JOIN v8 va ON va.i = c.i JOIN v8 vb ON vb.i = c.j)
        |         // (SELECT SUM(v * v) FROM v8) AS lam)
        |SELECT CAST(v8.i AS INTEGER) AS dim, CAST(v8.v AS BIGINT) AS loading_fp,
        |       CAST((SELECT n FROM nn) AS BIGINT) AS n,
        |       CAST((SELECT lam FROM ray) AS DOUBLE)
        |         / (SELECT n FROM nn) / (SELECT n FROM nn) / 1000.0 / 1000.0
        |         AS var_component
        |FROM v8 ORDER BY dim""".stripMargin,

    // Epoch-allocation replay: desired are the exact ⌊w·budget⌋
    // literals (½/¼/¼ of 400k), then pure integer // arithmetic —
    // caps, one headroom-proportional redistribution, thousandths
    // epochs.
    "q_epoch_alloc" ->
      """WITH plan(source, desired) AS (
        |  VALUES ('en', CAST(200000 AS BIGINT)), ('de', CAST(100000 AS BIGINT)),
        |         ('fr', CAST(100000 AS BIGINT))),
        |avail AS (SELECT lang AS source, COALESCE(SUM(n_chars), 0) AS available
        |          FROM documents WHERE lang IN ('en', 'de', 'fr') GROUP BY 1),
        |base AS (
        |  SELECT p.source,
        |         CAST(COALESCE(a.available, 0) AS BIGINT) AS available, p.desired,
        |         CAST(CAST(COALESCE(a.available, 0) AS HUGEINT) * 4000 // 1000
        |              AS BIGINT) AS cap
        |  FROM plan p LEFT JOIN avail a USING (source)),
        |b2 AS (SELECT *, LEAST(desired, cap) AS alloc1,
        |              cap - LEAST(desired, cap) AS headroom FROM base),
        |tot AS (SELECT SUM(desired) - SUM(alloc1) AS leftover,
        |               SUM(headroom) AS th FROM b2),
        |fin AS (
        |  SELECT source, available, desired, cap,
        |         CAST(alloc1 + CASE WHEN th > 0 THEN
        |           LEAST(headroom,
        |             CAST(CAST(leftover AS HUGEINT) * headroom // th AS BIGINT))
        |           ELSE 0 END AS BIGINT) AS allocated
        |  FROM b2 CROSS JOIN tot)
        |-- every numeric output pinned BIGINT: DuckDB's HUGEINT-propagated
        |-- columns arrive as decimal128 in Arrow and render as float64 in
        |-- pandas ("78100.0" vs Spark's "78100") — a hasher mismatch with
        |-- rows/schema matching
        |SELECT source AS lang, available, desired, cap, allocated,
        |       CAST(CASE WHEN available > 0
        |                 THEN CAST(allocated AS HUGEINT) * 1000 // available
        |            ELSE 0 END AS BIGINT) AS epochs_fp,
        |       allocated = cap AS saturated
        |FROM fin ORDER BY lang""".stripMargin,

    // Gopher structural-quality replay: every count is the same
    // regex/split construct in RE2, every ratio the same
    // cross-multiplied integer comparison — no division anywhere.
    "q_gopher_quality" ->
      """WITH d AS MATERIALIZED (
        |  SELECT doc_id, COALESCE(text, '') AS t FROM documents),
        |c AS MATERIALIZED (
        |  SELECT doc_id,
        |    len(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |        x -> len(x) > 0)) AS n_words,
        |    len(regexp_split_to_array(t, '\n')) AS n_lines,
        |    length(regexp_replace(t, '\s+', '', 'g')) AS nonws,
        |    len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\.\.\.')) +
        |      len(regexp_extract_all(t, '…')) AS symbols,
        |    len(list_filter(regexp_split_to_array(t, '\n'),
        |        l -> regexp_matches(l, '^\s*[-*•‣▪]'))) AS bullet,
        |    len(list_filter(regexp_split_to_array(t, '\n'),
        |        l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS ellipsis,
        |    len(list_filter(list_filter(regexp_split_to_array(trim(t), '\s+'),
        |        x -> len(x) > 0), x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
        |    (CASE WHEN regexp_matches(lower(t), '(^|[^a-z])the([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])be([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])to([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])of([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])and([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])that([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])have([^a-z]|$)') THEN 1 ELSE 0 END +
        |     CASE WHEN regexp_matches(lower(t), '(^|[^a-z])with([^a-z]|$)') THEN 1 ELSE 0 END)
        |      AS stop_hits
        |  FROM d),
        |f AS (
        |  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |         CAST(n_lines AS BIGINT) AS n_lines,
        |         CASE WHEN n_words > 0 THEN nonws * 100 // n_words ELSE 0 END
        |           AS mean_word_len_fp,
        |         n_words >= 20 AND n_words <= 100000 AS f_word_count,
        |         n_words > 0 AND nonws >= n_words * 3 AND nonws <= n_words * 10
        |           AS f_word_len,
        |         n_words > 0 AND symbols * 10 <= n_words AS f_symbol,
        |         bullet * 10 <= n_lines * 9 AS f_bullet,
        |         ellipsis * 10 <= n_lines * 3 AS f_ellipsis,
        |         n_words > 0 AND alpha_words * 5 >= n_words * 4 AS f_alpha,
        |         stop_hits >= 2 AS f_stopwords
        |  FROM c)
        |SELECT *, f_word_count AND f_word_len AND f_symbol AND f_bullet AND
        |          f_ellipsis AND f_alpha AND f_stopwords AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    // Cliff's delta replay: per distinct value, a-count x the b-mass
    // strictly below/above via the same cumulative windows, HUGEINT
    // pair counts, pinned final division.
    "q_cliffs_delta" ->
      """WITH v AS MATERIALIZED (
        |  SELECT event_type,
        |         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS s,
        |         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |c AS MATERIALIZED (
        |  SELECT event_type, x,
        |         COUNT(1) FILTER (s = 'even') AS ca,
        |         COUNT(1) FILTER (s = 'odd') AS cb
        |  FROM v GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, ca, cb,
        |         COALESCE(SUM(cb) OVER (PARTITION BY event_type ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bbelow,
        |         SUM(cb) OVER (PARTITION BY event_type) AS nb,
        |         SUM(ca) OVER (PARTITION BY event_type) AS na
        |  FROM c),
        |agg AS (
        |  SELECT event_type, MAX(na) AS na, MAX(nb) AS nb,
        |         SUM(CAST(ca AS HUGEINT) * bbelow) AS gt,
        |         SUM(CAST(ca AS HUGEINT) * (nb - bbelow - cb)) AS lt
        |  FROM b GROUP BY 1)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CAST(gt AS BIGINT) AS gt, CAST(lt AS BIGINT) AS lt,
        |       CASE WHEN CAST(na AS HUGEINT) * nb > 0 THEN
        |         CAST(gt - lt AS DOUBLE) / CAST(CAST(na AS HUGEINT) * nb AS DOUBLE)
        |       END AS delta
        |FROM agg ORDER BY event_type""".stripMargin,

    // Cramer's V replay: observed contingency cells, identical pinned
    // (O-E)^2/E doubles floor-quantized at 1e9, the unobserved-cell
    // mass as N*1e9 - sum(e_fp), same final sqrt chain.
    "q_cramers_v" ->
      """WITH cells AS MATERIALIZED (
        |  SELECT event_type AS a, CAST(FLOOR(value / 10.0) AS BIGINT) AS b,
        |         COUNT(1) AS o
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |ra AS MATERIALIZED (SELECT a, SUM(o) AS ra FROM cells GROUP BY 1),
        |cb AS MATERIALIZED (SELECT b, SUM(o) AS cb FROM cells GROUP BY 1),
        |tot AS MATERIALIZED (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
        |terms AS (
        |  SELECT CAST(FLOOR((CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |                    * (CAST(o AS DOUBLE) - CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |                    / (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))
        |                    * 1e9) AS BIGINT) AS t,
        |         CAST(FLOOR(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS e
        |  FROM cells JOIN ra USING (a) JOIN cb USING (b) CROSS JOIN tot),
        |f AS (
        |  SELECT tot.n AS n,
        |         (SELECT COUNT(1) FROM ra) AS r, (SELECT COUNT(1) FROM cb) AS c,
        |         (SELECT SUM(t) FROM terms) + CAST(tot.n AS HUGEINT) * 1000000000
        |           - (SELECT SUM(e) FROM terms) AS chi
        |  FROM tot)
        |SELECT n, r, c, CAST(chi AS BIGINT) AS chi2_fp,
        |       CASE WHEN LEAST(r, c) > 1 THEN
        |         sqrt(CAST(chi AS DOUBLE) / 1e9
        |              / (CAST(n AS DOUBLE) * CAST(LEAST(r, c) - 1 AS DOUBLE)))
        |       END AS v
        |FROM f""".stripMargin,

    // Mann-Whitney replay: the same distinct-value table, doubled rank
    // sum and tie sum as HUGEINT integers, the identical pinned
    // variance/z double sequence.
    "q_mann_whitney" ->
      """WITH v AS MATERIALIZED (
        |  SELECT event_type,
        |         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS s,
        |         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS x
        |  FROM events WHERE value IS NOT NULL),
        |c AS MATERIALIZED (
        |  SELECT event_type, x,
        |         COUNT(1) FILTER (s = 'even') AS ca,
        |         COUNT(1) FILTER (s = 'odd') AS cb
        |  FROM v GROUP BY 1, 2),
        |b AS (
        |  SELECT event_type, ca, cb, ca + cb AS cc,
        |         COALESCE(SUM(ca + cb) OVER (PARTITION BY event_type ORDER BY x
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM c),
        |agg AS (
        |  SELECT event_type,
        |         CAST(SUM(ca) AS HUGEINT) AS na, CAST(SUM(cb) AS HUGEINT) AS nb,
        |         SUM(CAST(ca AS HUGEINT) * (2 * CAST(bef AS HUGEINT) + cc + 1)) AS r2a,
        |         SUM(CAST(cc AS HUGEINT) * cc * cc - cc) AS ties
        |  FROM b GROUP BY 1),
        |f AS (
        |  SELECT event_type, na, nb, r2a - na * (na + 1) AS u2,
        |         CASE WHEN na > 0 AND nb > 0 THEN
        |           CAST(na * nb AS DOUBLE) / 12.0
        |             * ((CAST(na + nb AS DOUBLE) + 1.0)
        |                - CAST(ties AS DOUBLE) / CAST((na + nb) * (na + nb - 1) AS DOUBLE))
        |         END AS var
        |  FROM agg)
        |SELECT event_type, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |       CAST(u2 AS BIGINT) AS u2_a,
        |       CASE WHEN var > 0.0 THEN
        |         (CAST(u2 AS DOUBLE) - CAST(na * nb AS DOUBLE)) / (2.0 * sqrt(var)) END AS z
        |FROM f ORDER BY event_type""".stripMargin,

    // Identical (entity, slot) frame; long sums and integer div make
    // the baseline engine-exact (values are non-negative here, so
    // truncating and flooring division agree).
    "q_seasonal" ->
      """WITH v AS (
        |  SELECT user_id, event_id, ts, value,
        |         CAST((CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 168 AS INTEGER) AS slot,
        |         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS vfp
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, ts, value, slot, vfp,
        |         SUM(vfp) OVER f AS hsum,
        |         COUNT(1) OVER f AS n_hist
        |  FROM v
        |  WINDOW f AS (PARTITION BY user_id, slot ORDER BY ts, event_id
        |               ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, ts, value, slot, n_hist,
        |       CASE WHEN n_hist > 0 THEN CAST(hsum AS BIGINT) // n_hist END AS baseline_fp,
        |       CASE WHEN n_hist > 0
        |             AND abs(vfp - CAST(hsum AS BIGINT) // n_hist) * 1000
        |                 > 500 * abs(CAST(hsum AS BIGINT) // n_hist)
        |            THEN 1 ELSE 0 END AS anomaly
        |FROM w ORDER BY event_id""".stripMargin,

    // Exact counts; the z / lift / CI doubles mirror the operator's
    // expression tree factor for factor (each CAST separate, products
    // left-associated, same sqrt input).
    "q_ab_test" ->
      """WITH e AS (SELECT event_type AS experiment,
        |        CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS variant,
        |        CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS conv
        |      FROM events),
        |g AS (SELECT experiment, variant, COUNT(1) AS n, CAST(SUM(conv) AS BIGINT) AS c
        |      FROM e GROUP BY 1, 2),
        |j AS (SELECT a.experiment, a.variant AS variant_a, b.variant AS variant_b,
        |             a.n AS n_a, a.c AS conv_a, b.n AS n_b, b.c AS conv_b
        |      FROM g a JOIN g b
        |        ON a.experiment = b.experiment AND a.variant < b.variant),
        |s AS (SELECT *,
        |        CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
        |        CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
        |        CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
        |      FROM j)
        |SELECT experiment, variant_a, variant_b, n_a, conv_a, n_b, conv_b,
        |       pb - pa AS lift,
        |       CASE WHEN pp > 0.0 AND pp < 1.0 THEN
        |         (pb - pa) / sqrt((pp * (1.0 - pp))
        |            * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
        |       END AS z,
        |       (pb - pa) - 1.96 * sqrt(pa * (1.0 - pa) / CAST(n_a AS DOUBLE)
        |                               + pb * (1.0 - pb) / CAST(n_b AS DOUBLE)) AS ci_lo,
        |       (pb - pa) + 1.96 * sqrt(pa * (1.0 - pa) / CAST(n_a AS DOUBLE)
        |                               + pb * (1.0 - pb) / CAST(n_b AS DOUBLE)) AS ci_hi
        |FROM s ORDER BY experiment""".stripMargin,

    // Identical rank window + integer ceil threshold.
    "q_time_split" ->
      """SELECT user_id, event_id, ts,
        |       CASE WHEN rn <= (n * 800 + 999) // 1000 THEN 'train' ELSE 'val' END AS split
        |FROM (SELECT user_id, event_id, ts,
        |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |             COUNT(1) OVER (PARTITION BY user_id) AS n
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    // arg_max keys on epoch micros ((user, ts) unique here; composite
    // tie determinism is spec-pinned); last op 'error' drops the key.
    "q_cdc_apply" ->
      """WITH last AS (
        |  SELECT user_id,
        |         arg_max(event_type, epoch_us(ts)) AS op,
        |         arg_max(value, epoch_us(ts)) AS value,
        |         max(ts) AS ts
        |  FROM events GROUP BY 1)
        |SELECT user_id, value, ts FROM last
        |WHERE op <> 'error' ORDER BY user_id""".stripMargin,

    // Index-range list comprehensions build each offset's shifted
    // pairs; symmetric union; exact counts.
    "q_skipgram" ->
      """WITH t AS (
        |  SELECT list_filter(regexp_split_to_array(
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |    w -> length(w) > 0) AS arr
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_concat(list_concat(
        |    [{'a': arr[i], 'b': arr[i+1]} for i in range(1, greatest(len(arr), 1))],
        |    [{'a': arr[i], 'b': arr[i+2]} for i in range(1, greatest(len(arr) - 1, 1))]),
        |    [{'a': arr[i], 'b': arr[i+3]} for i in range(1, greatest(len(arr) - 2, 1))])) AS pr
        |  FROM t),
        |sym AS (SELECT pr.a AS center, pr.b AS context FROM p
        |        UNION ALL
        |        SELECT pr.b AS center, pr.a AS context FROM p)
        |SELECT center, context, COUNT(1) AS n
        |FROM sym GROUP BY 1, 2 HAVING COUNT(1) >= 5
        |ORDER BY center, context""".stripMargin,

    // Full JS replay: pooled vocab + UNK mapping, exact counts, the
    // identical pinned double sequence per term (each CAST separate,
    // left-associated products), 1e-12 fixed-point quantization.
    "q_js_divergence" ->
      """WITH d2 AS (SELECT text,
        |        CASE WHEN regexp_matches(source, '^src[0-9]$') THEN 'a' ELSE 'b' END AS side
        |      FROM documents),
        |tok AS MATERIALIZED (
        |  SELECT side, w FROM (
        |    SELECT side, unnest(regexp_split_to_array(
        |      trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w FROM d2)
        |  WHERE length(w) > 0),
        |vocab AS MATERIALIZED (
        |  SELECT w AS term FROM (
        |    SELECT w, COUNT(1) AS f FROM tok GROUP BY 1 ORDER BY f DESC, w LIMIT 200)),
        |mapped AS (SELECT side, COALESCE(v.term, '<unk>') AS term
        |           FROM tok t LEFT JOIN vocab v ON v.term = t.w),
        |c AS (SELECT term, COUNT(1) FILTER (side = 'a') AS c_a,
        |             COUNT(1) FILTER (side = 'b') AS c_b FROM mapped GROUP BY 1),
        |grid AS (SELECT g.term, COALESCE(c.c_a, 0) AS c_a, COALESCE(c.c_b, 0) AS c_b
        |         FROM (SELECT term FROM vocab UNION ALL SELECT '<unk>') g
        |         LEFT JOIN c ON c.term = g.term),
        |n AS (SELECT SUM(c_a) AS na, SUM(c_b) AS nb FROM grid),
        |s AS (SELECT term, c_a, c_b,
        |  CASE WHEN c_a > 0 THEN CAST(FLOOR(
        |    (CAST(c_a AS DOUBLE) / CAST(na AS DOUBLE))
        |      * ln((CAST(c_a AS DOUBLE) / CAST(na AS DOUBLE))
        |           / ((CAST(c_a AS DOUBLE) / CAST(na AS DOUBLE)
        |               + CAST(c_b AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
        |      * 1000000000000.0) AS BIGINT) ELSE 0 END AS contrib_a_fp,
        |  CASE WHEN c_b > 0 THEN CAST(FLOOR(
        |    (CAST(c_b AS DOUBLE) / CAST(nb AS DOUBLE))
        |      * ln((CAST(c_b AS DOUBLE) / CAST(nb AS DOUBLE))
        |           / ((CAST(c_a AS DOUBLE) / CAST(na AS DOUBLE)
        |               + CAST(c_b AS DOUBLE) / CAST(nb AS DOUBLE)) / 2.0))
        |      * 1000000000000.0) AS BIGINT) ELSE 0 END AS contrib_b_fp
        |  FROM grid CROSS JOIN n)
        |SELECT term, c_a, c_b, contrib_a_fp, contrib_b_fp,
        |       CAST((SELECT SUM(contrib_a_fp + contrib_b_fp) FROM s) AS BIGINT) AS js_total_fp
        |FROM s ORDER BY term""".stripMargin,

    // q_vocab's replayed vocabulary → rank → ln doubles of exact ints →
    // the q_group_ols HUGEINT moment replay at 1e-8 scale.
    "q_zipf" ->
      """WITH v AS MATERIALIZED (
        |  SELECT token, COUNT(1) AS freq
        |  FROM (SELECT unnest(regexp_split_to_array(
        |          trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
        |        FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY freq DESC, token LIMIT 500),
        |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS rank FROM v),
        |q AS (SELECT CAST(FLOOR(ln(CAST(rank AS DOUBLE)) * 100000000.0) AS HUGEINT) AS x,
        |             CAST(FLOOR(ln(CAST(freq AS DOUBLE)) * 100000000.0) AS HUGEINT) AS y
        |      FROM r),
        |a AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy FROM q),
        |s AS (SELECT n, sx, sy, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
        |             n*syy - sy*sy AS deny FROM a)
        |SELECT 'corpus' AS corpus, CAST(n AS BIGINT) AS n,
        |       CASE WHEN den <> 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
        |       CASE WHEN den <> 0 THEN
        |         (CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * 100000000.0) END AS intercept,
        |       CASE WHEN den <> 0 AND deny <> 0 THEN
        |         (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
        |           / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) END AS r2
        |FROM s""".stripMargin,

    // Same selected-value pipeline: distinct-value cumulative counts →
    // ⌈i·N/Q⌉ grid targets, per-source (value, id)-ordered ranks,
    // integer ceil-div grid index — every number an exact selection.
    "q_quantile_norm" ->
      """WITH v AS MATERIALIZED (
        |  SELECT doc_id, source, n_chars FROM documents WHERE n_chars IS NOT NULL),
        |n AS (SELECT COUNT(1) AS n FROM v),
        |cnt AS (SELECT n_chars AS val, COUNT(1) AS c FROM v GROUP BY 1),
        |cum AS (SELECT val, SUM(c) OVER (ORDER BY val ROWS UNBOUNDED PRECEDING) AS cum
        |        FROM cnt),
        |tgt AS (SELECT CAST(i AS INTEGER) AS grid_idx, (i * n.n + 49) // 50 AS r
        |        FROM range(1, 51) t(i) CROSS JOIN n),
        |grid AS (SELECT grid_idx, MIN(val) AS norm_value
        |         FROM tgt JOIN cum ON cum.cum >= tgt.r GROUP BY 1),
        |rk AS (SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
        |         COUNT(1) OVER (PARTITION BY source) AS ns FROM v),
        |m AS (SELECT doc_id, source, n_chars,
        |        CAST((rn * 50 + ns - 1) // ns AS INTEGER) AS grid_idx FROM rk)
        |SELECT m.doc_id, m.source, m.n_chars, m.grid_idx, g.norm_value
        |FROM m JOIN grid g USING (grid_idx)
        |ORDER BY m.doc_id""".stripMargin,

    // Same exact integer digit path (cents → VARCHAR first char), same
    // literal Benford fixed-point table — no transcendental anywhere.
    "q_benford" ->
      """WITH p AS (SELECT * FROM (VALUES
        |  (1, CAST(30102999 AS BIGINT)), (2, 17609125), (3, 12493873),
        |  (4, 9691001), (5, 7918124), (6, 6694678), (7, 5799194),
        |  (8, 5115252), (9, 4575749)) AS t(digit, p_fp)),
        |d AS (SELECT l_returnflag,
        |             CAST(substr(CAST(ABS(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT))
        |                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |      FROM lineitem
        |      WHERE l_extendedprice IS NOT NULL
        |        AND ABS(CAST(FLOOR(l_extendedprice * 100.0) AS BIGINT)) > 0),
        |o AS (SELECT l_returnflag, digit, COUNT(1) AS n_obs FROM d GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, SUM(n_obs) AS n_total FROM o GROUP BY 1)
        |SELECT t.l_returnflag, p.digit, COALESCE(o.n_obs, 0) AS n_obs,
        |       CAST(t.n_total AS BIGINT) AS n_total,
        |       CAST(CAST(t.n_total AS HUGEINT) * p.p_fp AS BIGINT) AS expected_fp,
        |       CAST(CAST(COALESCE(o.n_obs, 0) AS HUGEINT) * 100000000
        |            - CAST(t.n_total AS HUGEINT) * p.p_fp AS BIGINT) AS dev_x1e8
        |FROM t CROSS JOIN p
        |LEFT JOIN o ON o.l_returnflag = t.l_returnflag AND o.digit = p.digit
        |ORDER BY t.l_returnflag, p.digit""".stripMargin,

    // Exact BIGINT modular replay of the LCG draw; ids are >= 0 so
    // DuckDB's sign-of-dividend % equals Spark's pmod everywhere here.
    "q_neg_sample" ->
      """WITH n AS (SELECT COUNT(*) AS n FROM documents),
        |j AS (SELECT unnest(range(0, 4)) AS j),
        |d AS (SELECT doc_id AS anchor FROM documents)
        |SELECT anchor, CAST(j AS INTEGER) AS j,
        |       (anchor + 1 +
        |        (((anchor % 2147483648) * 1103515245 + 777 + j * 12345)
        |          % 2147483648) % (n - 1)) % n AS neg_id
        |FROM d CROSS JOIN j CROSS JOIN n
        |ORDER BY anchor, j""".stripMargin,

    // arg_min/arg_max key on epoch micros — (user, ts) is unique in this
    // data so the composite (ts, id) tie-break never fires (tie
    // determinism is spec-pinned instead); everything else is mergeable
    // min/max/count plus the exact fixed-point sum.
    "q_ohlc" ->
      """SELECT user_id,
        |       CAST(FLOOR(epoch(ts)) AS BIGINT)
        |         - CAST(FLOOR(epoch(ts)) AS BIGINT) % 86400 AS bucket,
        |       arg_min(value, epoch_us(ts)) AS open,
        |       MAX(value) AS high, MIN(value) AS low,
        |       arg_max(value, epoch_us(ts)) AS close,
        |       COUNT(1) AS n_events,
        |       CAST(SUM(CAST(FLOOR(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin,

    // The same two-window island computation: running max of end over
    // preceding rows marks breaks, running sum numbers islands — all
    // integer epoch arithmetic, exact.
    "q_interval_merge" ->
      """WITH iv AS MATERIALIZED (
        |  SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS start_s,
        |         CAST(FLOOR(epoch(ts)) AS BIGINT)
        |           + CAST(FLOOR(value) AS BIGINT) * 600 AS end_s
        |  FROM events),
        |b AS (
        |  SELECT user_id, start_s, end_s,
        |         CASE WHEN max(end_s) OVER w IS NULL OR start_s > max(end_s) OVER w
        |              THEN 1 ELSE 0 END AS brk
        |  FROM iv
        |  WINDOW w AS (PARTITION BY user_id ORDER BY start_s, end_s
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |i AS (
        |  SELECT user_id, start_s, end_s,
        |         SUM(brk) OVER (PARTITION BY user_id ORDER BY start_s, end_s
        |                        ROWS UNBOUNDED PRECEDING) AS island
        |  FROM b)
        |SELECT user_id, CAST(island AS BIGINT) AS island,
        |       MIN(start_s) AS start, MAX(end_s) AS "end",
        |       COUNT(1) AS n_merged
        |FROM i GROUP BY 1, 2 ORDER BY user_id, island""".stripMargin,

    // The q_ngram_jaccard replay (same blocking, same cap) + the
    // q_split Knuth-hash membership + the cross-split filter.
    "q_split_leakage" ->
      """WITH sp AS MATERIALIZED (
        |  SELECT doc_id,
        |         CASE WHEN (doc_id * 2654435761) % 4294967296 % 10 < 8 THEN 'train'
        |              WHEN (doc_id * 2654435761) % 4294967296 % 10 < 9 THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM documents),
        |p0 AS (
        |  SELECT doc_id,
        |         lang || '_' || CAST(n_chars // 100 AS VARCHAR) AS block,
        |         list_distinct(regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS sh
        |  FROM documents),
        |p AS (
        |  SELECT p0.* FROM p0
        |  JOIN (SELECT block FROM p0 GROUP BY block HAVING COUNT(1) <= 10000) ok
        |    USING (block))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |       sa.split AS split_a, sb.split AS split_b,
        |       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |             len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
        |FROM p a JOIN p b ON a.block = b.block AND a.doc_id < b.doc_id
        |JOIN sp sa ON sa.doc_id = a.doc_id
        |JOIN sp sb ON sb.doc_id = b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
        |  AND sa.split <> sb.split
        |ORDER BY id_a, id_b""".stripMargin,

    "q_join_audit" ->
      """WITH lc AS MATERIALIZED (
        |  SELECT o_orderkey AS k, COUNT(1) AS ln FROM orders GROUP BY 1),
        |rc AS MATERIALIZED (
        |  SELECT l_orderkey AS k, COUNT(1) AS rn FROM lineitem GROUP BY 1),
        |f AS (SELECT ln, rn,
        |             (ln IS NOT NULL AND rn IS NOT NULL) AS m
        |      FROM lc FULL OUTER JOIN rc ON lc.k = rc.k)
        |SELECT
        |  (SELECT COUNT(1) FROM orders) AS left_rows,
        |  (SELECT COUNT(1) FROM lineitem) AS right_rows,
        |  CAST(SUM(CASE WHEN ln IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS left_keys,
        |  CAST(SUM(CASE WHEN rn IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS right_keys,
        |  CAST(SUM(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT) AS matched_keys,
        |  CAST(SUM(CASE WHEN ln IS NOT NULL AND NOT m THEN 1 ELSE 0 END) AS BIGINT) AS left_only_keys,
        |  CAST(SUM(CASE WHEN rn IS NOT NULL AND NOT m THEN 1 ELSE 0 END) AS BIGINT) AS right_only_keys,
        |  CAST(COALESCE(SUM(CASE WHEN m THEN CAST(ln AS HUGEINT) * rn END), 0) AS BIGINT) AS est_rows,
        |  CAST(COALESCE(MAX(CASE WHEN m THEN CAST(ln AS HUGEINT) * rn END), 0) AS BIGINT) AS max_key_product
        |FROM f""".stripMargin,

    // The q_cooccur capped pair graph, then degree-ordered wedge
    // closing — every step a deterministic join/aggregate.
    "q_triangles" ->
      """WITH d AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS txn, l_partkey AS item FROM lineitem),
        |capped AS MATERIALIZED (
        |  SELECT txn, item FROM (
        |    SELECT txn, item,
        |           row_number() OVER (PARTITION BY txn ORDER BY item) AS rn FROM d)
        |  WHERE rn <= 64),
        |p AS MATERIALIZED (
        |  SELECT x.item AS a, y.item AS b, COUNT(1) AS n
        |  FROM capped x JOIN capped y ON x.txn = y.txn AND x.item < y.item
        |  GROUP BY 1, 2 HAVING COUNT(1) >= 2),
        |deg AS MATERIALIZED (
        |  SELECT node, COUNT(1) AS dg FROM (
        |    SELECT a AS node FROM p UNION ALL SELECT b FROM p) GROUP BY 1),
        |o AS MATERIALIZED (
        |  SELECT CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND p.a < p.b)
        |              THEN p.a ELSE p.b END AS s,
        |         CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND p.a < p.b)
        |              THEN p.b ELSE p.a END AS t
        |  FROM p JOIN deg da ON da.node = p.a JOIN deg db ON db.node = p.b),
        |tri AS (
        |  SELECT w.apex, w.b, w.c FROM (
        |    SELECT e1.s AS apex, e1.t AS b, e2.t AS c
        |    FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t) w
        |  JOIN p ON p.a = LEAST(w.b, w.c) AND p.b = GREATEST(w.b, w.c)),
        |u AS (SELECT unnest([apex, b, c]) AS node FROM tri)
        |SELECT node, COUNT(1) AS n_triangles FROM u GROUP BY 1 ORDER BY node""".stripMargin,

    // Expected edges BY CONSTRUCTION (the q_url_normalize pattern): the
    // planted anchors canonicalize to known strings — host lowercased,
    // default ports dropped, utm param stripped with its separator
    // absorbed, fragment dropped, registered domain = last two labels.
    "q_link_extract" ->
      """WITH l AS (
        |  SELECT doc_id,
        |         'https://docs.' || source || '.com/guide/' || CAST(doc_id AS VARCHAR)
        |           || '?ref=' || lang AS url,
        |         source || '.com' AS domain
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id,
        |         'http://www.partner' || CAST(doc_id % 7 AS VARCHAR) || '.org/p' AS url,
        |         'partner' || CAST(doc_id % 7 AS VARCHAR) || '.org' AS domain
        |  FROM documents)
        |SELECT doc_id, url, domain FROM l ORDER BY doc_id, url""".stripMargin,

    // Decile boundaries replay the RFM pattern: rank = CEIL(CAST(p AS
    // DOUBLE) * n) — the DOUBLE cast is load-bearing (DuckDB decimal
    // literals would CEIL a different product than Spark's double
    // multiply). Prefix + bucket offsets replay as windows.
    "q_curriculum" ->
      ("""WITH s AS MATERIALIZED (
        |  SELECT doc_id, lang, n_chars, CAST(n_chars AS DOUBLE) AS m FROM documents),
        |rr AS (SELECT m, row_number() OVER (ORDER BY m) AS rn,
        |              COUNT(1) OVER () AS n FROM s),
        |cuts AS (SELECT
        |""".stripMargin +
        (1 to 9).map(i =>
          s"  MAX(CASE WHEN rn = CAST(CEIL(CAST(0.$i AS DOUBLE) * n) AS BIGINT) THEN m END) AS c$i")
          .mkString("", ",\n", "\n") +
        """  FROM rr),
        |b AS MATERIALIZED (
        |  SELECT s.doc_id, s.lang, s.n_chars,
        |         1""".stripMargin +
        (1 to 9).map(i => s" + (CASE WHEN s.m > c.c$i THEN 1 ELSE 0 END)").mkString +
        """ AS difficulty_bucket
        |  FROM s CROSS JOIN cuts c),
        |r AS (SELECT b.*,
        |             row_number() OVER (PARTITION BY difficulty_bucket
        |                                ORDER BY doc_id) - 1 AS pfx
        |      FROM b),
        |sz AS (SELECT difficulty_bucket, COUNT(1) AS n FROM b GROUP BY 1),
        |o2 AS (SELECT difficulty_bucket,
        |              COALESCE(SUM(n) OVER (ORDER BY difficulty_bucket
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |       FROM sz)
        |SELECT r.doc_id, r.lang, r.n_chars, r.difficulty_bucket,
        |       CAST(o2.off + r.pfx AS BIGINT) AS curriculum_pos
        |FROM r JOIN o2 USING (difficulty_bucket)
        |ORDER BY curriculum_pos""".stripMargin),

    "q_robust_scale" ->
      """WITH v AS MATERIALIZED (
        |  SELECT event_id, event_type, value FROM events),
        |q AS MATERIALIZED (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = CAST(CEIL(CAST(0.25 AS DOUBLE) * n) AS BIGINT) THEN value END) AS p25,
        |    MAX(CASE WHEN rn = CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT) THEN value END) AS med,
        |    MAX(CASE WHEN rn = CAST(CEIL(CAST(0.75 AS DOUBLE) * n) AS BIGINT) THEN value END) AS p75
        |  FROM (SELECT event_type, value,
        |               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |               COUNT(1) OVER (PARTITION BY event_type) AS n
        |        FROM v WHERE value IS NOT NULL)
        |  GROUP BY 1)
        |SELECT v.event_id, v.event_type, v.value, q.med,
        |       q.p75 - q.p25 AS iqr,
        |       CASE WHEN q.p75 - q.p25 = 0.0 THEN 0.0
        |            ELSE (v.value - q.med) / (q.p75 - q.p25) END AS scaled
        |FROM v JOIN q USING (event_type)
        |ORDER BY v.event_id""".stripMargin,

    "q_cohort_retention" ->
      """WITH acts AS MATERIALIZED (
        |  SELECT DISTINCT user_id,
        |         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
        |  FROM events),
        |fw AS MATERIALIZED (
        |  SELECT user_id, MIN(wk) AS cohort_week FROM acts GROUP BY 1),
        |mat AS MATERIALIZED (
        |  SELECT f.cohort_week, a.wk - f.cohort_week AS week_offset,
        |         COUNT(1) AS n_users
        |  FROM acts a JOIN fw f USING (user_id) GROUP BY 1, 2),
        |sizes AS (SELECT cohort_week, n_users AS cohort_size
        |          FROM mat WHERE week_offset = 0)
        |SELECT m.cohort_week, m.week_offset, m.n_users, s.cohort_size,
        |       CAST(m.n_users * 100000000 // s.cohort_size AS BIGINT) AS retention_fp
        |FROM mat m JOIN sizes s USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_transitions" ->
      """WITH p AS MATERIALIZED (
        |  SELECT event_type AS from_type,
        |         lead(event_type) OVER (PARTITION BY user_id
        |                                ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |pc AS MATERIALIZED (
        |  SELECT from_type, to_type, COUNT(1) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |       FROM pc GROUP BY 1)
        |SELECT pc.from_type, pc.to_type, pc.n, ft.n_from,
        |       CAST(pc.n * 100000000 // ft.n_from AS BIGINT) AS prob_fp
        |FROM pc JOIN ft USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin,

    // The identical seeded draw: per-step-mod codepoint polynomial
    // (PolyBucket), LCG residue, u = (r + 0.5)/2^31, inverse Laplace
    // CDF with the DSIR-established IEEE ln parity, floor(x+0.5),
    // clamp at 0.
    "q_dp_counts" ->
      """WITH c AS MATERIALIZED (SELECT lang, COUNT(1) AS n FROM documents GROUP BY 1),
        |h AS (
        |  SELECT lang, n,
        |         COALESCE(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |                    list_transform(string_split(CAST(lang AS VARCHAR), ''),
        |                                   x -> CAST(unicode(x) AS BIGINT))),
        |                  (a, b) -> (a * 31 + b) % 16777216), 0) AS hh
        |  FROM c),
        |u AS (SELECT lang, n,
        |             (((hh + 7) * 1103515245 + 12345) % 2147483648 + 0.5) / 2147483648.0 AS u
        |      FROM h)
        |SELECT lang,
        |       GREATEST(n + CAST(FLOOR((CASE WHEN u < 0.5 THEN LN(2.0 * u)
        |                                     ELSE -LN(2.0 * (1.0 - u)) END) + 0.5)
        |                         AS BIGINT), 0) AS noisy_n,
        |       CAST(1.0 AS DOUBLE) AS epsilon
        |FROM u ORDER BY lang""".stripMargin,

    // Allocation replay: HUGEINT-exact variance numerator per stratum,
    // the same IEEE sqrt of the same double cast, truncating // and
    // largest-remainder ranks (rem DESC, stratum ASC — binary string
    // order both sides for these ASCII keys). The Σw=0 proportional
    // fallback never fires on this data and isn't replayed.
    "q_neyman" ->
      """WITH c AS MATERIALIZED (
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice,
        |         CAST(FLOOR(COALESCE(o_totalprice, 0) * 100) AS BIGINT) AS cents
        |  FROM orders),
        |st AS MATERIALIZED (
        |  SELECT o_orderpriority AS k, COUNT(1) AS n,
        |         SUM(CAST(cents AS HUGEINT)) AS s1,
        |         SUM(CAST(cents AS HUGEINT) * cents) AS s2
        |  FROM c GROUP BY 1),
        |w AS MATERIALIZED (
        |  SELECT k, n,
        |         CAST(FLOOR(SQRT(CAST(n * s2 - s1 * s1 AS DOUBLE))) AS BIGINT) AS wt
        |  FROM st),
        |tot AS (SELECT SUM(CAST(wt AS HUGEINT)) AS tw FROM w),
        |base AS MATERIALIZED (
        |  SELECT w.k, w.n,
        |         CAST(500 * CAST(w.wt AS HUGEINT) // tot.tw AS BIGINT) AS b,
        |         CAST(500 * CAST(w.wt AS HUGEINT) % tot.tw AS BIGINT) AS rem
        |  FROM w CROSS JOIN tot),
        |lo AS (SELECT 500 - SUM(b) AS leftover FROM base),
        |alloc AS MATERIALIZED (
        |  SELECT k, CASE WHEN rnk <= (SELECT leftover FROM lo)
        |                 THEN LEAST(n, b + 1) ELSE LEAST(n, b) END AS a
        |  FROM (SELECT k, n, b,
        |               ROW_NUMBER() OVER (ORDER BY rem DESC, k) AS rnk FROM base)),
        |rk AS (SELECT c.*,
        |              ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                                 ORDER BY o_orderkey) AS rn FROM c)
        |SELECT o_orderkey, o_custkey, o_orderpriority, o_totalprice
        |FROM rk JOIN alloc ON rk.o_orderpriority = alloc.k
        |WHERE rk.rn <= alloc.a
        |ORDER BY o_orderkey""".stripMargin,

    // The q_pack_strict lock-step recursive pack, then the two
    // aggregation levels the report runs — all integer arithmetic.
    "q_pack_report" ->
      """WITH RECURSIVE o AS MATERIALIZED (
        |  SELECT lang, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents),
        |r AS (
        |  SELECT lang, rn, doc_id, n_chars,
        |         CAST(0 AS BIGINT) AS bin, CAST(n_chars AS BIGINT) AS used
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.lang, o.rn, o.doc_id, o.n_chars,
        |         CASE WHEN r.used + o.n_chars > 16384 THEN r.bin + 1 ELSE r.bin END,
        |         CASE WHEN r.used + o.n_chars > 16384 THEN CAST(o.n_chars AS BIGINT)
        |              ELSE r.used + o.n_chars END
        |  FROM r JOIN o ON o.lang = r.lang AND o.rn = r.rn + 1),
        |bins AS MATERIALIZED (
        |  SELECT lang, bin, COUNT(1) AS items, MAX(used) AS used
        |  FROM r GROUP BY 1, 2),
        |agg AS (
        |  SELECT lang, COUNT(1) AS n_bins,
        |         CAST(SUM(items) AS BIGINT) AS n_items,
        |         CAST(SUM(used) AS BIGINT) AS used_tokens,
        |         CAST(MIN(used * 100000000 // 16384) AS BIGINT) AS min_bin_fill_fp,
        |         CAST(MAX(used * 100000000 // 16384) AS BIGINT) AS max_bin_fill_fp
        |  FROM bins GROUP BY 1)
        |SELECT lang, n_bins, n_items, used_tokens,
        |       n_bins * 16384 AS capacity,
        |       CAST(used_tokens * 100000000 // (n_bins * 16384) AS BIGINT) AS fill_fp,
        |       min_bin_fill_fp, max_bin_fill_fp
        |FROM agg ORDER BY lang""".stripMargin,

    // The LCG sign rule and the fixed-point quantization are integer
    // arithmetic end-to-end: the oracle regenerates the sign matrix
    // with plain % (operands non-negative) and sums the same longs.
    "q_random_proj" ->
      """WITH el AS MATERIALIZED (
        |  SELECT vec_id,
        |         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS c,
        |         unnest(range(0, len(embedding))) AS i
        |  FROM embeddings),
        |jd AS (SELECT unnest(range(0, 8)) AS j),
        |terms AS (
        |  SELECT el.vec_id, jd.j,
        |         CASE ((jd.j * 64 + el.i) * 1103515245 + 42) % 2147483648 % 6
        |           WHEN 0 THEN el.c WHEN 1 THEN -el.c ELSE 0 END AS t
        |  FROM el CROSS JOIN jd
        |  WHERE el.i < 64)
        |SELECT vec_id, CAST(j AS INTEGER) AS j, CAST(SUM(t) AS BIGINT) AS value_fp
        |FROM terms GROUP BY 1, 2
        |ORDER BY vec_id, j""".stripMargin,

    // Spark intersects 64-bit gram hashes; the oracle intersects the
    // gram STRINGS those hashes identify — identical counts modulo
    // ~n²/2⁶⁴ collision odds (the q_contamination trade). Truncating
    // integer division both sides.
    "q_corpus_overlap" ->
      """WITH norm AS (
        |  SELECT source,
        |         list_filter(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
        |                     x -> len(x) > 0) AS w
        |  FROM documents),
        |grams AS MATERIALIZED (
        |  SELECT DISTINCT source AS src,
        |         unnest(CASE WHEN len(w) >= 5
        |                THEN list_transform(range(1, len(w) - 3),
        |                                    i -> array_to_string(w[i:i+4], ' '))
        |                ELSE [] END) AS g
        |  FROM norm),
        |sizes AS MATERIALIZED (SELECT src, COUNT(1) AS n FROM grams GROUP BY 1),
        |inter AS (
        |  SELECT a.src AS ia, b.src AS ib, COUNT(1) AS n_common
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.src <> b.src
        |  GROUP BY 1, 2),
        |ap AS (SELECT sa.src AS src_a, sa.n AS n_a, sb.src AS src_b, sb.n AS n_b
        |       FROM sizes sa CROSS JOIN sizes sb WHERE sa.src <> sb.src)
        |SELECT ap.src_a, ap.src_b, ap.n_a, ap.n_b,
        |       COALESCE(i.n_common, 0) AS n_common,
        |       CAST(COALESCE(i.n_common, 0) * 100000000 // ap.n_a AS BIGINT) AS containment_fp,
        |       CAST(COALESCE(i.n_common, 0) * 100000000
        |            // (ap.n_a + ap.n_b - COALESCE(i.n_common, 0)) AS BIGINT) AS jaccard_fp
        |FROM ap LEFT JOIN inter i ON i.ia = ap.src_a AND i.ib = ap.src_b
        |ORDER BY src_a, src_b""".stripMargin,

    // HUGEINT // mirrors Spark's DECIMAL(38,0) DIV: both exact
    // truncating integer division, immune to the long overflow a
    // 10^9-transaction corpus would hit. The rn <= 64 cap mirrors
    // maxItemsPerTxn (a no-op on <=7-line TPC-H orders; the contract
    // holds at any SF).
    "q_cooccur" ->
      """WITH d AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS txn, l_partkey AS item FROM lineitem),
        |capped AS MATERIALIZED (
        |  SELECT txn, item FROM (
        |    SELECT txn, item,
        |           row_number() OVER (PARTITION BY txn ORDER BY item) AS rn FROM d)
        |  WHERE rn <= 64),
        |g AS (SELECT COUNT(DISTINCT txn) AS n_txn FROM capped),
        |ic AS (SELECT item, COUNT(1) AS n FROM capped GROUP BY 1),
        |p AS (SELECT x.item AS item_a, y.item AS item_b, COUNT(1) AS pair_n
        |      FROM capped x JOIN capped y ON x.txn = y.txn AND x.item < y.item
        |      GROUP BY 1, 2 HAVING COUNT(1) >= 2)
        |SELECT p.item_a, p.item_b, p.pair_n, a.n AS n_a, b.n AS n_b,
        |       CAST(g.n_txn AS BIGINT) AS n_txn,
        |       CAST(CAST(p.pair_n AS HUGEINT) * 100000000 // g.n_txn AS BIGINT) AS support_fp,
        |       CAST(CAST(p.pair_n AS HUGEINT) * 100000000 // a.n AS BIGINT) AS conf_ab_fp,
        |       CAST(CAST(p.pair_n AS HUGEINT) * 100000000 // b.n AS BIGINT) AS conf_ba_fp,
        |       CAST(CAST(p.pair_n AS HUGEINT) * g.n_txn * 10000
        |            // (CAST(a.n AS HUGEINT) * b.n) AS BIGINT) AS lift_x10000
        |FROM p JOIN ic a ON a.item = p.item_a JOIN ic b ON b.item = p.item_b
        |CROSS JOIN g
        |ORDER BY item_a, item_b""".stripMargin,

    // HUGEINT sums ARE the operator's DECIMAL(38,0) sums (both exact
    // 128-bit integers); the final double expressions mirror the
    // operator's sequence term for term, so every double is bit-equal.
    "q_group_ols" ->
      """WITH q AS (SELECT l_returnflag AS grp,
        |   CAST(FLOOR(l_extendedprice * 1000000.0) AS HUGEINT) AS x,
        |   CAST(FLOOR((l_extendedprice * (1.0 - l_discount)) * 1000000.0) AS HUGEINT) AS y
        |   FROM lineitem),
        |a AS (SELECT grp, CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
        |      FROM q GROUP BY 1),
        |s AS (SELECT grp, n, sx, sy, n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
        |             n*syy - sy*sy AS deny FROM a)
        |SELECT grp AS l_returnflag, CAST(n AS BIGINT) AS n,
        |       CASE WHEN den <> 0 THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope,
        |       CASE WHEN den <> 0 THEN
        |         (CAST(sy AS DOUBLE) - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) * CAST(sx AS DOUBLE))
        |           / (CAST(n AS DOUBLE) * 1000000.0) END AS intercept,
        |       CASE WHEN den <> 0 AND deny <> 0 THEN
        |         (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
        |           / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)) END AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // Median and MAD are rank SELECTIONS (PERCENTILE_DISC semantics,
    // rank = ceil(n/2)): actual data values, so dev > 3.0*mad is the
    // same IEEE multiply+compare in both engines. Ties in `value` are
    // rank-order-arbitrary but value-deterministic (the SELECTED value
    // at the rank is the same whichever tied row holds it).
    "q_outlier_mad" ->
      """WITH m AS MATERIALIZED (
        |  SELECT event_type, med FROM (
        |    SELECT event_type, value AS med,
        |           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |           COUNT(1) OVER (PARTITION BY event_type) AS n
        |    FROM events WHERE value IS NOT NULL)
        |  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)),
        |d AS MATERIALIZED (
        |  SELECT e.event_id, e.event_type, e.value, m.med,
        |         ABS(e.value - m.med) AS dev
        |  FROM events e JOIN m USING (event_type) WHERE e.value IS NOT NULL),
        |md AS (
        |  SELECT event_type, mad FROM (
        |    SELECT event_type, dev AS mad,
        |           row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rn,
        |           COUNT(1) OVER (PARTITION BY event_type) AS n
        |    FROM d)
        |  WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT))
        |SELECT d.event_id, d.event_type, d.value, d.med, md.mad
        |FROM d JOIN md USING (event_type)
        |WHERE d.dev > 3.0 * md.mad
        |ORDER BY d.event_id""".stripMargin,

    "q_kanon" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(1) AS group_n,
        |       CASE WHEN COUNT(1) < 10 THEN 1 ELSE 0 END AS at_risk
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // DCG gains and ideal prefixes are the SAME driver-computed
    // literals the Spark plan inlines (Evaluation.ndcgGains) — neither
    // engine evaluates log2 at query time, so libm can't split them.
    "q_eval_rank" -> {
      val g = operators.Evaluation.ndcgGains(10)
      val ideal = operators.Evaluation.ndcgIdealPrefix(10)
      val gCase = g.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN $v" }.mkString(" ")
      s"""WITH r AS (
         |  SELECT user_id, event_id, value, (event_type = 'purchase') AS rel,
         |         row_number() OVER (PARTITION BY user_id
         |                            ORDER BY value DESC NULLS LAST, event_id) AS rank
         |  FROM events),
         |g AS (
         |  SELECT user_id, COUNT(1) AS n,
         |         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
         |         CAST(SUM(CASE WHEN rel AND rank <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits_k,
         |         MIN(CASE WHEN rel THEN rank END) AS first_rel_rank,
         |         CAST(SUM(CASE WHEN rel AND rank <= 10
         |                       THEN CASE rank $gCase END ELSE 0 END) AS BIGINT) AS dcg_fp
         |  FROM r GROUP BY 1),
         |s AS (
         |  SELECT user_id, n, n_rel, hits_k, first_rel_rank,
         |         CASE WHEN first_rel_rank IS NOT NULL
         |              THEN 1000000000000 // first_rel_rank END AS rr_fp,
         |         dcg_fp,
         |         CASE WHEN n_rel > 0
         |              THEN ([${ideal.mkString(", ")}])[CAST(LEAST(n_rel, 10) AS INTEGER)]
         |         END AS idcg_fp
         |  FROM g)
         |SELECT user_id, n, n_rel, hits_k, first_rel_rank, rr_fp, dcg_fp, idcg_fp,
         |       CASE WHEN idcg_fp IS NOT NULL
         |            THEN CAST(dcg_fp AS DOUBLE) / CAST(idcg_fp AS DOUBLE) END AS ndcg,
         |       CAST(hits_k AS DOUBLE) / 10.0 AS precision_k,
         |       CASE WHEN n_rel > 0
         |            THEN CAST(hits_k AS DOUBLE) / CAST(n_rel AS DOUBLE) END AS recall_k
         |FROM s ORDER BY user_id""".stripMargin
    },

    // Rank arithmetic on the distinct-score table; auc_num2 exact, the
    // division mirrored factor for factor.
    "q_auc" ->
      """WITH e AS (
        |  SELECT event_type, value AS s, (((user_id % 3) + 3) % 3 = 0) AS y
        |  FROM events WHERE value IS NOT NULL),
        |ps AS (
        |  SELECT event_type, s,
        |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |         CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
        |  FROM e GROUP BY 1, 2),
        |c AS (
        |  SELECT *, SUM(nn) OVER (PARTITION BY event_type ORDER BY s
        |                          ROWS UNBOUNDED PRECEDING) AS cumn
        |  FROM ps),
        |g AS (
        |  SELECT event_type, CAST(SUM(np) AS BIGINT) AS n_pos,
        |         CAST(SUM(nn) AS BIGINT) AS n_neg,
        |         CAST(SUM(np * (2 * (cumn - nn) + nn)) AS BIGINT) AS auc_num2
        |  FROM c GROUP BY 1)
        |SELECT event_type, n_pos, n_neg, auc_num2,
        |       CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |         CAST(auc_num2 AS DOUBLE)
        |           / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
        |FROM g ORDER BY event_type""".stripMargin,

    // The langid CTE is q_langid's oracle verbatim; the rollup mirrors
    // classifierEval (label set = truth ∪ predicted via FULL JOIN).
    "q_eval_f1" -> {
      def ratio(words: Seq[String]): String = {
        val lst = words.map(w => s"'$w'").mkString(", ")
        s"CASE WHEN len(toks) = 0 THEN 0.0 ELSE CAST(len(list_filter(toks, x -> x IN ($lst))) AS DOUBLE) / len(toks) END"
      }
      val en = ratio(Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "was", "with", "are", "his", "this", "they"))
      val de = ratio(Seq("der", "die", "und", "das", "ist", "nicht", "von", "sie", "mit", "ein", "eine", "auf", "den", "dem", "zu"))
      val fr = ratio(Seq("le", "la", "les", "de", "des", "et", "est", "une", "dans", "que", "pour", "qui", "sur", "pas", "au"))
      val es = ratio(Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por", "con", "para", "del"))
      s"""WITH t AS (
         |  SELECT lang AS truth,
         |         list_filter(regexp_split_to_array(lower(trim(text)), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |r AS (
         |  SELECT truth, $en AS r_en, $de AS r_de, $fr AS r_fr, $es AS r_es
         |  FROM t),
         |pd AS (
         |  SELECT truth,
         |       CASE WHEN GREATEST(r_en, r_de, r_fr, r_es) <= 0.08 THEN 'und'
         |            WHEN r_en >= r_de AND r_en >= r_fr AND r_en >= r_es THEN 'en'
         |            WHEN r_de >= r_fr AND r_de >= r_es THEN 'de'
         |            WHEN r_fr >= r_es THEN 'fr'
         |            ELSE 'es' END AS pred
         |  FROM r),
         |conf AS (SELECT truth, pred, COUNT(1) AS n FROM pd GROUP BY 1, 2),
         |tn AS (SELECT truth AS label, CAST(SUM(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
         |pn AS (SELECT pred AS label, CAST(SUM(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
         |tp AS (SELECT truth AS label, CAST(SUM(n) AS BIGINT) AS tp
         |       FROM conf WHERE truth = pred GROUP BY 1),
         |base AS (
         |  SELECT COALESCE(tn.label, pn.label) AS label,
         |         COALESCE(n_true, 0) AS n_true, COALESCE(n_pred, 0) AS n_pred
         |  FROM tn FULL JOIN pn ON tn.label = pn.label),
         |b2 AS (
         |  SELECT base.label, n_true, n_pred, COALESCE(tp.tp, 0) AS tp
         |  FROM base LEFT JOIN tp ON base.label = tp.label),
         |pr AS (
         |  SELECT label, n_true, n_pred, tp,
         |    CASE WHEN n_pred > 0 THEN CAST(tp AS DOUBLE) / CAST(n_pred AS DOUBLE) END AS "precision",
         |    CASE WHEN n_true > 0 THEN CAST(tp AS DOUBLE) / CAST(n_true AS DOUBLE) END AS recall
         |  FROM b2)
         |SELECT label, n_true, n_pred, tp, "precision", recall,
         |       CASE WHEN "precision" IS NOT NULL AND recall IS NOT NULL
         |                 AND "precision" + recall > 0.0
         |            THEN 2.0 * "precision" * recall / ("precision" + recall) END AS f1
         |FROM pr ORDER BY label""".stripMargin
    },

    // The q_split hash reread as a pseudo-probability; counts and the
    // gap are exact integers, the two ratios pinned.
    "q_calibration" ->
      """WITH e AS (
        |  SELECT event_type,
        |         CAST((event_id * 2654435761) % 4294967296 % 1000 AS DOUBLE) / 1000.0 AS prob,
        |         (value > 50.0) AS y
        |  FROM events),
        |b AS (
        |  SELECT event_type, LEAST(CAST(FLOOR(prob * 10.0) AS BIGINT), 9) AS bin,
        |         y, CAST(FLOOR(prob * 1000000000.0) AS BIGINT) AS cfp
        |  FROM e),
        |g AS (
        |  SELECT event_type, bin, COUNT(1) AS n,
        |         CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |         CAST(SUM(cfp) AS BIGINT) AS conf_fp
        |  FROM b GROUP BY 1, 2)
        |SELECT event_type, bin, n, n_pos, conf_fp,
        |       ABS(conf_fp - n_pos * 1000000000) AS gap_fp,
        |       CAST(conf_fp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0 AS avg_conf,
        |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS accuracy
        |FROM g ORDER BY event_type, bin""".stripMargin,

    // GROUPING SETS is shared SQL verbatim.
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        |       coalesce(l_linestatus, 'ALL') AS lstatus,
        |       count(1) AS cnt, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rflag, lstatus""".stripMargin,

    // BH replay: identical hypothesis grid + hash p-values, the same
    // integer boundary pfp·m·alphaDen <= rank·alphaNum·10^9.
    "q_fdr_bh" ->
      """WITH hyp AS (SELECT DISTINCT event_type, day(ts) AS day FROM events),
        |h2 AS (SELECT ascii(event_type) * 1000 + day * 31 + length(event_type) AS hyp_id
        |       FROM hyp),
        |h3 AS (SELECT hyp_id,
        |              CAST(((hyp_id * 2654435761) % 4294967296) % 1000000 AS DOUBLE)
        |                / 1000000.0 AS p
        |       FROM h2),
        |r AS (SELECT hyp_id, p,
        |             CAST(FLOOR(p * 1000000000.0) AS BIGINT) AS pfp,
        |             ROW_NUMBER() OVER (ORDER BY CAST(FLOOR(p * 1000000000.0) AS BIGINT),
        |                                         hyp_id) AS rank,
        |             COUNT(*) OVER () AS m
        |      FROM h3),
        |k AS (SELECT COALESCE(MAX(CASE WHEN pfp * m * 100 <= rank * 10 * 1000000000
        |                               THEN rank END), 0) AS k
        |      FROM r)
        |SELECT hyp_id, p, rank, m, rank <= k.k AS rejected
        |FROM r CROSS JOIN k ORDER BY rank""".stripMargin,

    // Holm step-down replay: identical hypothesis grid and ranks, the
    // first rank failing p_fp·(m−j+1)·100 <= 10·1e9 bounds the
    // rejection prefix (all rejected when none fails).
    "q_holm" ->
      """WITH hyp AS (SELECT DISTINCT event_type, day(ts) AS day FROM events),
        |h2 AS (SELECT ascii(event_type) * 1000 + day * 31 + length(event_type) AS hyp_id
        |       FROM hyp),
        |h3 AS (SELECT hyp_id,
        |              CAST(((hyp_id * 2654435761) % 4294967296) % 1000000 AS DOUBLE)
        |                / 1000000.0 AS p
        |       FROM h2),
        |r AS (SELECT hyp_id, p,
        |             CAST(FLOOR(p * 1000000000.0) AS BIGINT) AS pfp,
        |             ROW_NUMBER() OVER (ORDER BY CAST(FLOOR(p * 1000000000.0) AS BIGINT),
        |                                         hyp_id) AS rank,
        |             COUNT(*) OVER () AS m
        |      FROM h3),
        |k AS (SELECT COALESCE(
        |               MIN(CASE WHEN CAST(pfp AS HUGEINT) * (m - rank + 1) * 100
        |                             > 10 * CAST(1000000000 AS HUGEINT)
        |                        THEN rank END) - 1,
        |               MAX(rank)) AS k
        |      FROM r)
        |SELECT hyp_id, p, rank, m, rank <= k.k AS rejected
        |FROM r CROSS JOIN k ORDER BY rank""".stripMargin,

    // Composed experiment-readout replay: the q_cuped pooled-θ chain →
    // per-unit adjusted metric → the q_welch_t moment chain on the
    // adjusted quantization → A&S 7.1.26 erfc p (exp is the only libm
    // call; 1e9 floor pins the gate boundary) → the q_holm step-down.
    "q_experiment_report" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type AS experiment,
        |         CASE WHEN user_id % 2 = 0 THEN 'control' ELSE 'treatment' END AS v,
        |         value AS yraw,
        |         CAST(FLOOR(value / 2.0) + user_id % 7 AS DOUBLE) AS xraw
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |mom AS MATERIALIZED (
        |  SELECT experiment, CAST(COUNT(1) AS HUGEINT) AS n,
        |         SUM(CAST(FLOOR(xraw * 1000000.0) AS HUGEINT)) AS sx,
        |         SUM(CAST(FLOOR(yraw * 1000000.0) AS HUGEINT)) AS sy,
        |         SUM(CAST(FLOOR(xraw * 1000000.0) AS HUGEINT) * CAST(FLOOR(yraw * 1000000.0) AS HUGEINT)) AS sxy,
        |         SUM(CAST(FLOOR(xraw * 1000000.0) AS HUGEINT) * CAST(FLOOR(xraw * 1000000.0) AS HUGEINT)) AS sxx,
        |         SUM(CAST(FLOOR(yraw * 1000000.0) AS HUGEINT) * CAST(FLOOR(yraw * 1000000.0) AS HUGEINT)) AS syy
        |  FROM b GROUP BY 1),
        |pool AS MATERIALIZED (
        |  SELECT experiment,
        |    CASE WHEN n * sxx - sx * sx > 0 THEN
        |      CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) END AS theta,
        |    CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |      CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
        |        * CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * syy - sy * sy AS DOUBLE) END AS rho2,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS pxbar
        |  FROM mom),
        |adj AS MATERIALIZED (
        |  SELECT b.experiment, v,
        |         CAST(FLOOR((yraw - COALESCE(theta, 0.0) * (xraw - pxbar)) * 1000000.0) AS HUGEINT) AS x
        |  FROM b JOIN pool USING (experiment)),
        |g AS (SELECT experiment, v, CAST(COUNT(*) AS HUGEINT) AS n,
        |             SUM(x) AS sx, SUM(x*x) AS sxx FROM adj GROUP BY 1, 2),
        |j AS (SELECT a.experiment, a.v AS variant_a, b2.v AS variant_b,
        |             a.n AS na, a.sx AS sxa, a.sxx AS sxxa,
        |             b2.n AS nb, b2.sx AS sxb, b2.sxx AS sxxb
        |      FROM g a JOIN g b2 ON a.experiment = b2.experiment AND a.v < b2.v),
        |s AS (SELECT *,
        |        CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE) / 1000000.0 AS ma,
        |        CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000.0 AS mb,
        |        CASE WHEN na > 1 THEN CAST(na * sxxa - sxa * sxa AS DOUBLE)
        |             / CAST(na * (na - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS va,
        |        CASE WHEN nb > 1 THEN CAST(nb * sxxb - sxb * sxb AS DOUBLE)
        |             / CAST(nb * (nb - 1) AS DOUBLE) / 1000000.0 / 1000000.0 END AS vb
        |      FROM j),
        |s2 AS (SELECT *,
        |         CASE WHEN va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE) > 0.0
        |              THEN (mb - ma) / sqrt(va / CAST(na AS DOUBLE) + vb / CAST(nb AS DOUBLE)) END AS t
        |       FROM s),
        |w1 AS (SELECT *, abs(t) / 1.4142135623730951 AS z FROM s2),
        |w2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * z) AS u FROM w1),
        |px AS MATERIALIZED (
        |  SELECT experiment, variant_a, variant_b,
        |         CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
        |         ma AS mean_adj_a, mb AS mean_adj_b, mb - ma AS diff_adj, t,
        |         CASE WHEN t IS NOT NULL THEN
        |           CAST(CAST(FLOOR(((((1.061405429 * u - 1.453152027) * u + 1.421413741) * u
        |             - 0.284496736) * u + 0.254829592) * u * exp(-z * z) * 1000000000.0) AS BIGINT) AS DOUBLE)
        |             / 1000000000.0 END AS p
        |  FROM w2),
        |r AS (SELECT experiment, p,
        |             CAST(FLOOR(p * 1000000000.0) AS BIGINT) AS pfp,
        |             ROW_NUMBER() OVER (ORDER BY CAST(FLOOR(p * 1000000000.0) AS BIGINT),
        |                                         experiment) AS rank,
        |             COUNT(*) OVER () AS m
        |      FROM px WHERE p IS NOT NULL),
        |k AS (SELECT COALESCE(
        |               MIN(CASE WHEN CAST(pfp AS HUGEINT) * (m - rank + 1) * 100
        |                             > 5 * CAST(1000000000 AS HUGEINT)
        |                        THEN rank END) - 1,
        |               MAX(rank)) AS k
        |      FROM r)
        |SELECT px.experiment, variant_a, variant_b, n_a, n_b,
        |       mean_adj_a, mean_adj_b, diff_adj, pool.theta, pool.rho2, t, px.p,
        |       r.rank, r.m, r.rank <= k.k AS rejected
        |FROM px JOIN pool ON pool.experiment = px.experiment
        |        LEFT JOIN r ON r.experiment = px.experiment
        |        CROSS JOIN k
        |ORDER BY px.experiment""".stripMargin,

    // Golden PAV blocks from the pinned fixture; `rate` recomputed from
    // the exact integer counts so the doubles carry full precision.
    "q_isotonic" ->
      """SELECT score_lo, score_hi, n, n_pos, rate_fp,
        |       CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate
        |FROM (VALUES
        |  (CAST(0.1 AS DOUBLE), CAST(0.1 AS DOUBLE),
        |   CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  (0.2,  0.3,  3, 1, 333333333),
        |  (0.4,  0.5,  2, 1, 500000000),
        |  (0.6,  0.8,  4, 3, 750000000),
        |  (0.9,  0.9,  2, 2, 1000000000),
        |  (0.95, 0.95, 1, 1, 1000000000)
        |) AS t(score_lo, score_hi, n, n_pos, rate_fp)
        |ORDER BY score_lo""".stripMargin,

    // Isotonic-apply golden rows: rates recomputed as exact divisions
    // so the doubles match the fit bit-for-bit.
    "q_isotonic_apply" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(0.05 AS DOUBLE), CAST(0 AS BIGINT), CAST(0 AS DOUBLE)),
        |  (2, 0.25, 333333333, CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE)),
        |  (3, 0.45, 500000000, 0.5),
        |  (4, 0.6,  750000000, 0.75),
        |  (5, 0.93, 1000000000, 1.0),
        |  (6, 2.0,  1000000000, 1.0),
        |  (7, NULL, NULL, NULL)
        |) AS t(id, score, calibrated_fp, calibrated) ORDER BY id""".stripMargin,

    // Split-conformal replay: the same integer rank formula, the
    // threshold as the rank-th order statistic via a row_number window
    // over the calibration set, one comparison pass over the test set.
    "q_conformal" ->
      """WITH p AS (SELECT event_id, ts, value FROM events WHERE event_type = 'purchase'),
        |calib AS (SELECT value FROM p WHERE day(ts) <= 20 AND value IS NOT NULL),
        |k AS (SELECT ((COUNT(*) + 1) * 95 + 99) // 100 AS k, COUNT(*) AS n FROM calib),
        |ranked AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn FROM calib),
        |thr AS (SELECT MAX(CASE WHEN rn = (SELECT k FROM k) THEN value END) AS threshold
        |        FROM ranked)
        |SELECT t.event_id, t.value, thr.threshold,
        |       CASE WHEN thr.threshold IS NULL THEN TRUE
        |            ELSE t.value <= thr.threshold END AS conforming
        |FROM (SELECT event_id, value FROM p WHERE day(ts) > 20) t CROSS JOIN thr
        |ORDER BY t.event_id""".stripMargin,

    // Clipped-IPS replay: identical pseudo-propensity hashes, integer
    // weights (target·1e6 // prop, clipped), HUGEINT sums, the same
    // pinned final divisions.
    "q_ips" ->
      """WITH d AS (
        |  SELECT event_type,
        |         ((event_id * 2654435761) % 4294967296) % 900000 + 100000 AS prop_fp,
        |         (((event_id + 7) * 2246822519) % 4294967296) % 900000 + 100000 AS target_fp,
        |         CAST(FLOOR(value * 1000000.0) AS BIGINT) AS reward_fp
        |  FROM events),
        |f AS (
        |  SELECT event_type,
        |         LEAST(20000000, (target_fp * 1000000) // prop_fp) AS w,
        |         reward_fp AS r
        |  FROM d WHERE prop_fp > 0 AND reward_fp IS NOT NULL AND target_fp >= 0),
        |g AS (
        |  SELECT event_type, COUNT(*) AS n,
        |         SUM(CAST(w AS HUGEINT)) AS sum_w_fp,
        |         SUM(CAST(w AS HUGEINT) * r) AS sum_wr_fp
        |  FROM f GROUP BY event_type)
        |SELECT event_type, n,
        |       CAST(sum_w_fp AS BIGINT) AS sum_w_fp, CAST(sum_wr_fp AS BIGINT) AS sum_wr_fp,
        |       CAST(sum_wr_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0 * 1000000.0) AS ips,
        |       CAST(sum_wr_fp AS DOUBLE) / (CAST(sum_w_fp AS DOUBLE) * 1000000.0) AS snips
        |FROM g ORDER BY event_type""".stripMargin,

    // Full replay of the integer-exact MM solve: HUGEINT floor
    // divisions, three unrolled rounds, renormalize each round —
    // bit-identical to the driver's BigInt arithmetic.
    "q_bradley_terry" -> {
      val S = "CAST(1000000000000 AS HUGEINT)"
      def round(t: Int): String = {
        val prev = if (t == 1) "p0" else s"p${t - 1}"
        s"""d$t AS (
           |  SELECT adj.i AS item,
           |         SUM((CAST(adj.n AS HUGEINT) * $S) // (pi.s + pj.s)) AS d
           |  FROM adj JOIN $prev pi ON pi.item = adj.i
           |           JOIN $prev pj ON pj.item = adj.j
           |  GROUP BY 1),
           |r$t AS (
           |  SELECT p.item,
           |         CASE WHEN d.d > 0
           |              THEN (CAST(COALESCE(w.wn, 0) AS HUGEINT) * $S * $S) // d.d
           |              ELSE p.s END AS raw
           |  FROM $prev p LEFT JOIN d$t d ON d.item = p.item
           |               LEFT JOIN wins w ON w.item = p.item),
           |t$t AS (SELECT SUM(raw) AS tot FROM r$t),
           |p$t AS (SELECT item, (raw * $S) // tot AS s FROM r$t, t$t)""".stripMargin
      }
      s"""WITH b0 AS (
         |  SELECT user_id, event_type,
         |         SUM(CAST(FLOOR(value * 1000000.0) AS BIGINT)) AS tot
         |  FROM events GROUP BY 1, 2),
         |pr AS (
         |  SELECT CASE WHEN x.tot >= y.tot THEN x.event_type ELSE y.event_type END AS wi,
         |         CASE WHEN x.tot >= y.tot THEN y.event_type ELSE x.event_type END AS lo
         |  FROM b0 x JOIN b0 y
         |    ON x.user_id = y.user_id AND x.event_type < y.event_type),
         |cw AS (SELECT wi, lo, COUNT(1) AS n FROM pr GROUP BY 1, 2),
         |wins AS (SELECT wi AS item, CAST(SUM(n) AS BIGINT) AS wn FROM cw GROUP BY 1),
         |und AS (
         |  SELECT CASE WHEN wi < lo THEN wi ELSE lo END AS a,
         |         CASE WHEN wi < lo THEN lo ELSE wi END AS b,
         |         CAST(SUM(n) AS BIGINT) AS n
         |  FROM cw GROUP BY 1, 2),
         |adj AS (SELECT a AS i, b AS j, n FROM und
         |        UNION ALL SELECT b, a, n FROM und),
         |items AS (SELECT DISTINCT i AS item FROM adj),
         |cmp AS (SELECT i AS item, CAST(SUM(n) AS BIGINT) AS comparisons
         |        FROM adj GROUP BY 1),
         |p0 AS (SELECT item, $S // (SELECT COUNT(1) FROM items) AS s FROM items),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT it.item, CAST(COALESCE(w.wn, 0) AS BIGINT) AS wins,
         |       cmp.comparisons, CAST(p3.s AS BIGINT) AS strength_fp,
         |       CAST(row_number() OVER (ORDER BY p3.s DESC, it.item) AS INTEGER) AS rank
         |FROM items it JOIN p3 ON p3.item = it.item
         |              JOIN cmp ON cmp.item = it.item
         |              LEFT JOIN wins w ON w.item = it.item
         |ORDER BY it.item""".stripMargin
    },

    // Tie pinning mirrored: chosen = lowest id among max-score rows,
    // rejected = lowest id among min-score rows.
    "q_pref_pairs" ->
      """WITH d AS (
        |  SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS s
        |  FROM documents WHERE n_chars IS NOT NULL),
        |g AS (SELECT source, COUNT(1) AS n, MAX(s) AS mx, MIN(s) AS mn
        |      FROM d GROUP BY 1),
        |ch AS (SELECT d.source, MIN(doc_id) AS chosen_id
        |       FROM d JOIN g USING (source) WHERE d.s = g.mx GROUP BY 1),
        |rj AS (SELECT d.source, MIN(doc_id) AS rejected_id
        |       FROM d JOIN g USING (source) WHERE d.s = g.mn GROUP BY 1)
        |SELECT g.source, chosen_id, rejected_id, mx AS chosen_score,
        |       mn AS rejected_score, mx - mn AS margin, n
        |FROM g JOIN ch USING (source) JOIN rj USING (source)
        |WHERE n >= 2 AND chosen_id <> rejected_id AND mx - mn >= 50.0
        |ORDER BY source""".stripMargin,

    // HUGEINT moment sums (scale 2 = cents, exact); r's double tree
    // mirrored term for term from the exact sums.
    "q_corr" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      def f(c: String) = s"CAST(FLOOR($c * 100.0) AS HUGEINT)"
      val pairs = for (i <- cols.indices; j <- cols.indices if i < j) yield (i, j)
      val moments = pairs.map { case (i, j) =>
        val (x, y) = (cols(i), cols(j))
        val m = s"$x IS NOT NULL AND $y IS NOT NULL"
        s"""SELECT '$x' AS col_a, '$y' AS col_b,
           |  CAST(SUM(CASE WHEN $m THEN 1 ELSE 0 END) AS BIGINT) AS n,
           |  CAST(SUM(CASE WHEN $m THEN ${f(x)} END) AS DOUBLE) AS sx,
           |  CAST(SUM(CASE WHEN $m THEN ${f(y)} END) AS DOUBLE) AS sy,
           |  CAST(SUM(CASE WHEN $m THEN ${f(x)} * ${f(y)} END) AS DOUBLE) AS sxy,
           |  CAST(SUM(CASE WHEN $m THEN ${f(x)} * ${f(x)} END) AS DOUBLE) AS sxx,
           |  CAST(SUM(CASE WHEN $m THEN ${f(y)} * ${f(y)} END) AS DOUBLE) AS syy
           |FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH p AS (
         |$moments),
         |v AS (
         |  SELECT col_a, col_b, n,
         |         CAST(n AS DOUBLE) * sxy - sx * sy AS covn,
         |         CAST(n AS DOUBLE) * sxx - sx * sx AS vx,
         |         CAST(n AS DOUBLE) * syy - sy * sy AS vy
         |  FROM p)
         |SELECT col_a, col_b, n,
         |       CASE WHEN n > 1 AND vx > 0.0 AND vy > 0.0
         |            THEN covn / sqrt(vx * vy) END AS r
         |FROM v ORDER BY col_a, col_b""".stripMargin
    },

    // Exact HUGEINT keep fractions; survival = the shardShuffle LCG
    // mirrored with ((x % m) + m) % m.
    "q_dist_match" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(n_chars AS BIGINT) // 100 AS bucket,
        |         regexp_matches(source, '^src[0-9]$') AS isa
        |  FROM documents),
        |s AS (SELECT bucket, COUNT(1) AS sb FROM d WHERE isa GROUP BY 1),
        |t AS (SELECT bucket, COUNT(1) AS tb FROM d WHERE NOT isa GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(SUM(sb) AS HUGEINT) FROM s) AS st,
        |               (SELECT CAST(SUM(tb) AS HUGEINT) FROM t) AS tt),
        |ratio AS (
        |  SELECT s.bucket,
        |         (CAST(tb AS HUGEINT) * st * 1000000) // (CAST(sb AS HUGEINT) * tt) AS r
        |  FROM s JOIN t USING (bucket), tot),
        |mx AS (SELECT MAX(r) AS m FROM ratio),
        |keep AS (SELECT bucket, CAST((r * 1000000) // m AS BIGINT) AS keep_fp
        |         FROM ratio, mx)
        |SELECT d.doc_id, d.bucket, k.keep_fp
        |FROM d JOIN keep k USING (bucket)
        |WHERE isa AND
        |  ((((((doc_id % 2147483648) + 2147483648) % 2147483648) * 1103515245 + 77)
        |    % 2147483648 + 2147483648) % 2147483648) % 1000000 < k.keep_fp
        |ORDER BY d.doc_id""".stripMargin,

    // The langid CTE is q_langid's oracle verbatim (carrying source);
    // kappa reduces to the single integer ratio
    // (n·agree − Σrow·col)/(n² − Σrow·col).
    "q_kappa" -> {
      s"""WITH t AS (
         |  SELECT source, lang AS gold,
         |         list_filter(regexp_split_to_array(lower(trim(text)), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |pd AS MATERIALIZED (
         |${langidPdSql("source, gold")}),
         |conf AS MATERIALIZED (
         |  SELECT source, gold, pred, COUNT(1) AS n FROM pd GROUP BY 1, 2, 3),
         |rm AS (SELECT source, gold AS k, SUM(n) AS rn FROM conf GROUP BY 1, 2),
         |cm AS (SELECT source, pred AS k, SUM(n) AS cn FROM conf GROUP BY 1, 2),
         |pe AS (SELECT source, CAST(SUM(CAST(rn AS HUGEINT) * cn) AS BIGINT) AS pe_num
         |       FROM rm JOIN cm USING (source, k) GROUP BY 1),
         |b AS (SELECT source, CAST(SUM(n) AS BIGINT) AS n,
         |             CAST(SUM(CASE WHEN gold = pred THEN n ELSE 0 END) AS BIGINT) AS agree
         |      FROM conf GROUP BY 1)
         |SELECT b.source, n, agree, pe_num,
         |       CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |       CAST(pe_num AS DOUBLE) / CAST(CAST(n AS HUGEINT) * n AS DOUBLE) AS pe,
         |       CASE WHEN CAST(n AS HUGEINT) * n <> pe_num
         |            THEN CAST(CAST(n AS HUGEINT) * agree - pe_num AS DOUBLE)
         |                 / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE) END AS kappa
         |FROM b JOIN pe USING (source) ORDER BY b.source""".stripMargin
    },

    // McNemar replay: the q_kappa langid CTE provides model A, the
    // contains-'the' heuristic model B over the same letter-split
    // tokens; exact cell counts, identical pinned chi2 division.
    "q_mcnemar" -> {
      s"""WITH t AS (
         |  SELECT source, lang = 'en' AS gold,
         |         list_filter(regexp_split_to_array(lower(trim(text)), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |pd AS MATERIALIZED (
         |${langidPdSql("source, gold, toks")}),
         |m AS (
         |  SELECT source,
         |         (pred = 'en') = gold AS ca,
         |         list_contains(toks, 'the') = gold AS cb
         |  FROM pd),
         |agg AS (
         |  SELECT source, COUNT(1) AS n,
         |    CAST(SUM(CASE WHEN ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
         |    CAST(SUM(CASE WHEN ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS a_only,
         |    CAST(SUM(CASE WHEN NOT ca AND cb THEN 1 ELSE 0 END) AS BIGINT) AS b_only,
         |    CAST(SUM(CASE WHEN NOT ca AND NOT cb THEN 1 ELSE 0 END) AS BIGINT) AS neither
         |  FROM m GROUP BY 1)
         |SELECT source, n, both_right, a_only, b_only, neither,
         |       CASE WHEN a_only + b_only > 0 THEN
         |         CAST(CAST(a_only - b_only AS HUGEINT) * (a_only - b_only) AS DOUBLE)
         |           / CAST(a_only + b_only AS DOUBLE) END AS chi2
         |FROM agg ORDER BY source""".stripMargin
    },

    // Gwet AC1 replay: the q_kappa confusion pass, category totals from
    // a full-outer marginal rollup, the exact HUGEINT chance numerator
    // S = Σ tc·(2n − tc) against its 4n²(C−1) denominator, identical
    // pinned po/pe/ac1 doubles.
    "q_gwet_ac1" -> {
      s"""WITH t AS (
         |  SELECT source, lang AS gold,
         |         list_filter(regexp_split_to_array(lower(trim(text)), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |pd AS MATERIALIZED (
         |${langidPdSql("source, gold")}),
         |conf AS MATERIALIZED (
         |  SELECT source, gold, pred, COUNT(1) AS n FROM pd GROUP BY 1, 2, 3),
         |rm AS (SELECT source, gold AS k, SUM(n) AS rn FROM conf GROUP BY 1, 2),
         |cm AS (SELECT source, pred AS k, SUM(n) AS cn FROM conf GROUP BY 1, 2),
         |cats AS (
         |  SELECT COALESCE(rm.source, cm.source) AS source,
         |         CAST(COALESCE(rn, 0) AS HUGEINT) + COALESCE(cn, 0) AS tc
         |  FROM rm FULL OUTER JOIN cm ON rm.source = cm.source AND rm.k = cm.k),
         |b AS MATERIALIZED (
         |  SELECT source, CAST(SUM(n) AS BIGINT) AS n,
         |         CAST(SUM(CASE WHEN gold = pred THEN n ELSE 0 END) AS BIGINT) AS agree
         |  FROM conf GROUP BY 1),
         |pa AS (
         |  SELECT cats.source, COUNT(1) AS n_cats,
         |         SUM(tc * (2 * CAST(b.n AS HUGEINT) - tc)) AS s
         |  FROM cats JOIN b USING (source) GROUP BY 1),
         |f AS (
         |  SELECT b.source, n, agree, n_cats, s,
         |         CAST(4 AS HUGEINT) * n * n * (n_cats - 1) AS peden
         |  FROM b JOIN pa ON pa.source = b.source)
         |SELECT source, n, agree, CAST(n_cats AS BIGINT) AS n_cats,
         |       CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
         |       CASE WHEN n_cats > 1 THEN CAST(s AS DOUBLE) / CAST(peden AS DOUBLE) END AS pe,
         |       CASE WHEN n_cats > 1 AND peden <> s THEN
         |         (CAST(agree AS DOUBLE) / CAST(n AS DOUBLE)
         |            - CAST(s AS DOUBLE) / CAST(peden AS DOUBLE))
         |           / (1.0 - CAST(s AS DOUBLE) / CAST(peden AS DOUBLE)) END AS ac1
         |FROM f ORDER BY source""".stripMargin
    },

    // Three UNION ALL rater streams; every Fleiss numerator/denominator
    // an exact HUGEINT sum; kappa = (A·T² − D·S)/(D·(T² − S)).
    // ROUGE-L closed forms (both families capped at the first 1000
    // tokens, below rougeL's 1024, so the cap never engages): even
    // pair_ids keep positions p % 3 <> 2 of the real token stream —
    // a subsequence, LCS = n − n//3 = |cand|; odd pair_ids block-swap
    // n DISTINCT synthetic tokens — order flips between the halves, so
    // LCS = max(⌈n/2⌉, ⌊n/2⌋) = n − n//2 < |cand| = n. P/R/F replay
    // the identical pinned double sequence over those integers.
    "q_rouge_l" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n0
        |  FROM documents),
        |c AS (SELECT doc_id, LEAST(n0, 1000) AS n FROM t),
        |b AS (
        |  SELECT doc_id * 2 AS pair_id, n - n // 3 AS lcs, n - n // 3 AS n_cand, n AS n_ref FROM c
        |  UNION ALL
        |  SELECT doc_id * 2 + 1, n - n // 2, n, n FROM c),
        |s AS (
        |  SELECT pair_id, lcs, n_cand, n_ref,
        |         CASE WHEN n_cand > 0 THEN CAST(lcs AS DOUBLE) / CAST(n_cand AS DOUBLE) END AS p,
        |         CASE WHEN n_ref > 0 THEN CAST(lcs AS DOUBLE) / CAST(n_ref AS DOUBLE) END AS r
        |  FROM b)
        |SELECT pair_id, lcs, n_cand, n_ref,
        |       p AS rouge_l_p, r AS rouge_l_r,
        |       CASE WHEN p IS NOT NULL AND r IS NOT NULL AND (p + r) > 0.0
        |            THEN 2.0 * p * r / (p + r)
        |            WHEN p IS NOT NULL AND r IS NOT NULL THEN 0.0 END AS rouge_l_f
        |FROM s ORDER BY pair_id""".stripMargin,

    // Krippendorff replay: identical rule raters, per-item 1e9 fixed-
    // point //(m−1) disagreement, HUGEINT marginals, the same pinned
    // D_o / D_e / alpha double sequence.
    "q_krippendorff" ->
      """WITH r AS (
        |  SELECT doc_id, lang AS v FROM documents
        |  UNION ALL
        |  SELECT doc_id, CASE WHEN n_chars % 2 = 0 THEN lang ELSE 'und' END
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, lang FROM documents WHERE doc_id % 3 <> 0),
        |cnt AS MATERIALIZED (
        |  SELECT doc_id, v, COUNT(1) AS c FROM r WHERE v IS NOT NULL GROUP BY 1, 2),
        |pi AS MATERIALIZED (
        |  SELECT doc_id, SUM(c) AS m, SUM(c * (c - 1)) AS eq
        |  FROM cnt GROUP BY 1 HAVING SUM(c) >= 2),
        |it AS (
        |  SELECT COUNT(1) AS n_items, CAST(SUM(m) AS HUGEINT) AS t,
        |         CAST(SUM(((m * (m - 1) - eq) * 1000000000) // (m - 1)) AS HUGEINT) AS dofp
        |  FROM pi),
        |marg AS (
        |  SELECT CAST(COALESCE(SUM(CAST(nc AS HUGEINT) * nc), 0) AS HUGEINT) AS s
        |  FROM (SELECT SUM(c) AS nc FROM cnt JOIN pi USING (doc_id) GROUP BY v))
        |SELECT n_items, CAST(t AS BIGINT) AS n_ratings,
        |  CASE WHEN t >= 2 THEN
        |    CAST(dofp AS DOUBLE) / (CAST(t AS DOUBLE) * 1000000000.0) END AS d_o,
        |  CASE WHEN t >= 2 THEN
        |    CAST(t * t - s AS DOUBLE) / CAST(t * (t - 1) AS DOUBLE) END AS d_e,
        |  CASE WHEN t >= 2 AND (t * t - s) > 0 THEN
        |    1.0 - (CAST(dofp AS DOUBLE) / (CAST(t AS DOUBLE) * 1000000000.0))
        |        / (CAST(t * t - s AS DOUBLE) / CAST(t * (t - 1) AS DOUBLE)) END AS alpha
        |FROM it CROSS JOIN marg""".stripMargin,

    "q_fleiss" -> {
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         list_filter(regexp_split_to_array(lower(trim(text)), '[^\\p{L}]+'), x -> len(x) > 0) AS toks
         |  FROM documents),
         |pd AS MATERIALIZED (
         |${langidPdSql("doc_id, lang")}),
         |rt AS (SELECT doc_id, lang AS cat FROM pd
         |       UNION ALL SELECT doc_id, pred FROM pd
         |       UNION ALL SELECT doc_id,
         |         CASE WHEN doc_id % 7 = 0 THEN 'und' ELSE lang END FROM pd),
         |cnt AS MATERIALIZED (
         |  SELECT doc_id, cat, COUNT(1) AS n FROM rt GROUP BY 1, 2),
         |pi AS (SELECT doc_id, SUM(CAST(n AS HUGEINT) * n) AS sq, SUM(n) AS m
         |       FROM cnt GROUP BY 1),
         |ia AS (SELECT CAST(COUNT(1) AS BIGINT) AS n_items,
         |              CAST(SUM(m) AS BIGINT) AS n_ratings,
         |              CAST(SUM(sq - m) AS BIGINT) AS a_num,
         |              CAST(SUM(CAST(m AS HUGEINT) * (m - 1)) AS BIGINT) AS d_num
         |       FROM pi),
         |ca AS (SELECT CAST(SUM(CAST(cc AS HUGEINT) * cc) AS BIGINT) AS s_num
         |       FROM (SELECT cat, SUM(n) AS cc FROM cnt GROUP BY 1))
         |SELECT n_items, n_ratings, a_num, d_num, s_num,
         |       CASE WHEN d_num > 0
         |            THEN CAST(a_num AS DOUBLE) / CAST(d_num AS DOUBLE) END AS pbar,
         |       CAST(s_num AS DOUBLE)
         |         / CAST(CAST(n_ratings AS HUGEINT) * n_ratings AS DOUBLE) AS pbar_e,
         |       CASE WHEN d_num > 0 AND
         |                 CAST(d_num AS HUGEINT) * (CAST(n_ratings AS HUGEINT) * n_ratings - s_num) <> 0
         |            THEN CAST(CAST(a_num AS HUGEINT) * (CAST(n_ratings AS HUGEINT) * n_ratings)
         |                      - CAST(d_num AS HUGEINT) * s_num AS DOUBLE)
         |                 / CAST(CAST(d_num AS HUGEINT) * (CAST(n_ratings AS HUGEINT) * n_ratings - s_num) AS DOUBLE)
         |       END AS kappa
         |FROM ia, ca""".stripMargin
    },

    // Gram STRINGS on both engines (no hash floor); parallel
    // unnest(range(...)) generates gram starts; the only libm term (the
    // brevity penalty's exp) is rounded to 9 decimals on both sides.
    "q_bleu" ->
      """WITH base AS MATERIALIZED (
        |  SELECT doc_id,
        |    string_split(trim(regexp_replace(lower(
        |      regexp_replace(text, '(?i)\b(the|and|of|to|in|is|that|it|for|was)\b', ' ', 'g')),
        |      '\s+', ' ', 'g')), ' ') AS cw,
        |    string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS rw
        |  FROM documents),
        |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
        |cg AS MATERIALIZED (
        |  SELECT doc_id, n, g, COUNT(1) AS cc FROM (
        |    SELECT doc_id, n, cw, unnest(range(1, len(cw) - n + 2)) AS i
        |    FROM base CROSS JOIN ns) s
        |  CROSS JOIN LATERAL (SELECT array_to_string(cw[i:i+n-1], ' ') AS g) x
        |  GROUP BY 1, 2, 3),
        |rg AS MATERIALIZED (
        |  SELECT doc_id, n, g, COUNT(1) AS rc FROM (
        |    SELECT doc_id, n, rw, unnest(range(1, len(rw) - n + 2)) AS i
        |    FROM base CROSS JOIN ns) s
        |  CROSS JOIN LATERAL (SELECT array_to_string(rw[i:i+n-1], ' ') AS g) x
        |  GROUP BY 1, 2, 3),
        |m AS (SELECT n, CAST(SUM(LEAST(cc, rc)) AS BIGINT) AS matches
        |      FROM cg JOIN rg USING (doc_id, n, g) GROUP BY 1),
        |tot AS (SELECT n,
        |          CAST(SUM(GREATEST(len(cw) - n + 1, 0)) AS BIGINT) AS cand_ngrams,
        |          CAST(SUM(GREATEST(len(rw) - n + 1, 0)) AS BIGINT) AS ref_ngrams
        |        FROM base CROSS JOIN ns GROUP BY 1),
        |ov AS (SELECT tot.n, COALESCE(matches, 0) AS matches, cand_ngrams, ref_ngrams,
        |         CASE WHEN cand_ngrams > 0
        |              THEN CAST(COALESCE(matches, 0) AS DOUBLE) / CAST(cand_ngrams AS DOUBLE) END AS p
        |       FROM tot LEFT JOIN m USING (n)),
        |wide AS (
        |  SELECT MAX(CASE WHEN n = 1 THEN cand_ngrams END) AS cand_tokens,
        |         MAX(CASE WHEN n = 1 THEN ref_ngrams END) AS ref_tokens,
        |         MAX(CASE WHEN n = 1 THEN matches END) AS m1,
        |         MAX(CASE WHEN n = 2 THEN matches END) AS m2,
        |         MAX(CASE WHEN n = 3 THEN matches END) AS m3,
        |         MAX(CASE WHEN n = 4 THEN matches END) AS m4,
        |         MAX(CASE WHEN n = 1 THEN p END) AS p1,
        |         MAX(CASE WHEN n = 2 THEN p END) AS p2,
        |         MAX(CASE WHEN n = 3 THEN p END) AS p3,
        |         MAX(CASE WHEN n = 4 THEN p END) AS p4
        |  FROM ov),
        |w2 AS (
        |  SELECT *,
        |    CASE WHEN cand_tokens > 0 THEN
        |      CASE WHEN cand_tokens >= ref_tokens THEN 1.0
        |           ELSE exp(1.0 - CAST(ref_tokens AS DOUBLE) / CAST(cand_tokens AS DOUBLE)) END
        |    END AS bp_raw
        |  FROM wide)
        |SELECT cand_tokens, ref_tokens, m1, m2, m3, m4, p1, p2, p3, p4,
        |       ROUND(bp_raw, 9) + 0.0 AS bp,
        |       CASE WHEN cand_tokens > 0 THEN
        |         CASE WHEN p1 > 0.0 AND p2 > 0.0 AND p3 > 0.0 AND p4 > 0.0
        |              THEN ROUND(bp_raw * sqrt(sqrt(p1 * p2 * p3 * p4)), 9) + 0.0
        |              ELSE 0.0 END
        |       END AS bleu
        |FROM w2""".stripMargin,

    // Per-dim float min/max are exact data values; codes, the integer
    // asymmetric weights, and both fixed-point outputs replay exactly.
    "q_sq8" ->
      """WITH ex AS MATERIALIZED (
        |  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS d,
        |         unnest(CAST(embedding AS DOUBLE[])) AS x
        |  FROM embeddings),
        |st AS MATERIALIZED (SELECT d, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY d),
        |c AS MATERIALIZED (
        |  SELECT vec_id, ex.d, x, mn, mx,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE GREATEST(-128, LEAST(127,
        |           CAST(FLOOR((x - mn) * (255.0 / (mx - mn)) + 0.5) AS BIGINT) - 128)) END AS code
        |  FROM ex JOIN st ON ex.d = st.d),
        |q AS (SELECT d, x AS qx FROM ex WHERE vec_id = 0),
        |w AS (SELECT st.d,
        |        CASE WHEN mx = mn THEN 0
        |             ELSE CAST(FLOOR(qx / (255.0 / (mx - mn)) * 16777216.0) AS BIGINT) END AS wfp
        |      FROM st JOIN q ON st.d = q.d),
        |sc AS (SELECT vec_id, CAST(SUM(wfp * (code + 128)) AS BIGINT) AS score_fp
        |       FROM c JOIN w ON c.d = w.d GROUP BY 1),
        |er AS (SELECT vec_id,
        |         CAST(FLOOR(MAX(CASE WHEN mx = mn THEN ABS(x - mn)
        |                             ELSE ABS(x - (mn + (code + 128) / (255.0 / (mx - mn)))) END)
        |                    * 1000000000.0) AS BIGINT) AS err_fp
        |       FROM c GROUP BY 1)
        |SELECT sc.vec_id, score_fp, err_fp
        |FROM sc JOIN er ON sc.vec_id = er.vec_id
        |ORDER BY score_fp DESC, sc.vec_id LIMIT 50""".stripMargin,

    "q_ldiversity" ->
      """SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS value_band,
        |       COUNT(1) AS n, COUNT(DISTINCT user_id) AS l,
        |       COUNT(1) < 150 AS k_violation,
        |       COUNT(DISTINCT user_id) < 60 AS l_violation
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // t-closeness replay: the bounded groups x cohorts grid, HUGEINT
    // cumulative (c·N − C·n) per group in cohort order, Σ|cum|, the
    // identical pinned EMD division, and the strict integer violation
    // comparison at t = 1/20.
    "q_tcloseness" ->
      """WITH b AS MATERIALIZED (
        |  SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS value_band,
        |         user_id % 8 AS v
        |  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
        |gv AS MATERIALIZED (
        |  SELECT event_type, value_band, v, COUNT(1) AS c FROM b GROUP BY 1, 2, 3),
        |grp AS MATERIALIZED (
        |  SELECT event_type, value_band, SUM(c) AS n FROM gv GROUP BY 1, 2),
        |gl AS MATERIALIZED (SELECT v, SUM(c) AS cg FROM gv GROUP BY 1),
        |tt AS (SELECT CAST(SUM(cg) AS HUGEINT) AS nn, COUNT(1) AS m FROM gl),
        |grid AS (
        |  SELECT g.event_type, g.value_band, g.n, gl.v, gl.cg, tt.nn, tt.m,
        |         COALESCE(x.c, 0) AS c
        |  FROM grp g CROSS JOIN gl CROSS JOIN tt
        |  LEFT JOIN gv x ON x.event_type = g.event_type
        |                AND x.value_band = g.value_band AND x.v = gl.v),
        |cum AS (
        |  SELECT *, SUM(CAST(c AS HUGEINT) * nn - CAST(cg AS HUGEINT) * n)
        |    OVER (PARTITION BY event_type, value_band ORDER BY v
        |          ROWS UNBOUNDED PRECEDING) AS cu
        |  FROM grid),
        |agg AS (
        |  SELECT event_type, value_band, MAX(n) AS n, MAX(nn) AS nn,
        |         MAX(m) AS m, SUM(ABS(cu)) AS s
        |  FROM cum GROUP BY 1, 2)
        |SELECT event_type, value_band, CAST(n AS BIGINT) AS n,
        |  CASE WHEN m > 1
        |       THEN CAST(s AS DOUBLE) / CAST(CAST(n AS HUGEINT) * nn * (m - 1) AS DOUBLE)
        |       ELSE 0.0 END AS emd,
        |  CASE WHEN m > 1
        |       THEN s * 20 > CAST(1 AS HUGEINT) * (CAST(n AS HUGEINT) * nn * (m - 1))
        |       ELSE FALSE END AS t_violation
        |FROM agg ORDER BY event_type, value_band""".stripMargin,

    "q_kanon_suppress" ->
      """WITH g AS (
        |  SELECT event_type, CAST(FLOOR(value / 10.0) AS BIGINT) AS value_band
        |  FROM events GROUP BY 1, 2
        |  HAVING COUNT(1) >= 150 AND COUNT(DISTINCT user_id) >= 60)
        |SELECT e.event_id, e.event_type,
        |       CAST(FLOOR(e.value / 10.0) AS BIGINT) AS value_band
        |FROM events e
        |JOIN g ON e.event_type = g.event_type
        |      AND CAST(FLOOR(e.value / 10.0) AS BIGINT) = g.value_band
        |ORDER BY e.event_id""".stripMargin,

    // Pseudonymization replay: DuckDB's md5 produces the identical
    // lowercase hex over the identical salted concat; NULLs stay NULL.
    "q_pseudonymize" ->
      """SELECT c.c_custkey,
        |       CASE WHEN c.c_name IS NOT NULL
        |            THEN md5('graft-release-2024:' || c.c_name) END AS c_name,
        |       CASE WHEN c.c_nationkey IS NOT NULL
        |            THEN md5('graft-release-2024:' || CAST(c.c_nationkey AS VARCHAR))
        |       END AS c_nationkey,
        |       c.c_mktsegment
        |FROM customer c ORDER BY c.c_custkey""".stripMargin,

    // Plain overlap predicate — the bucket machinery must be invisible
    // in the result.
    "q_overlap_join" ->
      """WITH a AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS a_day,
        |         MIN(ts) AS a_start, MAX(ts) + INTERVAL 1 SECOND AS a_end
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS b_day,
        |         MIN(ts) AS b_start, MAX(ts) + INTERVAL 1 SECOND AS b_end
        |  FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT a.user_id, a_day, b_day, a_start, a_end, b_start, b_end
        |FROM a JOIN b ON a.user_id = b.user_id
        |             AND a_start < b_end AND b_start < a_end
        |ORDER BY a.user_id, a_day, b_day""".stripMargin,

    // The q_bm25 per-term replay once per query over the shared token
    // CTE, relevance expressed arithmetically (doc_id % 7 = q_id),
    // per-query top-15 then a stable global order.
    "q_hard_neg" -> {
      val qs = Seq(1L -> Seq("spark", "vector"), 2L -> Seq("merge", "spark"),
        3L -> Seq("data", "model"))
      def one(q: Long, terms: Seq[String]): String = {
        val tfs = terms.zipWithIndex.map { case (t, i) =>
          s"len(list_filter(t, x -> x = '$t')) AS tf$i" }.mkString(", ")
        val dfs = terms.indices.map(i =>
          s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
        val score = terms.indices.map(i =>
          s"""CAST(FLOOR(ln(1.0 + (CAST(s.n - s.df$i AS DOUBLE) + 0.5) / (CAST(s.df$i AS DOUBLE) + 0.5))
             | * (CAST(d.tf$i AS DOUBLE) * (1.2 + 1.0))
             | / (CAST(d.tf$i AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75 * (CAST(d.dl AS DOUBLE) / (CAST(s.sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))))) * 1e8) AS BIGINT)""".stripMargin)
          .mkString("\n    + ")
        val matched = terms.indices.map(i =>
          s"(CASE WHEN d.tf$i > 0 THEN 1 ELSE 0 END)").mkString(" + ")
        s"""(SELECT CAST($q AS BIGINT) AS q_id, doc_id, score_fp FROM (
           |  SELECT d.doc_id,
           |    $score AS score_fp,
           |    $matched AS matched
           |  FROM (SELECT doc_id, len(t) AS dl, $tfs FROM toks) d CROSS JOIN
           |       (SELECT COUNT(*) AS n, CAST(SUM(dl) AS BIGINT) AS sumdl, $dfs
           |        FROM (SELECT len(t) AS dl, $tfs FROM toks)) s) x
           | WHERE matched > 0 AND doc_id % 7 <> $q
           | ORDER BY score_fp DESC, doc_id LIMIT 15)""".stripMargin
      }
      s"""WITH toks AS MATERIALIZED (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))), '\\s+'),
         |                     x -> len(x) > 0) AS t
         |  FROM documents)
         |SELECT * FROM (
         |${qs.map { case (q, ts) => one(q, ts) }.mkString("\nUNION ALL\n")}
         |) u ORDER BY q_id, score_fp DESC, doc_id""".stripMargin
    },

    // The q_perplexity LM replay verbatim, then the DoReMi rollup:
    // half-up integer domain means, excess clamped at the corpus mean,
    // softmax over floor(exp(.)*1e9) integers.
    "q_doremi" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |vocab AS MATERIALIZED (
        |  SELECT token FROM (
        |    SELECT unnest(t) AS token FROM toks WHERE lang = 'en')
        |  WHERE length(token) > 0
        |  GROUP BY token ORDER BY COUNT(1) DESC, token LIMIT 1000),
        |big AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         unnest(t[1:len(t)-1]) AS w1r, unnest(t[2:len(t)]) AS w2r
        |  FROM toks WHERE len(t) >= 2),
        |bigm AS MATERIALIZED (
        |  SELECT b.doc_id, b.lang,
        |         CASE WHEN v1.token IS NULL THEN chr(1) ELSE b.w1r END AS w1,
        |         CASE WHEN v2.token IS NULL THEN chr(1) ELSE b.w2r END AS w2
        |  FROM big b
        |  LEFT JOIN vocab v1 ON b.w1r = v1.token
        |  LEFT JOIN vocab v2 ON b.w2r = v2.token),
        |c12 AS MATERIALIZED (
        |  SELECT w1, w2, COUNT(1) AS c12 FROM bigm WHERE lang = 'en' GROUP BY w1, w2),
        |c1 AS MATERIALIZED (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY w1),
        |vsz AS (SELECT COUNT(1) + 1.0 AS v FROM vocab),
        |nll AS (
        |  SELECT b.doc_id,
        |         CAST(floor(-ln((COALESCE(c12.c12, 0) + 0.5) /
        |                        (COALESCE(c1.c1, 0) + 0.5 * vsz.v)) * 1e8) AS BIGINT) AS nllf
        |  FROM bigm b
        |  LEFT JOIN c12 ON b.w1 = c12.w1 AND b.w2 = c12.w2
        |  LEFT JOIN c1 ON b.w1 = c1.w1
        |  CROSS JOIN vsz),
        |agg AS (
        |  SELECT doc_id, COUNT(1) AS n_bigrams,
        |         CAST(CAST((CAST(SUM(nllf) AS BIGINT) + COUNT(1) * 5000)
        |                    // (COUNT(1) * 10000) AS DECIMAL(20,0)) * 0.0001 AS DOUBLE) AS avg_nll
        |  FROM nll GROUP BY doc_id),
        |dom AS (
        |  SELECT d.source, COUNT(1) AS n_docs,
        |         CAST(SUM(a.n_bigrams) AS BIGINT) AS tokens,
        |         CAST(SUM(CAST(a.n_bigrams AS HUGEINT) *
        |                   CAST(FLOOR(a.avg_nll * 10000.0 + 0.5) AS BIGINT)) AS HUGEINT) AS w4
        |  FROM documents d JOIN agg a USING (doc_id)
        |  WHERE a.n_bigrams > 0
        |  GROUP BY 1),
        |tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t, CAST(SUM(w4) AS HUGEINT) AS s FROM dom),
        |x AS (
        |  SELECT source, n_docs, tokens,
        |         CAST((w4 + tokens // 2) // tokens AS BIGINT) AS nll_x1e4,
        |         GREATEST(CAST((w4 + tokens // 2) // tokens AS BIGINT)
        |                  - CAST((s + t // 2) // t AS BIGINT), 0) AS excess_x1e4
        |  FROM dom, tot),
        |e AS (SELECT *, CAST(FLOOR(exp(1.0 * excess_x1e4 / 10000.0) * 1000000000.0) AS BIGINT) AS e_fp
        |      FROM x),
        |nz AS (SELECT CAST(SUM(e_fp) AS BIGINT) AS se, COUNT(1) AS k FROM e)
        |SELECT source, n_docs, tokens, nll_x1e4, excess_x1e4, e_fp,
        |       CAST(e_fp AS DOUBLE) / CAST(se AS DOUBLE) AS weight,
        |       (1.0 - 0.2) * (CAST(e_fp AS DOUBLE) / CAST(se AS DOUBLE))
        |         + 0.2 / CAST(k AS DOUBLE) AS weight_smoothed
        |FROM e, nz ORDER BY source""".stripMargin,

    "q_snapshot_diff" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |  FROM orders),
        |n AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 10.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM o WHERE o_orderkey % 101 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
        |  FROM o WHERE o_orderkey % 103 = 0)
        |SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |       CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |            WHEN n.o_orderkey IS NULL THEN 'removed'
        |            WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |                      AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
        |            THEN 'changed' END AS change,
        |       o.o_orderstatus AS old_o_orderstatus,
        |       o.o_totalprice AS old_o_totalprice,
        |       n.o_orderstatus AS new_o_orderstatus,
        |       n.o_totalprice AS new_o_totalprice
        |FROM o FULL JOIN n ON o.o_orderkey = n.o_orderkey
        |WHERE (CASE WHEN o.o_orderkey IS NULL THEN 'added'
        |            WHEN n.o_orderkey IS NULL THEN 'removed'
        |            WHEN NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
        |                      AND o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice)
        |            THEN 'changed' END) IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    // Risk sets and ln-sum survival over the same sequential
    // (time-sorted) window order; survival rounded to 9 decimals both
    // sides; d = n times pin survival to exactly 0.
    "q_kaplan_meier" ->
      """WITH subj AS (
        |  SELECT event_type,
        |         CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS BIGINT) AS t,
        |         (MAX(ts) < TIMESTAMP '2024-01-24 00:00:00') AS e
        |  FROM events GROUP BY user_id, event_type),
        |counts AS (
        |  SELECT event_type, t,
        |         CAST(SUM(CASE WHEN e THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |         CAST(SUM(CASE WHEN e THEN 0 ELSE 1 END) AS BIGINT) AS c
        |  FROM subj GROUP BY 1, 2),
        |x AS (
        |  SELECT *,
        |    SUM(d + c) OVER (PARTITION BY event_type)
        |      - COALESCE(SUM(d + c) OVER (PARTITION BY event_type ORDER BY t
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
        |  FROM counts),
        |y AS (
        |  SELECT *,
        |    SUM(CASE WHEN d > 0 AND d < n_at_risk
        |             THEN ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE))
        |             ELSE 0.0 END)
        |      OVER (PARTITION BY event_type ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lns,
        |    MAX(CASE WHEN d = n_at_risk THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY event_type ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
        |  FROM x)
        |SELECT event_type, t, d, c, CAST(n_at_risk AS BIGINT) AS n_at_risk,
        |       CASE WHEN dead = 1 THEN 0.0 ELSE ROUND(exp(lns), 9) + 0.0 END AS survival
        |FROM y ORDER BY event_type, t""".stripMargin,

    // Log-rank replay: the same subject table split by user parity,
    // at-risk counts off the cumulative windows, each U/V term ONE
    // division of exact integer numerators, totals folded in time
    // order via list_reduce (the brier convention).
    "q_logrank" ->
      """WITH subj AS MATERIALIZED (
        |  SELECT event_type,
        |         CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS arm,
        |         CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS BIGINT) AS t,
        |         (MAX(ts) < TIMESTAMP '2024-01-24 00:00:00') AS e
        |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id, event_type),
        |counts AS MATERIALIZED (
        |  SELECT event_type, t,
        |         CAST(SUM(CASE WHEN arm = 'even' AND e THEN 1 ELSE 0 END) AS BIGINT) AS d_a,
        |         CAST(SUM(CASE WHEN arm = 'odd' AND e THEN 1 ELSE 0 END) AS BIGINT) AS d_b,
        |         CAST(SUM(CASE WHEN arm = 'even' THEN 1 ELSE 0 END) AS BIGINT) AS tot_a,
        |         CAST(SUM(CASE WHEN arm = 'odd' THEN 1 ELSE 0 END) AS BIGINT) AS tot_b
        |  FROM subj GROUP BY 1, 2),
        |risky AS (
        |  SELECT *, d_a + d_b AS d, n_a + n_b AS n FROM (
        |    SELECT *,
        |      SUM(tot_a) OVER (PARTITION BY event_type)
        |        - COALESCE(SUM(tot_a) OVER (PARTITION BY event_type ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_a,
        |      SUM(tot_b) OVER (PARTITION BY event_type)
        |        - COALESCE(SUM(tot_b) OVER (PARTITION BY event_type ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_b
        |    FROM counts)
        |  WHERE d_a + d_b > 0 AND n_a + n_b > 1),
        |terms AS (
        |  SELECT event_type, t,
        |    CAST(CAST(d_a AS HUGEINT) * n - CAST(d AS HUGEINT) * n_a AS DOUBLE)
        |      / CAST(n AS DOUBLE) AS u_t,
        |    CAST(d AS DOUBLE) * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |      * CAST(n_a AS DOUBLE) / CAST(n AS DOUBLE)
        |      * CAST(n_b AS DOUBLE) / CAST(n AS DOUBLE) AS v_t
        |  FROM risky),
        |folded AS (
        |  SELECT event_type,
        |         list_reduce(list_prepend(0.0, list(u_t ORDER BY t)), (a, b) -> a + b) AS u,
        |         list_reduce(list_prepend(0.0, list(v_t ORDER BY t)), (a, b) -> a + b) AS v
        |  FROM terms GROUP BY 1),
        |tot AS (
        |  SELECT event_type,
        |         CAST(SUM(CASE WHEN arm = 'even' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(SUM(CASE WHEN arm = 'odd' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(SUM(CASE WHEN arm = 'even' AND e THEN 1 ELSE 0 END) AS BIGINT) AS events_a,
        |         CAST(SUM(CASE WHEN arm = 'odd' AND e THEN 1 ELSE 0 END) AS BIGINT) AS events_b
        |  FROM subj GROUP BY 1)
        |SELECT tot.event_type, n_a, n_b, events_a, events_b, u, v,
        |       CASE WHEN v > 0.0 THEN u * u / v END AS chi2,
        |       CASE WHEN v > 0.0 THEN u / sqrt(v) END AS z
        |FROM tot LEFT JOIN folded USING (event_type)
        |ORDER BY event_type""".stripMargin,

    // The stamped-path window formulation mirrored; truncating credit
    // division; the _direct aggregate needs its HAVING because an
    // ungrouped aggregate emits a zero row where Spark's groupBy on an
    // empty input emits none.
    "q_attribution" ->
      """WITH st AS (
        |  SELECT user_id, ts, event_type, event_type = 'purchase' AS conv,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_type
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM events),
        |st2 AS MATERIALIZED (
        |  SELECT *, CASE WHEN conv THEN cum ELSE cum + 1 END AS path FROM st),
        |nc AS (SELECT user_id, MAX(cum) AS nconv FROM st2 WHERE conv GROUP BY 1),
        |tch AS MATERIALIZED (
        |  SELECT st2.* FROM st2 JOIN nc USING (user_id)
        |  WHERE NOT conv AND path <= nconv),
        |rk AS (
        |  SELECT *, COUNT(1) OVER (PARTITION BY user_id, path) AS k,
        |         ROW_NUMBER() OVER (PARTITION BY user_id, path ORDER BY ts, event_type) AS pos
        |  FROM tch),
        |cr AS (
        |  SELECT event_type, user_id, path,
        |    CASE WHEN k = 1 THEN 1000000 WHEN k = 2 THEN 500000
        |         WHEN pos = 1 OR pos = k THEN 400000
        |         ELSE 200000 // (k - 2) END AS credit
        |  FROM rk),
        |att AS (
        |  SELECT event_type, CAST(COUNT(1) AS BIGINT) AS touches,
        |         CAST(COUNT(DISTINCT (user_id, path)) AS BIGINT) AS conversions,
        |         CAST(SUM(credit) AS BIGINT) AS credit_fp
        |  FROM cr GROUP BY 1),
        |dr AS (
        |  SELECT '_direct' AS event_type, CAST(COUNT(1) AS BIGINT) AS touches,
        |         CAST(COUNT(1) AS BIGINT) AS conversions,
        |         CAST(COUNT(1) * 1000000 AS BIGINT) AS credit_fp
        |  FROM st2 c
        |  WHERE conv AND NOT EXISTS (SELECT 1 FROM tch
        |                             WHERE tch.user_id = c.user_id AND tch.path = c.path)
        |  HAVING COUNT(1) > 0)
        |SELECT * FROM att UNION ALL SELECT * FROM dr ORDER BY event_type""".stripMargin,

    // The q_nb_classify train->score replay through `joint`, then the
    // exact-LONG best/runner-up margin and bottom-k selection.
    "q_active_select" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, lang,
        |         regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |tokf AS MATERIALIZED (
        |  SELECT doc_id, lang, w FROM (
        |    SELECT doc_id, lang, unnest(t) AS w FROM toks)
        |  WHERE length(w) > 0),
        |vocab AS MATERIALIZED (
        |  SELECT w AS token FROM tokf
        |  GROUP BY w ORDER BY COUNT(1) DESC, w LIMIT 1000),
        |mapped AS MATERIALIZED (
        |  SELECT f.doc_id, f.lang,
        |         CASE WHEN v.token IS NULL THEN chr(1) ELSE f.w END AS w
        |  FROM tokf f LEFT JOIN vocab v ON f.w = v.token),
        |counts AS MATERIALIZED (
        |  SELECT lang AS label, w, COUNT(1) AS c FROM mapped GROUP BY 1, 2),
        |totals AS MATERIALIZED (SELECT label, SUM(c) AS tot FROM counts GROUP BY 1),
        |vsz AS (SELECT COUNT(1) + 1.0 AS v FROM vocab),
        |priors AS MATERIALIZED (
        |  SELECT lang AS label,
        |         CAST(floor(ln(COUNT(1) / (SELECT CAST(COUNT(1) AS DOUBLE) FROM documents)) * 1e8) AS BIGINT) AS priorf
        |  FROM documents GROUP BY 1),
        |scored AS MATERIALIZED (
        |  SELECT m.doc_id, p.label,
        |         CAST(floor(ln((COALESCE(c.c, 0) + 0.5) / (t.tot + 0.5 * vsz.v)) * 1e8) AS BIGINT) AS lpf
        |  FROM mapped m
        |  CROSS JOIN priors p
        |  JOIN totals t ON t.label = p.label
        |  LEFT JOIN counts c ON c.label = p.label AND c.w = m.w
        |  CROSS JOIN vsz),
        |joint AS MATERIALIZED (
        |  SELECT s.doc_id, s.label, SUM(lpf) + p.priorf AS jointf
        |  FROM scored s JOIN priors p USING (label)
        |  GROUP BY s.doc_id, s.label, p.priorf),
        |mx AS (SELECT doc_id, MAX(jointf) AS mj FROM joint GROUP BY 1),
        |best AS (
        |  SELECT j.doc_id, MIN(j.label) AS label, j.jointf AS mj
        |  FROM joint j JOIN mx ON j.doc_id = mx.doc_id AND j.jointf = mx.mj
        |  GROUP BY j.doc_id, j.jointf),
        |sec AS (
        |  SELECT j.doc_id, MAX(j.jointf) AS m2
        |  FROM joint j JOIN mx ON j.doc_id = mx.doc_id
        |  WHERE j.jointf < mx.mj GROUP BY 1)
        |SELECT b.doc_id, b.label,
        |       CAST(b.mj - COALESCE(s.m2, b.mj) AS BIGINT) AS margin_fp
        |FROM best b LEFT JOIN sec s USING (doc_id)
        |ORDER BY margin_fp, b.doc_id LIMIT 100""".stripMargin
  )
}
