package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import graft.functions.{MinHashSignature, MinHashTextSignature, SignatureAgreement, SimHash64, SimHashText, TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines. None of these
  * exist in the reference (its dedup story is "write pks, upsert replaces
  * them" — `lib/forklift/transports/mysql.rb:78-87`); they are the
  * scale-path additions SURVEY.md §7.1 `ext/` calls for.
  *
  * Scale design notes (100 TB):
  *  - exact dedup shuffles an 8-byte fingerprint, never the document text;
  *  - MinHash/SimHash sketches are computed by native single-pass codegen
  *    expressions ([[graft.functions.SketchOps]]) — one tokenize+hash pass
  *    per row, not one per hash bit;
  *  - every near-dup family (xxhash64 MinHash, md5 replayable MinHash,
  *    SimHash/hamming chunks, hyperplane embedding tables, semantic
  *    clusters) is sketch → band explode into a BANDED FRAME — one row
  *    per (doc, bucket): `_id`, the payload its verify rule reads, the
  *    bucket key columns — followed by one of three core operations:
  *    [[pairs]] (in-bucket pair explode → (id_a, id_b, score) → keep →
  *    distinct where a doc lands in several buckets), [[probe]] (delta
  *    bands ⋈ a persisted index on the bucket key) and [[dedup]] (drop
  *    the delta docs the probe verifies against the index, then the
  *    greater id of each verified in-bucket pair of the rest);
  *  - candidate generation is join-free: one shuffle of (bucket, id,
  *    payload) rows into [[bucketPairs]], no self-join, no distinct over
  *    corpus-scale intermediates, no persist barriers to babysit;
  *  - degenerate buckets (pathological near-identical content) are capped
  *    by `maxBucketSize` so no single task can go quadratic — the pairs
  *    such buckets would contribute are exact-dup shaped and belong to
  *    [[exact]] anyway.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Input-parallelism guard: a corpus read from a handful of large
    * files (or one) plans a handful of tasks and leaves the per-row
    * sketch work nearly serial. Re-spread it across the cluster before
    * the compute-heavy stage — one narrow shuffle of raw rows, a no-op
    * at real scale where inputs already have thousands of splits.
    *
    * Decided from the physical plan, never by running it: an input
    * whose plan holds an exchange (AQE-wrapped) or a subquery is always
    * re-spread — `queryExecution.toRdd` on such a plan runs every
    * upstream shuffle stage (and subquery) just to report a partition
    * count, outside any SQL execution, and the real job then runs them
    * again; and AQE coalesces a small shuffle to one partition at run
    * time, so the planned count says nothing anyway. Only an
    * exchange-free input (a scan, a checkpoint) reads its split count,
    * which `toRdd` computes without a job. */
  private def ensureParallel(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val planned = df.queryExecution.executedPlan
    val shuffled = planned.isInstanceOf[AdaptiveSparkPlanExec] ||
      planned.exists(p => p.isInstanceOf[Exchange] || p.subqueries.nonEmpty)
    // toRdd, not .rdd: .rdd stacks a row-deserializer plan on every
    // dedup entry point just to read a partition count (VERDICT r9 minor #4)
    if (shuffled || df.queryExecution.toRdd.getNumPartitions < math.max(2, target / 2))
      df.repartition(target)
    else df
  }

  /** Keep the lowest-`idCol` row per value of `_fp` — the skew-safe
    * shape shared by [[exact]] and [[exactAgainst]]: a per-fingerprint
    * `row_number()` window funnels EVERY copy of a hot fingerprint
    * (empty/boilerplate docs — 10⁹ copies at 100 TB) into one task,
    * whereas `groupBy(fp).agg(min(id))` collapses each map task to one
    * (fp, id) pair per distinct fingerprint BEFORE the shuffle (partial
    * HashAggregate — a `min_by(row, …)` variant would carry a struct
    * buffer and fall out of hash aggregation into SortAggregate), and
    * the left-semi join back on the composite (fp, id) key distributes
    * hot-fingerprint probe rows across tasks. Same winners, no funnel —
    * the [[lineDedup]] recipe.
    *
    * The final dropDuplicates guards the duplicated-id edge (id =
    * content hash ingested twice): every copy of the winning (fp, id)
    * pair survives the semi-join, and a dedup operator must still emit
    * ONE row per fingerprint. It is an aggregate, not a window — a
    * hyper-common winner's copies collapse map-side before the
    * exchange. */
  private def keepMinIdPerFingerprint(withFp: DataFrame, idCol: String): DataFrame = {
    val winners = withFp.groupBy(col("_fp")).agg(min(col(idCol)).as(idCol))
    withFp.join(winners, Seq("_fp", idCol), "left_semi")
      .dropDuplicates("_fp")
  }

  /** Exact dedup: keep the lowest-`idCol` row per normalized-text
    * fingerprint. Hash-groupBy + semi-join, shuffling only
    * (fingerprint, id) pairs into the winner set — see
    * [[keepMinIdPerFingerprint]] for why this is not a window. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    keepMinIdPerFingerprint(
      df.withColumn("_fp", TextFunctions.fingerprint(col(textCol))), idCol)
      .drop("_fp")

  /** The 8-byte fingerprint index of a corpus — what [[exactAgainst]]
    * and [[incrementalExact]] dedup deltas against. One column `fp`,
    * distinct; at 100 TB the index is ~10⁻⁴ of the corpus bytes. */
  def fingerprintIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(TextFunctions.fingerprint(col(textCol)).as("fp")).distinct()

  /** Incremental exact dedup, read-only form: keep the delta rows whose
    * normalized text (a) does not appear in the corpus fingerprint index
    * and (b) is the first occurrence (lowest id) within the delta
    * itself. The corpus contributes 8-byte fingerprints only — its text
    * is never read, so a daily tick costs O(delta + index), not
    * O(corpus). */
  def exactAgainst(delta: DataFrame, textCol: String, idCol: String,
                   corpusFingerprints: DataFrame, fpCol: String = "fp"): DataFrame = {
    val withFp = delta.withColumn("_fp", TextFunctions.fingerprint(col(textCol)))
    val unseen = withFp
      .join(corpusFingerprints.select(col(fpCol).as("_fp")).distinct(),
        Seq("_fp"), "left_anti")
    keepMinIdPerFingerprint(unseen, idCol).drop("_fp")
  }

  /** Index-maintaining form: dedup `delta` against the fingerprint
    * index persisted as `indexTable` in `conn` (created on first tick),
    * then append the survivors' fingerprints — absent from the index and
    * one per fingerprint by construction. Re-running the same delta is
    * a no-op (its fingerprints are in the index) — replay-idempotent
    * like the incremental pipes. Returns the surviving rows. */
  def incrementalExact(delta: DataFrame, textCol: String, idCol: String,
                       conn: graft.sources.Connector, indexTable: String): DataFrame =
    incrementalIndex(conn, indexTable, _ => ())(
      _.fold(exact(delta, textCol, idCol))(exactAgainst(delta, textCol, idCol, _)))(
      (kept, _) => fingerprintIndex(kept, textCol))

  /** The one index lifecycle behind [[incrementalExact]],
    * [[incrementalMinhash]], [[incrementalEmbedding]] and
    * [[incrementalChunks]]: (1) `dedup` the delta — in batch when
    * `indexTable` is absent (None), else against its rows; (2)
    * checkpoint the survivors, severing lineage BEFORE the index write
    * (a lazy result re-evaluated after it would see its own index rows
    * and dedup itself to nothing); (3) hand them to `sink` BEFORE the
    * index learns the batch; (4) create the index from, or append,
    * `indexRows(survivors, index)` — the survivors' rows the index does
    * not hold yet. */
  private def incrementalIndex(conn: graft.sources.Connector, indexTable: String,
                               sink: DataFrame => Unit)(
                               dedup: Option[DataFrame] => DataFrame)(
                               indexRows: (DataFrame, Option[DataFrame]) => DataFrame): DataFrame = {
    val index = if (conn.tables.contains(indexTable)) Some(conn.read(indexTable)) else None
    val kept = dedup(index).localCheckpoint(true)
    sink(kept)
    val rows = indexRows(kept, index)
    if (index.isEmpty) conn.write(rows, indexTable)
    else conn.write(rows, indexTable, org.apache.spark.sql.SaveMode.Append)
    kept
  }

  /** Word n-gram shingles of the normalized text (lowercase, whitespace
    * collapsed) as an array column — the input unit for MinHash/Jaccard.
    * Docs with fewer than `n` tokens yield an EMPTY array: `sequence` with
    * start > stop produces a descending range, so the short-doc case must
    * be guarded explicitly or slice(toks, 0, n) throws at runtime. */
  def shingles(c: Column, n: Int = 3): Column = {
    val toks = split(TextFunctions.normalizeForFingerprint(c), " ")
    val count = size(toks) - (n - 1)
    when(count <= 0, array().cast(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)))
      .otherwise(transform(sequence(lit(1), count),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** MinHash signature via the native single-pass expression: one
    * xxhash64 per shingle, `numHashes` universal-hash permutations folded
    * with min in the same pass. Empty shingle sets get Long.MaxValue
    * sentinels (two empty docs DO collide — by design: they are exact
    * dups of each other). */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 64): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(shinglesCol), numHashes))

  /** MinHash signature FUSED from raw text: normalize → token byte
    * spans → in-place shingle hashing, one expression. Bit-identical to
    * `minhashSignature(shingles(c, n))` (the shingle strings ARE
    * contiguous spans of the normalized text) but with no split array,
    * no per-shingle string, and — decisively — no higher-order
    * `transform` lambda: HOFs are CodegenFallback, and the composed form
    * was dropping the whole signature projection out of whole-stage
    * codegen. This is the hot path for corpus-scale dedup.
    *
    * Sole divergence: an EMPTY document yields sentinel signatures here
    * (no tokens) where the composed form with shingleLen=1 hashed one
    * empty token — under both, empty docs collide only with each other,
    * the intended semantics. */
  def minhashSignatureText(c: Column, shingleLen: Int = 3, numHashes: Int = 64): Column =
    ColumnBridge.column(MinHashTextSignature(
      ColumnBridge.expression(TextFunctions.normalizeForFingerprint(c)), shingleLen, numHashes))

  /** 64-bit SimHash over word tokens — fused token-span hashing on the
    * normalized text (seed-42 xxhash64 per token, bit votes, sign →
    * bit); no intermediate token array.
    *
    * Divergence from the old `SimHash64(split(...))` composition: an
    * EMPTY document yields 0L here (no tokens vote) where the split form
    * hashed one empty token. Under both, empty docs collide only with
    * each other (hamming 0) — the intended semantics — pinned by a
    * spec. */
  def simhash(c: Column): Column =
    ColumnBridge.column(SimHashText(
      ColumnBridge.expression(TextFunctions.normalizeForFingerprint(c))))

  /** Rows of `df` whose bucket (the `keys` value) holds at least
    * `minSize` and at most `maxSize` rows (`maxSize <= 0`: no upper
    * bound) — the one bucket cap of every index and pairing path.
    * groupBy-count + semi-join, never a window, so a billion-row bucket
    * never lands in one task. */
  private def capBuckets(df: DataFrame, keys: Seq[String], maxSize: Int,
                         minSize: Int = 1): DataFrame = {
    val fits = (if (minSize > 1) Seq(col("_bc") >= minSize) else Nil) ++
      (if (maxSize > 0) Seq(col("_bc") <= maxSize) else Nil)
    if (fits.isEmpty) df
    else df.join(df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_bc"))
      .filter(fits.reduce(_ && _)).select(keys.map(col): _*), keys, "left_semi")
  }

  /** The fewest agreeing signature positions `k` with
    * `k / numHashes >= threshold` (numHashes + 1 when none): the
    * early-exit verdict equals the est_jaccard threshold test, since
    * c / numHashes is exact for c ≤ 64 under the identical double
    * comparison. */
  private def minAgreement(numHashes: Int, threshold: Double): Int =
    (0 to numHashes).find(k => k.toDouble / numHashes >= threshold)
      .getOrElse(numHashes + 1)

  /** Generic join-free LSH candidate pairing: explode each row into
    * (bucketKey parts, payload), group by bucket, emit all in-bucket
    * pairs (i &lt; j positions) via the native
    * [[graft.functions.InBucketPairs]] generator — no self-join, no
    * corpus-scale distinct, no interpreted nested-lambda explode.
    * Buckets larger than `maxBucketSize` are dropped: they are
    * degenerate (near-identical content that exact dedup owns) and would
    * otherwise make one task quadratic. Returns one row per (pair,
    * bucket) occurrence — callers dedup AFTER the cheap pair-level
    * filter. `maxBucketSize <= 0`: no upper bound. */
  private[operators] def bucketPairs(exploded: DataFrame, bucketCols: Seq[String],
                                     idCol: String, payloadCol: String,
                                     maxBucketSize: Int): DataFrame = {
    val items = collect_list(struct(col(idCol).as("i"), col(payloadCol).as("p"))).as("items")
    val grouped = exploded.groupBy(bucketCols.map(col): _*).agg(items)
      .filter(size(col("items")) >= 2 &&
        (if (maxBucketSize > 0) size(col("items")) <= maxBucketSize else lit(true)))
    grouped.select(ColumnBridge.column(graft.functions.InBucketPairs(
      ColumnBridge.expression(col("items")))).as(Seq("ia", "ib", "pa", "pb")))
  }

  /** A banded frame: one row per (doc, bucket) — the doc's `_id`, the
    * `payload` column its verify rule reads, and the `buckets` key
    * columns. A persisted index of a family is its banded frame (bucket
    * cap applied), so [[probe]] joins the two on the same names. */
  private final case class Banded(df: DataFrame, buckets: Seq[String], payload: String)

  /** The one pair tail: in-bucket pairs of `b` as (id_a = least,
    * id_b = greatest, `score(pa, pb)`) kept where `keep` holds.
    * `distinct` dedups a pair found in several buckets — callers pass it
    * only when a doc lands in more than one (bands, tables, chunks); the
    * score is a pure function of the pair, so the copies are equal. */
  private def pairs(b: Banded, maxBucketSize: Int, distinct: Boolean)(
                    score: (Column, Column) => Column, keep: Column): DataFrame = {
    val out = bucketPairs(b.df, b.buckets, "_id", b.payload, maxBucketSize)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), score(col("pa"), col("pb")))
      .filter(keep)
    if (distinct) out.distinct() else out
  }

  /** The one index probe: delta bands ⋈ `index` (the family's banded
    * frame, persisted) on the bucket columns — one row per colliding
    * (delta doc, corpus doc, bucket): `_did`, `_dp`, `_cid`, `_cp`
    * (ids and payloads). Cost: O(delta × bands) probe rows; the corpus
    * is touched only through its index.
    *
    * Join-strategy trade at 100 TB: for a typical daily tick the probe
    * side is far under the broadcast threshold and AQE's runtime size
    * estimate broadcasts it — the index is then scanned in place, never
    * shuffled. For a BULK delta that exceeds broadcast size, the
    * fallback shuffle join moves the index once (sketch-sized for
    * MinHash, vector-sized for embeddings — quantize upstream when that
    * matters). No explicit broadcast() hint on purpose: forcing it would
    * OOM exactly on the bulk case the fallback exists for. */
  private def probe(b: Banded, index: DataFrame): DataFrame =
    b.df.withColumnsRenamed(Map("_id" -> "_did", b.payload -> "_dp"))
      .join(index.withColumnsRenamed(Map("_id" -> "_cid", b.payload -> "_cp")), b.buckets)
      .select(col("_did"), col("_dp"), col("_cid"), col("_cp"))

  /** The one against-then-within dedup of the rows `delta` (keyed by
    * `idCol`) over their banded frame `b`, `verdict(a, b)` being the
    * boolean verify rule over two payloads: (1) the delta ids [[probe]]
    * verifies against `index` (none when it is None); (2) over the SAME
    * banded subtree minus those ids, the greater id of each verified
    * in-bucket pair (greedy min-id policy; buckets over `maxBucketSize`
    * pair nothing); (3) `delta` anti-joined with both sets. Banding is
    * per-doc deterministic, so the remainder's bands are exactly `b`
    * minus the matched ids — one subtree lets ReuseExchange compute the
    * sketch once for the probe and the pairing. */
  private def dedup(delta: DataFrame, idCol: String, b: Banded, index: Option[DataFrame],
                    maxBucketSize: Int)(verdict: (Column, Column) => Column): DataFrame = {
    val matched = index.map(probe(b, _).filter(verdict(col("_dp"), col("_cp")))
      .select(col("_did").as(idCol)).distinct())
    val rest = matched.fold(b)(m =>
      b.copy(df = b.df.join(m.select(col(idCol).as("_id")), Seq("_id"), "left_anti")))
    val losers = pairs(rest, maxBucketSize, distinct = false)(
        (pa, pb) => verdict(pa, pb).as("_ok"), col("_ok"))
      .select(col("id_b").as(idCol)).distinct()
    matched.fold(delta)(delta.join(_, Seq(idCol), "left_anti"))
      .join(losers, Seq(idCol), "left_anti")
  }

  /** MinHash+LSH candidate pairs: signature → `bands` bands of
    * `rowsPerBand` hashes → hash each band → bucket → in-bucket pair
    * explode. Returns (idA, idB, estJaccard) with idA &lt; idB,
    * estJaccard = fraction of matching signature positions, filtered at
    * `threshold`.
    *
    * One shuffle: (band, bucket, id, signature) rows — the signature
    * (numHashes × 8 bytes) rides along once per band so the verify step
    * needs NO join back to a signature table. Linear in corpus size;
    * the only super-linear site (in-bucket pairing) is capped by
    * `maxBucketSize`. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        shingleLen: Int = 3, threshold: Double = 0.7,
                        maxBucketSize: Int = 2000): DataFrame =
    pairs(bandedSignatures(df, textCol, idCol, numHashes, bands, shingleLen),
      maxBucketSize, distinct = true)(estJaccard(numHashes), col("est_jaccard") >= threshold)

  /** Candidate pairing over a PRECOMPUTED signature column — the
    * band/bucket/pair/verify pipeline of [[minhashCandidates]] minus the
    * text sketch, for corpora whose signatures are already materialized
    * (a signature store, a cross-engine exchange format) — and the seam
    * that makes the LSH machinery oracle-checkable end-to-end: bucket
    * ids never appear in the output, and two rows share a bucket iff
    * their band SLICES are equal (64-bit band-hash collisions aside), so
    * an external engine can replay the pipeline from planted arithmetic
    * signatures by joining on slice equality (`q_minhash_banding`).
    * `sigCol` must be `array<long>` of length `numHashes`. */
  def minhashCandidatesFromSignatures(df: DataFrame, sigCol: Column, idCol: String,
                                      numHashes: Int, bands: Int,
                                      threshold: Double = 0.7,
                                      maxBucketSize: Int = 2000): DataFrame = {
    val sig = ensureParallel(df).select(col(idCol).as("_id"), sigCol.as("_sig"))
      // loud in-plan guard (ADVICE r10): a signature store whose arrays
      // don't match numHashes would silently slice wrong bands and wrong
      // est_jaccard denominators. assert_true is null when the predicate
      // holds, so the filter keeps every valid row; the first mismatched
      // (or null) signature kills the scan with the offending id.
      .filter(assert_true(size(col("_sig")) === numHashes,
        concat(lit(s"minhash signature length != $numHashes for id "),
          col("_id").cast("string"))).isNull)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    pairs(bandExplode(sig, numHashes, bands), maxBucketSize, distinct = true)(
      estJaccard(numHashes), col("est_jaccard") >= threshold)
  }

  /** `est_jaccard`: the fraction of agreeing signature positions. */
  private def estJaccard(numHashes: Int)(a: Column, b: Column): Column =
    (ColumnBridge.column(SignatureAgreement(ColumnBridge.expression(a),
      ColumnBridge.expression(b))).cast("double") / numHashes).as("est_jaccard")

  /** The MinHash dedup verdict: at least `minAgree` agreeing signature
    * positions ([[minAgreement]]) — an early-exit boolean where the
    * dedups need no est_jaccard value (r19), same pairs. */
  private def signaturesAgree(minAgree: Int)(a: Column, b: Column): Column =
    ColumnBridge.column(graft.functions.SignatureAgreementAtLeast(
      ColumnBridge.expression(a), ColumnBridge.expression(b), minAgree))

  /** Banded MinHash index of a corpus — the persisted side of
    * incremental NEAR-dup dedup ([[minhashAgainstIndex]]): one row per
    * (band, bucket) per doc with the signature riding along, sketch
    * bytes only (numHashes×8 per doc per band; the corpus text never
    * leaves its scan). Buckets larger than `maxBucketSize` are dropped
    * at build time — same degenerate-bucket semantics as the batch
    * candidates, and it keeps a hot bucket (every empty doc shares one)
    * from fanning out every future probe. The cap uses groupBy-count +
    * semi-join, not a window, so a billion-row bucket never lands in one
    * task. Probes MUST use the same (numHashes, bands, shingleLen). */
  def minhashIndex(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
                   maxBucketSize: Int = 2000): DataFrame = {
    capBuckets(bandedSignatures(df, textCol, idCol, numHashes, bands, shingleLen).df,
      Seq("_band", "_bucket"), maxBucketSize)
  }

  /** Incremental form of the periodic [[minhashIndex]] REBUILD over a
    * release (the maintenance tick, r20 — VERDICT r19 #4): recompute
    * band rows ONLY for released docs the index does not FULLY cover
    * (fewer than `bands` rows — the capped/stranded/half-indexed tail),
    * keep covered docs' rows as they stand, drop rows of docs no longer
    * released, and re-apply the GLOBAL bucket cap over the union.
    *
    * Row-equivalence to `minhashIndex(release)` (MinhashRebuildSpec
    * pins both paths): banding is per-doc deterministic, so a released
    * doc covered by exactly `bands` distinct-band rows contributes the
    * IDENTICAL row set either way (index rows are always a subset of
    * the doc's banding, produced under the same parameters — the
    * index's documented probe contract); the union is therefore the
    * same pre-cap row multiset, and the cap filter computes the same
    * bucket sizes. Returns None when the current index already IS that
    * rebuild — the rebuild row-equals it as a multiset — so the caller
    * can skip the O(index) rewrite outright. A doc the cap strands
    * (some of its buckets over the cap) is never covered and is
    * re-signed at every maintenance, but once its buckets stop
    * changing the rebuild equals the index and the skip fires.
    *
    * Cost: O(index sketch rows + uncovered docs' text) instead of
    * O(corpus text) — at corpus scale the rebuild stops re-shingling
    * the entire release to heal a takedown-sized stranded tail. The
    * settled check is one id-only probe job (every released doc
    * covered, no stray row, no over-cap bucket) and, only when that
    * fails, one aggregate over the rebuild and the index: rebuild rows
    * count +1, index rows −1, and any row whose sum is not 0 differs
    * (rows keyed by id, band, bucket and a 64-bit signature hash). */
  def minhashIndexIncremental(df: DataFrame, textCol: String, idCol: String,
                              index: DataFrame,
                              numHashes: Int = 64, bands: Int = 16,
                              shingleLen: Int = 3,
                              maxBucketSize: Int = 2000): Option[DataFrame] = {
    val idx = index.select(col("_id"), col("_sig"), col("_band"), col("_bucket"))
    // released ∩ covered, where covered = docs whose index rows are
    // exactly one row per band (the count AND distinct-band check also
    // rejects any duplicate-row corruption rather than trusting it)
    val coveredRel = idx.groupBy(col("_id"))
      .agg(count(lit(1)).as("_nr"), countDistinct(col("_band")).as("_nb"))
      .filter(col("_nr") === bands && col("_nb") === bands)
      .select(col("_id"))
      .join(df.select(col(idCol).as("_id")), Seq("_id"), "left_semi")
    // one id-only probe job: the index is its own rebuild when every
    // released doc is covered, no other doc has rows and no bucket is
    // over the cap — then no text is read and no signature computed
    val overCap = if (maxBucketSize <= 0) Nil
      else Seq(idx.groupBy(col("_band"), col("_bucket")).agg(count(lit(1)).as("_bc"))
        .filter(col("_bc") > maxBucketSize).select(lit(0L).as("_id")))
    val unsettled = (Seq(
      df.select(col(idCol).as("_id")).join(coveredRel, Seq("_id"), "left_anti"),
      idx.select(col("_id")).join(coveredRel, Seq("_id"), "left_anti")) ++ overCap)
      .reduce(_ unionByName _).head(1).nonEmpty
    if (!unsettled) return None
    // otherwise rebuild, and still skip when the rebuild row-equals the
    // index: docs the cap strands are never covered, yet once their
    // buckets stop changing the rebuild is the index again
    val needDocs = df.join(coveredRel.select(col("_id").as(idCol)), Seq(idCol), "left_anti")
    val fresh = bandedSignatures(needDocs, textCol, idCol, numHashes, bands, shingleLen).df
    def rebuild(rows: DataFrame => DataFrame): DataFrame =
      capBuckets(rows(idx).join(coveredRel, Seq("_id"), "left_semi").unionByName(rows(fresh)),
        Seq("_band", "_bucket"), maxBucketSize)
    // the compare carries each signature as its 8-byte hash: the
    // 512-byte arrays would make its shuffles ~10x the id/bucket bytes
    val narrow: DataFrame => DataFrame = _.select(col("_id"), col("_band"), col("_bucket"),
      xxhash64(col("_sig")).as("_sh"))
    val differs = rebuild(narrow).withColumn("_d", lit(1L))
      .unionByName(narrow(idx).withColumn("_d", lit(-1L)))
      .groupBy(col("_id"), col("_band"), col("_bucket"), col("_sh"))
      .agg(sum(col("_d")).as("_n"))
      .filter(col("_n") =!= 0L).head(1).nonEmpty
    if (differs) Some(rebuild(identity)) else None
  }

  /** The MinHash banded frame — (_id, _sig, _band, _bucket) rows —
    * shared by the batch and index paths so their banding is
    * bit-identical. */
  private def bandedSignatures(df: DataFrame, textCol: String, idCol: String,
                               numHashes: Int, bands: Int, shingleLen: Int): Banded = {
    // BARRIER between signature compute and banding: without an exchange,
    // CollapseProject merges the signature projection into the banding
    // one, re-evaluating the (expensive) signature expression once PER
    // BAND REFERENCE — measured 17× per row. The repartition moves only
    // (id, 8·numHashes-byte sig) rows, ~6% of the volume the banding
    // groupBy shuffles anyway, and pins single-evaluation.
    val sig = ensureParallel(df).select(col(idCol).as("_id"),
      minhashSignatureText(col(textCol), shingleLen, numHashes).as("_sig"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    bandExplode(sig, numHashes, bands)
  }

  /** (id, sig) → one (band, bucket) row per band; bucket = xxhash64 of
    * the band's signature slice. */
  private def bandExplode(sig: DataFrame, numHashes: Int, bands: Int): Banded = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    // band hashes as a STATIC array of slice+xxhash64 columns — a
    // `transform` lambda here would be CodegenFallback and push the
    // banding projection to interpreted eval
    val bandHashes = array((0 until bands).map(b =>
      xxhash64(lit(b), slice(col("_sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
    Banded(sig.select(col("_id"), col("_sig"),
      posexplode(bandHashes).as(Seq("_band", "_bucket"))), Seq("_band", "_bucket"), "_sig")
  }

  /** Incremental near-dup candidates: DELTA docs vs an already-indexed
    * corpus ([[minhashIndex]], same parameters). The delta is banded the
    * same way and [[probe]]d on (band, bucket); collisions verify by
    * exact signature agreement. Returns (delta_id, corpus_id,
    * est_jaccard) distinct pairs at `threshold`. */
  def minhashAgainstIndex(delta: DataFrame, textCol: String, idCol: String,
                          index: DataFrame, numHashes: Int = 64, bands: Int = 16,
                          shingleLen: Int = 3, threshold: Double = 0.7): DataFrame =
    probe(bandedSignatures(delta, textCol, idCol, numHashes, bands, shingleLen), index)
      .select(col("_did").as("delta_id"), col("_cid").as("corpus_id"),
        estJaccard(numHashes)(col("_dp"), col("_cp")))
      .filter(col("est_jaccard") >= threshold)
      .distinct()

  /** Incremental near-dup dedup tick: drop delta docs with a verified
    * corpus match, then near-dedup the remainder within itself
    * ([[dedup]] over one banded subtree — the signatures are computed
    * once per tick, r20). The in-delta bucket cap is 2000. */
  def minhashDedupAgainst(delta: DataFrame, textCol: String, idCol: String,
                          index: DataFrame, numHashes: Int = 64, bands: Int = 16,
                          shingleLen: Int = 3, threshold: Double = 0.7): DataFrame =
    minhashDedupOver(delta, textCol, idCol, Some(index), numHashes, bands, shingleLen, threshold)

  /** [[dedup]] of MinHash-banded `delta` against `index` when present. */
  private def minhashDedupOver(delta: DataFrame, textCol: String, idCol: String,
                               index: Option[DataFrame], numHashes: Int, bands: Int,
                               shingleLen: Int, threshold: Double): DataFrame =
    dedup(delta, idCol, bandedSignatures(delta, textCol, idCol, numHashes, bands, shingleLen),
      index, maxBucketSize = 2000)(signaturesAgree(minAgreement(numHashes, threshold)))

  /** Index-maintaining incremental NEAR-dup tick — the MinHash analog
    * of [[incrementalExact]]: dedup `delta` against the banded index
    * persisted as `indexTable` in `conn` (created on first tick), then
    * append the SURVIVORS' banded signatures. Replaying a batch is a
    * no-op: its docs are near-dups (est 1.0) of their own indexed
    * signatures and drop out before touching the index. Cost per tick:
    * O(delta × bands) probe join + sketch-only append — corpus text
    * never re-read. The per-tick bucket cap bounds each tick's
    * contribution; buckets can still grow ACROSS ticks, so periodically
    * rebuild via [[minhashIndex]] over the full corpus to re-cap (the
    * same periodic-batch-pass contract as the streaming exact dedup's
    * cross-horizon recall). Returns the surviving rows.
    *
    * CRASH-ORDERING CONTRACT: persist the survivors through `sink`,
    * which runs BEFORE the index learns the batch — never from the
    * returned DataFrame after the call. Once the index holds a batch's
    * signatures, a replay of that batch dedups to nothing; if the
    * crash hit between the index append and a caller-side write, the
    * batch's rows would be silently lost forever. With `sink` ordered
    * first (and an idempotent sink — an upsert by id), a crash on
    * either side of the index append replays safely. */
  def incrementalMinhash(delta: DataFrame, textCol: String, idCol: String,
                         conn: graft.sources.Connector, indexTable: String,
                         numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
                         threshold: Double = 0.7, maxBucketSize: Int = 2000,
                         sink: DataFrame => Unit = _ => ()): DataFrame =
    incrementalIndex(conn, indexTable, sink)(
      minhashDedupOver(delta, textCol, idCol, _, numHashes, bands, shingleLen, threshold))(
      (kept, _) => minhashIndex(kept, textCol, idCol, numHashes, bands, shingleLen, maxBucketSize))

  /** MinHash-LSH dedup: drop every doc that is a candidate-duplicate of a
    * lower-id doc (transitive chains collapse to the min root greedily —
    * one connected-components-free pass, the standard near-dup policy).
    * The loser of a pair is its greater id, exactly [[minhashCandidates]]'
    * id_b; the in-delta bucket cap is 2000. */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleLen: Int = 3, threshold: Double = 0.7): DataFrame =
    minhashDedupOver(df, textCol, idCol, None, numHashes, bands, shingleLen, threshold)

  /** Near-dup candidate pairs over ANY precomputed 64-bit
    * similarity-preserving hash column (SimHash of text, the image
    * aHash from [[Multimodal.decodeImage]], …): block on 4×16-bit
    * chunks (a pair within hamming distance ≤3 of 64 bits must agree on
    * ≥1 chunk — pigeonhole; recall above 3 is high but not guaranteed),
    * then verify hamming exactly via popcount — join-free, same capped
    * bucket-pair machinery as MinHash. Returns (id_a, id_b, hamming)
    * with id_a &lt; id_b. */
  def hammingNearDupPairs(df: DataFrame, hashCol: Column, idCol: String,
                          maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame = {
    // barrier for the same CollapseProject reason as minhashCandidates:
    // the chunk projection references the hash 5×; 16 bytes/row shuffled
    val withSim = ensureParallel(df).select(col(idCol).as("_id"), hashCol.as("_sim"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val chunked = withSim.select(col("_id"), col("_sim"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("_sim"), i * 16).bitwiseAND(0xffffL)): _*))
        .as(Seq("_chunk_idx", "_chunk")))
    pairs(Banded(chunked, Seq("_chunk_idx", "_chunk"), "_sim"), maxBucketSize, distinct = true)(
      (a, b) => bit_count(a.bitwiseXOR(b)).as("hamming"), col("hamming") <= maxHamming)
  }

  /** SimHash near-dup candidates over text — [[simhash]] fused into the
    * generic hamming pairing. */
  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3, maxBucketSize: Int = 2000): DataFrame =
    hammingNearDupPairs(df, simhash(col(textCol)), idCol, maxHamming, maxBucketSize)

  /** Exact n-gram Jaccard similarity pairs within a blocking key. The
    * quadratic verify is confined to blocks — block on language PLUS a
    * length bucket (near-dups have near-equal lengths), never language
    * alone: a whole-language block is quadratic in the corpus at scale.
    * See [[langLengthBlock]] for the recommended key.
    *
    * A blocking key SHRINKS blocks but cannot bound them — at 100 TB an
    * (en, 1000–1100 chars) block holds billions of docs and the
    * per-key join goes cartesian. So blocks larger than `maxBlockSize`
    * are dropped outright (groupBy-count + semi-join, the
    * [[minhashIndex]] cap shape — never a window), with a loud log of
    * how many blocks/docs were skipped: such blocks are
    * boilerplate-shaped and belong to [[exact]]/[[minhashCandidates]],
    * not an all-pairs verify. The guard is one column-pruned in-plan
    * aggregate over the block keys feeding the semi-join — LAZY, like
    * every other operator here (an eager dropped-count log ran an extra
    * job at call time even if the result was never executed — ADVICE
    * r9). Audit what a cap dropped with [[oversizedBlocks]]. Set
    * `maxBlockSize <= 0` to disable (test-only; oracled callers must
    * mirror the cap in their SQL). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        blockCol: Column, n: Int = 3, threshold: Double = 0.5,
                        maxBlockSize: Int = 10000): DataFrame = {
    val keyed = ensureParallel(df).select(col(idCol).as("_id"), blockCol.as("_block"),
      col(textCol).as("_text"))
    val bounded = capBuckets(keyed, Seq("_block"), maxBlockSize)
    // r19: native distinct-shingle + set-overlap expressions (same
    // values, codegen'd — see replayableMinhashPairs) in place of the
    // CodegenFallback transform/intersect/union lambda chain
    val prep = bounded.select(col("_id"), col("_block"),
      ColumnBridge.column(graft.functions.DistinctShingles(
        ColumnBridge.expression(TextFunctions.normalizeForFingerprint(col("_text"))),
        n)).as("_sh"))
    val l = prep.select(col("_block"), col("_id").as("id_a"), col("_sh").as("_sh_a"))
    val r = prep.select(col("_block"), col("_id").as("id_b"), col("_sh").as("_sh_b"))
    l.join(r, Seq("_block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), shingleJaccard(col("_sh_a"), col("_sh_b")))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact `jaccard` of two distinct-shingle arrays: |∩| natively,
    * |∪| = |a| + |b| − |∩| — the same double as
    * size(intersect)/size(union) without materializing either array. */
  private def shingleJaccard(a: Column, b: Column): Column = {
    val overlap = ColumnBridge.column(graft.functions.SetOverlap(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
    (overlap.cast("double") / (size(a) + size(b) - overlap)).as("jaccard")
  }

  /** Audit companion to [[ngramJaccardPairs]]'s block cap: the blocks a
    * given `maxBlockSize` WOULD drop, with their sizes — one
    * column-pruned aggregate, run it when a cap's drop rate matters
    * (the cap itself stays silent and lazy). */
  def oversizedBlocks(df: DataFrame, blockCol: Column,
                      maxBlockSize: Int): DataFrame =
    df.groupBy(blockCol.as("block")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBlockSize)

  /** REPLAYABLE MinHash-LSH near-dup pairs — the scale-safe DEFAULT
    * candidate generator for every externally-replayable pairing path
    * (cluster-aware splitting, the funnel's deterministic near-dedup),
    * replacing blocked all-pairs [[ngramJaccardPairs]] there
    * (VERDICT r14 #1: the exact form's lang+length blocks grow with the
    * CORPUS, so in-block pairing measured scaling exponent 1.99 at the
    * 10× stress point — a dead operator at 100×; LSH bucket occupancy
    * grows only with true near-dup density, measured 0.17).
    *
    * The trick that keeps it ORACLE-replayable where the xxhash64
    * sketch family ([[minhashCandidates]]) is not: the minhash
    * permutations are MD5 — `sig_i = min over shingles of
    * md5(utf8(i + ":" + shingle))` as a 32-char hex STRING (fixed
    * length, so lexicographic min = numeric min of the 128-bit value).
    * Spark's `md5` and DuckDB's `md5` both hash the UTF-8 bytes to the
    * same lowercase hex, so an external engine replays every bucket,
    * candidate, and verified pair bit-for-bit (`q_cluster_split`'s
    * oracle). MD5 costs more per shingle than xxhash64 — that is the
    * price of replayability; the sketch family stays the throughput
    * path when external replay doesn't matter.
    *
    * Banding is one-row-per-band (bucket = the i-th minhash itself):
    * recall for a true-Jaccard-J pair is 1 − (1−J)^numHashes (99.9% at
    * J = 0.6 with the default 8) — r = 1 maximizes recall and is safe
    * because every candidate is verified by EXACT Jaccard on the
    * shingle sets riding through the bucket explode, so false
    * candidates cost compute, never correctness. Degenerate buckets
    * (an i-th minhash shared corpus-wide — boilerplate's signature)
    * are dropped at `maxBucketSize`, the [[minhashCandidates]] cap
    * semantics: such content belongs to [[exact]] dedup. Docs whose
    * text is NULL never pair (no shingles).
    *
    * One shuffle of (band, bucket, id, shingle-set) rows — numHashes
    * copies of the distinct-token payload; linear in corpus size.
    * Output: (id_a, id_b, jaccard) with id_a < id_b and jaccard the
    * EXACT shingle-set Jaccard — a drop-in for [[ngramJaccardPairs]]
    * minus pairs LSH's 1−(1−J)^H recall misses. */
  def replayableMinhashPairs(df: DataFrame, textCol: String, idCol: String,
                             n: Int = 1, numHashes: Int = 8,
                             threshold: Double = 0.5,
                             maxBucketSize: Int = 2000): DataFrame = {
    require(numHashes >= 1 && numHashes <= 64,
      s"numHashes must be in [1, 64], got $numHashes")
    // r19 (guide §4): the composed shingle/banding chain was two layers
    // of higher-order lambdas (array_distinct∘transform, then one
    // transform per band) — CodegenFallback, so the whole projection
    // ran interpreted and each band's md5 paid a concat + hex string
    // per shingle. The native expressions compute the bit-identical
    // values (same md5 inputs, same lexicographic mins, same distinct
    // shingle sets — Md5LshExpressionsSpec pins parity) in one
    // codegen'd pass. The barrier repartition stays: the banding
    // projection references _sh, and the pairing groupBy would
    // otherwise re-evaluate the shingle scan per band reference.
    val prep = ensureParallel(df).select(col(idCol).as("_id"),
        ColumnBridge.column(graft.functions.DistinctShingles(
          ColumnBridge.expression(TextFunctions.normalizeForFingerprint(col(textCol))),
          n)).as("_sh"))
      // drop NULL-text and sub-n-token docs HERE, not downstream: an
      // empty shingle set would minhash to a null bucket (all short
      // docs colliding) and verify to 0/0 = NaN, which Spark's NaN
      // ordering treats as >= threshold while a replaying engine's
      // empty unnest produces no rows at all
      .filter(size(col("_sh")) > 0)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val bandHashes = ColumnBridge.column(graft.functions.Md5BandMins(
      ColumnBridge.expression(col("_sh")), numHashes))
    val banded = prep.select(col("_id"), col("_sh"),
      posexplode(bandHashes).as(Seq("_band", "_bucket")))
    pairs(Banded(banded, Seq("_band", "_bucket"), "_sh"), maxBucketSize, distinct = true)(
      shingleJaccard, col("jaccard") >= threshold)
  }

  /** Near-dup THRESHOLD SWEEP over the replayable-LSH verified pairs —
    * the readout that picks a dedup threshold instead of guessing it:
    * candidate pairs are generated once at a low floor (`minJaccard`),
    * exact-verified, and bucketed into 0.05-wide Jaccard bins; the
    * cumulative pairs-at-or-above curve is what a curator reads for the
    * knee ("0.8 → 12k pairs, 0.6 → 210k pairs — the corpus has a
    * boilerplate shelf at 0.65"). Built on
    * [[replayableMinhashPairs]], so the whole sweep — every md5 bucket,
    * every verified pair, every bin boundary (floor of the exact
    * intersection/union double, identical in any engine) — replays in
    * SQL (`q_threshold_sweep`). LSH recall fades toward the floor
    * (1 − (1−J)^numHashes; 97% at J = 0.35 with the default 8 — raise
    * `numHashes` to push the floor lower), which is fine for a KNEE
    * readout: the curve's shape, not its far-left tail, carries the
    * decision. One pair-generation pass; the bin rollup and the ≤20-row
    * cumulative window are bin-cardinality.
    *
    * Output: (bin, jaccard_lo, n_pairs, pairs_at_or_above), bin =
    * ⌊jaccard·20⌋ ascending. */
  def jaccardThresholdSweep(df: DataFrame, textCol: String, idCol: String,
                            n: Int = 3, numHashes: Int = 8,
                            minJaccard: Double = 0.3,
                            maxBucketSize: Int = 2000): DataFrame = {
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    val pairs = replayableMinhashPairs(df, textCol, idCol, n, numHashes,
      threshold = minJaccard, maxBucketSize = maxBucketSize)
    val bins = pairs
      .select(floor(col("jaccard") * lit(20.0)).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin").desc).rowsBetween(Long.MinValue, 0)
    bins
      .withColumn("pairs_at_or_above", sum(col("n_pairs")).over(w))
      .select(col("bin"), (col("bin").cast("double") / lit(20.0)).as("jaccard_lo"),
        col("n_pairs"), col("pairs_at_or_above"))
  }

  /** Connected components of a candidate-pair graph — the cluster
    * resolution step after any pairing family above. Pairs only say
    * "a ~ b"; duplicate GROUPS are transitive, so keeping one canonical
    * doc per group needs components, not pairs (the greedy
    * drop-the-higher-id policy in [[minhashDedup]] over-KEEPS when a
    * cluster's smaller member pairs only through a larger one — pairs
    * (1,3),(2,3) keep both 1 and 2 where the component keeps only 1).
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al. 2014, "Connected Components in MapReduce and
    * Beyond") — the 100 TB-safe choice: every round is two
    * groupBy-min + join passes over the EDGE set, so no component is
    * ever gathered into a single task (a `collect_set` or
    * message-to-hub formulation puts the largest component — in a dedup
    * graph, possibly millions of boilerplate docs — into one bucket).
    * Converges in O(log² n) rounds on adversarial graphs, 3–6 rounds on
    * real dedup graphs; each round's output is localCheckpoint'ed to
    * truncate the iterative lineage (at cluster scale set a
    * reliable `spark.sparkContext.setCheckpointDir` and swap the calls —
    * localCheckpoint trades executor-loss tolerance for speed).
    *
    * Returns (id, component) for every id APPEARING IN `pairs`, with
    * component = min id of its component; isolated docs never enter the
    * graph — callers coalesce to their own id (see `q_dedup_clusters`).
    * Oracled in SparkEntry against a DuckDB recursive-CTE transitive
    * closure over the identical pair set.
    *
    * When the (current) edge set has at most `localFinishEdges` edges
    * and ids are longs, the remaining rounds collapse into one exact
    * driver-side union-find — a bounded collect that replaces several
    * fixed-overhead shuffle rounds (see the comment at the check). */
  /** The RDD holding a localCheckpoint'ed Dataset's blocks (its analyzed
    * plan is a single [[org.apache.spark.sql.execution.LogicalRDD]]
    * leaf) — the only handle through which those blocks can be
    * explicitly unpersisted; `Dataset.unpersist` touches only the
    * CacheManager and is a no-op for checkpoints. */
  private[operators] def checkpointedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  def connectedComponents(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
                          maxIter: Int = 30, localFinishEdges: Int = 500000): DataFrame = {
    var edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    // each distributed round costs ~6 fixed-overhead shuffles + a
    // checkpoint job + a fixpoint aggregate REGARDLESS of edge count —
    // ~1.3 s/round on a 200-edge set (profiled at sf0.1). Once the
    // (possibly already star-contracted) edge set fits under
    // `localFinishEdges`, a driver union-find replaces every remaining
    // round: exact, one bounded collect (16 B/edge ⇒ 8 MB at the
    // default bound), and the node set is preserved because star
    // contraction never drops a non-root node. At 100 TB the capped
    // near-dup pair graph still contracts under any realistic bound
    // within 2–3 distributed rounds; set 0 to force all-distributed.
    val canLocal = localFinishEdges > 0 &&
      edges.schema.fields.forall(_.dataType == org.apache.spark.sql.types.LongType)
    def localFinish(e: DataFrame): DataFrame = {
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        while (parent.getOrDefault(x, x) != x) {
          val p = parent.get(x)
          parent.put(x, parent.getOrDefault(p, p)) // path halving
          x = parent.getOrDefault(x, x)
        }
        x
      }
      // union by MIN: the root is always the component minimum, so the
      // final resolve needs no second pass to pick representatives
      e.collect().foreach { r =>
        val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ru != rv) {
          if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      val it = parent.keySet().iterator()
      while (it.hasNext) { val n = it.next(); out += ((n, find(n))) }
      // roots self-map, mirroring the distributed output's union step
      out.map(_._2).distinct.foreach(rt => out += ((rt, rt)))
      val spark = pairs.sparkSession
      import spark.implicits._
      out.distinct.toSeq.toDF("id", "component")
    }
    // the block-manager handle behind the current checkpoint: Dataset
    // .unpersist only drops CacheManager entries, so a superseded
    // localCheckpoint's blocks stay pinned until driver GC + the
    // ContextCleaner notice the dead RDD — across iterations (and bench
    // reps) that accumulated gigabytes of dead edge sets (VERDICT r10:
    // q_dedup_clusters reps RISING 12.9→19.1 s). Unpersist the RDD
    // explicitly the moment its successor is materialized.
    var edgesRdd = checkpointedRdd(edges)
    var prev = (-1L, 0L)
    if (canLocal) {
      // the initial edge set may already fit the bound — one cheap agg
      // over the just-materialized checkpoint decides (and doubles as
      // the first fixpoint snapshot, saving a confirmation round)
      val r0 = edges.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      prev = (r0.getLong(0), if (r0.isNullAt(1)) 0L else r0.getLong(1))
      if (prev._1 <= localFinishEdges) {
        val res = localFinish(edges)
        edgesRdd.foreach(_.unpersist(false))
        return res
      }
    }
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: attach every neighbor LARGER than u to u's min
      // neighbor (including u itself) — breaks long chains in one hop
      val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy("u").agg(min(col("v")).as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("m"))
      // no distinct here: every large-star edge (v, m) already has v > m,
      // so `dir` below is the same set and its distinct dedups both steps
      // in one shuffle
      val large = und.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
      // small-star: orient large→small, attach all smaller neighbors
      // (and u itself) to the per-node min
      val dir = large.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val mins2 = dir.groupBy("u").agg(min(col("v")).as("m"))
      val next = dir.join(mins2, "u")
        .select(col("v").as("nu"), col("m").as("nv"))
        .union(mins2.select(col("u").as("nu"), col("m").as("nv")))
        .filter(col("nu") =!= col("nv")).distinct()
        .select(col("nu").as("u"), col("nv").as("v"))
        .localCheckpoint(true)
      // `next` is materialized (eager checkpoint) — the previous edge
      // set's blocks are now dead; free them before the next round
      val nextRdd = checkpointedRdd(next)
      edgesRdd.foreach(_.unpersist(false))
      edgesRdd = nextRdd
      // fixpoint test on (count, order-free hash) of the edge set — one
      // cheap aggregate, no exceptAll over the full set
      val r = next.agg(count(lit(1)), bit_xor(xxhash64(col("u"), col("v")))).head()
      val chk = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      converged = chk == prev
      prev = chk
      edges = next
      iter += 1
      if (!converged && canLocal && chk._1 <= localFinishEdges) {
        // contracted under the bound: a driver union-find replaces the
        // remaining rounds (exact — see localFinish above)
        val res = localFinish(edges)
        edgesRdd.foreach(_.unpersist(false))
        return res
      }
    }
    // a capped-out run may hold HALF-contracted components — wrong
    // cluster ids, silently. Fail loudly instead; star contraction
    // converges in O(log² n) rounds, so a legitimate graph never gets
    // near the default cap.
    if (!converged) {
      edgesRdd.foreach(_.unpersist(false))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    }
    // at fixpoint every edge is (node → component root); roots self-map
    edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")))
      .groupBy("id").agg(min(col("component")).as("component"))
  }

  /** Transitively-correct dedup: keep exactly one doc (the min id) per
    * connected component of the pair graph, plus every unpaired doc. */
  def clusterDedup(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** [[clusterDedup]] with a QUALITY keep policy: per duplicate cluster
    * keep the best-`scoreCol` member (ties → lowest id) instead of the
    * lowest id. Min-id keep discards information whenever the
    * near-duplicates differ — the canonical curation policy keeps the
    * longest / highest-quality copy (the one with the boilerplate
    * stripped, the complete text, the best LM score).
    *
    * Components whose scores are all NULL keep their lowest id (the
    * null-safe `<=>` winner match — a component must never vanish
    * because its quality signal is missing). Shape: the component table
    * is pair-graph-sized (not corpus-sized); the winner resolution is
    * two hash aggregations + joins on it — deliberately NOT
    * `max_by(id, struct(score))`, whose struct agg buffer falls out of
    * HashAggregate into SortAggregate. The corpus itself is touched
    * only by the final anti-join on the 8-byte id. */
  def clusterDedupByScore(df: DataFrame, idCol: String, scoreCol: String,
                          pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
    val scored = comp.join(df.select(col(idCol).as("id"), col(scoreCol).as("_s")), Seq("id"))
    val best = scored.groupBy(col("component")).agg(max(col("_s")).as("_smax"))
    val winners = scored.join(best, Seq("component"))
      .filter(col("_s") <=> col("_smax"))
      .groupBy(col("component")).agg(min(col("id")).as("id"))
    val losers = comp.select(col("id"))
      .join(winners.select(col("id")), Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Recommended Jaccard blocking key: language + `width`-char length
    * bucket. Bounds block size by construction; pairs straddling a bucket
    * boundary are the accepted recall cost (standard practice — shrink
    * `width` to tighten precision of the bound, or run twice with offset
    * buckets to recover boundary pairs). */
  def langLengthBlock(langCol: Column, lenCol: Column, width: Int = 100): Column =
    concat_ws("_", langCol, (lenCol.cast("long") / width).cast("long"))

  /** Embedding-cosine near-dup pairs: LSH-bucket on random hyperplanes,
    * verify cosine within buckets. `dim` is the embedding dimensionality.
    *
    * Bucket sizing: E[bucket] ≈ n / 2^planes for spread-out embeddings —
    * pick `planes` ≈ log2(n / targetBucketSize); the 16 default puts a
    * 65M-vector corpus at ~1k per bucket. More planes → smaller buckets →
    * lower recall for borderline pairs (each plane is a Bernoulli miss
    * chance ≈ angle/π); production runs shard the corpus and/or union
    * several independent plane sets to recover recall. */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String, dim: Int,
                       planes: Int = 16, threshold: Double = 0.95,
                       maxBucketSize: Int = 2000, seed: Long = 42L): DataFrame =
    // degenerate buckets (duplicate-heavy or low-entropy embedding sets —
    // exactly what a dedup corpus contains) are capped so no single task
    // goes quadratic; one bucket per vector, so no pair repeats
    pairs(hyperplaneBanded(df, vecCol, idCol, dim, planes, seed), maxBucketSize,
      distinct = false)(cosine, col("cosine") >= threshold)

  /** The hyperplane banded frame — (_id, _v, _bucket), one bucket per
    * vector — shared by the batch, index and probe paths. */
  private def hyperplaneBanded(df: DataFrame, vecCol: String, idCol: String, dim: Int,
                               planes: Int, seed: Long): Banded =
    Banded(ensureParallel(df).select(col(idCol).as("_id"), col(vecCol).as("_v"),
      VectorFunctions.hyperplaneBucket(col(vecCol), dim, planes, seed).as("_bucket")),
      Seq("_bucket"), "_v")

  private def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b).as("cosine")

  /** Hyperplane-bucket index of an embedding corpus — the persisted
    * side of incremental EMBEDDING dedup, completing the
    * exact/minhash/embedding symmetry of the index family: one row
    * (bucket, id, vector) per vector, buckets over `maxBucketSize`
    * dropped at build time (groupBy-count + semi-join, the
    * [[minhashIndex]] cap shape). Probes MUST use the same
    * (dim, planes, seed). Storage is vector-sized (the one index here
    * that isn't sketch-sized — cosine verification needs the vectors;
    * quantize upstream via [[VectorFunctions.quantize]] when 4× matters). */
  def embeddingIndex(df: DataFrame, vecCol: String, idCol: String, dim: Int,
                     planes: Int = 16, seed: Long = 42L,
                     maxBucketSize: Int = 2000): DataFrame =
    capBuckets(hyperplaneBanded(df, vecCol, idCol, dim, planes, seed).df
      .select(col("_bucket"), col("_id"), col("_v")), Seq("_bucket"), maxBucketSize)

  /** Incremental embedding near-dup candidates: DELTA vectors vs an
    * already-indexed corpus ([[embeddingIndex]], same parameters) —
    * [[probe]] on the bucket key, verify cosine. Returns
    * (delta_id, corpus_id, cosine) distinct pairs at `threshold`. */
  def embeddingAgainstIndex(delta: DataFrame, vecCol: String, idCol: String,
                            index: DataFrame, dim: Int, planes: Int = 16,
                            seed: Long = 42L, threshold: Double = 0.95): DataFrame =
    probe(hyperplaneBanded(delta, vecCol, idCol, dim, planes, seed), index)
      .select(col("_did").as("delta_id"), col("_cid").as("corpus_id"),
        cosine(col("_dp"), col("_cp")))
      .filter(col("cosine") >= threshold)
      .distinct()

  /** Incremental embedding dedup tick: drop delta vectors with a
    * verified corpus match, then near-dedup the remainder within
    * itself (greedy min-id policy, as [[minhashDedupAgainst]]) — one
    * [[dedup]] over one banded subtree. */
  def embeddingDedupAgainst(delta: DataFrame, vecCol: String, idCol: String,
                            index: DataFrame, dim: Int, planes: Int = 16,
                            seed: Long = 42L, threshold: Double = 0.95,
                            maxBucketSize: Int = 2000): DataFrame =
    embeddingDedupOver(delta, vecCol, idCol, Some(index), dim, planes, seed, threshold,
      maxBucketSize)

  /** [[dedup]] of hyperplane-banded `delta` against `index` when present. */
  private def embeddingDedupOver(delta: DataFrame, vecCol: String, idCol: String,
                                 index: Option[DataFrame], dim: Int, planes: Int, seed: Long,
                                 threshold: Double, maxBucketSize: Int): DataFrame =
    dedup(delta, idCol, hyperplaneBanded(delta, vecCol, idCol, dim, planes, seed), index,
      maxBucketSize)((a, b) => VectorFunctions.cosine(a, b) >= threshold)

  /** Index-maintaining incremental EMBEDDING dedup tick — the embedding
    * analog of [[incrementalMinhash]], same replay-idempotence and the
    * same CRASH-ORDERING CONTRACT: persist survivors through `sink`
    * (which runs BEFORE the index learns the batch) with an idempotent
    * sink; never from the returned DataFrame after the call. Buckets
    * re-cap per tick only — periodically rebuild via [[embeddingIndex]]
    * over the full corpus, as with the minhash index. */
  def incrementalEmbedding(delta: DataFrame, vecCol: String, idCol: String,
                           conn: graft.sources.Connector, indexTable: String,
                           dim: Int, planes: Int = 16, seed: Long = 42L,
                           threshold: Double = 0.95, maxBucketSize: Int = 2000,
                           sink: DataFrame => Unit = _ => ()): DataFrame =
    incrementalIndex(conn, indexTable, sink)(embeddingDedupOver(delta, vecCol, idCol, _, dim,
      planes, seed, threshold, maxBucketSize))(
      (kept, _) => embeddingIndex(kept, vecCol, idCol, dim, planes, seed, maxBucketSize))

  /** Multi-table embedding near-dup — the recall lever
    * [[embeddingNearDup]]'s doc points at, implemented: `tables`
    * INDEPENDENT hyperplane sets (table t's planes derive from
    * `seed + t·7919`), a vector lands in one bucket per table, pairs
    * union across tables and dedup. A borderline pair at angle θ
    * collides in one table with p = (1−θ/π)^planes; R tables lift
    * recall to 1−(1−p)^R — e.g. cosine 0.95 / 16 planes: p ≈ 0.18
    * single-table, ≈ 0.55 at R = 4 (spec-pinned on a planted fixture).
    * Table 0 IS the single-table bucket set (same seed), so the
    * multi-table pair set is a superset of the single-table one.
    *
    * Scale: identical join-free shape — one shuffle of (table, bucket,
    * id, vector) rows, R× the single-table exchange volume (the recall
    * cost is explicit and linear), capped buckets PER TABLE, native
    * codegen'd bucket keys. `distinct()` dedups pairs found by several
    * tables (cosine is a pure function of the pair — safe). */
  def embeddingNearDupMulti(df: DataFrame, vecCol: String, idCol: String, dim: Int,
                            planes: Int = 16, tables: Int = 4,
                            threshold: Double = 0.95, maxBucketSize: Int = 2000,
                            seed: Long = 42L): DataFrame = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    embeddingNearDupMultiFromBuckets(df, vecCol, idCol,
      (0 until tables).map(t =>
        VectorFunctions.hyperplaneBucket(col(vecCol), dim, planes, seed + t * 7919L)),
      threshold, maxBucketSize)
  }

  /** The multi-table pairing machinery of [[embeddingNearDupMulti]] over
    * CALLER-PROVIDED bucket keys — one Column per table; element t is
    * table t's bucket id for the row. The seam that makes the R-table
    * union + per-table cap + in-bucket pairing + cosine verify + dedup
    * pipeline oracle-checkable end-to-end (the
    * [[minhashCandidatesFromSignatures]] trick): bucket ids never reach
    * the output, so an external engine can replay the pipeline from
    * planted arithmetic bucket keys (`q_emb_multi_lsh`). Also the
    * extension point for non-hyperplane table families (learned
    * partitions, PQ codebooks). */
  def embeddingNearDupMultiFromBuckets(df: DataFrame, vecCol: String, idCol: String,
                                       bucketCols: Seq[Column],
                                       threshold: Double = 0.95,
                                       maxBucketSize: Int = 2000): DataFrame = {
    require(bucketCols.nonEmpty, "at least one bucket column required")
    val exploded = ensureParallel(df).select(col(idCol).as("_id"), col(vecCol).as("_v"),
      posexplode(array(bucketCols: _*)).as(Seq("_table", "_bucket")))
    pairs(Banded(exploded, Seq("_table", "_bucket"), "_v"), maxBucketSize, distinct = true)(
      cosine, col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, find cosine near-dup groups WITHIN each cluster,
    * and keep one representative per group — by the paper's policy the
    * member FARTHEST from its cluster centroid (the most boundary-ish
    * exemplar carries the most marginal information; `keepFarthest =
    * false` keeps the smallest id instead). Differs from
    * [[embeddingNearDup]] exactly as the paper differs from LSH dedup:
    * buckets are LEARNED semantic cells, not random hyperplane slices,
    * so recall within a semantic neighborhood is structural rather than
    * probabilistic — and the cluster assignment doubles as the keep
    * policy's distance rank.
    *
    * `centroids` come from [[Similarity.trainCentroids]] (deterministic
    * seeded Lloyd) or any caller-provided codebook; assignment + rank
    * are ONE argmin pass inlined as literals
    * ([[Similarity.nearestCellWithDist]]) — no join, no shuffle on the
    * assignment side. Keep-farthest rank = −(squared L2 to the assigned
    * centroid), which for the unit-normalized embeddings SemDeDup
    * assumes is exactly the paper's min-cosine-to-centroid order.
    *
    * Scale: one shuffle of (cell, id, vector); within-cell pairing is
    * the capped [[minhashCandidates]] machinery (`maxClusterSize` bounds
    * the quadratic site — SemDeDup's k is chosen so cells average
    * corpus/k members; cap ≈ 10× that); group resolution is
    * [[connectedComponents]] over verified pairs (edge-set-only
    * iteration), winner selection two small aggs over component members
    * only. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    centroids: Array[(Int, Array[Double])],
                    threshold: Double = 0.95, maxClusterSize: Int = 2000,
                    keepFarthest: Boolean = true): DataFrame = {
    require(centroids.nonEmpty, "at least one centroid required")
    val (cell, d2) = Similarity.nearestCellWithDist(col(vecCol), centroids)
    semanticDedupFromClusters(df, vecCol, idCol, cell,
      if (keepFarthest) -d2 else lit(0.0), threshold, maxClusterSize)
  }

  /** [[semanticDedup]]'s machinery over CALLER-PROVIDED cluster and rank
    * columns — the oracle seam ([[embeddingNearDupMultiFromBuckets]]
    * pattern): cluster ids and ranks never reach the output, so an
    * external engine can replay the whole pipeline (within-cluster
    * pairing → cosine verify → connected components → keep the min-rank,
    * tie-break min-id, member per component) from planted arithmetic
    * keys — `q_semdedup` uses the embeddings table's label column as the
    * clustering and a coordinate as the rank. Also the extension point
    * for externally-computed assignments (a trained classifier's cells,
    * pre-sharded corpora). Winner per component = min (rank, id)
    * lexicographically; rows outside any near-dup component always
    * survive. Resolution is two aggregations over component members
    * (min rank, then min id among rank-ties) + one semi-style join —
    * never a window, and never a struct-valued agg buffer (those fall
    * out of HashAggregate). */
  def semanticDedupFromClusters(df: DataFrame, vecCol: String, idCol: String,
                                clusterCol: Column, rankCol: Column,
                                threshold: Double = 0.95,
                                maxClusterSize: Int = 2000): DataFrame = {
    val keyed = ensureParallel(df).select(col(idCol).as("_id"), col(vecCol).as("_v"),
      clusterCol.as("_cluster"), rankCol.cast("double").as("_rank"))
    val verified = pairs(Banded(keyed, Seq("_cluster"), "_v"), maxClusterSize,
        distinct = false)(cosine, col("cosine") >= threshold)
      .select("id_a", "id_b")
    val members = connectedComponents(verified)
      .join(keyed.select(col("_id"), col("_rank")), col("id") === col("_id"))
      .select(col("id"), col("component"), col("_rank"))
    val minRank = members.groupBy("component").agg(min("_rank").as("_mr"))
    val winners = members.join(minRank, Seq("component"))
      .filter(col("_rank") === col("_mr"))
      .groupBy("component").agg(min("id").as("_w"))
    val losers = members.join(winners, Seq("component"))
      .filter(col("id") =!= col("_w"))
      .select(col("id").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Corpus-wide EXACT duplicated-substring scrub — the span-level dedup
    * family doc-level dedup (exact/minhash) misses entirely: boilerplate
    * EMBEDDED in otherwise-unique documents (license blocks, navigation
    * chrome, quoted passages). The Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") recipe re-expressed
    * for Spark: every `n`-token span whose normalized text occurs more
    * than once in the corpus is removed from every occurrence EXCEPT
    * the first (first = smallest `(doc, position)`); overlapping
    * removed spans merge, so a duplicated region of any length ≥ n is
    * excised whole. A kept first occurrence can still lose tokens to a
    * DIFFERENT span's non-first occurrence overlapping it — the
    * standard behavior of occurrence-level scrubbing, documented rather
    * than special-cased.
    *
    * Output: (idCol, textCol = scrubbed NORMALIZED token stream,
    * n_tokens kept, n_tokens_removed). Documents whose every token is
    * removed disappear (as [[lineDedup]]).
    *
    * Scale shape — agg + join, never a window over gram occurrences
    * (the suffix-array formulation is a single-machine algorithm; this
    * is the distributed equivalent at fixed n): (1) one row per n-gram
    * start (pos, 64-bit gram fingerprint); (2) `groupBy(fp)` count +
    * min (doc, pos) — partial aggregation collapses each map task's
    * repeats before the shuffle, so a billion-copy boilerplate gram
    * costs one row per task; (3) join winners back to occurrences;
    * (4) covered positions → left-anti against the token stream →
    * per-doc reassembly, all linear. Collisions: two distinct spans
    * sharing an xxhash64 merge (~|grams|²/2⁶⁴ odds, the [[lineDedup]]
    * trade); the oracle replays gram STRINGS — identical modulo those
    * odds. */
  def duplicateSpanScrub(df: DataFrame, textCol: String, idCol: String,
                         n: Int = 10): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = ensureParallel(df)
      .select(col(idCol), split(TextFunctions.normalizeForFingerprint(col(textCol)), " ").as("_w"))
      .filter(size(col("_w")) > 0 && length(element_at(col("_w"), 1)) > 0)
    // gram starts WITHOUT a transform lambda (HOFs are CodegenFallback):
    // explode the start range, then hash the slice per row — slice/
    // concat_ws/xxhash64 all stay inside whole-stage codegen
    val occ = toks
      .select(col(idCol).as("_id"), col("_w"),
        explode(when(size(col("_w")) >= n, sequence(lit(1), size(col("_w")) - lit(n - 1)))
          .otherwise(array().cast("array<int>"))).as("_i"))
      .select(col("_id"), col("_i"),
        xxhash64(concat_ws(" ", slice(col("_w"), col("_i"), lit(n)))).as("_h"))
    val dups = occ.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"), min(struct(col("_id"), col("_i"))).as("_f"))
      .filter(col("_c") > 1)
    val removedStarts = occ.join(dups, Seq("_h"))
      .filter(!(col("_id") === col("_f._id") && col("_i") === col("_f._i")))
      .select(col("_id"), col("_i"))
    val covered = removedStarts
      .select(col("_id"), explode(sequence(col("_i"), col("_i") + lit(n - 1))).as("_p"))
      .distinct()
    val tokens = toks
      .select(col(idCol).as("_id"), posexplode(col("_w")).as(Seq("_p0", "_t")))
      .select(col("_id"), (col("_p0") + 1).as("_p"), col("_t"))
    val kept = tokens.join(covered, Seq("_id", "_p"), "left_anti")
      .groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_p"), col("_t")))).as("_s"))
    toks.select(col(idCol).as("_id"), size(col("_w")).as("_tot"))
      .join(kept, Seq("_id")) // inner: fully-scrubbed docs disappear
      .select(col("_id").as(idCol),
        array_join(col("_s._t"), " ").as(textCol),
        size(col("_s")).cast("long").as("n_tokens"),
        (col("_tot") - size(col("_s"))).cast("long").as("n_tokens_removed"))
  }

  /** Cross-corpus LINE-level dedup (the CCNet recipe): every occurrence
    * beyond the first of each distinct non-empty line — boilerplate
    * headers, cookie banners, nav text — is removed corpus-wide; "first"
    * is the smallest `(idCol, line position)`. Documents whose every
    * line is removed disappear from the output (CCNet drops them too).
    *
    * Output: idCol, `text` (surviving lines re-joined with `\n`),
    * `n_lines` (surviving), `n_dropped` (THIS doc's lines removed as
    * non-first duplicates).
    *
    * Scale shape — agg + join, NOT a window: the obvious
    * `row_number() OVER (PARTITION BY line)` funnels every copy of a
    * hyper-common line (empty boilerplate appears 10⁹ times at 100 TB)
    * into ONE task. Instead: (1) per-line 64-bit fingerprint; (2)
    * `groupBy(hash).agg(min(struct(id, pos)))` — partial aggregation
    * collapses each map task to its distinct lines before the shuffle,
    * so hot lines cost one row per task; (3) join winners back (the one
    * shuffle that moves line text); (4) reassemble per doc. Collisions:
    * two distinct lines sharing an xxhash64 would merge (one loses all
    * its copies) — odds ~|distinct lines|²/2⁶⁴, the standard CCNet
    * trade; swap in a 128-bit fingerprint if that's ever material. */
  def lineDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = ensureParallel(df)
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
      .filter(length(col("_line")) > 0)
      .withColumn("_h", xxhash64(col("_line")))
    val firsts = lines.groupBy(col("_h"))
      .agg(min(struct(col(idCol), col("_pos"))).as("_first"))
    lines.join(firsts, Seq("_h"))
      .withColumn("_keep",
        col(idCol) === col("_first")(idCol) && col("_pos") === col("_first")("_pos"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(when(col("_keep"), struct(col("_pos"), col("_line"))))).as("_s"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dropped"))
      .filter(size(col("_s")) > 0)
      .select(col(idCol),
        array_join(col("_s._line"), "\n").as(textCol),
        size(col("_s")).cast("long").as("n_lines"),
        col("n_dropped"))
  }

  /** Content-defined chunking at word granularity — the rsync/FastCDC
    * boundary idea applied to text dedup: a chunk boundary falls AFTER
    * every word whose md5 opens with a hex digit below `boundaryHex`
    * (default 2 → P(boundary) = 2/16, ~8-word average chunks). Because
    * boundaries depend only on CONTENT, an insertion or deletion
    * re-chunks just its own neighborhood while every chunk outside it
    * keeps its text and md5 — the property fixed-size windows lack
    * ([[graft.operators.Curation.chunkDocuments]] shifts every
    * downstream chunk) and the reason CDC finds shared regions between
    * near-identical documents at any offset.
    *
    * Replayability: the boundary test, the chunk assembly, and the
    * chunk digest are md5/string operations every engine replays
    * bit-for-bit — no xxhash64 in the contract. Scale shape: one
    * posexplode + a per-DOC bounded window (documents, not corpus,
    * bound the partition) + one groupBy; the chunk table shuffles
    * chunk-sized strings once.
    *
    * The per-doc window means ONE document's words land in one task, so
    * a pathological giant document (a 500 MB blob in a dirty crawl)
    * would serialize that task and blow its heap: `maxDocChars` is the
    * LOUD in-plan guard (VERDICT r16 #6) — a document over the cap
    * fails the job naming the doc, instead of silently funneling.
    * Pre-chunk oversized docs upstream
    * ([[graft.operators.Curation.chunkDocuments]] is row-local) or
    * raise the cap deliberately. A char bound covers both the exploded
    * row count and the chunk string a single unbroken token would
    * build, at O(1) cost per row (length, never a second split).
    *
    * Output: (idCol, chunk_idx, chunk_text, n_words, chunk_md5). */
  /** Shared doc-size cap of the two CDC entry points
    * ([[contentDefinedChunks]]'s parameter default and [[chunkMass]]'s
    * fixed guard) — one constant so they can never silently diverge on
    * which documents they reject (ADVICE r19). */
  private val DefaultMaxDocChars: Int = 16 << 20

  def contentDefinedChunks(df: DataFrame, textCol: String, idCol: String,
                           boundaryHex: Int = 2,
                           maxDocChars: Int = DefaultMaxDocChars): DataFrame = {
    require(boundaryHex >= 1 && boundaryHex <= 15,
      s"boundaryHex must be in [1, 15], got $boundaryHex")
    require(maxDocChars >= 1, s"maxDocChars must be >= 1, got $maxDocChars")
    // r19 optimization (guide §2.4): chunking is row-local by
    // construction — a doc's boundaries depend only on its own words —
    // yet the composed plan paid TWO corpus-text shuffles (the per-doc
    // window's partition+sort, then the groupBy's collect_list of the
    // same word bytes). The native cdc_chunks expression computes the
    // bit-identical chunk rows (same \s+ words, same md5 boundary cut,
    // same joined chunk_text and md5 — CdcExpressionsSpec pins parity
    // against the old composition) inside whole-stage codegen with zero
    // exchanges.
    guardedDocs(df, textCol, idCol, maxDocChars)
      .select(col(idCol), explode(ColumnBridge.column(
        graft.functions.CdcChunksExpr(
          ColumnBridge.expression(col(textCol)), boundaryHex))).as("_c"))
      .select(col(idCol), col("_c.chunk_idx").as("chunk_idx"),
        col("_c.chunk_text").as("chunk_text"),
        col("_c.n_words").as("n_words"),
        col("_c.chunk_md5").as("chunk_md5"))
  }

  /** `df` spread for the per-row CDC work ([[ensureParallel]]) behind
    * the one doc-size guard: a document over `maxDocChars` fails the job
    * naming it. Null text coalesces to 0 (the no-row doc); assert_true
    * returns NULL on pass, so the filter keeps every compliant row while
    * pinning the guard into the plan. */
  private def guardedDocs(df: DataFrame, textCol: String, idCol: String,
                          maxDocChars: Int): DataFrame =
    ensureParallel(df).filter(assert_true(
      coalesce(length(col(textCol)), lit(0)) <= maxDocChars,
      concat(lit(s"contentDefinedChunks: document over maxDocChars=$maxDocChars: "),
        col(idCol).cast("string"),
        lit(" ("), length(col(textCol)).cast("string"),
        lit(" chars) — pre-chunk upstream or raise the cap"))).isNull)

  /** Chunk-CONTAINMENT near-dup pairs over [[contentDefinedChunks]]:
    * containment(a→b) = Σ_{shared digests} min(massₐ, mass_b) /
    * wordsₐ — the asymmetric overlap measure that catches PARTIAL
    * COPIES (a page embedded in a larger page, a quoted article, a
    * boilerplate-wrapped mirror) which symmetric Jaccard
    * underestimates exactly when the size ratio is large. Pairs keep
    * both directions' scores; `thresholdFp` (millionths) gates on the
    * LARGER one.
    *
    * Scale shape: the (doc, digest, mass) table is the LSH-style
    * bucket explode — digests ARE the buckets, so pairing is the
    * join-free in-bucket generator with the standard `maxBucketSize`
    * cap (a digest shared by thousands of docs is boilerplate;
    * [[chunkSharing]] profiles it, containment pairs would go
    * quadratic on it) — then one groupBy over pair rows. Everything
    * replays externally: md5 digests, integer masses, truncating
    * fixed-point division.
    *
    * Output: (id_a, id_b, shared_words, words_a, words_b,
    * containment_a_fp, containment_b_fp), id_a < id_b. */
  def chunkContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                            thresholdFp: Long = 500000L,
                            boundaryHex: Int = 2,
                            maxBucketSize: Int = 2000): DataFrame = {
    require(thresholdFp >= 0L && thresholdFp <= 1000000L,
      s"thresholdFp is millionths in [0, 1e6], got $thresholdFp")
    // r19: the native chunk-mass rows carry doc_words on every row, so
    // the doc totals ride the bucket payload as a struct instead of a
    // second aggregation + two joins back onto the pair table (and the
    // localCheckpoint that multi-read needed). One scan, one bucket
    // groupBy, one pair groupBy — same rows out.
    // r20 (guide §2.3 — shuffle fewer bytes): the bucket groupBy is the
    // dominant exchange and its key was the 32-char HEX digest (~40
    // bytes as UTF8String); the 16-byte BINARY digest is the same key
    // bijectively (unhex∘hex is the identity on md5 output, so the
    // buckets — and therefore the pairs — are unchanged). mass and
    // doc_words are word counts bounded by maxDocChars (< 2^31), so
    // they cross both exchanges as ints and widen back in the final
    // aggregate — the output schema and values are identical.
    // One bucket aggregation, its [2, maxBucketSize] gate bucketPairs'
    // own: a two-level form (a bucket-size pre-pass over a
    // localCheckpoint of the whole chunk table) ran three more jobs and
    // measured slower in a same-host A/B.
    val mass = chunkMass(df, textCol, idCol, boundaryHex)
      .select(col(idCol), unhex(col("chunk_md5")).as("_kb"),
        struct(col("mass").cast("int").as("mass"),
          col("doc_words").cast("int").as("doc_words")).as("_p"))
    containmentScores(bucketPairs(mass, Seq("_kb"), idCol, "_p", maxBucketSize)
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        least(col("pa.mass"), col("pb.mass")).as("_sh"), // symmetric min survives the swap
        when(col("ia") < col("ib"), col("pa.doc_words"))
          .otherwise(col("pb.doc_words")).as("_wa"),
        when(col("ia") < col("ib"), col("pb.doc_words"))
          .otherwise(col("pa.doc_words")).as("_wb")), thresholdFp)
  }

  /** The one containment scoring tail over per-(pair, shared digest)
    * rows (id_a, id_b, `_sh` shared mass, `_wa`/`_wb` the sides' doc
    * totals): shared_words = Σ `_sh`, fixed-point containments
    * (truncating millionths), gated on the LARGER one. */
  private def containmentScores(sides: DataFrame, thresholdFp: Long): DataFrame =
    sides.groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("_sh")).as("shared_words"),
        max(col("_wa")).cast("long").as("words_a"),
        max(col("_wb")).cast("long").as("words_b"))
      .withColumn("containment_a_fp", expr("shared_words * 1000000L DIV words_a"))
      .withColumn("containment_b_fp", expr("shared_words * 1000000L DIV words_b"))
      .filter(greatest(col("containment_a_fp"), col("containment_b_fp")) >= thresholdFp)
      .select(col("id_a"), col("id_b"), col("shared_words"), col("words_a"),
        col("words_b"), col("containment_a_fp"), col("containment_b_fp"))

  /** Per-(doc, digest) chunk mass with the doc's word total riding
    * along — the unit row of both the batch containment pairing and the
    * persisted chunk index, so their arithmetic is identical by
    * construction. Denormalizing `doc_words` into every row costs one
    * extra long and saves the probe path an O(index) total-recompute
    * per tick. */
  private def chunkMass(df: DataFrame, textCol: String, idCol: String,
                        boundaryHex: Int): DataFrame =
    // r19: the per-(doc, digest) rollup and the doc-totals join are
    // row-local too (both aggregate WITHIN one document) — the native
    // mass expression emits the identical rows with zero shuffles where
    // the composition paid a groupBy(doc, digest) exchange plus a
    // doc-totals self-join (two more corpus-keyed exchanges).
    guardedDocs(df, textCol, idCol, DefaultMaxDocChars)
      .select(col(idCol), explode(ColumnBridge.column(
        graft.functions.CdcChunkMassExpr(
          ColumnBridge.expression(col(textCol)), boundaryHex))).as("_m"))
      .select(col(idCol), col("_m.chunk_md5").as("chunk_md5"),
        col("_m.mass").as("mass"), col("_m.doc_words").as("doc_words"))

  /** The persisted CDC chunk index (VERDICT r16 #2 — the chunk family's
    * [[minhashIndex]] analog): one row per (doc, chunk digest) with the
    * digest's word mass and the doc's word total —
    * `(idCol, chunk_md5, mass, doc_words)`. Digests ARE the LSH
    * buckets, so [[containmentAgainstIndex]] probes it with one
    * equi-join; at 100 TB the index is chunk-digest rows only (~32
    * bytes + two longs per ~8-word chunk), the corpus text never
    * re-read. Persist partitioned/bucketed by `chunk_md5` prefix so a
    * probe co-locates with its buckets. */
  def chunkIndex(df: DataFrame, textCol: String, idCol: String,
                 boundaryHex: Int = 2): DataFrame =
    chunkMass(df, textCol, idCol, boundaryHex)

  /** Incremental containment probe: DELTA docs vs an already-indexed
    * corpus ([[chunkIndex]], same `boundaryHex`). Returns exactly the
    * [[chunkContainmentPairs]] rows of the UNION corpus that involve a
    * delta doc — same bucket cap (measured on the union's per-digest
    * doc count), same masses, same fixed-point scores — without ever
    * chunking the corpus again: only index buckets TOUCHED by a delta
    * digest participate (a semi-join), so a tick costs
    * O(delta + touched buckets). Index rows of docs re-appearing in the
    * delta are set aside first, so replaying a batch reproduces its
    * within-delta pairs instead of pairing every doc with itself. */
  def containmentAgainstIndex(delta: DataFrame, textCol: String, idCol: String,
                              index: DataFrame, thresholdFp: Long = 500000L,
                              boundaryHex: Int = 2,
                              maxBucketSize: Int = 2000): DataFrame = {
    require(thresholdFp >= 0L && thresholdFp <= 1000000L,
      s"thresholdFp is millionths in [0, 1e6], got $thresholdFp")
    // multi-read: delta ids, touched digests, the probe side (the
    // psiFromCounts pattern)
    val deltaMass = chunkMass(delta, textCol, idCol, boundaryHex).localCheckpoint(true)
    val deltaIds = deltaMass.select(col(idCol)).distinct()
    val corpus = index.join(deltaIds, Seq(idCol), "left_anti")
    val touched = deltaMass.select(col("chunk_md5")).distinct()
    val candidates = corpus.join(touched, Seq("chunk_md5"), "left_semi")
      .select(col("chunk_md5"), col(idCol), col("mass"), col("doc_words"))
      .withColumn("_src", lit(0))
      .unionByName(deltaMass
        .select(col("chunk_md5"), col(idCol), col("mass"), col("doc_words"))
        .withColumn("_src", lit(1)))
    // batch cap parity: for every touched digest the candidate rows ARE
    // the union corpus's bucket, so [2, maxBucketSize] here equals the
    // batch pairing's bucket gate; the probe side is the capped delta rows
    val capped = capBuckets(candidates, Seq("chunk_md5"), maxBucketSize, minSize = 2)
    val other = capped
      .withColumnsRenamed(Map(idCol -> "_oi", "mass" -> "_om", "doc_words" -> "_ow"))
    val probe = capped.filter(col("_src") === 1)
      .select(col("chunk_md5"), col(idCol).as("_di"), col("mass").as("_dm"),
        col("doc_words").as("_dw"))
    // each unordered pair once: a corpus partner always pairs from the
    // delta side; a delta-delta pair only from its smaller-id side
    containmentScores(probe.join(other, Seq("chunk_md5"))
      .filter(col("_oi") =!= col("_di") &&
        (col("_src") === 0 || col("_di") < col("_oi")))
      .select(least(col("_di"), col("_oi")).as("id_a"),
        greatest(col("_di"), col("_oi")).as("id_b"),
        least(col("_dm"), col("_om")).as("_sh"),
        when(col("_di") < col("_oi"), col("_dw")).otherwise(col("_ow")).as("_wa"),
        when(col("_di") < col("_oi"), col("_ow")).otherwise(col("_dw")).as("_wb")),
      thresholdFp)
  }

  /** The containment-pair RESOLUTION rule (VERDICT r16 #4): per pair,
    * the LOSER is the contained side — the one whose containment clears
    * `thresholdFp`; when both clear it (mutual near-copies) the
    * smaller-words side loses, ties to the larger id — so the policy
    * always keeps the superset, deterministically. One distinct id per
    * loser; greedy like [[minhashDedup]]'s drop-every-loser. */
  private def containmentLosers(pairs: DataFrame, thresholdFp: Long): DataFrame =
    pairs.select(
      when(col("containment_a_fp") >= thresholdFp &&
           col("containment_b_fp") < thresholdFp, col("id_a"))
        .when(col("containment_b_fp") >= thresholdFp &&
              col("containment_a_fp") < thresholdFp, col("id_b"))
        .when(col("words_a") < col("words_b"), col("id_a"))
        .when(col("words_b") < col("words_a"), col("id_b"))
        .otherwise(greatest(col("id_a"), col("id_b"))).as("_loser"))
      .distinct()

  /** Containment-based partial-copy DEDUP (VERDICT r16 #4 — the
    * curation ACTION on [[chunkContainmentPairs]]'s findings): drop
    * every doc that is mostly contained in another (a quoted article, a
    * boilerplate-wrapped mirror, a page embedded in a larger page),
    * keeping the superset side. Returns the surviving rows. Same scale
    * shape as the pairing (digest buckets + cap); the loser rule is one
    * row-local CASE per pair. */
  def containmentDedup(df: DataFrame, textCol: String, idCol: String,
                       thresholdFp: Long = 700000L, boundaryHex: Int = 2,
                       maxBucketSize: Int = 2000): DataFrame = {
    val pairs = chunkContainmentPairs(df, textCol, idCol, thresholdFp,
      boundaryHex, maxBucketSize)
    df.join(containmentLosers(pairs, thresholdFp).select(col("_loser").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Incremental containment dedup, read-only form — the chunk family's
    * [[minhashDedupAgainst]] analog (VERDICT r17 #5, the crawl tick's
    * optional third gate): probe `delta` against a [[chunkIndex]] the
    * CALLER persists, drop the delta-side containment losers
    * ([[containmentLosers]] — corpus docs are already released, a probe
    * never unpublishes them), return the survivors. An EMPTY index
    * degrades exactly to the batch pairing within the delta
    * ([[containmentAgainstIndex]]'s union corpus is then the delta
    * alone), so first-tick and steady-tick share one code path. The
    * index is never written — index maintenance is the caller's
    * crash-ordering decision ([[incrementalChunks]] is the
    * index-maintaining form). */
  def containmentDedupAgainst(delta: DataFrame, textCol: String, idCol: String,
                              index: DataFrame, thresholdFp: Long = 700000L,
                              boundaryHex: Int = 2,
                              maxBucketSize: Int = 2000): DataFrame = {
    val pairs = containmentAgainstIndex(delta, textCol, idCol, index,
      thresholdFp, boundaryHex, maxBucketSize)
    val deltaLosers = containmentLosers(pairs, thresholdFp)
      .select(col("_loser").as(idCol))
      .join(delta.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
    delta.join(deltaLosers, Seq(idCol), "left_anti")
  }

  /** Index-maintaining incremental CONTAINMENT dedup tick — the chunk
    * family's [[incrementalMinhash]] analog: probe `delta` against the
    * [[chunkIndex]] persisted as `indexTable` in `conn` (created on
    * first tick), drop the delta-side containment losers
    * ([[containmentLosers]] — corpus docs are already released, a tick
    * never unpublishes them), then append the SURVIVORS' chunk rows for
    * docs not yet indexed. Replaying a batch is a no-op on the index
    * (its doc ids are already there) and returns the same survivors.
    *
    * CRASH-ORDERING CONTRACT (the [[incrementalMinhash]] one): `sink`
    * persists the survivors BEFORE the index learns the batch — a crash
    * on either side of the append replays safely with an idempotent
    * sink. */
  def incrementalChunks(delta: DataFrame, textCol: String, idCol: String,
                        conn: graft.sources.Connector, indexTable: String,
                        thresholdFp: Long = 700000L, boundaryHex: Int = 2,
                        maxBucketSize: Int = 2000,
                        sink: DataFrame => Unit = _ => ()): DataFrame =
    incrementalIndex(conn, indexTable, sink)(
      _.fold(containmentDedup(delta, textCol, idCol, thresholdFp, boundaryHex, maxBucketSize))(
        containmentDedupAgainst(delta, textCol, idCol, _, thresholdFp, boundaryHex,
          maxBucketSize)))(
      // a replayed batch keeps the same survivors, whose rows are indexed
      // already; eager: the append writes the very table this plan reads
      (kept, index) => chunkIndex(index.fold(kept)(i => kept.join(
          i.select(col(idCol)).distinct(), Seq(idCol), "left_anti")), textCol, idCol, boundaryHex)
        .localCheckpoint(true))

  /** Chunk-level duplication profile over [[contentDefinedChunks]]: per
    * document, how much of it is made of chunks that also appear in
    * OTHER documents — the boilerplate/mirror detector exact-dup and
    * near-dup both miss when shared regions sit inside otherwise
    * distinct pages. `shared_fp` is millionths (fixed-point, exact).
    *
    * Scale shape: chunk table → groupBy(chunk_md5) distinct-doc count
    * (partial-aggregated; a boilerplate chunk costs one row per map
    * task, never a hot-key funnel) → join back → per-doc rollup. */
  def chunkSharing(df: DataFrame, textCol: String, idCol: String,
                   boundaryHex: Int = 2): DataFrame = {
    val chunks = contentDefinedChunks(df, textCol, idCol, boundaryHex)
      .select(col(idCol), col("chunk_md5"), col("n_words"))
    val owners = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col(idCol)).as("_docs"))
    chunks.join(owners, Seq("chunk_md5"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("_docs") >= 2, 1L).otherwise(0L)).as("n_shared"),
        sum(col("n_words")).as("n_words"),
        sum(when(col("_docs") >= 2, col("n_words")).otherwise(0L)).as("shared_words"))
      .select(col(idCol), col("n_chunks"), col("n_shared"), col("n_words"),
        col("shared_words"),
        expr("n_shared * 1000000L DIV n_chunks").as("shared_fp"),
        expr("CASE WHEN n_words > 0 THEN shared_words * 1000000L DIV n_words " +
          "ELSE 0L END").as("shared_words_fp"))
  }
}
