package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Blocked edit-distance self-join — the record-linkage primitive
  * (match "blue bolt" to "blue bolts" across a product catalog, collapse
  * author-name variants, reconcile merchant feeds) that a naive
  * formulation makes an O(n²) cartesian with a per-pair dynamic program.
  *
  * The classic two-phase shape, Spark-first:
  *
  *  1. BLOCK: each row enters one bucket per blocking key (default: the
  *     first and the last token of the normalized key — a typo in one
  *     token still collides on the other). Candidate generation is
  *     [[Dedup.bucketPairs]], the capped in-bucket pair explode every
  *     LSH family shares — map tasks emit pairs
  *     straight out of the aggregation, no self-join, and a
  *     pathologically hot block (every "premium" product) degrades to a
  *     DROPPED bucket at `maxBlockSize` instead of a quadratic task.
  *  2. VERIFY: `levenshtein(key_a, key_b) <= maxDist` on the candidate
  *     pairs only — the codegen'd built-in, evaluated on the few pairs
  *     that survive blocking, never on the cross product.
  *
  * Pairs found by BOTH blockers dedup AFTER the distance filter (the
  * filter is cheaper than a shuffle-distinct on the wider candidate
  * set). Recall contract: a pair is considered iff it shares at least
  * one UNCHANGED blocking token — the documented trade of every
  * blocking scheme; add blockers (or band lengths) to widen recall.
  *
  * Output: (id_a, id_b, key_a, key_b, dist) with id_a < id_b, one row
  * per matched pair. Keys are compared NORMALIZED (lowercase,
  * single-space — [[TextFunctions.normalizeForFingerprint]]), so
  * "Blue  Bolt" vs "blue bolt" is distance 0.
  *
  * Oracled end-to-end (`q_fuzzy_join`): the oracle mirrors the block
  * cap per blocker (the `q_dedup_clusters` precedent), so the contract
  * holds at any SF — under the cap, candidates are exhaustive within
  * blocks and DuckDB replays the semantics as a capped join; over it,
  * both engines drop the block.
  */
object FuzzyJoin {

  /** Default blockers: first token and last token of the (already
    * normalized) key. */
  def defaultBlockers: Seq[Column => Column] = Seq(
    k => substring_index(k, " ", 1),
    k => substring_index(k, " ", -1))

  /** Self-join `df` on fuzzy `keyCol` equality: all pairs sharing a
    * blocking key with normalized edit distance ≤ `maxDist`. `idCol`
    * must be unique and long-castable. */
  def blockedSelfJoin(df: DataFrame, keyCol: String, idCol: String,
                      maxDist: Int,
                      blockers: Seq[Column => Column] = defaultBlockers,
                      maxBlockSize: Int = 2000): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(blockers.nonEmpty, "need at least one blocking key")
    val key = TextFunctions.normalizeForFingerprint(col(keyCol))
    val keyed = df.select(col(idCol).cast("long").as("_id"), key.as("_key"))
    // one bucket row per (blocker, key): bucket identity is (blocker
    // index, blocker value) so same-valued first/last tokens of
    // DIFFERENT blockers never merge
    val exploded = blockers.zipWithIndex.map { case (b, i) =>
      keyed.select(lit(i).as("_b"), b(col("_key")).as("_bkey"),
        col("_id"), col("_key"))
    }.reduce(_ unionAll _)
    val pairs = Dedup.bucketPairs(exploded, Seq("_b", "_bkey"), "_id", "_key", maxBlockSize)
    // normalize orientation (pair explode follows collect order), verify
    // distance on candidates only, THEN dedup across blockers
    val swap = col("ia") <= col("ib")
    pairs.select(
        when(swap, col("ia")).otherwise(col("ib")).as("id_a"),
        when(swap, col("ib")).otherwise(col("ia")).as("id_b"),
        when(swap, col("pa")).otherwise(col("pb")).as("key_a"),
        when(swap, col("pb")).otherwise(col("pa")).as("key_b"))
      .filter(col("id_a") =!= col("id_b"))
      .withColumn("dist", levenshtein(col("key_a"), col("key_b")).cast("long"))
      .filter(col("dist") <= maxDist)
      .distinct()
  }

  /** Entity resolution on top of the fuzzy self-join: map every record
    * to the MINIMUM id of its fuzzy-match connected component (matching
    * is transitive by construction — "blue bolt" ~ "blue bolts" ~
    * "blue bolty" land in one entity even if the ends differ by 2), and
    * surface the canonical record's key for downstream display/joins.
    * Unmatched records canonicalize to themselves.
    *
    * Components come from [[Dedup.connectedComponents]] — star
    * contraction over the pair graph with the bounded driver union-find
    * finish, so no entity cluster is ever gathered into one task.
    * Output: (id, key, canonical_id, canonical_key), one row per input
    * record; `key` is the normalized form (the comparison domain).
    *
    * Oracled end-to-end (`q_fuzzy_canon`): DuckDB rebuilds the pair
    * graph and resolves it with a recursive-CTE transitive closure. */
  def canonicalize(df: DataFrame, keyCol: String, idCol: String,
                   maxDist: Int,
                   blockers: Seq[Column => Column] = defaultBlockers,
                   maxBlockSize: Int = 2000): DataFrame = {
    val pairs = blockedSelfJoin(df, keyCol, idCol, maxDist, blockers, maxBlockSize)
    val comp = Dedup.connectedComponents(pairs) // (id, component=min id)
    val base = df.select(col(idCol).cast("long").as("id"),
      TextFunctions.normalizeForFingerprint(col(keyCol)).as("key"))
    val canon = base.select(col("id").as("canonical_id"),
      col("key").as("canonical_key"))
    base.join(comp, Seq("id"), "left")
      .withColumn("canonical_id", coalesce(col("component"), col("id")))
      .join(canon, Seq("canonical_id"))
      .select(col("id"), col("key"), col("canonical_id"), col("canonical_key"))
  }
}
