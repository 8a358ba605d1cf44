package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.Dedup

/** One persisted dedup index of the crawl workspace, described once for
  * every tick that touches it ([[TrainingDataPipeline.crawlTick]] probes
  * and heals it, [[TrainingDataPipeline.takedownTick]] retires from it,
  * [[TrainingDataPipeline.maintenanceTick]] compacts it):
  *
  *   - `table` / `watermark` — `<name>_index` and its `tick_state` key
  *     `wm_<name>`, the highest release generation it fully absorbed;
  *   - `key` — its natural key: one row per key, and the column set a
  *     heal top-up anti-joins the suspect window's rows on;
  *   - `retireBy` — (`takedown_pending` column, index column) a takedown
  *     forgets a doc's rows by; the pending column is also the doc's
  *     key in [[WorkspaceIndex.keyed]] release rows;
  *   - `presence` — (table, doc-id column) whose ids count as indexed
  *     for the legacy id-presence heal a workspace without this index's
  *     watermark runs once;
  *   - `probe` — drop the delta rows this index knows (batch dedup
  *     within the delta when the index is absent);
  *   - `rows` — release rows to index rows, carrying the release's
  *     `_gen` stamp when the input has one. */
final case class WorkspaceIndex(name: String, key: Seq[String],
                                retireBy: (String, String), presence: (String, String),
                                probe: (DataFrame, Option[DataFrame]) => DataFrame,
                                rows: DataFrame => DataFrame) {
  def table: String = s"${name}_index"
  def watermark: String = s"wm_$name"
}

object WorkspaceIndex {

  /** The crawl workspace's indexes in probe order — exact fingerprints,
    * the banded MinHash sketch, the CDC chunk digests. Probe and row
    * parameters must match the ingest ticks that built the workspace;
    * callers that only name, retire or compact indexes take the
    * defaults. */
  def all(numHashes: Int = 64, bands: Int = 16, shingleLen: Int = 3,
          maxBucketSize: Int = 2000, minhashThreshold: Double = 0.7,
          containmentThresholdFp: Long = 700000L): Seq[WorkspaceIndex] = Seq(
    // a fingerprint row carries no doc id, so the legacy heal keys on
    // mh ids: the fp append runs BEFORE the mh append, hence a crash
    // before any watermark existed left the doc absent from mh_index too
    WorkspaceIndex("fp", Seq("fp"), "fp" -> "fp", "mh_index" -> "_id",
      (d, idx) => idx.fold(Dedup.exact(d, "text", "doc_id"))(
        Dedup.exactAgainst(d, "text", "doc_id", _)),
      r => r.select(TextFunctions.fingerprint(col("text")).as("fp") +: gen(r): _*)),
    WorkspaceIndex("mh", Seq("_id", "_band"), "doc_id" -> "_id", "mh_index" -> "_id",
      (d, idx) => idx.fold(Dedup.minhashDedup(d, "text", "doc_id",
          numHashes, bands, shingleLen, minhashThreshold))(
        Dedup.minhashDedupAgainst(d, "text", "doc_id", _,
          numHashes, bands, shingleLen, minhashThreshold)),
      r => withGen(r, "_id", Dedup.minhashIndex(r, "text", "doc_id",
        numHashes, bands, shingleLen, maxBucketSize))),
    // partial-copy spam: a delta doc that mostly QUOTES released content
    // passes the fingerprint and the sketch but lights up the chunks
    WorkspaceIndex("chunk", Seq("doc_id", "chunk_md5"), "doc_id" -> "doc_id",
      "chunk_index" -> "doc_id",
      (d, idx) => idx.fold(Dedup.containmentDedup(d, "text", "doc_id",
          containmentThresholdFp, maxBucketSize = maxBucketSize))(
        Dedup.containmentDedupAgainst(d, "text", "doc_id", _,
          containmentThresholdFp, maxBucketSize = maxBucketSize)),
      r => withGen(r, "doc_id", Dedup.chunkIndex(r.drop("_gen"), "text", "doc_id"))))

  /** Release rows with every `retireBy` key a doc owns: `doc_id` is
    * there already, `fp` is the text's fingerprint. */
  def keyed(release: DataFrame): DataFrame =
    release.withColumn("fp", TextFunctions.fingerprint(col("text")))

  private def gen(r: DataFrame): Seq[Column] =
    if (r.columns.contains("_gen")) Seq(col("_gen")) else Nil

  private def withGen(r: DataFrame, idCol: String, idx: DataFrame): DataFrame =
    if (!r.columns.contains("_gen")) idx
    else idx.join(r.select(col("doc_id").as(idCol), col("_gen")), Seq(idCol))
}
