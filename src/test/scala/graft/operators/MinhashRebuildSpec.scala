package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Pins the r20 incremental maintenance rebuild
  * ([[Dedup.minhashIndexIncremental]]) against the full
  * [[Dedup.minhashIndex]] rebuild it replaces: identical row sets on
  * every divergence class (stranded capped docs, half-indexed docs,
  * stray takedown leftovers, over-cap buckets), and a None (skip) on a
  * settled index that already equals its rebuild. */
class MinhashRebuildSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Filler docs with unique texts + a trio per `root` whose members
    * share one cyclically-repeated sentence (identical shingle SETS →
    * identical signatures → same bucket in every band) — the
    * q_maintenance_tick fixture shape. */
  private def corpus(nFill: Int, roots: Seq[Long]): DataFrame = {
    val fill = (1000L until (1000L + nFill)).map(i =>
      Row(i, s"filler article $i " + (0 until 12).map(k => s"w${i}_$k").mkString(" ")))
    val trios = roots.flatMap { r =>
      val s = s"maint $r alpha beta gamma delta"
      // clone ids -2r and -2r-1: unique per root
      Seq(Row(r, Seq.fill(3)(s).mkString(" ")),
        Row(-2 * r, Seq.fill(4)(s).mkString(" ")),
        Seq.fill(5)(s).mkString(" ") match { case t => Row(-2 * r - 1, t) })
    }
    val ids = (fill ++ trios).map(_.getLong(0))
    assert(ids.distinct.size == ids.size, s"doc_id must be unique: ${ids.diff(ids.distinct)}")
    df(schema, fill ++ trios)
  }

  private def rows(d: DataFrame): Set[(Long, Seq[Long], Int, Long)] =
    d.select(col("_id"), col("_sig"), col("_band"), col("_bucket"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getInt(2), r.getLong(3)))
      .toSet

  test("stranded capped docs: incremental equals the full rebuild") {
    val all = corpus(6, Seq(1L, 2L))
    // cap 2 drops every trio bucket whole: roots have ZERO index rows
    val idx = Dedup.minhashIndex(all, "text", "doc_id", maxBucketSize = 2)
    assert(idx.filter(col("_id").isin(1L, 2L)).count() === 0L)
    // the clones are taken down; the release keeps fillers + roots
    val release = all.filter(col("doc_id") >= 0)
    val idxAfterTakedown = idx.filter(col("_id") >= 0)
    val full = Dedup.minhashIndex(release, "text", "doc_id", maxBucketSize = 2)
    val incr = Dedup.minhashIndexIncremental(release, "text", "doc_id",
      idxAfterTakedown, maxBucketSize = 2)
    assert(incr.isDefined, "a stranded doc must force a rebuild")
    assert(rows(incr.get) === rows(full))
    // the re-capped roots are probeable again
    assert(incr.get.filter(col("_id").isin(1L, 2L)).count() === 32L)
  }

  test("half-indexed doc is recomputed; settled index skips") {
    val release = corpus(8, Nil)
    val full = Dedup.minhashIndex(release, "text", "doc_id", maxBucketSize = 2000)
    // simulate the half-indexed crash tail: drop half of one doc's rows
    val damaged = full.filter(!(col("_id") === 1003L && col("_band") < 8))
    val incr = Dedup.minhashIndexIncremental(release, "text", "doc_id", damaged)
    assert(incr.isDefined, "a half-indexed doc must force a rebuild")
    assert(rows(incr.get) === rows(full))
    // a settled index IS its own rebuild — the rewrite is skipped
    assert(Dedup.minhashIndexIncremental(release, "text", "doc_id", full).isEmpty)
  }

  test("stray takedown leftover forces the rebuild that drops it") {
    val all = corpus(8, Nil)
    val idx = Dedup.minhashIndex(all, "text", "doc_id")
    val release = all.filter(col("doc_id") =!= 1002L) // 1002 taken down
    val full = Dedup.minhashIndex(release, "text", "doc_id")
    val incr = Dedup.minhashIndexIncremental(release, "text", "doc_id", idx)
    assert(incr.isDefined, "a stray index doc must force a rebuild")
    assert(rows(incr.get) === rows(full))
  }

  test("over-cap bucket re-caps even with every doc covered") {
    val all = corpus(4, Seq(1L))
    // uncapped build keeps the trio bucket (3 members, each fully banded)
    val idx = Dedup.minhashIndex(all, "text", "doc_id", maxBucketSize = 0)
    val full = Dedup.minhashIndex(all, "text", "doc_id", maxBucketSize = 2)
    val incr = Dedup.minhashIndexIncremental(all, "text", "doc_id", idx,
      maxBucketSize = 2)
    assert(incr.isDefined, "an over-cap bucket must force a re-cap")
    assert(rows(incr.get) === rows(full))
  }

  test("cap-stranded docs settle: the second maintenance skips the rewrite") {
    val all = corpus(6, Seq(1L, 2L))
    // appends across ticks are capped per tick only, so the trio buckets
    // (3 members each) grew past the cap of 2 in the stored index
    val grown = Dedup.minhashIndex(all, "text", "doc_id", maxBucketSize = 0)
    val first = Dedup.minhashIndexIncremental(all, "text", "doc_id", grown, maxBucketSize = 2)
    assert(first.isDefined, "an over-cap bucket must force a re-cap")
    assert(rows(first.get) === rows(Dedup.minhashIndex(all, "text", "doc_id", maxBucketSize = 2)))
    // the re-cap strands every trio member: none of its buckets fits
    assert(first.get.filter(col("_id") < 1000L).count() === 0L)
    // the first maintenance writes its rebuild; the second finds the
    // stored index equal to its own rebuild, stranded docs included
    val c = new graft.sources.ParquetConnector(spark, tmpDir("graft_mh_settle_"))
    c.write(first.get, "mh_index")
    assert(Dedup.minhashIndexIncremental(all, "text", "doc_id", c.read("mh_index"),
      maxBucketSize = 2).isEmpty, "a settled index with cap-stranded docs must skip")
  }
}
