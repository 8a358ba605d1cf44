package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-layout clustering: Z-order (Morton) multi-dimensional sort for
  * parquet writes, so selective filters on ANY of the clustered columns
  * skip most files/row-groups via min-max statistics.
  *
  * Why it matters at 100 TB: a table range-partitioned by one column
  * prunes only on that column; a query filtering on a second dimension
  * scans everything. Interleaving the bits of k normalized column ranks
  * gives a 1-D sort key whose contiguous runs are k-dimensional
  * rectangles — every clustered column gets (coarser) pruning from the
  * same single sort. This is the published Delta/Iceberg OPTIMIZE
  * ZORDER design re-expressed with plain Spark primitives:
  * min/max-normalize → bit-interleave (codegen'd bitwise expressions,
  * no UDF) → `repartitionByRange` + `sortWithinPartitions` → write.
  *
  * Normalization here is linear min/max scaling (one tiny agg pass —
  * collected min/max are 2k scalars, not data). Heavily skewed columns
  * would concentrate ranks; swap the scale step for
  * `approxQuantile`-based boundaries if that's material — the interleave
  * and write path are unchanged.
  */
object Layout {

  /** Interleave the low `bits` of each (already normalized to
    * [0, 2^bits)) long column: result bit `b*k + (k-1-i)` = bit `b` of
    * column i, so all columns contribute equally at every granularity.
    * Plain shift/mask/OR expression tree — whole-stage codegen folds it
    * into straight-line long arithmetic. */
  def interleaveBits(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "interleaveBits needs at least one column")
    val k = cols.length
    require(k * bits <= 63, s"$k cols x $bits bits exceeds a signed long")
    val terms = for {
      b <- 0 until bits
      (c, i) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, b).bitwiseAND(lit(1L)), b * k + (k - 1 - i))
    terms.reduce((a, z) => a.bitwiseOR(z))
  }

  /** Morton key for arbitrary numeric columns: min/max-scale each to
    * [0, 2^bits) using the provided per-column (min, max) stats, then
    * interleave. Constant columns (min == max) contribute rank 0. */
  def zorderKey(cols: Seq[(Column, (Double, Double))], bits: Int = 16): Column = {
    val top = (1L << bits) - 1
    val scaled = cols.map { case (c, (lo, hi)) =>
      if (hi <= lo) lit(0L)
      else least(lit(top), greatest(lit(0L),
        floor((c.cast("double") - lit(lo)) / lit(hi - lo) * lit(top.toDouble)).cast("long")))
    }
    interleaveBits(scaled, bits)
  }

  /** Write `df` to parquet clustered by the Z-order of `zCols`:
    * one stats agg (2k scalars to the driver), `repartitionByRange` on
    * the Morton key (sampled range boundaries — no global sort), sort
    * within partitions, write `numFiles` files. The key column is
    * dropped before the write; per-partition order survives the
    * projection. */
  def zorderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  numFiles: Int, bits: Int = 16): Unit = {
    require(zCols.nonEmpty, "zorderWrite needs at least one cluster column")
    val statsRow = df.select(zCols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double")))): _*).head()
    def d(i: Int): Double = if (statsRow.isNullAt(i)) 0.0 else statsRow.getDouble(i)
    val stats = zCols.indices.map(i => (d(2 * i), d(2 * i + 1)))
    val keyed = df.withColumn("_z",
      zorderKey(zCols.zip(stats).map { case (c, mm) => (col(c), mm) }, bits))
    keyed
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-files compaction: rewrite a parquet table dir into
    * ⌈totalBytes / targetFileBytes⌉ files — the maintenance pass every
    * streaming/incremental sink needs (a thousand 100 KB part files
    * make the NEXT reader pay a task per file and the namenode pay an
    * inode each; at 100 TB the small-files problem kills clusters
    * before capacity does). SHUFFLE-FREE by construction: the scan
    * already groups small files into `maxPartitionBytes` splits, and
    * `coalesce` (never `repartition`) narrows to the target count.
    * Publish is the connector contract — write to a tmp dir, one
    * atomic rename — so readers never observe partial state.
    * Returns (filesBefore, filesAfter). */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession, path: String,
                        targetFileBytes: Long = 128L << 20): (Int, Int) = {
    require(targetFileBytes > 0L, s"targetFileBytes must be positive, got $targetFileBytes")
    val dataFiles = graft.sources.FileTableOps.dataFiles(java.nio.file.Paths.get(path), ".parquet")
    require(dataFiles.nonEmpty, s"compactSmallFiles: no data files under $path")
    val totalBytes = dataFiles.map(java.nio.file.Files.size).sum
    val target = math.max(1L, (totalBytes + targetFileBytes - 1L) / targetFileBytes).toInt
    // r19: already-compact tables no-op — a maintenance tick over a
    // mostly-settled workdir must not pay a full rewrite of every table
    // that has nothing to compact (the rewrite is the cost the skip
    // guards; correctness is unchanged either way)
    if (dataFiles.length <= target) return (dataFiles.length, dataFiles.length)
    graft.sources.FileTableOps.publish(java.nio.file.Paths.get(path)) { tmp =>
      spark.read.parquet(path).coalesce(target)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp.toString)
    }
    (dataFiles.length, target)
  }
}
