package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The durable-write seam of every file-backed table: the one place that
  * builds tmp paths, moves files and swaps directories. Publish is the
  * reference's tmp-table + `RENAME` pattern (taskrabbit/forklift
  * `patterns/mysql_patterns.rb:28-43`) at the filesystem layer: a failure
  * mid-publish never loses the existing table.
  */
object FileTableOps {

  /** A fresh `.tmp_<name>_<nanos>` sibling of `dst`, `<name>` being
    * `dst`'s file name without its extension. */
  private def tmpFor(dst: Path): Path = {
    val n = dst.getFileName.toString
    val stem = if (n.lastIndexOf('.') > 0) n.substring(0, n.lastIndexOf('.')) else n
    dst.resolveSibling(s".tmp_${stem}_${System.nanoTime()}")
  }

  /** Atomic publish: `write` fills a fresh tmp sibling of `dst`, which
    * then [[replace]]s `dst`. A `write` that throws leaves `dst` as it
    * was (and its tmp dir behind, which [[list]] never reports). */
  def publish(dst: Path)(write: Path => Unit): Unit = {
    val tmp = tmpFor(dst)
    write(tmp)
    replace(dst.getParent.toString, tmp, dst)
  }

  /** File-additive append: `write` fills a fresh tmp sibling of `dst`,
    * whose `ext` data files then move into `dst` — O(delta), existing
    * files untouched. Spark part-file names carry a UUID, so they cannot
    * collide with the table's. Each move is atomic; a crash mid-move
    * leaves a partial append of whole files (the reference's
    * non-transactional multi-row INSERT has the same contract,
    * `transports/mysql.rb:87`), never a torn file. */
  def appendFiles(dst: Path, ext: String)(write: Path => Unit): Unit = {
    val tmp = tmpFor(dst)
    write(tmp)
    dataFiles(tmp, ext).foreach(f =>
      Files.move(f, dst.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE))
    deleteRecursively(tmp)
  }

  /** Atomically replace `dst` with `tmp`: move the existing `dst` to a
    * trash path, move `tmp` into place, delete the trash — rolling the
    * original back if the final move fails. Readers observe either the
    * old or the new table, never a missing or partial one. */
  def replace(dir: String, tmp: Path, dst: Path): Unit = {
    val trash = Paths.get(dir, s".tmp_del_${System.nanoTime()}")
    val existed = Files.exists(dst)
    if (existed) Files.move(dst, trash, StandardCopyOption.ATOMIC_MOVE)
    try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    catch { case e: Throwable =>
      if (existed) Files.move(trash, dst, StandardCopyOption.ATOMIC_MOVE) // rollback
      throw e
    }
    if (existed) deleteRecursively(trash)
  }

  /** Swap table `from` in over table `to` — a [[replace]], so a missing
    * `from` or a failed move leaves `to` as it was. It is the catalog's
    * verb: connectors name two tables, never a trash dir, and no caller
    * outside this object calls [[replace]] (`DurableSeamSpec` holds every
    * swap to this file, where a fault-injecting wrapper can see it). */
  def rename(from: Path, to: Path): Unit = replace(to.getParent.toString, from, to)

  def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children = try {
        val b = Seq.newBuilder[Path]; val it = s.iterator()
        while (it.hasNext) b += it.next(); b.result()
      } finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  /** A table's data files: every `ext` file under `table`, recursively
    * (partitioned layouts nest them), skipping hidden and metadata files
    * (`.`/`_` prefixed). Empty when `table` is no directory. */
  def dataFiles(table: Path, ext: String): Seq[Path] = {
    if (!Files.isDirectory(table)) return Seq.empty
    val s = Files.walk(table)
    try {
      val b = Seq.newBuilder[Path]; val it = s.iterator()
      while (it.hasNext) {
        val f = it.next(); val n = f.getFileName.toString
        if (n.endsWith(ext) && !n.startsWith(".") && !n.startsWith("_") &&
            Files.isRegularFile(f)) b += f
      }
      b.result()
    } finally s.close()
  }

  /** Table names in `dir` with the given extension, skipping tmp files. */
  def list(dir: String, ext: String): Seq[String] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try {
      val b = Seq.newBuilder[String]; val it = s.iterator()
      while (it.hasNext) {
        val n = it.next().getFileName.toString
        if (n.endsWith(ext) && !n.startsWith(".tmp_")) b += n.stripSuffix(ext)
      }
      b.result().sorted
    } finally s.close()
  }
}
