package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Shared filesystem primitives for the file-backed connectors — in
  * particular the atomic-publish swap with rollback, so Csv/JsonDoc get
  * the same crash-safety contract as Parquet: a failure mid-publish never
  * loses the existing table (the reference's tmp-table + `RENAME` pattern,
  * taskrabbit/forklift `patterns/mysql_patterns.rb:35-39`, at the
  * filesystem layer).
  */
object FileTableOps {

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

  /** A parquet table's data files: every `.parquet` file under `table`,
    * recursively (partitioned layouts nest them), skipping hidden and
    * metadata files (`.`/`_` prefixed). Empty when `table` is no
    * directory. */
  def dataFiles(table: Path): Seq[Path] = {
    if (!Files.isDirectory(table)) return Seq.empty
    val s = Files.walk(table)
    try {
      val b = Seq.newBuilder[Path]; val it = s.iterator()
      while (it.hasNext) {
        val f = it.next(); val n = f.getFileName.toString
        if (n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_") &&
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
