package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Keeps the durable-write seam single: every tmp path, file move and
  * table swap in `src/main/scala` lives in `sources/FileTableOps.scala`,
  * so a fault-injecting wrapper there sees every durable action. Run
  * from the project root (sbt's forked test JVM is). */
class DurableSeamSpec extends AnyFunSuite {

  test("tmp paths, file moves and table swaps appear only in FileTableOps") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root missing")
    val seam = root.resolve("graft/sources/FileTableOps.scala")
    assert(Files.isRegularFile(seam))
    val s = Files.walk(root)
    val sources = try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    val hits = for {
      (p: Path) <- sources if p != seam
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      token <- Seq(".tmp_", "Files.move(", "FileTableOps.replace(") if line.contains(token)
    } yield s"$p:${i + 1}: $token"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
