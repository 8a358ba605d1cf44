package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call from the benchmark into a public function of a layer.
  * Times are epoch milliseconds; `outBytes` is the workspace bytes the
  * call added or rewrote (-1 when the span has no workspace);
  * `excludedMs` is the time the tracer itself spent inside the span
  * walking the workspace for its child spans. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      start: Double, end: Double, outBytes: Long, excludedMs: Double)

/** Spans kept in memory and written out once at the end of the run.
  * Every Spark job a span submits carries the span id in the
  * `perfbench.span` job-local property (Plan.doStep overwrites only the
  * job description, so the property survives plan steps); the listener
  * below attributes jobs, stages and task metrics through it. While
  * `on` is false, `span` is a plain call. */
final class Tracer(spark: SparkSession) {
  import Tracer.Key
  private val sc = spark.sparkContext
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  val spans = ArrayBuffer[Span]()
  val listener = new SpanListener
  private var stack = List.empty[Int]
  private val excluded = scala.collection.mutable.Map[Int, Double]().withDefaultValue(0.0)
  private var nextId = 0
  var on = false
  var kind = "op"
  /** Root whose changed bytes each span reports as `outBytes`. */
  var workspace: Option[Path] = None

  def nowMs(): Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  def enable(): Unit = { sc.addSparkListener(listener); on = true }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      // the walks sit outside this span but inside its parent: charge
      // them to the parent so its self time stays the program's own
      def walk(): Option[Map[String, (Long, Long)]] = {
        val w0 = nowMs()
        val snap = workspace.map(Tracer.snapshot)
        excluded(parent) += nowMs() - w0
        snap
      }
      val before = walk()
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, id.toString)
      stack = id :: stack
      val start = nowMs()
      try body
      finally {
        val end = nowMs()
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
        val out = before.fold(-1L)(b => Tracer.changedBytes(b, walk().get))
        spans += Span(id, parent, name, kind, start, end, out, excluded(id))
      }
    }
}

object Tracer {
  val Key = "perfbench.span"

  /** path -> (size, mtime) of every regular file under `root`. */
  def snapshot(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val b = Map.newBuilder[String, (Long, Long)]
        s.iterator().forEachRemaining { p =>
          try {
            if (Files.isRegularFile(p))
              b += p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
          } catch { case _: java.io.IOException => () } // removed mid-walk
        }
        b.result()
      } finally s.close()
    }

  /** Bytes of the files in `after` that are new or changed since `before`. */
  def changedBytes(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.iterator.collect { case (p, v @ (size, _)) if !before.get(p).contains(v) => size }.sum

  def dirBytes(root: Path): Long = snapshot(root).valuesIterator.map(_._1).sum
}

/** Job intervals and task metrics, keyed by the span that submitted them. */
final class SpanListener extends SparkListener {
  final case class Job(span: Int, start: Long, var end: Long)
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val cpuNs = new ConcurrentHashMap[Int, java.lang.Long]()
  val shuffleBytes = new ConcurrentHashMap[Int, java.lang.Long]()

  private def spanOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Key))).map(_.toInt)

  private def add(m: ConcurrentHashMap[Int, java.lang.Long], k: Int, v: Long): Unit =
    m.merge(k, v, (a, b) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach(s => jobs.put(e.jobId, Job(s, e.time, -1L)))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
      add(cpuNs, s, m.executorCpuTime)
      add(shuffleBytes, s, m.shuffleWriteMetrics.bytesWritten)
    }
}
