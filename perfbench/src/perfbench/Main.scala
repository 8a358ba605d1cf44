package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** Latencies of one timed phase (seconds) and the process CPU it used. */
final class Phase(val traced: Boolean) {
  val ops = ArrayBuffer[Double]()
  val bgs = ArrayBuffer[Double]()
  val opCpu = ArrayBuffer[Double]()
  var opFailed, bgFailed = 0
  var wall, cpu = 0.0
  def json: String = Json.obj(Seq(
    "traced" -> traced.toString,
    "ops" -> Json.arr(ops.map(Json.num)), "op_cpu" -> Json.arr(opCpu.map(Json.num)),
    "bgs" -> Json.arr(bgs.map(Json.num)),
    "op_failed" -> opFailed.toString, "bg_failed" -> bgFailed.toString,
    "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(cpu)))
}

/** JVM side of the benchmark: runs one workload and writes raw
  * latencies, spans and check results as JSON for the harness.
  *
  * Args: --workload --seed --seconds --trace --input --work --out
  * [--queries q1,q2,...]. */
object Main {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = os.getProcessCpuTime / 1e9
  private def rssPeakKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case s if s.startsWith("VmHWM:") => s.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new StringBuilder
    try {
      val tracer = new Tracer(spark)
      val wl = Workloads(a("workload"), spark, tracer, a("seed").toLong, a("input"), work,
        a.getOrElse("queries", "").split(',').filter(_.nonEmpty).toSeq)
      tracer.workspace = wl.workspace
      val sessionMs = System.currentTimeMillis()
      wl.setup()
      val bootstrapMs = System.currentTimeMillis()
      wl.warmUp()
      val firstOpMs = System.currentTimeMillis()
      var next = wl.warmUpOps
      // space_amp and the resident peak are read after the first timed
      // op: a point every run reaches with the same ops behind it, however
      // fast the machine. At run end both would grow with the number of
      // ops the machine fit in (the old generation fills with promoted
      // garbage until its first full collection).
      var fixedPoint: Option[(Long, Long, Long)] = None
      def phase(p: Phase, budget: Double): Phase = {
        var j = 0
        def timed(body: => Unit): (Double, Double, Boolean) = {
          val c0 = cpuS(); val t0 = System.nanoTime()
          val ok = try { body; true } catch {
            case e: Throwable => System.err.println(s"[perfbench] op failed: $e"); false
          }
          val w = (System.nanoTime() - t0) / 1e9; val c = cpuS() - c0
          p.wall += w; p.cpu += c
          (w, c, ok)
        }
        while (p.wall < budget) {
          if (wl.bgEvery > 0 && j % wl.bgEvery == 0) {
            tracer.kind = "bg"
            val (w, _, ok) = timed(wl.bg())
            if (ok) p.bgs += w else p.bgFailed += 1
          }
          wl.prepare(next)
          tracer.kind = "op"
          val (w, c, ok) = timed(wl.op(next))
          if (ok) { p.ops += w; p.opCpu += c } else p.opFailed += 1
          if (fixedPoint.isEmpty) fixedPoint = Some((wl.outputBytes, wl.inputBytes, rssPeakKb()))
          j += 1; next += 1
        }
        p
      }
      val phases =
        if (!traced) Seq(phase(new Phase(false), seconds))
        else {
          val plain = phase(new Phase(false), seconds)
          tracer.enable()
          Seq(plain, phase(new Phase(true), seconds))
        }
      tracer.on = false
      val failures = wl.check()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val l = tracer.listener
      val spans = tracer.spans.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "kind" -> Json.str(s.kind), "start" -> Json.num(s.start), "end" -> Json.num(s.end),
        "out_bytes" -> s.outBytes.toString, "excluded_ms" -> Json.num(s.excludedMs),
        "cpu_ns" -> Option(l.cpuNs.get(s.id)).fold("0")(_.toString),
        "shuffle_bytes" -> Option(l.shuffleBytes.get(s.id)).fold("0")(_.toString))))
      val jobs = l.jobs.values.asScala.map(j => Json.obj(Seq(
        "span" -> j.span.toString, "start" -> j.start.toString, "end" -> j.end.toString)))
      out ++= Json.obj(Seq(
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getStartTime.toString,
        "session_ms" -> sessionMs.toString, "bootstrap_ms" -> bootstrapMs.toString,
        "first_op_ms" -> firstOpMs.toString,
        "cores" -> cores.toString,
        "phases" -> Json.arr(phases.map(_.json)),
        "failures" -> Json.arr(failures.map(Json.str)),
        "workspace_bytes" -> fixedPoint.get._1.toString,
        "input_bytes" -> fixedPoint.get._2.toString,
        "rss_peak_kb" -> fixedPoint.get._3.toString,
        "spans" -> Json.arr(spans),
        "jobs" -> Json.arr(jobs)) ++ wl.extra)
    } finally spark.stop()
    Files.write(Paths.get(a("out")), out.toString.getBytes("UTF-8"))
  }
}
