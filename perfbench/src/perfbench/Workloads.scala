package perfbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.operators.Warc
import graft.pipelines.TrainingDataPipeline
import graft.plans.{Plan, PlanConfig}
import graft.sources.ParquetConnector

/** One closed-loop workload: a single client issues op i+1 only after
  * op i returned. `prepare` is the input generator's step before an op
  * and is never timed. */
trait Workload {
  /** Directory the program writes its durable state to. */
  def workspace: Option[Path]
  def setup(): Unit
  /** Untimed ops that end set-up. The JIT is still compiling through
    * the first few ops of a fresh JVM; one warm-up op left the first
    * timed op ~40 % slower than the later ones. */
  def warmUpOps: Int = 2
  /** The untimed warm-up: ops 0 until `warmUpOps`, with the background
    * op after the first, so no timed call is the first of its kind. */
  def warmUp(): Unit = (0 until warmUpOps).foreach { i =>
    prepare(i); op(i)
    if (i == 0 && bgEvery > 0) bg()
  }
  def prepare(i: Int): Unit = ()
  def op(i: Int): Unit
  /** A background op runs before every `bgEvery`-th op (0 = none). */
  def bgEvery: Int = 0
  def bg(): Unit = ()
  /** Untimed output checks run inside the JVM; returns the failures. */
  def check(): Seq[String]
  /** Bytes of generated input landed so far, bootstrap included. */
  def inputBytes: Long
  /** Bytes the workload leaves in its workspace (the `space_amp` numerator). */
  def outputBytes: Long = workspace.fold(0L)(Tracer.dirBytes)
  /** Extra JSON fields for the harness (paths, oracle SQL). */
  def extra: Seq[(String, String)] = Nil
}

object Workloads {
  def apply(name: String, spark: SparkSession, t: Tracer, seed: Long,
            input: String, work: String, queries: Seq[String]): Workload = name match {
    case "batch_queries" => new BatchQueries(spark, t, seed, input, work, queries)
    case "crawl_tick" => new CrawlTick(spark, t, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def plan(spark: SparkSession, work: String): Plan =
    new Plan(spark, PlanConfig(pidDir = s"$work/pid"))
}

/** One pass over registry queries in a seed-shuffled order, each into
  * the `noop` sink. */
final class BatchQueries(spark: SparkSession, t: Tracer, seed: Long,
                         input: String, work: String, queries: Seq[String]) extends Workload {
  val names: Seq[String] = new scala.util.Random(seed).shuffle(queries)
  private val results = Paths.get(work, "results")
  def workspace: Option[Path] = None
  def setup(): Unit = ()
  /** After two warm-up passes the timed passes still sped up by ~20 %
    * over the first six. */
  override def warmUpOps: Int = 3
  def op(i: Int): Unit = names.foreach { q =>
    t.span(s"SparkEntry.$q") {
      SparkEntry.queries(q)(spark, input).write.format("noop").mode("overwrite").save()
    }
  }
  /** The warm-up first writes every result to parquet for the harness's
    * DuckDB oracle compare, then makes its passes into the `noop` sink
    * the timed passes use. */
  override def warmUp(): Unit = {
    names.foreach { q =>
      SparkEntry.queries(q)(spark, input).write.mode(SaveMode.Overwrite)
        .parquet(results.resolve(q).toString)
    }
    super.warmUp()
  }
  def check(): Seq[String] = Nil
  def inputBytes: Long = Tracer.dirBytes(Paths.get(input))
  override def outputBytes: Long = Tracer.dirBytes(results)
  override def extra: Seq[(String, String)] = Seq(
    "results" -> Json.str(results.toString),
    "oracle" -> Json.obj(names.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
}

/** The incremental crawl loop over a warm workspace: write generation
  * g's archives, then one `crawlTick` plan; maintenance in between. */
final class CrawlTick(spark: SparkSession, t: Tracer, seed: Long, work: String)
    extends Workload {
  import spark.implicits._
  private val tickWork = Paths.get(work, "dest")
  private val warcRoot = Paths.get(work, "warc")
  private val sites = spark.range(5000).filter(col("id") % 61 === seed % 61)
    .select(col("id").as("doc_id"))
  private var landed = 0L
  private var lastGen = -1
  val tickSteps = Seq("tick_cdx", "tick_delta", "tick_ingest", "tick_filter",
    "tick_publish", "tick_promote")
  val maintSteps = Seq("maint_rebuild_mh", "maint_compact")
  def workspace: Option[Path] = Some(tickWork)

  private def genDir(g: Int): Path = warcRoot.resolve(s"gen$g")
  private def writeGen(g: Int): Unit = {
    val dir = genDir(g)
    Files.createDirectories(dir)
    Warc.syntheticWarcGen(sites, "doc_id", g).select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])].collect().foreach { case (id, bytes) =>
        Files.write(dir.resolve(s"$id.warc"), bytes)
        landed += bytes.length
      }
    lastGen = g
  }
  /** Runs the plan's steps one `plan.run(Seq(step))` at a time while
    * tracing, so each step is its own span; otherwise one `run()`. */
  private def runSteps(p: Plan, steps: Seq[String]): Unit = t.span("plans.Plan") {
    if (t.on) steps.foreach(s => t.span(s"pipelines.$s")(p.run(Seq(s))))
    else p.run()
  }
  private def tick(g: Int): Unit = {
    val p = Workloads.plan(spark, work)
    // Bench.crawlTickSteady's parameters: the synthetic pages pass no
    // language gate and are near-twins, so the gate is off and the
    // sketch threshold (1.01) keeps the probe join and appends in play
    TrainingDataPipeline.crawlTick(p, genDir(g).toString, tickWork.toString,
      minQuality = 0.0, langs = Nil, minhashThreshold = 1.01)
    runSteps(p, tickSteps)
  }

  def setup(): Unit = { writeGen(0); tick(0) }
  override def prepare(i: Int): Unit = writeGen(i + 1)
  def op(i: Int): Unit = tick(i + 1)
  override val bgEvery = 4
  override def bg(): Unit = {
    val p = Workloads.plan(spark, work)
    TrainingDataPipeline.maintenanceTick(p, tickWork.toString)
    runSteps(p, maintSteps)
  }

  def check(): Seq[String] = {
    val w = new ParquetConnector(spark, tickWork.toString)
    // a CDX is one row per archive record: a few hundred rows here
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val cdxOk = rows(w.read("cdx_current")) ==
      rows(Warc.readWarcCdxDir(spark, genDir(lastGen).toString))
    val rel = w.read("release_current")
    val uncovered = rel.select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp"))
      .join(w.read("fp_index").select("fp"), Seq("fp"), "left_anti").count()
    val counts = rel.agg(count(lit(1)), countDistinct(col("doc_id"))).head()
    val (relRows, relDocs) = (counts.getLong(0), counts.getLong(1))
    Seq(
      cdxOk -> s"cdx_current differs from generation $lastGen's CDX",
      (relRows == relDocs) -> s"release_current has ${relRows - relDocs} duplicate doc rows",
      (relRows > 0) -> "release_current is empty",
      (uncovered == 0) -> s"fp_index misses $uncovered release docs"
    ).collect { case (false, msg) => msg }
  }
  def inputBytes: Long = landed
}
