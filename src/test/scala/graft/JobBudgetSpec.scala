package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.operators.{Dedup, Warc}
import graft.pipelines.TrainingDataPipeline
import graft.plans.{Plan, PlanConfig}
import graft.sources.ParquetConnector
import org.apache.spark.graftshim.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Job budgets: at this scale a crawl tick is bound by the number of
  * Spark jobs it submits, not by data, so every job a tick leg, a table
  * read or an operator build runs is pinned here. A minimal listener
  * counts the jobs submitted under a job-local property that only the
  * measured body carries, per job description — the plan step's label.
  * A budget may only go down: when a change saves jobs, lower the pin
  * to the new count. */
class JobBudgetSpec extends SparkSpec {

  private val Label = "graft.budget"

  /** Jobs `body` submits, by job description ("" outside a plan step). */
  private def jobsBy(body: => Any): Map[String, Int] = {
    val tag = java.util.UUID.randomUUID().toString
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(Label) == tag).foreach(p =>
          seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty(Label, tag)
    try body
    finally {
      sc.setLocalProperty(Label, null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    seen.asScala.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private def jobsOf(body: => Any): Int = jobsBy(body).values.sum

  test("a steady crawl tick and a settled maintenance stay within their job budgets") {
    val root = tmpDir("graft_budget_")
    val work = s"$root/work"
    val sites = spark.range(0, 24).select(col("id").as("doc_id"))
    def writeGen(g: Int): String = {
      val dir = Files.createDirectories(Paths.get(s"$root/gen$g"))
      Warc.syntheticWarcGen(sites, "doc_id", g).select(col("media_id"), col("payload"))
        .collect().foreach(r => Files.write(dir.resolve(s"${r.getLong(0)}.warc"),
          r.getAs[Array[Byte]]("payload")))
      dir.toString
    }
    def plan() = new Plan(spark, PlanConfig(pidDir = s"$root/pid"))
    // the benchmark's steady-tick parameters: the synthetic pages pass no
    // language gate and are near-twins, so the gate is off and the sketch
    // threshold keeps the probe join and the appends in play
    def tick(dir: String): Unit = {
      val p = plan()
      TrainingDataPipeline.crawlTick(p, dir, work,
        minQuality = 0.0, langs = Nil, minhashThreshold = 1.01)
      p.run()
    }
    def maintenance(): Unit = {
      val p = plan()
      TrainingDataPipeline.maintenanceTick(p, work)
      p.run()
    }
    tick(writeGen(0)); tick(writeGen(1)); maintenance()
    val gen2 = writeGen(2)
    val steady = jobsBy(tick(gen2))
    maintenance()
    val settled = jobsBy(maintenance())
    val budget = Map("step tick_cdx" -> 2, "step tick_delta" -> 3, "step tick_ingest" -> 4,
      "step tick_filter" -> 1, "step tick_publish" -> 35, "step maint_rebuild_mh" -> 7)
    val used = steady ++ settled
    assert(used.keySet.subsetOf(budget.keySet), s"jobs outside a budgeted step: $used")
    budget.foreach { case (step, max) =>
      assert(used.getOrElse(step, 0) <= max, s"$step ran ${used.getOrElse(step, 0)} jobs, budget $max")
    }
  }

  test("readTable on an unpartitioned table runs no job") {
    val c = new ParquetConnector(spark, tmpDir("graft_budget_pq_"))
    c.write(usersDf, "users")
    c.write(usersDf.limit(2), "users", org.apache.spark.sql.SaveMode.Append)
    assert(jobsOf(c.read("users")) == 0)
  }

  test("building the near-dup operators over an aggregated input runs no job") {
    val dir = tmpDir("graft_budget_docs_")
    spark.range(0, 40).select(col("id").as("doc_id"),
      concat(lit("page "), (col("id") % 7).cast("string"), lit(" of the same few words")).as("text"))
      .write.parquet(s"$dir/docs")
    val docs = spark.read.parquet(s"$dir/docs")
    // a shuffle upstream: the plan the crawl tick's gates hand each other
    val agg: DataFrame = docs.groupBy(col("doc_id")).agg(first(col("text")).as("text"))
    val index = Dedup.minhashIndex(docs, "text", "doc_id")
    assert(jobsOf(Dedup.minhashDedup(agg, "text", "doc_id")) == 0)
    assert(jobsOf(Dedup.minhashDedupAgainst(agg, "text", "doc_id", index)) == 0)
    assert(jobsOf(Dedup.hammingNearDupPairs(agg, Dedup.simhash(col("text")), "doc_id")) == 0)
    assert(jobsOf(Dedup.contentDefinedChunks(agg, "text", "doc_id")) == 0)
  }
}
