package graft.pipelines

import graft.SparkSpec
import graft.plans.{Plan, PlanConfig}
import org.apache.spark.sql.functions._

/** The incremental crawl-to-release tick end-to-end (VERDICT r16 #1):
  * two crawl generations on disk, one `crawlTick` plan per generation —
  * proving (1) only ADDED/CHANGED captures flow through the funnel (the
  * unchanged pages and the released corpus never enter
  * `delta_documents`), (2) the persisted exact + MinHash indexes drop
  * re-published and near-copy additions, (3) the release append is
  * idempotent by doc_id, and (4) a replay after a simulated
  * pre-promotion crash (CDX rolled back, indexes already written)
  * converges: same release, no lost rows, no duplicates. */
class CrawlTickJourneySpec extends SparkSpec {

  private val Ascii = java.nio.charset.StandardCharsets.US_ASCII

  private def record(headers: Seq[(String, String)], body: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => h.append(k).append(": ").append(v).append("\r\n") }
    h.append("Content-Length: ").append(body.length).append("\r\n\r\n")
    h.toString.getBytes(Ascii) ++ body ++ "\r\n\r\n".getBytes(Ascii)
  }

  private val head = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"

  private def response(uri: String, text: String): Array[Byte] =
    record(Seq("WARC-Type" -> "response", "WARC-Target-URI" -> uri),
      (head + s"<html><body><p>$text</p></body></html>").getBytes(Ascii))

  private def gz(b: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(b); g.close(); bo.toByteArray
  }

  private def warcFile(records: Seq[Array[Byte]]): Array[Byte] =
    (record(Seq("WARC-Type" -> "warcinfo"),
      "software: graft\r\n".getBytes(Ascii)) +: records).reduce(_ ++ _)

  // 14 genuinely distinct English page bodies
  private val pages = Seq(
    "the cat sat on the mat and watched the fire burn low in the evening",
    "a long road runs from the village to the sea and the walk takes one day",
    "bread rises in the warm oven while the baker reads the morning paper",
    "the old clock in the hall strikes twelve and the house falls silent again",
    "rain fell on the tin roof all night and the river rose by the morning",
    "the ship left the harbour before dawn with a cargo of salt and rope",
    "children played in the yard until the bell called them back to class",
    "the library keeps a map of the city drawn two hundred years ago",
    "a kettle whistles in the small kitchen and tea is poured for the guests",
    "the mountain path narrows near the summit where the snow never melts",
    "farmers brought apples and cheese to the market on the first cold day",
    "the train crossed the iron bridge slowly as the fog lifted from the water",
    "a letter arrived with news of the harvest and plans for the winter fair",
    "the lighthouse keeper trims the lamp and logs the passing of each storm")

  private def uri(i: Int) = s"http://example.org/p/$i"

  /** The two-generation crawl fixture the journey and heal specs share,
    * written under `prefix`-named temp dirs; returns (gen0Dir, gen1Dir). */
  private def twoGenerations(prefix: String): (String, String) = {
    val gen0Dir = tmpDir(s"${prefix}gen0_")
    val gen1Dir = tmpDir(s"${prefix}gen1_")
    // gen 0: pages 0-11 across two files (one gzipped) + a latin page
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen0Dir/a.warc"),
      warcFile((0 until 6).map(i => response(uri(i), pages(i))) :+
        response("http://example.org/latin",
          "the café by the harbour serves warm bread and the people like it there")))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen0Dir/b.warc.gz"),
      gz(warcFile((6 until 12).map(i => response(uri(i), pages(i))))))
    // gen 1: page 1 CHANGED, /latin GONE, pages 12 (fresh), 13 (an exact
    // re-publication of page 3 under a new URL — the fp-index probe must
    // drop it) and 14 (a near-copy of page 4 — the sketch probe must
    // drop it) ADDED; everything else byte-identical
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen1Dir/a2.warc"),
      warcFile((0 until 6).map(i =>
        response(uri(i), if (i == 1) pages(12) else pages(i)))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen1Dir/b2.warc.gz"),
      gz(warcFile((6 until 12).map(i => response(uri(i), pages(i))) ++ Seq(
        response(uri(12), pages(13)),
        response(uri(13), pages(3)),
        response(uri(14), pages(4) + " again and again")))))
    (gen0Dir, gen1Dir)
  }

  test("two crawl generations: delta-only funnel, index probes, idempotent release, " +
    "crash-replay convergence") {
    val (gen0Dir, gen1Dir) = twoGenerations("graft_tick_")
    val workDir = tmpDir("graft_tick_work_")
    def tick(dir: String): Unit = {
      val plan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_tick_pid_")))
      TrainingDataPipeline.crawlTick(plan, dir, workDir,
        minQuality = 0.0, langs = Seq("en"), minhashThreshold = 0.5)
      plan.run()
    }
    val work = new graft.sources.ParquetConnector(spark, workDir)

    // ── tick 1: first generation — everything is an addition
    tick(gen0Dir)
    assert(work.read("crawl_delta").select("status").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("added"))
    assert(work.count("release_current") == 13L) // 12 pages + latin
    assert(Seq("fp_index", "mh_index", "cdx_current").forall(work.tables.contains))

    // ── tick 2: the incremental generation
    tick(gen1Dir)
    val delta = work.read("crawl_delta").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(delta(uri(1)) == "changed" && delta("http://example.org/latin") == "gone")
    assert(Seq(12, 13, 14).forall(i => delta(uri(i)) == "added"))
    assert((0 until 12).filter(_ != 1).forall(i => delta(uri(i)) == "unchanged"))
    // ONLY the delta entered the funnel: 1 changed + 3 added — the 11
    // unchanged pages and the released corpus never reach the documents
    assert(work.count("delta_documents") == 4L,
      work.read("delta_documents").select("url").collect().mkString(";"))
    // index probes: the exact re-publication and the near-copy dropped,
    // the changed page and the fresh page survived
    val released2 = work.read("release_current")
    assert(released2.count() == 15L, released2.select("url").collect().mkString(";"))
    assert(released2.filter(col("url") === uri(13)).count() == 0L) // exact dup
    assert(released2.filter(col("url") === uri(14)).count() == 0L) // near dup
    assert(released2.filter(col("text").contains(pages(12))).count() == 1L)
    assert(released2.filter(col("text").contains(pages(13))).count() == 1L)
    // page 3's text exists exactly once despite its re-publication
    assert(released2.filter(col("text").contains(pages(3))).count() == 1L)

    // append-only index maintenance (VERDICT r17 #1): after two ticks
    // the fp index holds exactly one fingerprint per released doc —
    // never a duplicate (the anti-join + Append path), and the mh index
    // id set is exactly the release id set
    assert(work.count("fp_index") == 15L &&
      work.read("fp_index").distinct().count() == 15L)
    assert(work.read("mh_index").select("_id").distinct().count() == 15L)

    // ── tick 3: simulated crash BEFORE CDX promotion (indexes and the
    // release already learned gen 1) — roll the CDX back and replay
    work.drop("cdx_current")
    work.rename("cdx_previous", "cdx_current")
    tick(gen1Dir)
    assert(work.count("delta_documents") == 4L) // same delta re-derived
    assert(work.count("delta_release") == 0L)   // all already indexed
    val released3 = work.read("release_current")
    assert(released3.count() == 15L, "replay must not duplicate or lose rows")
    assert(released3.select("doc_id").distinct().count() == 15L)
    // the replayed tick appended NOTHING to the indexes (append ≡ the
    // old rewrite, across a replayed tick too)
    assert(work.count("fp_index") == 15L &&
      work.read("fp_index").distinct().count() == 15L)
    assert(work.read("mh_index").select("_id").distinct().count() == 15L)

    // ── tick 4: steady state — same crawl against its own promoted CDX
    tick(gen1Dir)
    assert(work.read("crawl_delta")
      .filter(col("status").isin("added", "changed")).count() == 0L)
    assert(work.count("delta_documents") == 0L)
    assert(work.count("release_current") == 15L)
    assert(work.count("fp_index") == 15L)

    // ── tick 5: the ADVICE r17 crash window — fp_index learned the
    // batch but the crash hit BEFORE the mh append completed (simulated
    // by deleting one released doc's sketch rows AND rolling the mh
    // watermark back to the pre-batch generation: a real crash in that
    // window leaves both — the rows unwritten and `wm_mh` stale) and
    // before the CDX promotion. The old batch-derived append could
    // never heal this: the replayed survivor set is EMPTY (fp_index
    // knows the batch), so newBands would stay empty and near-dup
    // detection against that doc would be silently degraded forever.
    // The watermarked heal re-derives the suspect generation's rows
    // and row-granularly appends exactly the missing ones.
    val wounded = released3.filter(col("text").contains(pages(12)))
      .select("doc_id").collect().head.getLong(0)
    val mhHealthy = work.read("mh_index")
      .filter(col("_id") =!= wounded).localCheckpoint(true)
    work.write(mhHealthy, "mh_index")
    val rolledBack = work.read("tick_state")
      .withColumn("gen",
        when(col("name") === "wm_mh", col("gen") - 1).otherwise(col("gen")))
      .localCheckpoint(true)
    work.write(rolledBack, "tick_state")
    assert(work.read("mh_index").select("_id").distinct().count() == 14L)
    work.drop("cdx_current")
    work.rename("cdx_previous", "cdx_current")
    tick(gen1Dir)
    assert(work.count("delta_release") == 0L) // fp_index still knows the batch
    assert(work.read("mh_index").select("_id").distinct().count() == 15L,
      "the mh index must self-heal from release_current")
    assert(work.read("mh_index").filter(col("_id") === wounded).count() > 0L)
    assert(work.count("release_current") == 15L && work.count("fp_index") == 15L)
  }

  test("containment gate: a quoting page drops via the persisted chunk index " +
    "(VERDICT r17 #5)") {
    val gen0Dir = tmpDir("graft_ctick_gen0_")
    val gen1Dir = tmpDir("graft_ctick_gen1_")
    val article = pages.take(10).mkString(" ") // ~140 words
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen0Dir/a.warc"),
      warcFile(Seq(response(uri(0), article),
        response(uri(1), pages(10)), response(uri(2), pages(11)))))
    // gen 1 adds: a QUOTING page — small preface + a six-page excerpt of
    // the released article + small closing. Not exact (fp passes), low
    // Jaccard vs the article (~0.38 — the wrapper dilutes the sketch,
    // mh passes at 0.75), but its own words are ~2/3 quoted chunks —
    // exactly the partial-copy spam only the chunk index catches. Plus
    // one genuinely fresh page that must survive all three gates.
    val quoting = "in todays reading circle we quote a passage from the archive " +
      pages.slice(2, 8).mkString(" ") +
      " that concludes the quoted passage thanks for reading along today"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen1Dir/a2.warc"),
      warcFile(Seq(response(uri(0), article),
        response(uri(1), pages(10)), response(uri(2), pages(11)),
        response(uri(3), quoting), response(uri(4), pages(12)))))

    val workDir = tmpDir("graft_ctick_work_")
    def tick(dir: String): Unit = {
      val plan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_ctick_pid_")))
      TrainingDataPipeline.crawlTick(plan, dir, workDir,
        minQuality = 0.0, langs = Seq("en"), minhashThreshold = 0.75,
        containment = true, containmentThresholdFp = 500000L)
      plan.run()
    }
    val work = new graft.sources.ParquetConnector(spark, workDir)
    tick(gen0Dir)
    assert(work.count("release_current") == 3L)
    assert(work.tables.contains("chunk_index"))
    assert(work.read("chunk_index").select("doc_id").distinct().count() == 3L)
    tick(gen1Dir)
    val released = work.read("release_current")
    assert(released.count() == 4L, released.select("url").collect().mkString(";"))
    assert(released.filter(col("url") === uri(3)).count() == 0L,
      "the quoting page must drop via the chunk-containment probe")
    assert(released.filter(col("url") === uri(4)).count() == 1L)
    // chunk index self-heals/appends to exactly the release id set
    assert(work.read("chunk_index").select("doc_id").distinct().count() == 4L)
  }

  test("plan evidence (VERDICT r18 #3): the heal's suspect scan pushes the generation " +
    "predicate to parquet, and a steady tick's watermarks equal the release generation " +
    "(the driver-side skip — no index or corpus id scan at all)") {
    val gen0Dir = tmpDir("graft_wm_gen0_")
    val gen1Dir = tmpDir("graft_wm_gen1_")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen0Dir/a.warc"),
      warcFile(Seq(response(uri(0), pages(0)), response(uri(1), pages(1)))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$gen1Dir/a.warc"),
      warcFile(Seq(response(uri(0), pages(0)), response(uri(1), pages(1)),
        response(uri(2), pages(2)))))
    val workDir = tmpDir("graft_wm_work_")
    def tick(dir: String): Unit = {
      val plan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_wm_pid_")))
      TrainingDataPipeline.crawlTick(plan, dir, workDir,
        minQuality = 0.0, langs = Seq("en"), minhashThreshold = 0.5)
      plan.run()
    }
    val work = new graft.sources.ParquetConnector(spark, workDir)
    tick(gen0Dir); tick(gen1Dir)
    def state: Map[String, Long] = work.read("tick_state").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = state
    assert(st("release") == 1L && st("wm_fp") == 1L && st("wm_mh") == 1L, st.toString)
    // the exact scan shape tick_publish's `needing` issues inside a
    // suspect window: the generation predicate reaches the parquet
    // scan (PushedFilters), so footer min/max stats prune every
    // settled generation's files — the heal reads the delta, never the
    // corpus
    val cand = work.read("release_current").filter(col("_gen") > lit(0L))
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        return scansIn(a.executedPlan)
    }
    val scan = scansIn(cand.queryExecution.executedPlan).head
    assert(scan.metadata("PushedFilters").contains("GreaterThan(_gen,0)"),
      scan.metadata("PushedFilters"))
    assert(cand.count() == 1L, "the suspect window is exactly the last delta")
    // steady replay: watermarks already equal the release generation,
    // which is tick_publish's driver-side guard (`wm >= relGen` skips
    // the whole heal leg) — the steady tick constructs NO index scan
    // and NO release re-scan for any index
    tick(gen1Dir)
    assert(state == st, "a steady tick must not move generations or watermarks")
  }

  // ── heal paths, one per persisted index: the tick-5 crash window
  // (index rows of one released doc lost, its watermark one generation
  // stale, CDX not yet promoted) and the one-time pre-generation
  // upgrade. The natural keys below are the on-disk contract, spelled
  // out here on purpose: these specs pin the heal, not its code.

  private def state(work: graft.sources.ParquetConnector): Map[String, Long] =
    work.read("tick_state").collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Index rows a released doc owns: its fingerprint in `fp_index`, its
    * id in the other two. */
  private def rowsOf(work: graft.sources.ParquetConnector, table: String,
                     docIds: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val idx = work.read(table)
    table match {
      case "fp_index" => idx.join(work.read("release_current")
        .join(docIds, Seq("doc_id"), "left_semi")
        .select(graft.functions.TextFunctions.fingerprint(col("text")).as("fp")),
        Seq("fp"), "left_semi")
      case "mh_index" => idx.join(docIds.select(col("doc_id").as("_id")), Seq("_id"), "left_semi")
      case _ => idx.join(docIds, Seq("doc_id"), "left_semi")
    }
  }

  private val naturalKey = Map("fp_index" -> Seq("fp"), "mh_index" -> Seq("_id", "_band"),
    "chunk_index" -> Seq("doc_id", "chunk_md5"))

  /** Every released doc owns index rows in `table`, and no natural key repeats. */
  private def assertCovers(work: graft.sources.ParquetConnector, table: String): Unit = {
    val rel = work.read("release_current").select(col("doc_id"))
    val key = naturalKey(table)
    // a key's first column names the doc (the release holds one doc per fingerprint)
    val coveredDocs = rowsOf(work, table, rel).select(key.head).distinct().count()
    val relDocs = rel.count()
    assert(coveredDocs == relDocs, s"$table covers $coveredDocs of $relDocs released docs")
    val idx = work.read(table)
    assert(idx.count() == idx.select(key.map(col): _*).distinct().count(),
      s"$table repeats a natural key ${key.mkString("(", ", ", ")")}")
  }

  private def crashWindowHeals(table: String, wmKey: String, containment: Boolean): Unit = {
    val (gen0Dir, gen1Dir) = twoGenerations(s"graft_heal_${wmKey}_")
    val workDir = tmpDir(s"graft_heal_${wmKey}_work_")
    def tick(dir: String): Unit = {
      val plan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_heal_pid_")))
      TrainingDataPipeline.crawlTick(plan, dir, workDir,
        minQuality = 0.0, langs = Seq("en"), minhashThreshold = 0.5,
        containment = containment)
      plan.run()
    }
    val work = new graft.sources.ParquetConnector(spark, workDir)
    tick(gen0Dir); tick(gen1Dir)
    val released = work.count("release_current")
    val st = state(work)
    assert(st(wmKey) == st("release"), st.toString)
    // the crash window: the doc's index rows never landed, the index's
    // watermark still names the previous generation, the CDX rotation
    // did not happen
    val wounded = work.read("release_current").filter(col("text").contains(pages(12)))
      .select("doc_id").localCheckpoint(true)
    val woundedId = wounded.collect().head.getLong(0)
    val lost = rowsOf(work, table, wounded).count()
    assert(lost > 0L)
    val healthy = work.read(table).exceptAll(rowsOf(work, table, wounded)).localCheckpoint(true)
    work.write(healthy, table)
    val rolledBack = work.read("tick_state")
      .withColumn("gen", when(col("name") === wmKey, col("gen") - 1).otherwise(col("gen")))
      .localCheckpoint(true)
    work.write(rolledBack, "tick_state")
    assert(rowsOf(work, table, wounded).count() == 0L)
    work.drop("cdx_current")
    work.rename("cdx_previous", "cdx_current")
    tick(gen1Dir)
    assert(work.count("delta_release") == 0L)
    assert(work.count("release_current") == released)
    assert(rowsOf(work, table, wounded).count() == lost,
      s"$table must top up exactly the rows doc $woundedId lost")
    (Seq("fp_index", "mh_index") ++ (if (containment) Seq("chunk_index") else Nil))
      .foreach(assertCovers(work, _))
    assert(state(work) == st, "the replay must land the watermark back on the release")
  }

  test("crash window heal: fp_index rows lost with wm_fp one generation stale " +
    "are topped up on replay") {
    crashWindowHeals("fp_index", "wm_fp", containment = false)
  }

  test("crash window heal: chunk_index rows lost with wm_chunk one generation stale " +
    "are topped up on replay (containment on)") {
    crashWindowHeals("chunk_index", "wm_chunk", containment = true)
  }

  test("pre-generation workspace: the next tick stamps _gen everywhere, heals a doc " +
    "missing from every index, and sets every watermark to the release generation") {
    val (gen0Dir, gen1Dir) = twoGenerations("graft_pregen_")
    // build a gen-0 release the normal way, then re-seed a fresh
    // workspace from it the way the takedown queries seed theirs:
    // release and the three indexes without `_gen`, no tick_state
    val seedDir = tmpDir("graft_pregen_seed_")
    val seedPlan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_pregen_pid_")))
    TrainingDataPipeline.crawlTick(seedPlan, gen0Dir, seedDir,
      minQuality = 0.0, langs = Seq("en"), minhashThreshold = 0.5)
    seedPlan.run()
    val seed = new graft.sources.ParquetConnector(spark, seedDir)
    val workDir = tmpDir("graft_pregen_work_")
    val work = new graft.sources.ParquetConnector(spark, workDir)
    val rel = seed.read("release_current").drop("_gen").localCheckpoint(true)
    // one released doc never reached any index (a pre-generation crash)
    val stranded = rel.filter(col("text").contains(pages(5))).select("doc_id")
      .collect().head.getLong(0)
    val indexed = rel.filter(col("doc_id") =!= stranded)
    work.write(rel, "release_current")
    work.write(graft.operators.Dedup.fingerprintIndex(indexed, "text"), "fp_index")
    work.write(graft.operators.Dedup.minhashIndex(indexed, "text", "doc_id"), "mh_index")
    work.write(graft.operators.Dedup.chunkIndex(indexed, "text", "doc_id"), "chunk_index")
    work.write(seed.read("cdx_current"), "cdx_current")
    assert(!work.tables.contains("tick_state"))

    val plan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_pregen_pid_")))
    TrainingDataPipeline.crawlTick(plan, gen1Dir, workDir,
      minQuality = 0.0, langs = Seq("en"), minhashThreshold = 0.5, containment = true)
    plan.run()

    assert(work.count("release_current") == 15L)
    val st = state(work)
    assert(st("release") == 1L, st.toString)
    Seq("fp_index" -> "wm_fp", "mh_index" -> "wm_mh", "chunk_index" -> "wm_chunk")
      .foreach { case (t, wm) =>
        assertCovers(work, t)
        assert(work.read(t).columns.contains("_gen") &&
          work.read(t).filter(col("_gen").isNull).count() == 0L, s"$t rows lack _gen")
        assert(st(wm) == st("release"), s"$wm = ${st.get(wm)}, release = ${st("release")}")
      }
    assert(work.read("release_current").filter(col("_gen").isNull).count() == 0L)
    val strandedRows = rowsOf(work, "mh_index",
      work.read("release_current").filter(col("doc_id") === stranded).select("doc_id"))
    assert(strandedRows.count() > 0L, "the legacy id-presence heal must index the stranded doc")
  }

  test("langs = Nil disables the language gate (quality still applies)") {
    val warcDir = tmpDir("graft_tick_nolang_")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$warcDir/x.warc"),
      warcFile(Seq(response(uri(0), "zzzq qqxz xxzq zzqx qzzx zqxz xqzz"))))
    val workDir = tmpDir("graft_tick_nolang_work_")
    val plan = new Plan(spark, PlanConfig(pidDir = tmpDir("graft_tick_nolang_pid_")))
    TrainingDataPipeline.crawlTick(plan, warcDir, workDir,
      minQuality = 0.0, langs = Nil)
    plan.run()
    val work = new graft.sources.ParquetConnector(spark, workDir)
    // the gibberish page is no known language, but the empty langs list
    // keeps it — the monolingual-agnostic crawl configuration
    assert(work.count("release_current") == 1L)
  }
}
