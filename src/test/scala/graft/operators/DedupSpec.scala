package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._

/** Dedup-family correctness: exact keys, LSH recall (every mutated doc
  * must pair with its original), Jaccard arithmetic, bucket capping. */
class DedupSpec extends SparkSpec {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** Deterministic synthetic corpus: docs of 20-40 words over a fixed
    * vocabulary (seeded), no two independently-drawn docs near-identical. */
  private def corpus(n: Int): Seq[(Long, String)] = {
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu")
    val rnd = new scala.util.Random(42)
    (0L until n.toLong).map { i =>
      val len = 20 + rnd.nextInt(21)
      i -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }

  private def corpusWithMutations(n: Int): org.apache.spark.sql.DataFrame = {
    val base = corpus(n)
    val mutated = base.map { case (i, t) => (i + 1000000L, t + " extra") }
    df(docSchema, (base ++ mutated).map { case (i, t) => Row(i, t) })
  }

  test("exact dedup keeps the lowest id per normalized text") {
    val d = df(docSchema, Seq(
      Row(1L, "Hello  World"), Row(2L, "hello world"), // same after normalize
      Row(3L, "different doc"), Row(4L, "HELLO WORLD  ")))
    val out = Dedup.exact(d, "text", "doc_id")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("exact dedup emits ONE row even when the winning id itself is duplicated") {
    // id = content hash ingested twice: the winning (fp, id) pair exists
    // as two identical rows — a dedup operator must still return one
    val d = df(docSchema, Seq(
      Row(1L, "same doc"), Row(1L, "same doc"), Row(2L, "same doc"),
      Row(9L, "other doc")))
    val out = Dedup.exact(d, "text", "doc_id").collect()
    assert(out.length == 2, out.mkString(";"))
    assert(out.map(_.getLong(0)).toSet == Set(1L, 9L))
  }

  test("exact dedup is skew-safe: agg+semi-join plan, no per-fingerprint window") {
    // one text value dominates the corpus — the shape that funnels into a
    // single task under a row_number() window. The winner set must still
    // be exact, and the plan must dedup via (partial) aggregation.
    val hot = (1L to 500L).map(i => Row(i, "the same boilerplate text"))
    val cold = Seq(Row(1000L, "a unique doc"), Row(1001L, "another unique doc"))
    val out = Dedup.exact(df(docSchema, hot ++ cold), "text", "doc_id")
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 1000L, 1001L))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "exact dedup must not use a window")
    assert(plan.contains("HashAggregate"), "winners must come from an aggregation")
  }

  test("ngramJaccardPairs drops blocks over maxBlockSize, keeps bounded blocks") {
    // block 1L: 30 identical docs (pairs would be quadratic); block 2L: a
    // crafted similar pair. With the cap below 30 only block 2 survives.
    val big = (1L to 30L).map(i => Row(i, "w x y z", 1L))
    val small = Seq(Row(100L, "a b c d", 2L), Row(101L, "a b c e", 2L))
    val d = df(StructType(docSchema.fields :+ StructField("blk", LongType)), big ++ small)
    val capped = Dedup.ngramJaccardPairs(d, "text", "doc_id", col("blk"),
      n = 1, threshold = 0.5, maxBlockSize = 20)
    val got = capped.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((100L, 101L)), "oversized block must be dropped whole")
    // disabling the cap restores the all-pairs behavior on the big block
    val uncapped = Dedup.ngramJaccardPairs(d, "text", "doc_id", col("blk"),
      n = 1, threshold = 0.5, maxBlockSize = 0)
    assert(uncapped.count() == 30L * 29 / 2 + 1)
    // the audit companion reports exactly what the cap would drop
    val audit = Dedup.oversizedBlocks(d, col("blk"), maxBlockSize = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(audit.toSeq == Seq((1L, 30L)), audit.mkString(","))
  }

  test("replayableMinhashPairs: exact-verified pairs only; short/null/empty " +
    "docs never pair; degenerate buckets capped") {
    // two true near-dups; a null-text doc; an empty doc; a 2-token doc
    // (no trigrams — would minhash to a null bucket and verify to
    // 0/0 = NaN, which Spark's NaN ordering would pass, if not dropped)
    val d = df(docSchema, Seq(
      Row(1L, "alpha beta gamma delta epsilon zeta eta theta"),
      Row(2L, "alpha beta gamma delta epsilon zeta eta iota"),
      Row(3L, null), Row(4L, ""), Row(5L, "too short"),
      Row(6L, "totally different words about other things entirely here")))
    val out = Dedup.replayableMinhashPairs(d, "text", "doc_id", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 5.0 / 7.0)), out.mkString(","))
    // cap semantics: 30 identical docs form one degenerate bucket per
    // band — with the cap below 30 nothing pairs (exact dedup owns them)
    val big = df(docSchema, (1L to 30L).map(i => Row(i, "w x y z q r")))
    assert(Dedup.replayableMinhashPairs(big, "text", "doc_id", n = 3,
      threshold = 0.5, maxBucketSize = 20).count() == 0L)
    assert(Dedup.replayableMinhashPairs(big, "text", "doc_id", n = 3,
      threshold = 0.5).count() == 30L * 29 / 2)
  }

  test("jaccardThresholdSweep: bins verified pairs at 0.05, cumulative curve descends") {
    // family A: 3 docs pairwise J in [0.6, 0.85] (one substitution per
    // member over 30 words); family B: an exact-dup pair (J = 1.0)
    def fam(f: Int, m: Int): String = {
      val ws = (0 until 30).map(w => s"f${f}w$w").toArray
      if (m > 0) ws(5 * m) = s"f${f}s$m"
      ws.mkString(" ")
    }
    val d = df(docSchema,
      (0 until 3).map(m => Row(m.toLong, fam(0, m))) ++
        Seq(Row(10L, fam(1, 0)), Row(11L, fam(1, 0))))
    val out = Dedup.jaccardThresholdSweep(d, "text", "doc_id", n = 3, minJaccard = 0.3)
      .orderBy(col("bin")).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // J(0,m)=25/31~0.806 (bin 16); J(1,2)=22/34~0.647 (bin 12); J=1.0 (bin 20)
    assert(out.toSeq == Seq((12L, 1L, 4L), (16L, 2L, 3L), (20L, 1L, 1L)), out.mkString(","))
    // cumulative = pairs at or above each bin's lower edge
    val total = out.map(_._2).sum
    assert(out.head._3 == total)
  }

  test("shingles: n-grams of normalized tokens; short docs yield empty array") {
    val d = df(docSchema, Seq(Row(1L, "a b c d"), Row(2L, "a b")))
    val out = d.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .orderBy("doc_id").collect()
    assert(out(0).getSeq[String](1) == Seq("a b c", "b c d"))
    assert(out(1).getSeq[String](1).isEmpty)
  }

  test("minhash candidates: every mutated doc pairs with its original (recall = 1.0 here)") {
    val n = 200
    val cands = Dedup.minhashCandidates(corpusWithMutations(n), "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
    val pairs = cands.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recallHits = (0L until n.toLong).count(i => pairs.contains((i, i + 1000000L)))
    // 20+-word docs with one appended token stay well above threshold 0.5:
    // a banding miss is the only loss mode and 16 bands make it negligible
    assert(recallHits == n, s"missing ${n - recallHits} mutated pairs")
    // sanity: ids ordered, no self-pairs
    assert(cands.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("minhashCandidatesFromSignatures == minhashCandidates on precomputed signatures") {
    // the from-signatures seam must be the identical pipeline: computing
    // the text signature first and feeding it back yields the same pairs
    val d = corpusWithMutations(80)
    val fromText = Dedup.minhashCandidates(d, "text", "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val withSig = d.withColumn("sig",
      Dedup.minhashSignatureText(col("text"), shingleLen = 3, numHashes = 64))
    val fromSig = Dedup.minhashCandidatesFromSignatures(withSig, col("sig"), "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromSig == fromText)
    assert(fromSig.nonEmpty)
  }

  test("duplicateSpanScrub removes every non-first occurrence of a duplicated span, merged") {
    // per-doc-unique filler words guarantee ZERO organic duplicated
    // grams — the only cross-doc 4-grams are the planted license's
    val license = "all rights reserved by example corp"
    def filler(id: Int): String = (0 until 12).map(j => s"w${id}x$j").mkString(" ")
    val rows = Seq(
      Row(10L, s"${filler(0)} $license"),
      Row(11L, s"${filler(1)} $license"),
      Row(12L, s"${filler(2)} $license"),
      Row(13L, filler(3)),
      Row(14L, "")) // blank doc: no tokens -> disappears
    val out = Dedup.duplicateSpanScrub(df(docSchema, rows), "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 10 is the first occurrence of every license gram — keeps it
    val t10 = out(10L).getString(1)
    assert(t10.endsWith(license), s"first occurrence must keep the span: $t10")
    assert(out(10L).getLong(3) == 0, "nothing removed from the first occurrence")
    // docs 11/12 lose exactly the 6 license tokens (boundary grams
    // differ per doc, interior grams cover the whole span)
    Seq(11L, 12L).foreach { id =>
      val t = out(id).getString(1)
      assert(!t.contains("rights reserved"), s"doc $id must lose the license: $t")
      assert(t.startsWith(s"w${id - 10}x0"), s"doc $id must keep its own text: $t")
      assert(out(id).getLong(3) == 6, s"doc $id removed ${out(id).getLong(3)}")
    }
    // doc 13 shares no 4-gram with anything — untouched
    assert(out(13L).getLong(3) == 0)
    assert(out(13L).getString(1) == filler(3))
    // blank doc gone
    assert(!out.contains(14L))
  }

  test("duplicateSpanScrub merges overlapping duplicated regions into one excision") {
    // two docs share a 10-word region; with n = 4 the 7 interior gram
    // starts overlap — covered positions must merge to exactly the
    // 10-token region in the non-first doc
    val shared = "one two three four five six seven eight nine ten"
    val rows = Seq(
      Row(1L, s"alpha unique prefix $shared"),
      Row(2L, s"totally different words here $shared"))
    val out = Dedup.duplicateSpanScrub(df(docSchema, rows), "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(3) == 0)
    assert(out(2L).getString(1) == "totally different words here")
    assert(out(2L).getLong(2) == 4 && out(2L).getLong(3) == 10)
  }

  test("embeddingNearDupMultiFromBuckets: union across tables, verify rejects, cross-table dedup") {
    // planted geometry (the q_emb_multi_lsh fixture): id m = id%8 sits
    // at angle 0.15·m on the unit circle; table 0 buckets ids by /4,
    // table 1 by /8 — every in-/4 pair is found by BOTH tables, so the
    // output must still carry each pair once, and the cosine verify
    // keeps exactly |Δm| ≤ 2 (cos 0.30 ≈ 0.955 ≥ 0.95 > cos 0.45)
    val vSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", ArrayType(DoubleType))))
    val d = df(vSchema, (0L to 15L).map(i =>
      Row(i, Seq(math.cos((i % 8) * 0.15), math.sin((i % 8) * 0.15)))))
    val out = Dedup.embeddingNearDupMultiFromBuckets(d, "v", "id",
        Seq(expr("id DIV 4"), expr("id DIV 8")), threshold = 0.95, maxBucketSize = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == out.distinct.length, "cross-table dedup must collapse double-found pairs")
    val expected = (for {
      a <- 0L to 15L; b <- 0L to 15L
      if a < b && a / 8 == b / 8 && math.abs(a % 8 - b % 8) <= 2
    } yield (a, b)).toSet
    assert(out.toSet == expected)
  }

  test("minhashCandidatesFromSignatures fails loudly on a mismatched signature length (ADVICE r10)") {
    // a signature store whose arrays don't match numHashes must not
    // silently slice wrong bands — the in-plan guard kills the scan
    val d = corpusWithMutations(10).withColumn("sig",
      Dedup.minhashSignatureText(col("text"), shingleLen = 3, numHashes = 32))
    val e = intercept[Exception] {
      Dedup.minhashCandidatesFromSignatures(d, col("sig"), "doc_id",
        numHashes = 64, bands = 16, threshold = 0.5).count()
    }
    assert(e.getMessage != null || e.getCause != null) // job failed, loudly
  }

  test("minhash est_jaccard is within 0.15 of the exact shingle jaccard") {
    val d = corpusWithMutations(50)
    val est = Dedup.minhashCandidates(d, "text", "doc_id", numHashes = 64, bands = 16,
      threshold = 0.4).withColumnRenamed("est_jaccard", "est")
    val exact = Dedup.ngramJaccardPairs(d, "text", "doc_id", lit(1), n = 3, threshold = 0.0)
    val joined = est.join(exact, Seq("id_a", "id_b")).collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val e = r.getAs[Double]("est"); val j = r.getAs[Double]("jaccard")
      assert(math.abs(e - j) < 0.15, s"est $e vs exact $j")
    }
  }

  test("minhashDedup drops mutated near-dups, keeps originals") {
    val n = 100
    val out = Dedup.minhashDedup(corpusWithMutations(n), "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5)
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
    (0L until n.toLong).foreach { i =>
      assert(ids.contains(i), s"original $i must survive")
      assert(!ids.contains(i + 1000000L), s"mutation of $i must be dropped")
    }
  }

  test("simhash candidates: identical docs at hamming 0; mutations within the bound") {
    val n = 150
    val cands = Dedup.simhashCandidates(corpusWithMutations(n), "text", "doc_id",
      maxHamming = 6)
    val pairs = cands.select("id_a", "id_b", "hamming").collect()
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val hits = (0L until n.toLong).flatMap(i => byPair.get((i, i + 1000000L)))
    // one appended token flips few simhash bits on 20+-word docs; chunk
    // blocking guarantees any pair <= hamming 3 is found, most <= 6 too
    assert(hits.size >= (n * 0.9).toInt, s"only ${hits.size} of $n mutated pairs found")
    assert(hits.forall(h => h >= 0 && h <= 6))
  }

  test("simhash of identical text is equal and pairs at hamming 0") {
    val d = df(docSchema, Seq(Row(1L, "the quick brown fox jumps"),
      Row(2L, "the quick brown fox jumps")))
    val out = Dedup.simhashCandidates(d, "text", "doc_id", maxHamming = 0).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("id_a") == 1L && out.head.getAs[Int]("hamming") == 0)
  }

  test("ngram jaccard: hand-computed value on a crafted pair") {
    // unigram sets: {a,b,c,d} vs {a,b,c,e} -> |∩|=3, |∪|=5 -> 0.6
    val d = df(docSchema, Seq(Row(1L, "a b c d"), Row(2L, "a b c e")))
    val out = Dedup.ngramJaccardPairs(d, "text", "doc_id", lit(1), n = 1, threshold = 0.5)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 0.6)
  }

  test("ngram jaccard: blocking confines comparisons (cross-block pair not emitted)") {
    val d = df(StructType(docSchema.fields :+ StructField("blk", LongType)), Seq(
      Row(1L, "a b c d", 1L), Row(2L, "a b c d", 2L))) // identical but blocks differ
    val out = Dedup.ngramJaccardPairs(d, "text", "doc_id", col("blk"), n = 1, threshold = 0.0)
    assert(out.count() == 0)
  }

  test("langLengthBlock buckets by language and length band") {
    val d = df(StructType(Seq(StructField("lang", StringType), StructField("n", LongType))),
      Seq(Row("en", 150L), Row("en", 199L), Row("en", 250L), Row("de", 150L)))
    val out = d.select(Dedup.langLengthBlock(col("lang"), col("n"), 100).as("b"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("en_1", "en_1", "en_2", "de_1"))
  }

  test("maxBucketSize drops degenerate buckets (all-identical corpus emits no pairs)") {
    val rows = (1L to 60L).map(i => Row(i, "same text everywhere for all docs"))
    val d = df(docSchema, rows)
    val out = Dedup.minhashCandidates(d, "text", "doc_id",
      numHashes = 64, bands = 16, threshold = 0.5, maxBucketSize = 50)
    assert(out.count() == 0, "buckets over the cap must be skipped, not exploded")
  }

  test("embedding near-dup: scaled copies land in the same bucket with cosine 1") {
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(FloatType))))
    val rnd = new scala.util.Random(7)
    val base = (0L until 50L).map(i => i -> Array.fill(16)(rnd.nextFloat() * 2 - 1))
    val all = base ++ base.map { case (i, v) => (i + 1000L) -> v.map(x => x * 1.001f) }
    val d = df(vecSchema, all.map { case (i, v) => Row(i, v.toSeq) })
    val out = Dedup.embeddingNearDup(d, "v", "vec_id", dim = 16, planes = 8, threshold = 0.999)
    val pairs = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 50L).foreach(i => assert(pairs.contains((i, i + 1000L)), s"pair $i missing"))
  }

  test("embedding near-dup: maxBucketSize caps degenerate buckets (identical vectors)") {
    // an all-identical embedding set collapses into ONE bucket — without
    // the cap that is a single quadratic task at corpus scale
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(FloatType))))
    val vec = Array.fill(16)(0.5f).toSeq
    val d = df(vecSchema, (1L to 60L).map(i => Row(i, vec)))
    val capped = Dedup.embeddingNearDup(d, "v", "vec_id", dim = 16, planes = 8,
      threshold = 0.5, maxBucketSize = 50)
    assert(capped.count() == 0, "bucket over the cap must be skipped, not exploded")
    val uncapped = Dedup.embeddingNearDup(d, "v", "vec_id", dim = 16, planes = 8,
      threshold = 0.5, maxBucketSize = 100)
    assert(uncapped.count() == 60L * 59 / 2)
  }

  private val pairSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType)))

  private def ccMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(df(pairSchema, pairs.map(p => Row(p._1, p._2))))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Driver-side BFS ground truth for the randomized equivalence test. */
  private def bfsComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    pairs.foreach { case (a, b) => adj(a) = b :: adj(a); adj(b) = a :: adj(b) }
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { s =>
      if (!comp.contains(s)) {
        var frontier = List(s); val seen = scala.collection.mutable.Set(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).filterNot(seen)
          frontier.foreach(seen.add)
        }
        val root = seen.min
        seen.foreach(v => comp(v) = root)
      }
    }
    comp.toMap
  }

  test("embeddingNearDupMulti: independent tables recover borderline pairs one table misses") {
    // 60 planted borderline pairs at cosine ≈ 0.95: w = v + 0.33·u with
    // u an independent unit gaussian, so each hyperplane disagrees with
    // probability ≈ θ/π ≈ 0.10 and a 16-plane table catches a pair with
    // only p ≈ (1−0.10)^16 ≈ 0.18 — exactly the regime where one table's
    // recall is poor and R independent tables multiply it.
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(FloatType))))
    val rnd = new scala.util.Random(21)
    val dim = 32
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 60).flatMap { i =>
      val v = unit()
      val u = unit()
      val w = v.zip(u).map { case (a, b) => a + 0.33 * b }
      Seq(Row(i.toLong, v.map(_.toFloat).toSeq),
        Row((i + 1000).toLong, w.map(_.toFloat).toSeq))
    }
    val d = df(vecSchema, rows)
    def planted(out: org.apache.spark.sql.DataFrame): Set[Long] =
      out.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .collect { case (a, b) if b == a + 1000 => a }.toSet
    val single = planted(Dedup.embeddingNearDup(d, "v", "vec_id", dim,
      planes = 16, threshold = 0.9))
    val multi = planted(Dedup.embeddingNearDupMulti(d, "v", "vec_id", dim,
      planes = 16, tables = 4, threshold = 0.9))
    assert(single.subsetOf(multi),
      "table 0 shares the single-table seed, so multi must be a superset")
    assert((multi -- single).nonEmpty,
      "multi-table must recover pairs the single table missed")
    assert(multi.size >= single.size + 5 && multi.size > 60 / 3,
      s"expected a substantial recall lift: single=${single.size} multi=${multi.size}")
  }

  test("embeddingNearDupMulti equals the seam fed PRECOMPUTED hyperplane buckets (planted fixture)") {
    // q_emb_multi_lsh oracles the seam with planted ARITHMETIC buckets;
    // this closes the remaining branch (r11 ask #8): the trained path's
    // inline hyperplaneBucket expressions must compose with the seam
    // machinery exactly as if the bucket ids were data. Buckets are
    // evaluated once into materialized columns (localCheckpoint severs
    // the expression lineage — they really are data afterwards) and fed
    // back through embeddingNearDupMultiFromBuckets; the pair SETS with
    // cosines must match the trained path bit-for-bit.
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("v", ArrayType(FloatType))))
    val rnd = new scala.util.Random(7)
    val dim = 16
    def unit(): Array[Double] = {
      val v = Array.fill(dim)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val rows = (0 until 40).flatMap { i =>
      val v = unit()
      val w = v.zip(unit()).map { case (a, b) => a + 0.33 * b }
      Seq(Row(i.toLong, v.map(_.toFloat).toSeq),
        Row((i + 1000).toLong, w.map(_.toFloat).toSeq))
    }
    val d = df(vecSchema, rows)
    val (planes, tables, seed) = (8, 3, 42L)
    def pairSet(out: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      out.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val trained = pairSet(Dedup.embeddingNearDupMulti(d, "v", "vec_id", dim,
      planes = planes, tables = tables, threshold = 0.9, seed = seed))
    val precomputed = d.select(col("vec_id") +: col("v") +:
        (0 until tables).map(t => graft.functions.VectorFunctions
          .hyperplaneBucket(col("v"), dim, planes, seed + t * 7919L).as(s"_b$t")): _*)
      .localCheckpoint(true)
    val seam = pairSet(Dedup.embeddingNearDupMultiFromBuckets(precomputed, "v", "vec_id",
      (0 until tables).map(t => col(s"_b$t")), threshold = 0.9))
    assert(trained.nonEmpty, "fixture must produce pairs")
    assert(trained == seam,
      s"trained path and precomputed-bucket seam diverge: only-trained=" +
        s"${(trained -- seam).take(5)} only-seam=${(seam -- trained).take(5)}")
  }

  test("connectedComponents: chain, cycle, self-loop, and disjoint cliques") {
    // chain 1-2-3-4 (no direct 1~3/1~4 pair — the case greedy pair-drop
    // gets wrong), a cycle, a self-loop (ignored), two disjoint cliques
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 20L), (30L, 31L), (40L, 41L))
    val got = ccMap(pairs)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 40L))
  }

  test("connectedComponents: long path converges (worst case for min propagation)") {
    // a 60-node path is the adversarial diameter case: plain hash-min
    // label propagation needs 60 rounds; star contraction stays O(log²)
    val pairs = (0L until 59L).map(i => (i, i + 1))
    val got = ccMap(pairs)
    assert(got.size == 60 && got.values.forall(_ == 0L))
  }

  test("connectedComponents matches BFS ground truth on random graphs") {
    val rnd = new scala.util.Random(7)
    (0 until 5).foreach { trial =>
      val n = 80
      val pairs = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(p => p._1 != p._2)
      assert(ccMap(pairs) == bfsComponents(pairs), s"trial $trial diverged")
    }
  }

  test("connectedComponents: distributed path (localFinishEdges=0) matches the driver union-find") {
    // the small graphs above all resolve through the bounded driver
    // union-find; this pins the ALL-DISTRIBUTED star-contraction path
    // (what actually runs at scale) against the same BFS ground truth
    val rnd = new scala.util.Random(13)
    val n = 60
    val pairs = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter(p => p._1 != p._2)
    val dist = Dedup.connectedComponents(df(pairSchema, pairs.map(p => Row(p._1, p._2))),
        localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == bfsComponents(pairs))
  }

  test("connectedComponents fails loudly when the iteration cap truncates contraction") {
    val pairs = (0L until 59L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      // localFinishEdges = 0 forces the all-distributed path: the driver
      // union-find would otherwise resolve this tiny graph exactly and
      // (correctly) never hit the cap
      Dedup.connectedComponents(df(pairSchema, pairs.map(p => Row(p._1, p._2))),
        maxIter = 1, localFinishEdges = 0)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("clusterDedup keeps exactly the min id per component plus unpaired docs") {
    val d = df(docSchema, (1L to 8L).map(i => Row(i, s"doc $i")))
    // components {1,2,3} (chain) and {5,6}; 4,7,8 unpaired
    val pairs = df(pairSchema, Seq(Row(1L, 2L), Row(2L, 3L), Row(5L, 6L)))
    val kept = Dedup.clusterDedup(d, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 7L, 8L))
  }

  test("clusterDedupByScore: best score wins, ties -> min id, all-null cluster keeps min id") {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("q", DoubleType)))
    val d = df(schema, Seq(
      Row(1L, 1.0), Row(2L, 9.0), Row(3L, 2.0),   // {1,2,3}: 2 wins on score
      Row(5L, 4.0), Row(6L, 4.0),                 // {5,6}: tie -> 5
      Row(7L, null), Row(8L, null),               // {7,8}: all-null -> 7 survives
      Row(9L, 0.5)))                              // unpaired
    val pairs = df(pairSchema, Seq(Row(1L, 2L), Row(2L, 3L), Row(5L, 6L), Row(7L, 8L)))
    val kept = Dedup.clusterDedupByScore(d, "doc_id", "q", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 5L, 7L, 9L))
  }

  test("incrementalExact: ticks dedup against the persisted index; replay is a no-op") {
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_fpidx_"))
    val t1 = df(docSchema, Seq(Row(1L, "alpha doc"), Row(2L, "beta doc")))
    assert(Dedup.incrementalExact(t1, "text", "doc_id", conn, "fp_index")
      .count() == 2)
    // tick 2: one corpus dup (normalized match), one internal dup pair, one new
    val t2 = df(docSchema, Seq(
      Row(10L, "ALPHA   doc"),     // dup of corpus doc 1 after normalization
      Row(11L, "gamma doc"), Row(12L, "gamma doc"), // internal pair -> keep 11
      Row(13L, "delta doc")))
    val kept2 = Dedup.incrementalExact(t2, "text", "doc_id", conn, "fp_index")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L, 13L))
    // replay of tick 2: everything already indexed
    assert(Dedup.incrementalExact(t2, "text", "doc_id", conn, "fp_index")
      .count() == 0)
    // the index holds exactly the distinct fingerprints seen
    assert(conn.read("fp_index").count() == 4)
  }

  test("incrementalMinhash: ticks near-dedup against the persisted index; replay is a no-op") {
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_mhidx_"))
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val t1 = df(docSchema, Seq(Row(1L, s"$base original"),
      Row(2L, "novel text about mountain weather and climbing gear today")))
    assert(Dedup.incrementalMinhash(t1, "text", "doc_id", conn, "mh_idx",
      numHashes = 32, bands = 8, threshold = 0.5).count() == 2)
    val t2 = df(docSchema, Seq(
      Row(10L, s"$base original indeed"),                          // corpus near-dup
      Row(11L, "fresh desert text about camels and caravans in summer heat"),
      Row(12L, "fresh desert text about camels and caravans in summer heat too"))) // internal pair
    val kept2 = Dedup.incrementalMinhash(t2, "text", "doc_id", conn, "mh_idx",
        numHashes = 32, bands = 8, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L), kept2.toString)
    // replay: every doc near-dups its own (or its winner's) indexed sigs
    assert(Dedup.incrementalMinhash(t2, "text", "doc_id", conn, "mh_idx",
      numHashes = 32, bands = 8, threshold = 0.5).count() == 0)
    // the index holds bands for exactly the three survivors
    assert(conn.read("mh_idx").select("_id").distinct().count() == 3)
  }

  test("incrementalMinhash runs the sink BEFORE the index learns the batch (crash ordering)") {
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_mhord_"))
    var indexedIdsAtSink: Option[Set[Long]] = None
    def indexedIds(): Set[Long] =
      if (!conn.tables.contains("mh_idx")) Set.empty
      else conn.read("mh_idx").select("_id").distinct().collect().map(_.getLong(0)).toSet
    val t1 = df(docSchema, Seq(Row(1L, "alpha doc about rivers and rain")))
    Dedup.incrementalMinhash(t1, "text", "doc_id", conn, "mh_idx",
      numHashes = 32, bands = 8, threshold = 0.5,
      sink = _ => indexedIdsAtSink = Some(indexedIds()))
    assert(indexedIdsAtSink == Some(Set.empty),
      "sink must observe the index WITHOUT the current batch — a crash after the " +
        "index append but before caller persistence would otherwise lose the batch")
    val t2 = df(docSchema, Seq(Row(2L, "beta doc about deserts and heat")))
    Dedup.incrementalMinhash(t2, "text", "doc_id", conn, "mh_idx",
      numHashes = 32, bands = 8, threshold = 0.5,
      sink = _ => indexedIdsAtSink = Some(indexedIds()))
    assert(indexedIdsAtSink == Some(Set(1L)), "tick 2's sink sees only tick 1's index")
  }

  test("minhashAgainstIndex == cross pairs of the batch candidates (same banding)") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = df(docSchema, (1L to 6L).map(i => Row(i, s"$base corpus doc $i unique tail $i")))
    val delta = df(docSchema, Seq(
      Row(101L, s"$base corpus doc 3 unique tail 3 x"), // near-dup of corpus 3
      Row(102L, "completely different text about gardens and tulips in spring")))
    val idx = Dedup.minhashIndex(corpus, "text", "doc_id", numHashes = 32, bands = 8)
    val incr = Dedup.minhashAgainstIndex(delta, "text", "doc_id", idx,
        numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: batch candidates over the UNION, restricted to
    // (delta, corpus) cross pairs — banding is shared code, so the
    // bucket collisions (and est values) must be identical
    val batch = Dedup.minhashCandidates(corpus.union(delta), "text", "doc_id",
        numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a <= 6 && b >= 100 }
      .map { case (a, b, e) => (b, a, e) }.toSet
    assert(incr == batch, s"incr=$incr batch=$batch")
    assert(incr.exists { case (d, c, _) => d == 101L && c == 3L })
  }

  test("minhashDedupAgainst drops corpus near-dups and internal delta near-dups") {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val corpus = df(docSchema, Seq(Row(1L, s"$base original")))
    val delta = df(docSchema, Seq(
      Row(10L, s"$base original indeed"),                          // near-dup of corpus
      Row(11L, "novel text about mountain weather and climbing gear today"),
      Row(12L, "novel text about mountain weather and climbing gear today also")))
    val idx = Dedup.minhashIndex(corpus, "text", "doc_id", numHashes = 32, bands = 8)
    val kept = Dedup.minhashDedupAgainst(delta, "text", "doc_id", idx,
        numHashes = 32, bands = 8, threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L), kept.toString)
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("v", ArrayType(FloatType))))

  private def randVec(rnd: scala.util.Random, dim: Int = 16): Seq[Float] =
    Seq.fill(dim)(rnd.nextFloat() * 2 - 1)

  test("incrementalEmbedding: ticks dedup against the persisted index; replay is a no-op") {
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_embidx_"))
    val rnd = new scala.util.Random(31)
    val v1 = randVec(rnd); val v2 = randVec(rnd)
    val t1 = df(embSchema, Seq(Row(1L, v1), Row(2L, v2)))
    assert(Dedup.incrementalEmbedding(t1, "v", "vec_id", conn, "emb_idx",
      dim = 16, planes = 8, threshold = 0.999).count() == 2)
    val v3 = randVec(rnd); val v4 = randVec(rnd)
    val t2 = df(embSchema, Seq(
      Row(10L, v1.map(x => x * 1.001f)),    // corpus near-dup (same bucket, cos ~1)
      Row(11L, v3), Row(12L, v3.map(x => x * 1.001f)), // internal pair -> keep 11
      Row(13L, v4)))
    val kept2 = Dedup.incrementalEmbedding(t2, "v", "vec_id", conn, "emb_idx",
        dim = 16, planes = 8, threshold = 0.999)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(11L, 13L), kept2.toString)
    // replay: every vector matches its own (or its winner's) indexed copy
    assert(Dedup.incrementalEmbedding(t2, "v", "vec_id", conn, "emb_idx",
      dim = 16, planes = 8, threshold = 0.999).count() == 0)
    assert(conn.read("emb_idx").select("_id").distinct().count() == 4)
  }

  test("incrementalEmbedding runs the sink BEFORE the index learns the batch (crash ordering)") {
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_embord_"))
    val rnd = new scala.util.Random(32)
    var indexedIdsAtSink: Option[Set[Long]] = None
    def indexedIds(): Set[Long] =
      if (!conn.tables.contains("emb_idx")) Set.empty
      else conn.read("emb_idx").select("_id").distinct().collect().map(_.getLong(0)).toSet
    Dedup.incrementalEmbedding(df(embSchema, Seq(Row(1L, randVec(rnd)))),
      "v", "vec_id", conn, "emb_idx", dim = 16, planes = 8,
      sink = _ => indexedIdsAtSink = Some(indexedIds()))
    assert(indexedIdsAtSink == Some(Set.empty),
      "sink must observe the index WITHOUT the current batch")
    Dedup.incrementalEmbedding(df(embSchema, Seq(Row(2L, randVec(rnd)))),
      "v", "vec_id", conn, "emb_idx", dim = 16, planes = 8,
      sink = _ => indexedIdsAtSink = Some(indexedIds()))
    assert(indexedIdsAtSink == Some(Set(1L)), "tick 2's sink sees only tick 1's index")
  }

  test("embeddingAgainstIndex == cross pairs of the batch candidates (same bucketing)") {
    val rnd = new scala.util.Random(33)
    val corpusVecs = (1L to 6L).map(i => i -> randVec(rnd))
    val corpus = df(embSchema, corpusVecs.map { case (i, v) => Row(i, v) })
    val delta = df(embSchema, Seq(
      Row(101L, corpusVecs(2)._2.map(x => x * 1.001f)), // near-dup of corpus 3
      Row(102L, randVec(rnd))))
    val idx = Dedup.embeddingIndex(corpus, "v", "vec_id", dim = 16, planes = 8)
    val incr = Dedup.embeddingAgainstIndex(delta, "v", "vec_id", idx,
        dim = 16, planes = 8, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // reference: batch pairing over the UNION restricted to cross pairs —
    // bucket keys and the (symmetric, fold-exact) cosine must be identical
    val batch = Dedup.embeddingNearDup(corpus.union(delta), "v", "vec_id",
        dim = 16, planes = 8, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a <= 6 && b >= 100 }
      .map { case (a, b, c) => (b, a, c) }.toSet
    assert(incr == batch, s"incr=$incr batch=$batch")
    assert(incr.exists { case (d, c, _) => d == 101L && c == 3L })
  }

  private def sortedRows(d: org.apache.spark.sql.DataFrame): Seq[String] =
    d.collect().map(_.toString).toSeq.sorted

  /** Planted embedding tick: 20 random corpus vectors; a delta holding
    * scaled copies of corpus vectors 0-4 (ids 100-104), ten fresh
    * vectors (200-209) plus scaled copies of the first five of them
    * (210-214), and six identical vectors (300-305) whose one bucket
    * holds more than the `maxBucketSize = 5` the cases run with. */
  private def plantedEmbeddingTick(): (org.apache.spark.sql.DataFrame,
                                       org.apache.spark.sql.DataFrame) = {
    val rnd = new scala.util.Random(34)
    val corpusVecs = (0L until 20L).map(i => i -> randVec(rnd))
    val fresh = (200L until 210L).map(i => i -> randVec(rnd))
    val hot = Seq.fill(16)(0.25f)
    val delta = corpusVecs.take(5).map { case (i, v) => (i + 100L) -> v.map(_ * 1.001f) } ++
      fresh ++ fresh.take(5).map { case (i, v) => (i + 10L) -> v.map(_ * 1.001f) } ++
      (300L until 306L).map(_ -> hot)
    (df(embSchema, corpusVecs.map { case (i, v) => Row(i, v) }),
      df(embSchema, delta.map { case (i, v) => Row(i, v) }))
  }

  test("embeddingDedupAgainst == delta minus its index matches minus the in-remainder losers") {
    val (corpus, delta) = plantedEmbeddingTick()
    val idx = Dedup.embeddingIndex(corpus, "v", "vec_id", dim = 16, planes = 8)
    val matched = Dedup.embeddingAgainstIndex(delta, "v", "vec_id", idx,
        dim = 16, planes = 8, threshold = 0.999)
      .select(col("delta_id").as("vec_id")).distinct()
    val rest = delta.join(matched, Seq("vec_id"), "left_anti")
    val losers = Dedup.embeddingNearDup(rest, "v", "vec_id", dim = 16, planes = 8,
        threshold = 0.999, maxBucketSize = 5)
      .select(col("id_b").as("vec_id")).distinct()
    val expected = rest.join(losers, Seq("vec_id"), "left_anti")
    val kept = Dedup.embeddingDedupAgainst(delta, "v", "vec_id", idx, dim = 16, planes = 8,
      threshold = 0.999, maxBucketSize = 5)
    assert(sortedRows(kept) == sortedRows(expected))
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    assert((100L to 104L).forall(i => !keptIds(i)), s"corpus copies must drop: $keptIds")
    assert((210L to 214L).forall(i => !keptIds(i)) && (200L to 209L).forall(keptIds),
      s"within-delta copies drop, their originals stay: $keptIds")
    assert((300L to 305L).forall(keptIds), s"an over-cap bucket pairs nothing: $keptIds")
  }

  test("minhashDedupAgainst over an EMPTY index == minhashDedup") {
    val d = corpusWithMutations(30)
    val empty = Dedup.minhashIndex(d.filter(lit(false)), "text", "doc_id",
      numHashes = 32, bands = 8)
    val against = Dedup.minhashDedupAgainst(d, "text", "doc_id", empty,
      numHashes = 32, bands = 8, threshold = 0.5)
    val batch = Dedup.minhashDedup(d, "text", "doc_id", numHashes = 32, bands = 8,
      threshold = 0.5)
    assert(sortedRows(against) == sortedRows(batch))
    assert(batch.count() < d.count(), "the fixture must plant in-delta near-dups")
  }

  test("embeddingDedupAgainst over an EMPTY index == incrementalEmbedding's first tick") {
    val (_, delta) = plantedEmbeddingTick()
    val empty = Dedup.embeddingIndex(delta.filter(lit(false)), "v", "vec_id",
      dim = 16, planes = 8, maxBucketSize = 5)
    val against = Dedup.embeddingDedupAgainst(delta, "v", "vec_id", empty, dim = 16,
      planes = 8, threshold = 0.999, maxBucketSize = 5)
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_embfirst_"))
    val first = Dedup.incrementalEmbedding(delta, "v", "vec_id", conn, "emb_idx",
      dim = 16, planes = 8, threshold = 0.999, maxBucketSize = 5)
    assert(sortedRows(against) == sortedRows(first))
    assert(first.count() < delta.count(), "the fixture must plant in-delta copies")
  }

  test("lineDedup: corpus-wide first occurrence wins; all-boilerplate docs vanish") {
    val d = df(docSchema, Seq(
      Row(1L, "BOILER\nunique one\nBOILER"),       // within-doc dup of BOILER too
      Row(2L, "BOILER\nunique two"),
      Row(3L, "BOILER"),                            // nothing survives
      Row(4L, "unique four\n\nunique one")))        // empty line ignored; dup of doc 1's line
    val out = Dedup.lineDedup(d, "text", "doc_id")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    assert(out(0).getString(1) == "BOILER\nunique one" && out(0).getLong(3) == 1)
    assert(out(1).getString(1) == "unique two" && out(1).getLong(3) == 1)
    assert(out(2).getString(1) == "unique four" && out(2).getLong(3) == 1)
    assert(out.map(_.getLong(2)).toSeq == Seq(2L, 1L, 1L))
  }

  test("lineDedup keeps a no-duplicate corpus byte-identical") {
    val d = df(docSchema, Seq(Row(1L, "a\nb"), Row(2L, "c\nd")))
    val out = Dedup.lineDedup(d, "text", "doc_id").orderBy("doc_id").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("a\nb", "c\nd"))
    assert(out.forall(_.getLong(3) == 0))
  }

  // ---- SemDeDup ----

  private val semSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(FloatType)),
    StructField("cl", IntegerType)))

  test("semanticDedupFromClusters: winner = min (rank, id) per component; cross-cluster pairs never form") {
    // cluster 0: ids 1,2,3 all colinear (cosine 1); ranks pick id 2.
    // cluster 1: id 4 is colinear with them TOO — but sits in another
    // cluster, so it must survive untouched (the clustering IS the
    // blocking). id 5 in cluster 0 is orthogonal — no pair.
    val rows = Seq(
      Row(1L, Seq(1.0f, 0.0f), 0), Row(2L, Seq(2.0f, 0.0f), 0), Row(3L, Seq(3.0f, 0.0f), 0),
      Row(4L, Seq(1.0f, 0.0f), 1), Row(5L, Seq(0.0f, 1.0f), 0))
    val d = df(semSchema, rows)
    val ranks = map(lit(1L), lit(5.0), lit(2L), lit(1.0), lit(3L), lit(7.0),
      lit(4L), lit(0.0), lit(5L), lit(0.0))
    val kept = Dedup.semanticDedupFromClusters(d, "v", "vec_id",
      col("cl"), element_at(ranks, col("vec_id")), threshold = 0.999, maxClusterSize = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L), s"got $kept")
  }

  test("semanticDedupFromClusters: rank ties fall back to min id") {
    val rows = Seq(Row(1L, Seq(1.0f, 0.0f), 0), Row(2L, Seq(1.0f, 0.0f), 0),
      Row(3L, Seq(1.0f, 0.0f), 0))
    val d = df(semSchema, rows)
    val kept = Dedup.semanticDedupFromClusters(d, "v", "vec_id",
      col("cl"), lit(0.0), threshold = 0.999, maxClusterSize = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("semanticDedup: trained centroids, keep-farthest drops the copy nearer its cell centroid") {
    // three tight, well-separated direction groups; every member i also
    // re-entered as i+1000 scaled by 1.004f (cosine 1, different radius).
    // k-means (seeded, deterministic) recovers the groups; within each
    // near-dup component the survivor must be the member with the LARGER
    // squared distance to its assigned centroid (tie -> lower id) —
    // verified against ranks recomputed here with the same fold order.
    // members are 4 degrees apart within a group (cosine 0.9976 < the
    // 0.999 threshold — distinct members never pair) while a scaled
    // copy is colinear with its original (cosine ~1 — always pairs);
    // groups live in three orthogonal planes (cross-group cosine <= 0.59).
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType), StructField("v", ArrayType(FloatType))))
    val base = (0L until 30L).map { i =>
      val phi = (i / 3) * 4.0 * math.Pi / 180.0
      val (c0, s0) = (10.0 * math.cos(phi), 10.0 * math.sin(phi))
      val v = (i % 3) match {
        case 0 => Array(c0.toFloat, s0.toFloat, 0.0f)
        case 1 => Array(0.0f, c0.toFloat, s0.toFloat)
        case _ => Array(s0.toFloat, 0.0f, c0.toFloat)
      }
      i -> v
    }
    val all = base ++ base.map { case (i, v) => (i + 1000L) -> v.map(_ * 1.004f) }
    val d = df(vecSchema, all.map { case (i, v) => Row(i, v.toSeq) })
    val centroids = Similarity.trainCentroids(d, "v", "vec_id", nlist = 3)
    val kept = Dedup.semanticDedup(d, "v", "vec_id", centroids,
      threshold = 0.999, maxClusterSize = 100)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    def minD2(v: Array[Float]): Double = centroids.map { case (_, c) =>
      v.zip(c).foldLeft(0.0) { case (acc, (x, y)) => acc + (x.toDouble - y) * (x.toDouble - y) }
    }.min
    val byId = all.toMap
    base.foreach { case (i, _) =>
      val (da, db) = (minD2(byId(i)), minD2(byId(i + 1000L)))
      val expect = if (da > db || (da == db && i < i + 1000L)) i else i + 1000L
      assert(kept.contains(expect) && !kept.contains(if (expect == i) i + 1000L else i),
        s"component $i: d2($i)=$da d2(${i + 1000L})=$db kept=$kept")
    }
    assert(kept.size == 30)
  }

  test("contentDefinedChunks: boundaries are content-local — an insertion " +
    "re-chunks its neighborhood, every chunk outside it keeps its digest") {
    val base = corpus(1).head._2
    val words = base.split(" ")
    val mutated = (words.take(words.length / 2) ++ Seq("INSERTED", "WORDS") ++
      words.drop(words.length / 2)).mkString(" ")
    val d = df(docSchema, Seq(Row(1L, base), Row(2L, mutated)))
    val chunks = Dedup.contentDefinedChunks(d, "text", "doc_id").collect()
    val byDoc = chunks.groupBy(_.getLong(0))
    val md5s1 = byDoc(1L).map(_.getString(4)).toSet
    val md5s2 = byDoc(2L).map(_.getString(4)).toSet
    // all of doc 1's chunks except those touching the insertion point
    // must reappear verbatim in doc 2 — the CDC property fixed-size
    // windows lack (a 2-word insertion would shift every later window)
    val reshared = md5s1.intersect(md5s2).size
    assert(reshared >= md5s1.size - 2,
      s"insertion must re-chunk only its neighborhood: ${md5s1.size} base " +
        s"chunks, only $reshared shared")
    // words and order reassemble exactly
    val reassembled = byDoc(1L).sortBy(_.getLong(1)).map(_.getString(2)).mkString(" ")
    assert(reassembled == base)
    // empty and null texts yield no chunks, not failures
    val dirty = df(docSchema, Seq(Row(3L, ""), Row(4L, null), Row(5L, "  ")))
    assert(Dedup.contentDefinedChunks(dirty, "text", "doc_id").count() == 0L)
  }

  test("contentDefinedChunks: the giant-document guard fails loud, naming the doc") {
    // VERDICT r16 #6: one pathological blob must not silently serialize
    // a per-doc window task — the in-plan assert kills the job with the
    // doc id in the message instead
    val blob = "word " * 40
    val d = df(docSchema, Seq(Row(1L, "a small compliant document"), Row(2L, blob)))
    val e = intercept[Exception] {
      Dedup.contentDefinedChunks(d, "text", "doc_id", maxDocChars = 64).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(m => m.contains("maxDocChars") && m.contains("2")),
      messages(e).mkString(" | "))
    // compliant corpora chunk identically under the guard (null text
    // still yields no row, never a guard failure)
    val ok = df(docSchema, Seq(Row(1L, "a small compliant document"), Row(3L, null)))
    assert(Dedup.contentDefinedChunks(ok, "text", "doc_id", maxDocChars = 64)
      .count() > 0L)
  }

  test("chunkContainmentPairs: a partial copy scores high containment toward its source") {
    val long = corpus(1).head._2 + " " + corpus(2)(1)._2 + " " + corpus(3)(2)._2
    val embedded = corpus(1).head._2 // doc 2 IS a slice of doc 1
    val unrelated = "completely different tokens nothing shared here at all " +
      "with more unique words padding this document to a plausible length"
    val d = df(docSchema, Seq(Row(1L, long), Row(2L, embedded), Row(3L, unrelated)))
    val out = Dedup.chunkContainmentPairs(d, "text", "doc_id", thresholdFp = 500000L)
      .collect()
    assert(out.length == 1, out.mkString(";"))
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    // containment toward the EMBEDDED side is ~100%; toward the long
    // side it is its fraction of the long doc — the asymmetry Jaccard
    // collapses
    val (ca, cb) = (r.getLong(5), r.getLong(6))
    assert(cb >= 900000L, s"embedded-side containment $cb")
    assert(ca < cb, s"asymmetry lost: $ca vs $cb")
    // fixed-point arithmetic: shared*1e6 DIV words
    assert(ca == r.getLong(2) * 1000000L / r.getLong(3))
    assert(cb == r.getLong(2) * 1000000L / r.getLong(4))
  }

  test("containmentAgainstIndex equals the batch pairing on the union corpus, " +
    "delta-involving pairs only") {
    val base = corpus(8)
    val corpusRows = base.map { case (i, t) => Row(i, t) }
    val deltaRows = Seq(
      Row(100L, base(0)._2),                       // exact copy of corpus 0
      Row(101L, base(1)._2 + " trailing addition"),// near-copy of corpus 1
      Row(102L, "wholly unrelated tokens that share nothing with anyone here"),
      Row(103L, base(0)._2 + " small tail"))       // delta-delta partner of 100
    val all = df(docSchema, corpusRows ++ deltaRows)
    val batch = Dedup.chunkContainmentPairs(all, "text", "doc_id",
        thresholdFp = 300000L)
      .filter(col("id_a") >= 100L || col("id_b") >= 100L)
      .collect().map(_.toSeq).toSet
    val idx = Dedup.chunkIndex(df(docSchema, corpusRows), "text", "doc_id")
    val probe = Dedup.containmentAgainstIndex(df(docSchema, deltaRows),
        "text", "doc_id", idx, thresholdFp = 300000L)
      .collect().map(_.toSeq).toSet
    assert(probe == batch, s"probe=$probe\nbatch=$batch")
    assert(probe.nonEmpty, "fixture must actually produce pairs")
    // both a corpus-delta and a delta-delta pair are exercised
    assert(probe.exists(r => r.head.asInstanceOf[Long] < 100L))
    assert(probe.exists(r => r.head.asInstanceOf[Long] >= 100L))
  }

  test("containmentDedup keeps the superset and drops the quoted/contained side") {
    val article = corpus(3).map(_._2).mkString(" ")
    val quoting = "preface words before the quote begins " + article +
      " closing commentary after the quotation ends"
    val unrelated = "totally separate content with its own distinct vocabulary entirely"
    val d = df(docSchema, Seq(Row(1L, article), Row(2L, quoting), Row(3L, unrelated)))
    val kept = Dedup.containmentDedup(d, "text", "doc_id", thresholdFp = 600000L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), kept.toString)
  }

  test("containmentDedupAgainst drops only delta-side losers; an empty index " +
    "degrades to the batch pairing (VERDICT r17 #5)") {
    val article = corpus(3).map(_._2).mkString(" ")
    // the delta doc is MOSTLY QUOTE: a 2/3 excerpt of the released
    // article behind a tiny wrapper — the partial-copy spam shape
    val quoting = "brief lead in " + corpus(2).map(_._2).mkString(" ") +
      " and a short signoff"
    val fresh = "wholly original reporting with vocabulary nobody indexed before now"
    val idx = Dedup.chunkIndex(df(docSchema, Seq(Row(1L, article))), "text", "doc_id")
    val delta = df(docSchema, Seq(Row(100L, quoting), Row(101L, fresh)))
    val kept = Dedup.containmentDedupAgainst(delta, "text", "doc_id", idx,
        thresholdFp = 500000L)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(101L), kept.toString)
    // an empty index degrades to within-delta batch pairing — the
    // containmentDedup policy on the delta alone
    val emptyIdx = Dedup.chunkIndex(df(docSchema, Seq.empty), "text", "doc_id")
    val delta2 = df(docSchema, Seq(Row(100L, fresh),
      Row(101L, fresh + " with one extra trailing clause appended")))
    val kept2 = Dedup.containmentDedupAgainst(delta2, "text", "doc_id", emptyIdx,
        thresholdFp = 500000L)
      .collect().map(_.getLong(0)).toSet
    val batch = Dedup.containmentDedup(delta2, "text", "doc_id",
        thresholdFp = 500000L)
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == batch, s"probe=$kept2 batch=$batch")
    assert(kept2 == Set(101L), kept2.toString) // the superset survives
  }

  test("incrementalChunks: delta-side containment losers drop against the index; " +
    "replay is a no-op") {
    val conn = new graft.sources.ParquetConnector(spark, tmpDir("graft_ckidx_"))
    val base = corpus(6)
    val t1 = df(docSchema, base.map { case (i, t) => Row(i, t) })
    assert(Dedup.incrementalChunks(t1, "text", "doc_id", conn, "chunk_index")
      .count() == 6L)
    val idxRows1 = conn.read("chunk_index").count()
    assert(idxRows1 > 0L)
    // tick 2: an exact re-publication of corpus doc 0 (containment 1.0
    // both ways, equal words -> the larger id loses) plus a fresh doc;
    // the sink sees the survivors BEFORE the index append
    var sunk = -1L
    val t2 = df(docSchema, Seq(Row(100L, base(0)._2),
      Row(101L, "fresh unrelated words nobody else has written down anywhere")))
    val kept2 = Dedup.incrementalChunks(t2, "text", "doc_id", conn, "chunk_index",
        sink = d => sunk = d.count())
      .collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(101L), kept2.toString)
    assert(sunk == 1L)
    val idxRows2 = conn.read("chunk_index").count()
    assert(idxRows2 > idxRows1)
    // replay: same survivors, and the index does NOT grow (101's rows
    // are already there; 100 still loses against the indexed corpus)
    val kept2b = Dedup.incrementalChunks(t2, "text", "doc_id", conn, "chunk_index")
      .collect().map(_.getLong(0)).toSet
    assert(kept2b == Set(101L), kept2b.toString)
    assert(conn.read("chunk_index").count() == idxRows2)
  }

  test("chunkSharing surfaces cross-document boilerplate exact/near-dup miss") {
    val boiler = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3
    val docs = corpus(6).map { case (i, t) =>
      // docs 0-2 share a big boilerplate banner inside distinct pages
      if (i < 3) (i, boiler + " " + t) else (i, t)
    }
    val d = df(docSchema, docs.map { case (i, t) => Row(i, t) })
    val out = Dedup.chunkSharing(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(5))).toMap
    (0L to 2L).foreach { i =>
      val (_, nShared, sharedFp) = out(i)
      assert(nShared > 0 && sharedFp > 0, s"doc $i must report shared chunks: ${out(i)}")
    }
    // the sharing profile is fixed-point arithmetic: shared_fp = shared*1e6 DIV chunks
    out.foreach { case (_, (n, s, fp)) => assert(fp == s * 1000000L / n) }
  }
}
