package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{BigramLm, Dedup, KMeans, MergeInto, Repetition, Sampling}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  /** Plain-scalacheck property driver (no scalatestplus bridge in the
    * offline cache): deterministic seeds, N trials.
    */
  private def forAllSeeded[A](gen: Gen[A], trials: Int = 8)(body: A => Unit): Unit =
    (0 until trials).foreach { i =>
      body(gen.apply(Gen.Parameters.default, Seed(42L + i)).get)
    }

  test("latestByKey keeps exactly the newest row per key, tiebreak applies") {
    val df = Seq(
      (1, "a", 10L, 100L),
      (1, "b", 20L, 101L),
      (1, "c", 20L, 99L), // same ts as b: tiebreak on id desc -> b wins
      (2, "x", 5L, 1L)
    ).toDF("k", "v", "ts", "id")
    val out = Dedup.latestByKey(df, Seq("k"), "ts", Seq("id"))
      .select("k", "v").as[(Int, String)].collect().toSet
    assert(out == Set((1, "b"), (2, "x")))
  }

  test("exactByColumns keeps the min-keep row per duplicate group") {
    val df = Seq(
      ("dup", 3), ("dup", 1), ("dup", 2), ("solo", 9)
    ).toDF("txt", "id")
    val out = Dedup.exactByColumns(df, Seq("txt"), "id")
      .as[(String, Int)].collect().toSet
    assert(out == Set(("dup", 1), ("solo", 9)))
  }

  test("upsertAll: source wins on match, others preserved, inserts appear") {
    val target = Seq((1, "t1"), (2, "t2")).toDF("k", "v")
    val source = Seq((2, "s2"), (3, "s3")).toDF("k", "v")
    val out = MergeInto.upsertAll(target, source, Seq("k"))
      .as[(Int, String)].collect().toSet
    assert(out == Set((1, "t1"), (2, "s2"), (3, "s3")))
  }

  test("upsertColumns: null keys match null-safely with correct arbitration") {
    val target = Seq((Option.empty[Int], "t1", "keep")).toDF("k", "v", "w")
    val source = Seq((Option.empty[Int], "s1", "SRC")).toDF("k", "v", "w")
    val out = MergeInto.upsertColumns(target, source, Seq("k"), Seq("v"))
      .select("v", "w").as[(String, String)].collect().toSeq
    // the <=> join matches the null keys: v updates, w stays from target
    assert(out == Seq(("s1", "keep")))
  }

  test("upsertColumns: non-listed columns keep target values on match") {
    val target = Seq((1, "t1", "keep1"), (2, "t2", "keep2")).toDF("k", "v", "w")
    val source = Seq((2, "s2", "SRC"), (3, "s3", "SRC")).toDF("k", "v", "w")
    val out = MergeInto.upsertColumns(target, source, Seq("k"), Seq("v"))
      .as[(Int, String, String)].collect().toSet
    assert(out == Set(
      (1, "t1", "keep1"),
      (2, "s2", "keep2"), // v updated, w kept from target
      (3, "s3", "SRC")))  // insert takes all source columns
  }

  // ---- merge algebra properties (SURVEY.md §5.4) -------------------------

  private val rowGen = for {
    k <- Gen.choose(0, 20)
    ts <- Gen.choose(0L, 50L)
    v <- Gen.alphaStr.map(_.take(6))
  } yield (k, ts, v)

  private val batchGen = Gen.listOfN(30, rowGen)
  private val twoBatches = Gen.zip(batchGen, batchGen)

  test("property: upsert is idempotent") {
    forAllSeeded(twoBatches) { case (t0, b) =>
      val target = Dedup.latestByKey(
        t0.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val batch = Dedup.latestByKey(
        b.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val once = MergeInto.upsertAll(target, batch, Seq("k"))
      val twice = MergeInto.upsertAll(once, batch, Seq("k"))
      assert(once.collect().toSet == twice.collect().toSet)
    }
  }

  test("property: result keys = union of target and source keys") {
    forAllSeeded(twoBatches) { case (t0, b) =>
      val target = Dedup.latestByKey(
        t0.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val batch = Dedup.latestByKey(
        b.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val out = MergeInto.upsertAll(target, batch, Seq("k"))
      val keys = out.select("k").as[Int].collect().toSet
      assert(keys == (t0.map(_._1).toSet ++ b.map(_._1).toSet))
      // and still <= 1 row per key
      assert(out.count() == keys.size)
    }
  }

  test("property: the upsert MERGE program == upsertAll on any input") {
    // applyClauses with the plain upsert program must be observationally
    // identical to the specialized anti-join rewrite
    forAllSeeded(twoBatches) { case (t0, b) =>
      val target = Dedup.latestByKey(
        t0.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val batch = Dedup.latestByKey(
        b.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val viaProgram = MergeInto.applyClauses(target, batch, Seq("k"),
        MergeInto.upsertProgram(Seq("k", "ts", "v"), Seq("k")))
      val viaAnti = MergeInto.upsertAll(target, batch, Seq("k"))
      assert(viaProgram.collect().toSet == viaAnti.collect().toSet)
    }
  }

  test("property: delete clause == upsert then anti-join on delete keys") {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    forAllSeeded(twoBatches) { case (t0, b) =>
      val target = Dedup.latestByKey(
        t0.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val batch = Dedup.latestByKey(
        b.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val del = col("ts") % 3 === 0 // arbitrary predicate over the batch
      val viaProgram = MergeInto.applyClauses(target, batch, Seq("k"),
        MergeInto.MergeClauses(
          matched = Seq(
            MergeInto.DeleteClause(Some(del)),
            MergeInto.UpdateClause(None, Map("ts" -> col("ts"), "v" -> col("v")))),
          notMatched = Seq(MergeInto.InsertClause(
            Some(not(coalesce(del, lit(false)))),
            Map("k" -> col("k"), "ts" -> col("ts"), "v" -> col("v"))))))
      // reference semantics: upsert the non-delete rows, then remove all
      // keys the batch marked for deletion
      val deletes = batch.filter(del).select("k")
      val expected = MergeInto.upsertAll(target, batch.filter(!del), Seq("k"))
        .join(deletes, Seq("k"), "left_anti")
      assert(viaProgram.collect().toSet == expected.collect().toSet)
    }
  }

  test("property: last-writer-wins — B1 then B2 == dedup(B1 ∪ B2) when ts distinct") {
    // force globally distinct timestamps so LWW order is total
    forAllSeeded(twoBatches) { case (b1raw, b2raw) =>
      val b1 = b1raw.zipWithIndex.map { case ((k, _, v), i) => (k, i.toLong * 2, v) }
      val off = b1raw.size * 2L
      val b2 = b2raw.zipWithIndex.map { case ((k, _, v), i) => (k, off + i * 2L, v) }
      val d1 = Dedup.latestByKey(b1.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val d2 = Dedup.latestByKey(b2.toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      val sequential = MergeInto.upsertAll(d1, d2, Seq("k"))
      val combined = Dedup.latestByKey(
        (b1 ++ b2).toDF("k", "ts", "v"), Seq("k"), "ts", Seq("v"))
      assert(sequential.select("k", "v").collect().toSet ==
        combined.select("k", "v").collect().toSet)
    }
  }

  test("trainingOrder: two-level rank == flat per-shard row_number") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val df = (0L until 500L).toDF("id")
    val naive = df.select(
      col("id"),
      substring(md5(col("id").cast("string")), 1, 1).as("shard"),
      substring(md5(col("id").cast("string")), 2, 16).as("okey"))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("okey"), col("id"))).cast("long"))
      .select("id", "shard", "pos")
    // both micro-bucket widths must reproduce the flat order exactly
    for (bc <- Seq(1, 2)) {
      val got = Sampling.trainingOrder(df, "id", bucketChars = bc)
      assert(got.select("id", "shard", "pos").as[(Long, String, Long)].collect().toSet ==
        naive.as[(Long, String, Long)].collect().toSet, s"bucketChars=$bc")
    }
  }

  test("trainingOrder: positions are dense 1..n per shard") {
    val out = Sampling.trainingOrder((0L until 300L).toDF("id"), "id")
      .groupBy("shard")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("pos").as("lo"),
        org.apache.spark.sql.functions.max("pos").as("hi"),
        org.apache.spark.sql.functions.count_distinct(
          org.apache.spark.sql.functions.col("pos")).as("nd"))
      .as[(String, Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (shard, n, lo, hi, nd) =>
      assert(lo == 1L && hi == n && nd == n, s"shard $shard not dense: $lo..$hi/$n")
    }
  }

  test("bigram LM: hand-computed smoothed log-likelihoods; unseen gram hits the uniform floor") {
    // corpus: c(a)=3 c(b)=3 c(c)=1, V=3; bigrams: "a b"x3, "b a"x1
    // P(b|a)=(3+1)/(3+3) -> llq floor(ln(2/3)*1e4+0.5) = -4055
    // P(a|b)=(1+1)/(3+3) -> llq floor(ln(1/3)*1e4+0.5) = -10986
    val corpus = Seq(
      (1L, "a b a b"), (2L, "a b"), (3L, "c")
    ).toDF("doc_id", "text")
    val model = BigramLm.fit(corpus, "text")
    val out = BigramLm.scoreDocs(corpus, "doc_id", "text", model)
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    // doc1: (-4055 - 10986 - 4055)/3 -> floor(-6365.33+0.5)/1e4
    assert(out(0) == ((1L, 3L, -0.6365)))
    assert(out(1) == ((2L, 1L, -0.4055)))
    assert(out(2) == ((3L, 0L, 0.0))) // no transition in a 1-token doc
    // frozen-model apply on unseen text: c2=0, c1=0 -> P = 1/V = 1/3
    val unseen = BigramLm.scoreDocs(
      Seq((9L, "z z")).toDF("doc_id", "text"), "doc_id", "text", model)
      .as[(Long, Long, Double)].collect()
    assert(unseen.head == ((9L, 1L, -1.0986)))
    // seen w1, unseen bigram: "a c" -> c2=0 but c1=c(a)=3 resolves,
    // P = 1/(3+3) = 1/6, llq = floor(ln(1/6)*1e4+0.5) = -17918
    val halfSeen = BigramLm.scoreDocs(
      Seq((10L, "a c")).toDF("doc_id", "text"), "doc_id", "text", model)
      .as[(Long, Long, Double)].collect()
    assert(halfSeen.head == ((10L, 1L, -1.7918)))
  }

  test("NB classifier: hand-computed per-class scores, prior-only short doc") {
    import graft.operators.NbClassifier
    // V=4 global; priors: good ln(1/3)->-10986, bad ln(2/3)->-4055
    val train = Seq((1L, "good", "a b"), (2L, "bad", "c d"), (3L, "bad", "c d"))
      .toDF("doc_id", "label", "text")
    val model = NbClassifier.fit(train, "label", "text")
    // "a b a b a b": good = 3*ln(2/5)+2*ln(1/5) quantized = -59677-10986;
    // bad = 5*ln(1/4) quantized = -69315-4055 -> good wins on evidence
    // despite the weaker prior. "solo": no transition -> prior argmax.
    val out = NbClassifier.predict(
      Seq((9L, "a b a b a b"), (10L, "solo")).toDF("doc_id", "text"),
      "doc_id", "text", model)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(out(0) == ((9L, "good", 5L, -70663L)))
    assert(out(1) == ((10L, "bad", 0L, -4055L)))
  }

  test("chunking: overlap, full coverage, short docs are one chunk") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Chunking
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 toks, W=4 S=3
      (2L, "a b c")                                   // shorter than window
    ).toDF("doc_id", "text")
    val out = Chunking.chunkTokens(docs, "doc_id", "text", window = 4, stride = 3)
      .orderBy("doc_id", "chunk_idx")
      .select("doc_id", "chunk_idx", "n_chunk_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    // ceil((10-4)/3)=2 -> chunks at starts 1,4,7, all full width
    assert(out == Seq((1L, 0L, 4L), (1L, 1L, 4L), (1L, 2L, 4L), (2L, 0L, 3L)))
    // chunk content is the sliding window: md5 of chunk 1 = md5("w4 w5 w6 w7")
    val m = Chunking.chunkTokens(docs, "doc_id", "text", 4, 3)
      .filter(col("doc_id") === 1L && col("chunk_idx") === 1L)
      .select("chunk_md5").as[String].head()
    val ref = java.security.MessageDigest.getInstance("MD5")
      .digest("w4 w5 w6 w7".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(m == ref)
  }

  test("CharHist native expression: exact counts, empty text, unicode chars") {
    import org.apache.spark.sql.functions.{col, explode}
    val df = Seq("aabac", "", "ééz", "😀a😀").toDF("t")
      .select(col("t"), explode(graft.functions.CharHist(col("t"))).as("e"))
      .select(col("t"), col("e.ch"), col("e.cnt"))
      .as[(String, String, Long)].collect().toSeq
    // empty text emits no rows (matches the oracle's char enumeration)
    assert(!df.exists(_._1 == ""))
    assert(df.filter(_._1 == "aabac").toSet ==
      Set(("aabac", "a", 3L), ("aabac", "b", 1L), ("aabac", "c", 1L)))
    assert(df.filter(_._1 == "ééz").toSet ==
      Set(("ééz", "é", 2L), ("ééz", "z", 1L)))
    // non-BMP: one entry per CODE POINT, never two surrogate halves
    assert(df.filter(_._1 == "😀a😀").toSet ==
      Set(("😀a😀", "😀", 2L), ("😀a😀", "a", 1L)))
  }

  test("charEntropy: exact bits/char on uniform and degenerate alphabets") {
    import graft.operators.Repetition
    val docs = Seq(
      (1L, "aaaa"), // one symbol -> 0 bits
      (2L, "ab"),   // two equiprobable -> 1 bit
      (3L, "abcd")  // four equiprobable -> 2 bits
    ).toDF("doc_id", "text")
    val out = Repetition.charEntropy(docs, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(out == Seq((1L, 4L, 0.0), (2L, 2L, 1.0), (3L, 4L, 2.0)))
  }

  test("normalize: casefold, punctuation to space, whitespace collapse, trim") {
    import graft.operators.Normalize
    val docs = Seq(
      (1L, "  HeLLo, W**orld!!\tx  "),
      (2L, "already clean text"),
      (3L, "(c) 2026, Doc-3...")
    ).toDF("doc_id", "text")
    val out = Normalize.normalized(docs, "doc_id", "text")
      .orderBy("doc_id").select("norm").as[String].collect().toSeq
    assert(out == Seq("hello w orld x", "already clean text", "c 2026 doc 3"))
    // shrinkage audit columns reflect raw vs canonical lengths
    val sizes = Normalize.normalized(docs, "doc_id", "text")
      .orderBy("doc_id").select("n_raw", "n_norm").as[(Long, Long)].collect()
    assert(sizes(0) == ((22L, 14L)))
  }

  test("editSimilarity: identical docs 1.0, near-dups high, filter excludes unrelated") {
    import graft.operators.TextDedup
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base),                                  // exact dup -> sim 1.0
      (3L, base.replace("delta", "DELTA")),        // one word edited
      (4L, "totally different words nothing shared here at all now")
    ).toDF("doc_id", "text")
    // one edited word flips 3 of 8 shingles -> jaccard 5/11 ≈ 0.45, so the
    // filter sits at 0.4 to let the near-dup pair through
    val out = TextDedup.editSimilarity(docs, "doc_id", "text", jaccardMin = 0.4)
      .orderBy("d1", "d2")
      .select("d1", "d2", "lev", "edit_sim")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // pairs (1,2),(1,3),(2,3) survive the jaccard filter; 4 never appears
    assert(out.map(r => (r._1, r._2)) == Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(out.head._3 == 0L && out.head._4 == 1.0)
    // "delta" -> "DELTA": 5 char substitutions over a 56-char string
    assert(out(1)._3 == 5L)
    assert(out(1)._4 == math.floor((1.0 - 5.0 / 56) * 10000 + 0.5) / 10000)
  }

  test("cdcChunks: boundaries from content, insertion shifts only local chunks") {
    import graft.operators.Chunking
    import org.apache.spark.sql.functions.col
    // deterministic word-soup; boundary rule md5-prefix '0' over 3-grams
    val words = (1 to 60).map(i => s"tok${i % 17}").mkString(" ")
    val docs = Seq((1L, words), (2L, "a b c")).toDF("doc_id", "text")
    val out = Chunking.cdcChunks(docs, "doc_id", "text")
      .orderBy("doc_id", "seg_id")
      .select("doc_id", "seg_id", "n_seg_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    // full coverage: per-doc token counts add back up
    assert(out.filter(_._1 == 1L).map(_._3).sum == 60L)
    // short doc (n <= k): exactly one chunk, never a descending sequence()
    assert(out.filter(_._1 == 2L) == Seq((2L, 0L, 3L)))
    // content-defined invariance: prepending one token leaves every chunk
    // after the first boundary byte-identical (fixed-grid chunking would
    // shift all of them)
    val shifted = Seq((1L, "extra " + words)).toDF("doc_id", "text")
    def md5sAfterFirst(df: org.apache.spark.sql.DataFrame) =
      Chunking.cdcChunks(df, "doc_id", "text")
        .filter(col("seg_id") >= 1).orderBy("seg_id")
        .select("seg_md5").as[String].collect().toSeq
    val a = md5sAfterFirst(docs.filter(col("doc_id") === 1L))
    val b = md5sAfterFirst(shifted)
    assert(a.nonEmpty && b.takeRight(a.size) == a)
  }

  test("cdcChunkDedup: re-crawled doc loses all chunks, original keeps all") {
    import graft.operators.Chunking
    // all-distinct tokens: no repeated grams, so no intra-doc chunk dups
    val words = (1 to 80).map(i => s"w$i").mkString(" ")
    val other = (1 to 40).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, words), (2L, other), (3L, words)) // 3 re-crawls 1
      .toDF("doc_id", "text")
    val out = Chunking.cdcChunkDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_chunks", "n_kept_chunks", "n_tokens",
        "n_kept_tokens", "kept_frac_e4")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val d1 = out(0); val d2 = out(1); val d3 = out(2)
    // first occurrence wins everything; the exact copy keeps nothing
    assert(d1._3 == d1._2 && d1._6 == 10000L && d1._4 == 80L && d1._5 == 80L)
    assert(d2._3 == d2._2 && d2._6 == 10000L)
    assert(d3._3 == 0L && d3._5 == 0L && d3._6 == 0L && d3._2 == d1._2)
  }

  test("temperatureSample: exact cut arithmetic, md5 membership, undersized stratum kept whole") {
    import graft.operators.Sampling
    import org.apache.spark.sql.functions.{col, md5, substring}
    // stratum a: 100 rows, stratum b: 4 rows; T=0.5, target 30%
    // nw8: a=10e8, b=2e8; z8=12e8; N=104
    // p_a = 0.3*104*(1e9/1.2e9)/100 = 0.26 -> cut 66 = hex "42"
    // p_b = 0.3*104*(0.2e9/1.2e9)/4 = 1.3 -> capped 1.0 -> cut 256: all
    val rows = (1 to 100).map(i => (i.toLong, "a")) ++
      (101 to 104).map(i => (i.toLong, "b"))
    val df = rows.toDF("id", "s")
    val out = Sampling.temperatureSample(df, "s", "id",
      temperature = 0.5, targetFrac = 0.3)
    val cuts = out.select("s", "cut").distinct().as[(String, Int)]
      .collect().toMap
    assert(cuts == Map("a" -> 66, "b" -> 256))
    // every b row kept; a membership is exactly the md5-prefix rule
    val kept = out.select("id").as[Long].collect().toSet
    assert((101L to 104L).forall(kept))
    val expectA = df.filter(col("s") === "a")
      .filter(substring(md5(col("id").cast("string")), 1, 2) < "42")
      .select("id").as[Long].collect().toSet
    assert(kept.filter(_ <= 100L) == expectA)
  }

  test("topDuplicatedGrams: rank by ndocs, occurrences, gram; singletons excluded") {
    import graft.operators.TextDedup
    val shared8 = "s1 s2 s3 s4 s5 s6 s7 s8"
    val docs = Seq(
      (1L, s"$shared8 one two three"),
      (2L, s"intro $shared8 tail"),
      (3L, s"$shared8 $shared8"), // repeats the gram internally
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9")
    ).toDF("doc_id", "text")
    val out = TextDedup.topDuplicatedGrams(docs, "doc_id", "text", n = 8, topK = 5)
      .select("gram", "ndocs", "n_occ", "rank")
      .as[(String, Long, Long, Long)].collect().toSeq
    // the fully shared gram is rank 1 (3 docs); doc 4's grams are singletons
    assert(out.head._1 == shared8 && out.head._2 == 3L && out.head._4 == 1L)
    assert(out.forall(_._2 >= 2L))
    assert(out.map(_._4) == (1L to out.size))
  }

  test("frequencyRank: two-level rank equals flat order, coverage exact") {
    import graft.operators.Vocabulary
    import org.apache.spark.sql.functions.col
    // counts: b:3, a:2, ab:2, c:1  (same-count ties ordered by word;
    // 'a' and 'ab' share a first-char bucket, 'b'/'c' are singletons)
    val docs = Seq((1L, "b a ab c"), (2L, "b a ab"), (3L, "b"))
      .toDF("doc_id", "text")
    val out = Vocabulary.frequencyRank(docs, "text")
      .orderBy("rank").select("word", "cnt", "rank", "coverage")
      .as[(String, Long, Long, Double)].collect().toSeq
    // total tokens = 8; flat order: b(3), a(2), ab(2), c(1)
    assert(out == Seq(
      ("b", 3L, 1L, 0.375),   // 3/8
      ("a", 2L, 2L, 0.625),   // 5/8
      ("ab", 2L, 3L, 0.875),  // 7/8
      ("c", 1L, 4L, 1.0)))
    // bucket width is a parallelism knob, NOT a semantics knob: prefix
    // bucketing preserves lexicographic order at any width, so 1-char
    // and 3-char bucketing emit identical tables on a real corpus
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w1 = Vocabulary.frequencyRank(corpus, "text", bucketChars = 1)
      .as[(String, Long, Long, Double)].collect().toSet
    val w3 = Vocabulary.frequencyRank(corpus, "text", bucketChars = 3)
      .as[(String, Long, Long, Double)].collect().toSet
    assert(w1 == w3 && w1.nonEmpty)
  }

  test("corpusDiff: added/removed/changed/unchanged classification") {
    import graft.operators.Dedup
    val oldS = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val newS = Seq((1L, "a"), (2L, "b2"), (4L, "d")).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(oldS, newS, "doc_id", "text")
      .select("id", "status").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("exactK: k smallest md5 keys, partition-independent membership") {
    import graft.operators.Sampling
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val df = (1 to 500).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val out = Sampling.exactK(df, "id", 50).select("id").as[Long].collect().toSet
    val expected = (1 to 500).map(i => (md5hex(i.toString), i.toLong))
      .sortBy(identity).take(50).map(_._2).toSet
    assert(out == expected && out.size == 50)
    // membership is a function of the key set, not the partitioning
    val outR = Sampling.exactK(df.repartition(7), "id", 50)
      .select("id").as[Long].collect().toSet
    assert(outR == out)
  }

  test("lengthBuckets: equal-count quantile buckets, in-bucket fixed batches") {
    import graft.operators.Batching
    // doc i has i tokens; K=4 buckets, B=2 per batch
    val docs = (1 to 10)
      .map(i => (i.toLong, (1 to i).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Batching.lengthBuckets(docs, "doc_id", "text",
      numBuckets = 4, batchSize = 2)
      .orderBy("rank")
      .select("doc_id", "n_tokens", "rank", "bucket", "batch_id")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // distinct lengths: rank follows doc order exactly
    assert(out.map(_._1) == (1L to 10L))
    assert(out.map(_._3) == (1L to 10L))
    // bucket = (rank-1)*4 div 10 -> 0,0,0,1,1,2,2,2,3,3
    assert(out.map(_._4) == Seq(0L, 0L, 0L, 1L, 1L, 2L, 2L, 2L, 3L, 3L))
    // per-bucket batches of 2, counted from each bucket's first rank
    assert(out.map(_._5) == Seq(0L, 0L, 1L, 0L, 0L, 0L, 0L, 1L, 0L, 0L))
  }

  test("capPerKey: skewed keys capped by deterministic order, small keys intact") {
    import org.apache.spark.sql.functions._
    // heavy key with 300 rows, light key with 3
    val df = ((0L until 300L).map(i => (i, "heavy")) ++
      Seq((1000L, "light"), (1001L, "light"), (1002L, "light")))
      .toDF("id", "domain")
    val out = Sampling.capPerKey(df, Seq("domain"), "id", maxPerKey = 10L)
    val byKey = out.groupBy("domain").count().as[(String, Long)].collect().toMap
    assert(byKey == Map("heavy" -> 10L, "light" -> 3L))
    // the capped set equals the flat-window reference selection
    import org.apache.spark.sql.expressions.Window
    val ref = df.withColumn("rn", row_number().over(
      Window.partitionBy(col("domain"))
        .orderBy(substring(md5(col("id").cast("string")), 2, 16), col("id"))))
      .filter(col("rn") <= 10).select("id").as[Long].collect().toSet
    assert(out.select("id").as[Long].collect().toSet == ref)
  }

  test("property: trainingOrder is the reference permutation on random ids") {
    import java.security.MessageDigest
    def md5hex(s: String) = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rnd = new scala.util.Random(77)
    for (_ <- 1 to 2) {
      // sparse, non-contiguous ids — the operator must not assume density
      val ids = Seq.fill(400)(rnd.nextLong().abs % 1000000L).distinct
      val expected = ids
        .map(id => (id, md5hex(id.toString)))
        .groupBy(_._2.substring(0, 1))
        .flatMap { case (shard, rows) =>
          rows.sortBy(r => (r._2.substring(1, 17), r._1)).zipWithIndex
            .map { case ((id, _), i) => (id, shard, i + 1L) }
        }.toSet
      val got = Sampling.trainingOrder(ids.toDF("id"), "id")
        .as[(Long, String, Long)].collect().toSet
      assert(got == expected)
    }
  }

  test("kmeans: Lloyd converges to the obvious 2-cluster split (q72)") {
    // two tight groups on a line; init = vectors of ids 1,2 (both from
    // group A) — iteration must pull centroid 1 over to group B
    val df = Seq(
      (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.1f, 0.0f)), (3L, Seq(0.2f, 0.1f)),
      (4L, Seq(10.0f, 10.0f)), (5L, Seq(10.1f, 10.2f)), (6L, Seq(9.9f, 10.0f))
    ).toDF("id", "vec")
    val cents = KMeans.fit(df, "id", "vec", k = 2, iters = 3)
    val out = KMeans.assign(df, "id", "vec", cents)
      .select("id", "cluster").as[(Long, Int)].collect().toMap
    assert(Set(out(1L), out(2L), out(3L)).size == 1)
    assert(Set(out(4L), out(5L), out(6L)).size == 1)
    assert(out(1L) != out(4L))
    // converged centroids are the exact quantized group means (computed
    // here from the same float-widening + floor rule the operator uses)
    def q(x: Float): Long = math.floor(x.toDouble * 10000).toLong
    def m(g: Seq[Seq[Float]], d: Int): Long =
      math.floor(g.map(v => q(v(d))).sum.toDouble / g.size).toLong
    val ga = Seq(Seq(0.0f, 0.0f), Seq(0.1f, 0.0f), Seq(0.2f, 0.1f))
    val gb = Seq(Seq(10.0f, 10.0f), Seq(10.1f, 10.2f), Seq(9.9f, 10.0f))
    assert(cents(out(1L)) == IndexedSeq(m(ga, 0), m(ga, 1)))
    assert(cents(out(4L)) == IndexedSeq(m(gb, 0), m(gb, 1)))
  }

  test("kmeans: partition layout cannot change the result (exact arithmetic)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("vec_id", "embedding")
    val one = KMeans.fitAssign(emb.repartition(1), "vec_id", "embedding", 4, 2)
      .as[(Long, Int, Long)].collect().toSet
    val many = KMeans.fitAssign(emb.repartition(7), "vec_id", "embedding", 4, 2)
      .as[(Long, Int, Long)].collect().toSet
    assert(one == many && one.nonEmpty)
  }

  test("kmeans: an emptied cluster keeps its previous centroid") {
    // ids 1,2 both init near zero; every point is nearer centroid 0 after
    // quantization, so centroid 1 empties and must carry forward
    val df = Seq(
      (1L, Seq(0.0f)), (2L, Seq(0.0f)), (3L, Seq(0.5f)), (4L, Seq(1.0f))
    ).toDF("id", "vec")
    // iter 1: both centroids init at 0, ties go to cid 0, so cluster 1
    // EMPTIES and must carry its init centroid forward
    assert(KMeans.fit(df, "id", "vec", k = 2, iters = 1)
      == IndexedSeq(IndexedSeq(3750L), IndexedSeq(0L)))
    // iter 2: the carried-forward centroid 0 re-captures the two zero
    // points (closer to 0 than to 3750) — an emptied cluster can revive
    assert(KMeans.fit(df, "id", "vec", k = 2, iters = 2)
      == IndexedSeq(IndexedSeq(7500L), IndexedSeq(0L)))
  }

  test("repetition signals: loops flag, diverse text does not (q45)") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog near an oak"),
      (3L, "go go go go stop")
    ).toDF("doc_id", "text")
    val out = Repetition.signals(df, "doc_id", "text")
      .select("doc_id", "n_words", "dup_word_frac", "top_word_frac",
        "top_bigram_frac", "is_repetitive")
      .as[(Long, Long, Double, Double, Double, Int)].collect().sortBy(_._1)
    // doc 1: 10 words, 1 distinct; top bigram "spam spam" covers 9·2/10
    assert(out(0) == ((1L, 10L, 0.9, 1.0, 1.8, 1)))
    // doc 2: 12 distinct words, every bigram unique (2/12 coverage —
    // note a fully-diverse doc under ~11 words would still trip the 0.18
    // Gopher bigram cut: its floor is 2/n; Gopher pairs this rule with
    // minimum-length gates, as does any real pipeline)
    assert(out(1) == ((2L, 12L, 0.0, 0.0833, 0.1667, 0)))
    // doc 3: 5 words {go:4, stop:1}; "go go" ×3 → 6/5 coverage
    assert(out(2) == ((3L, 5L, 0.6, 0.8, 1.2, 1)))
  }

  test("repetition signals: single-word doc has zero bigram coverage") {
    val out = Repetition.signals(Seq((1L, "word")).toDF("doc_id", "text"),
      "doc_id", "text")
      .select("doc_id", "top_bigram_frac", "is_repetitive")
      .as[(Long, Double, Int)].collect()
    assert(out.head == ((1L, 0.0, 0)))
  }

  test("per-key percentile: two-level build equals flat window, edges pinned") {
    import graft.operators.Percentiles
    val df = Seq(
      // group a: 5 rows with a tie on value 20 (ids 3,4 break by id)
      (1L, "a", 10L), (2L, "a", 15L), (3L, "a", 20L), (4L, "a", 20L),
      (5L, "a", 30L),
      // group b: single row pins to 0
      (9L, "b", 7L)).toDF("id", "g", "v")
    val out = Percentiles.perKeyPercentile(df, "g", "v", "id")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    // percent_rank semantics: strictly-smaller counts over n-1 = 4, and
    // the two tied rows (ids 3, 4) SHARE their percentile
    assert(out(1L) == 0L && out(2L) == 2500L && out(3L) == 5000L
      && out(4L) == 5000L && out(5L) == 10000L)
    assert(out(9L) == 0L)
    // partition-layout invariance
    val p9 = Percentiles.perKeyPercentile(df.repartition(9), "g", "v", "id")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(p9 == out)
  }

  test("gopher rules: thresholds, signals, rule bits") {
    import graft.operators.Gopher
    import org.apache.spark.sql.functions.col
    val good = (1 to 6).map(_ =>
      "the quick brown fox jumps over lazy dogs near that oak").mkString(" ")
    val df = Seq(
      (1L, good),                                   // 66 words, clean
      (2L, "tiny doc of the and"),                  // 5 words: too short
      (3L, (1 to 30).map(_ => "# data").mkString(" ")), // symbol-heavy, short words
      (4L, "• one thing\n• two thing\n• three thing") // all-bullet
    ).toDF("doc_id", "text")
    val out = Gopher.rules(df, "doc_id", "text")
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    def bit(id: Long, name: String): Long =
      byId(id).getLong(out.columns.indexOf(name))
    // doc 1 passes everything
    assert(byId(1L).getLong(out.columns.indexOf("n_words")) == 66L)
    assert(bit(1L, "r_stop_words") == 1L && bit(1L, "pass") == 1L
      && bit(1L, "n_rules_failed") == 0L)
    // doc 2: word count fails; stop words pass (of, the, and)
    assert(bit(2L, "r_word_count") == 0L && bit(2L, "r_stop_words") == 1L
      && bit(2L, "pass") == 0L)
    // doc 3: 60 words but symbol ratio 0.5 and mean word len 2.5
    assert(bit(3L, "r_word_count") == 1L && bit(3L, "r_symbol_ratio") == 0L
      && bit(3L, "r_mean_word_len") == 0L && bit(3L, "pass") == 0L)
    // doc 4: every line starts with a bullet -> frac 1.0 > 0.9
    assert(bit(4L, "r_bullet_lines") == 0L)
    assert(byId(4L).getLong(out.columns.indexOf("bullet_frac_e4")) == 10000L)
    // the pass is one map-side projection: no exchange in the plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"gopher rules should not shuffle:\n$plan")
  }

  test("blocklist: word-boundary match, occurrence counts, sorted hit set") {
    import graft.operators.Blocklist
    val df = Seq(
      (1L, "bad word here bad"),     // 'bad' at two positions
      (2L, "badge words"),           // substring must NOT match
      (3L, "very bad words indeed"), // unigram AND bigram phrase hit
      (4L, "clean text")
    ).toDF("doc_id", "text")
    val out = Blocklist.flag(df, "doc_id", "text", Seq("bad", "bad  words"))
      .as[(Long, Long, String, Long)].collect().sortBy(_._1)
    assert(out(0) == ((1L, 2L, "bad", 1L)))
    assert(out(1) == ((2L, 0L, "", 0L))) // 'badge' stays clean
    assert(out(2) == ((3L, 2L, "bad,bad words", 1L)))
    assert(out(3) == ((4L, 0L, "", 0L)))
  }

  test("logBucket: exact small values, relative error bound, monotone, sign-mirrored") {
    import graft.operators.Percentiles
    import org.apache.spark.sql.functions.col
    val vs = Seq(0L, 1L, 127L, 255L, 256L, 1000L, 1234567L, -1234567L,
      Long.MaxValue, Long.MinValue, Long.MinValue + 1)
    val out = vs.toDF("v")
      .select(col("v"), Percentiles.logBucket(col("v"), 8).as("b"))
      .as[(Long, Long)].collect().toMap
    // values under 2^8 are exact
    assert(out(0L) == 0L && out(1L) == 1L && out(127L) == 127L
      && out(255L) == 255L && out(256L) == 256L)
    // bucket under-states by < 2^(1-8) relative; never exceeds the value
    for (v <- Seq(1000L, 1234567L, Long.MaxValue)) {
      val b = out(v)
      assert(b <= v && (v - b).toDouble / v < 1.0 / 128.0)
    }
    assert(out(1234567L) == 1228800L) // matches the DuckDB shift replay
    assert(out(-1234567L) == -1228800L) // sign-mirrored
    assert(out(Long.MinValue) == Long.MinValue) // |v| overflow: own bucket
    // monotone: sorted inputs give sorted buckets
    val probe = (1L to 4096L).toDF("v")
      .select(Percentiles.logBucket(col("v"), 4).as("b"))
      .as[Long].collect()
    assert(probe.toSeq == probe.sorted.toSeq)
  }

  test("sketch percentile: bucket-bounded model, boundary ranks exact, mergeable") {
    import graft.operators.Percentiles
    import org.apache.spark.sql.functions.{col, sum}
    // high-cardinality continuous-ish signal: all values distinct
    val rows = (1L to 400L).map(i => (i, "s", i * i * 997L % 10000019L))
    val df = rows.toDF("id", "g", "v")
    val exact = Percentiles.fit(df, "g", "v")
    val sk = Percentiles.fitSketch(df, "g", "v", bits = 6)
    val nExact = exact.coord.count()
    val nSketch = sk.coord.count()
    assert(nExact == 400L) // exact model IS corpus-sized on this signal
    assert(nSketch < 200L) // sketch collapses to bucket cardinality
    // scoring an arrival at an exact bucket boundary reads an exact rank:
    // value 2^20 with corpus mass half below -> pct within one bucket mass
    val arr = Seq((9001L, "s", rows.map(_._3).sorted.apply(199)))
      .toDF("id", "g", "v")
    val scored = Percentiles.scoreAgainstSketch(arr, "id", "g", "v", sk, 6)
      .as[(Long, String, Long, Long)].collect().head
    val exactScored = Percentiles.scoreAgainst(arr, "id", "g", "v", exact)
      .as[(Long, String, Long, Long)].collect().head
    // rank error ≤ mass of one bucket; on 400 near-uniform rows over
    // ~128 live buckets that is a few percent at most
    assert(math.abs(scored._4 - exactScored._4) <= 800L)
    assert(scored._3 == arr.as[(Long, String, Long)].collect().head._3,
      "output restores the original value, not the bucket")
    // mergeable: fitting halves and summing tie counts equals one fit
    val h1 = Percentiles.fitSketch(df.filter(col("id") <= 200), "g", "v", 6)
    val h2 = Percentiles.fitSketch(df.filter(col("id") > 200), "g", "v", 6)
    val merged = h1.coord.select("pk_key", "pk_v", "pk_nv")
      .unionByName(h2.coord.select("pk_key", "pk_v", "pk_nv"))
      .groupBy("pk_key", "pk_v").agg(sum("pk_nv").as("pk_nv"))
    val whole = sk.coord.select("pk_key", "pk_v", "pk_nv")
    assert(merged.except(whole).count() == 0
      && whole.except(merged).count() == 0)
  }

  test("bpe merges: greedy pair order, chained merges, early stop when exhausted") {
    import graft.operators.Vocabulary
    // words: ab x3, abc x2 -> pair (a,b)=5 wins; then (ab,c)=2; then done
    val docs = Seq((1L, "ab ab abc"), (2L, "ab abc")).toDF("doc_id", "text")
    val out = Vocabulary.bpeMerges(docs, "text", nMerges = 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, "a", "b", "ab", 5L),
      (2, "ab", "c", "abc", 2L)))
    // greedy chaining on repeated symbols: "aaa" merges left-to-right
    val rep = Vocabulary.bpeMerges(
      Seq((1L, "aaa aaa")).toDF("doc_id", "text"), "text", 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    // step 1: (a,a) count 4 (two per word, non-overlapping counting is
    // per adjacent POSITION: positions (1,2),(2,3) -> 2 per word = 4)
    assert(rep(0) == ((1, "a", "a", "aa", 4L)))
    // after greedy replace "aaa" -> "aa a": next best pair is (aa, a)
    assert(rep(1) == ((2, "aa", "a", "aaa", 2L)))
    // regression (the double-delimiter fix): an EVEN run's non-overlapping
    // pairs all merge in one step — under single-space delimiters the
    // string matches shared a space and 'abab' merged only its first pair
    val even = Vocabulary.bpeMerges(
      Seq((1L, "abab abab")).toDF("doc_id", "text"), "text", 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
    assert(even(0) == ((1, "a", "b", "ab", 4L)))
    assert(even(1) == ((2, "ab", "ab", "abab", 2L)))
  }

  test("bpe driver-side trainer ≡ distributed oracle twin on fixture corpus") {
    import graft.operators.Vocabulary
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = Vocabulary.bpeTrain(docs, "text", nMerges = 12)
    val twin = Vocabulary.bpeTrainDistributed(docs, "text", nMerges = 12)
    // merge-for-merge: same pair, same count, same order
    val fm = fast.merges.as[(Int, String, String, String, Long)]
      .collect().sortBy(_._1).toSeq
    val tm = twin.merges.as[(Int, String, String, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(fm == tm)
    // final word→symbol tables identical (the tokenizer itself)
    assert(fast.words.except(twin.words).count() == 0
      && twin.words.except(fast.words).count() == 0)
    // and early-stop parity on a corpus that exhausts before nMerges
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val fTiny = Vocabulary.bpeTrain(tiny, "text", nMerges = 5)
      .merges.as[(Int, String, String, String, Long)].collect().toSeq
    val tTiny = Vocabulary.bpeTrainDistributed(tiny, "text", nMerges = 5)
      .merges.as[(Int, String, String, String, Long)].collect().toSeq
    assert(fTiny == tTiny && fTiny.size == 1) // (a,b) then exhausted
  }

  test("bpe encode: trained words collapse, OOV words fall back to characters") {
    import graft.operators.Vocabulary
    val train = Seq((1L, "ab ab abc"), (2L, "ab abc")).toDF("doc_id", "text")
    val model = Vocabulary.bpeTrain(train, "text", nMerges = 5)
    // merges learned: (a,b)->ab, (ab,c)->abc; encode a doc with an OOV word
    val out = Vocabulary.bpeEncode(
      Seq((9L, "ab abc zq")).toDF("doc_id", "text"), "doc_id", "text", model)
      .as[(Long, Long, Long, String)].collect().head
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // ab -> [ab], abc -> [abc], zq (OOV) -> [z, q]: 3 words, 4 subwords
    assert(out == ((9L, 3L, 4L, m("ab abc z q"))))
  }

  test("bpe chunk encode: chunk sums conserve doc-level counts, chunks align with q58") {
    import org.apache.spark.sql.functions.{col, sum => fsum}
    import graft.operators.{Chunking, Vocabulary}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model = Vocabulary.bpeTrain(docs, "text", nMerges = 12)
    val chunked = Vocabulary.bpeEncodeChunks(docs, "doc_id", "text", model)
      .cache()
    // conservation law: CDC boundaries partition the token sequence, so
    // per-doc sums over chunks equal the document-level encode exactly
    val sums = chunked.groupBy(col("doc_id"))
      .agg(fsum(col("n_words")).as("nw"), fsum(col("n_bpe_tokens")).as("nt"))
    val doc = Vocabulary.bpeEncode(docs, "doc_id", "text", model)
    assert(doc.count() > 0)
    assert(sums.join(doc, Seq("doc_id"), "full")
      .filter(col("nw").isNull || col("n_words").isNull
        || col("nw") =!= col("n_words") || col("nt") =!= col("n_bpe_tokens"))
      .count() == 0)
    // chunk identity: every (doc, seg) carries exactly q58's token count
    val cdc = Chunking.cdcChunks(docs, "doc_id", "text")
    assert(chunked.join(cdc, Seq("doc_id", "seg_id"), "full")
      .filter(col("n_words").isNull || col("n_seg_tokens").isNull
        || col("n_words") =!= col("n_seg_tokens"))
      .count() == 0)
    chunked.unpersist()
    ()
  }

  test("encoding signals: U+FFFD and C0 controls gate, tab/newline and accents do not") {
    import graft.operators.Normalize
    val docs = Seq(
      (1L, "ab\uFFFDc\u0007 caf\u00E9"), // 1 repl, 1 ctrl (BEL), 2 non-ascii, 10 chars
      (2L, "a\tb\nc\rd"),                // tab/lf/cr are prose whitespace, not damage
      (3L, ""))                          // empty: ratio guard, not a div-by-zero
      .toDF("doc_id", "text")
    val out = Normalize.encodingSignals(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1L, 1L, 2L, 10L, 8000L, true)))
    assert(out(2L) == ((2L, 0L, 0L, 0L, 7L, 10000L, false)))
    assert(out(3L) == ((3L, 0L, 0L, 0L, 0L, 0L, false)))
  }

  test("rrf fusion: exact integer contributions, multi-list boost, id tiebreak, topK cut") {
    import graft.operators.Rrf
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rank")
    val out = Rrf.fuse(Seq(a, b), "doc_id", "rank", k0 = 60, topK = 3)
      .as[(Long, Long, Long, Int)].collect().toList
    // contributions: 10^6 div 61 = 16393, div 62 = 16129, div 63 = 15873
    assert(out == List(
      (3L, 2L, 15873L + 16393L, 1), // in both lists: fused to the top
      (1L, 1L, 16393L, 2),
      (2L, 1L, 16129L, 3)))         // ties 16129 with doc 4; id asc wins, topK cuts doc 4
  }

  test("percentile scoreAgainst: between-values carry, exact hits, unseen keys drop") {
    import graft.operators.Percentiles
    val corpus = Seq(("a", 10L), ("a", 20L), ("a", 30L), ("b", 5L))
      .toDF("g", "v")
    val model = Percentiles.fit(corpus, "g", "v")
    val arrivals = Seq(
      (1L, "a", 5L),   // below all -> 0/3
      (2L, "a", 10L),  // exact hit on the smallest -> 0/3
      (3L, "a", 15L),  // between 10 and 20 -> 1/3
      (4L, "a", 20L),  // exact hit -> 1/3
      (5L, "a", 25L),  // between -> 2/3
      (6L, "a", 35L),  // above all -> 3/3
      (7L, "zz", 1L)   // unseen key: dropped
    ).toDF("id", "g", "v")
    val out = Percentiles.scoreAgainst(arrivals, "id", "g", "v", model)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 3333L, 4L -> 3333L,
      5L -> 6667L, 6L -> 10000L))
  }

  test("cross-source overlap: triangular pairs, within-source dups collapsed") {
    import graft.operators.Dedup
    val docs = Seq(
      ("s1", "shared one"), ("s1", "shared one"), // within-source dup: counts once
      ("s1", "only s1"),
      ("s2", "shared one"), ("s2", "shared two"),
      ("s3", "shared two"), ("s3", "SHARED   ONE") // normalization folds case/ws
    ).toDF("source", "text")
    val out = Dedup.crossSourceOverlap(docs, "text", "source")
      .as[(String, String, Long)].collect().toSet
    assert(out == Set(("s1", "s2", 1L), ("s1", "s3", 1L),
      ("s2", "s3", 2L)))
  }

  test("property: kmv estimates are exact below k and ref-equal above") {
    import graft.operators.Sketches
    val gen = Gen.listOfN(80, Gen.zip(Gen.oneOf("a", "b"), Gen.chooseNum(1L, 200L)))
    forAllSeeded(gen, trials = 4) { rows =>
      val df = rows.toDF("g", "id")
      val got = Sketches.approxDistinct(df, Seq("g"), "id", 16)
        .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      rows.groupBy(_._1).foreach { case (g, rs) =>
        val distinct = rs.map(_._2).distinct
        val md = java.security.MessageDigest.getInstance("MD5")
        def h(id: Long): Long = java.lang.Long.parseLong(
          md.digest(id.toString.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.substring(0, 13), 16)
        val mins = distinct.map(h).sorted.take(16)
        // kept/kth come straight from the JVM reference hash order
        assert(got(g)._2 == mins.size && got(g)._3 == mins.last)
        if (distinct.size < 16) assert(got(g)._4 == distinct.size * 10000L)
        else assert(got(g)._4 ==
          math.floor(15.0 * 4503599627370496.0 / mins.last * 10000.0).toLong)
      }
    }
  }

  test("property: cms never undercounts any word at any width") {
    import graft.operators.Sketches
    val word = Gen.oneOf("w1", "w2", "w3", "w4", "w5", "w6", "w7")
    val gen = Gen.zip(Gen.listOfN(60, word), Gen.chooseNum(2, 64))
    forAllSeeded(gen, trials = 4) { case (words, width) =>
      val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val exact = words.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val est = Sketches.countMinTopWords(docs, "text", 4, width, 100)
        .as[(String, Long)].collect().toMap
      exact.foreach { case (w, c) =>
        assert(est(w) >= c, s"$w undercounted at width $width")
      }
    }
  }

  test("property: per-key percentile equals the flat percent_rank window") {
    import graft.operators.Percentiles
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, count, floor, rank, when, lit}
    val gen = Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(1L, 12L)))
    forAllSeeded(gen, trials = 4) { rows =>
      val df = rows.zipWithIndex
        .map { case ((g, v), i) => (i.toLong, g, v) }.toDF("id", "g", "v")
      val got = Percentiles.perKeyPercentile(df, "g", "v", "id")
        .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
      val w = Window.partitionBy(col("g")).orderBy(col("v"))
      val flat = df
        .withColumn("rk", rank().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("g"))))
        .withColumn("p", when(col("n") === 1, 0L).otherwise(
          floor((col("rk") - 1).cast("double") / (col("n") - 1).cast("double")
            * 10000.0 + 0.5).cast("long")))
        .select("id", "p").as[(Long, Long)].collect().toMap
      assert(got == flat)
    }
  }

  test("review hardening: null keys, empty sketches, fractional-signal guard") {
    import graft.operators.{Percentiles, Sketches}
    import org.apache.spark.sql.functions.col
    // a group whose keys are ALL null has no distinct values: it drops
    // from the output entirely (and no element_at(arr, 0) crash)
    val mixed = Seq(("a", Some(1L)), ("a", Some(2L)), ("b", None), ("b", None))
      .toDF("g", "id")
    val out = Sketches.approxDistinct(mixed, Seq("g"), "id", 16)
      .as[(String, Long, Option[Long], Long)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet == Set("a"))
    assert(out("a")._2 == 2L && out("a")._4 == 20000L)
    // null values drop from percentiles instead of shifting real ranks
    val withNulls = Seq(
      (1L, "a", Some(10L)), (2L, "a", Some(20L)), (3L, "a", None))
      .toDF("id", "g", "v")
    val pct = Percentiles.perKeyPercentile(withNulls, "g", "v", "id")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(pct == Map(1L -> 0L, 2L -> 10000L)) // null row gone, ranks intact
    // a fractional signal must be pre-quantized explicitly, not truncated
    intercept[IllegalArgumentException] {
      Percentiles.perKeyPercentile(
        Seq((1L, "a", 0.5)).toDF("id", "g", "v"), "g", "v", "id")
    }
    // the bounded CMS query path: watchlist estimates without touching
    // the vocabulary; unseen words estimate 0
    val docs = Seq((1L, "x x y")).toDF("doc_id", "text")
    val counters = Sketches.countMinCounters(docs, "text", 4, 64)
    val est = Sketches.cmsEstimateFor(
        counters, Seq("x", "zz").toDF("w"), 4, 64)
      .as[(String, Long)].collect().toMap
    assert(est("x") >= 2L && est("zz") >= 0L)
    ()
  }

  test("kmv sketch table at rest: commits converge, replay no-op, k guarded") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("kmvrest").toString + "/t"
    val table = graft.table.WarehouseTable(wh)
    val b1 = (1L to 30L).map(i => ("g", i)).toDF("src", "id")
    val b2 = (20L to 60L).map(i => ("g", i)).toDF("src", "id")
    Sketches.sketchTableCommit(spark, b1, "src", "id", 16, table)
    Sketches.sketchTableCommit(spark, b2, "src", "id", 16, table)
    def rows() = Sketches.estimate(
        table.read(spark).select(col("g").as("src"), col("kmins")), 16)
      .as[(String, Long, Long, Long)].collect().toSet
    val whole = Sketches.approxDistinct(
        b1.unionByName(b2), Seq("src"), "id", 16)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(rows() == whole)
    // keyed merge: replaying a batch is byte-idempotent
    Sketches.sketchTableCommit(spark, b2, "src", "id", 16, table)
    assert(rows() == whole)
    // sketches of different k never merge: loud rejection
    intercept[IllegalArgumentException] {
      Sketches.sketchTableCommit(spark, b2, "src", "id", 8, table)
    }
    ()
  }

  test("cms counter table at rest: commits converge, replays no-op pre+post fold") {
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.col
    val wh = java.nio.file.Files.createTempDirectory("cmsrest").toString + "/t"
    val table = graft.table.WarehouseTable(wh)
    val b1 = Seq((1L, "a b c a"), (2L, "b d")).toDF("doc_id", "text")
    val b2 = Seq((3L, "a e"), (4L, "c c f")).toDF("doc_id", "text")
    def counters() = Sketches.countersTableRead(spark, table)
      .as[(Int, Long, Long)].collect().toSet
    val whole = Sketches.countMinCounters(
        b1.unionByName(b2), "text", 4, 64)
      .as[(Int, Long, Long)].collect().toSet
    Sketches.countersTableCommit(spark, b1, "text", 1L, table, 4, 64)
    Sketches.countersTableCommit(spark, b2, "text", 2L, table, 4, 64)
    assert(counters() == whole)
    // pre-fold replay: per-batch keyed rows are byte-idempotent
    Sketches.countersTableCommit(spark, b2, "text", 2L, table, 4, 64)
    assert(counters() == whole)
    // fold collapses to <= depth*width rows under bid = -1
    Sketches.countersTableFold(spark, table)
    assert(counters() == whole)
    assert(table.read(spark).select(col("bid")).distinct()
      .as[Long].collect().toSeq == Seq(-1L))
    // post-fold replay: only the cms.maxBid high-water guard saves it
    Sketches.countersTableCommit(spark, b2, "text", 2L, table, 4, 64)
    assert(counters() == whole)
    // a genuinely NEW batch still lands after the fold
    val b3 = Seq((5L, "a g")).toDF("doc_id", "text")
    Sketches.countersTableCommit(spark, b3, "text", 3L, table, 4, 64)
    val whole3 = Sketches.countMinCounters(
        b1.unionByName(b2).unionByName(b3), "text", 4, 64)
      .as[(Int, Long, Long)].collect().toSet
    assert(counters() == whole3)
    // counters of different geometry never add: loud rejection
    intercept[IllegalArgumentException] {
      Sketches.countersTableCommit(spark, b3, "text", 4L, table, 4, 128)
    }
    ()
  }

  test("kmv sketches compose incrementally: stored sketch + new batch = whole") {
    import graft.functions.KMinValues
    import graft.operators.Sketches
    import org.apache.spark.sql.functions.{col, explode}
    val b1 = (1L to 30L).map(i => ("g", i)).toDF("g", "id")
    val b2 = (20L to 60L).map(i => ("g", i)).toDF("g", "id") // overlaps b1
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .select(Sketches.hash52(col("id")).as("h"))
      .agg(KMinValues(col("h"), 16).as("kmins"))
    // incremental maintenance: yesterday's STORED k-mins re-fed through
    // the aggregate alongside today's batch hashes — the lossless
    // union-then-trim a sketch table update performs
    val merged = sketch(b1).select(explode(col("kmins")).as("h"))
      .unionByName(b2.select(Sketches.hash52(col("id")).as("h")))
      .agg(KMinValues(col("h"), 16).as("kmins"))
      .as[Seq[Long]].collect().head
    val whole = sketch(b1.unionByName(b2)).as[Seq[Long]].collect().head
    assert(merged == whole)
  }

  test("count at extreme: partial counts merge across partitions; NULLs never count") {
    import graft.functions.CountAtExtreme
    import org.apache.spark.sql.functions.{col, max, min}
    val rowsGen = Gen.listOfN(200,
      Gen.zip(Gen.choose(0, 3), Gen.option(Gen.choose(-5L, 5L))))
    forAllSeeded(rowsGen) { generated =>
      // group 9 holds only NULLs
      val rows = generated ++ Seq((9, None), (9, None))
      // seven partitions: ties at an extreme meet only in the merge
      val got = rows.toDF("g", "v").repartition(7).groupBy("g")
        .agg(min("v"), CountAtExtreme(col("v"), least = true),
          max("v"), CountAtExtreme(col("v"), least = false))
        .as[(Int, Option[Long], Long, Option[Long], Long)].collect().toSet
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val vs = rs.flatMap(_._2)
        if (vs.isEmpty) (g, None, 0L, None, 0L)
        else (g, Some(vs.min), vs.count(_ == vs.min).toLong,
          Some(vs.max), vs.count(_ == vs.max).toLong)
      }.toSet
      assert(got == want)
    }
  }

  test("vocab encode: frequency-order ids, UNK mapping, in-order fingerprint") {
    import graft.operators.Vocabulary
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "aa bb cc aa"),
      (2L, "bb aa"),
      (3L, "zz zz zz")).toDF("doc_id", "text")
    // counts: aa=3, bb=2, zz=3, cc=1 → rank order (cnt desc, word asc):
    // aa(1), zz(2), bb(3), cc(4); cut at V=2 → ids aa=0, zz=1, UNK=2
    val vocab = Vocabulary.frequencyRank(docs, "text")
      .filter(col("rank") <= 2).select(col("word"), col("rank"))
    val out = Vocabulary.encodeWithVocab(docs, "doc_id", "text", vocab, 2)
      .as[(Long, Long, Long, Double, String)].collect()
      .map(r => r._1 -> r).toMap
    def m(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) == ((1L, 4L, 2L, 0.5, m("0 2 2 0"))))
    assert(out(2L) == ((2L, 2L, 1L, 0.5, m("2 0"))))
    assert(out(3L) == ((3L, 3L, 0L, 0.0, m("1 1 1"))))
  }

  test("weighted priority sample: weight-biased, partition-invariant, ref-exact") {
    import graft.operators.Sampling
    // 100 light rows (w=1) + 10 heavy rows (w=1e6): a 10-draw selects
    // (with overwhelming priority margin) only heavy rows
    val rows = (1L to 100L).map(i => (i, 1L)) ++
      (1001L to 1010L).map(i => (i, 1000000L))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedPriorityK(df, "id", "w", 10)
      .as[(Long, Long, Long)].collect()
    assert(got.length == 10 && got.forall(_._2 == 1000000L))
    // membership is a pure function of the (id, w) set
    val p7 = Sampling.weightedPriorityK(df.repartition(7), "id", "w", 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(p7 == got.toSet)
    // bit-exact vs an independent JVM reference of the same formula
    val md = java.security.MessageDigest.getInstance("MD5")
    def ref(id: Long, w: Long): Long = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      val h52 = java.lang.Long.parseLong(hex, 16)
      math.floor(math.log((h52 + 1).toDouble / 4503599627370496.0)
        / w.toDouble * 1000000.0).toLong
    }
    got.foreach { case (id, w, pri) => assert(pri == ref(id, w), s"id=$id") }
  }

  test("cms: exact when collision-free, never undercounts when squeezed") {
    import graft.operators.Sketches
    val docs = Seq(
      (1L, "aa aa aa aa bb bb bb cc cc dd"),
      (2L, "aa bb cc dd ee")).toDF("doc_id", "text")
    val exact = Map("aa" -> 5L, "bb" -> 4L, "cc" -> 3L, "dd" -> 2L, "ee" -> 1L)
    // wide sketch: 5 words in 4×4096 counters — no collisions, estimates
    // exact, top order = (count desc, word asc)
    val wide = Sketches.countMinTopWords(docs, "text", 4, 4096, 5)
      .as[(String, Long)].collect()
    assert(wide.toSeq == Seq("aa" -> 5L, "bb" -> 4L, "cc" -> 3L,
      "dd" -> 2L, "ee" -> 1L))
    // squeezed sketch (4×4 counters): collisions guaranteed; the CMS
    // one-sided-error contract is est >= true count for EVERY word
    val tight = Sketches.countMinTopWords(docs, "text", 4, 4, 5)
      .as[(String, Long)].collect()
    tight.foreach { case (w, est) => assert(est >= exact(w), s"$w undercounted") }
  }

  test("pq: codes index subspace centroids, adc finds exact matches at distance 0") {
    import graft.operators.ProductQuantizer
    // two clean clusters per 2-dim subspace: {0,0} and {10,10}. Init (two
    // smallest ids) already spans both, so Lloyd converges immediately and
    // every corpus vector IS a centroid concatenation -> adist 0 to itself.
    val corpus = Seq(
      (0L, Seq(0f, 0f, 10f, 10f)),
      (1L, Seq(10f, 10f, 0f, 0f)),
      (2L, Seq(0f, 0f, 0f, 0f)),
      (3L, Seq(10f, 10f, 10f, 10f))).toDF("id", "vec")
    val cb = ProductQuantizer.fit(corpus, "id", "vec",
      dim = 4, m = 2, k = 2, iters = 2)
    val codes = ProductQuantizer.encode(corpus, "id", "vec", cb)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes.values.forall(c => c.size == 2 && c.forall(x => x >= 0 && x < 2)))
    // ids sharing a subvector share that subspace's code
    assert(codes(0L)(0) == codes(2L)(0) && codes(1L)(0) == codes(3L)(0))
    assert(codes(0L)(1) == codes(3L)(1) && codes(1L)(1) == codes(2L)(1))
    val qs = corpus.toDF("qid", "qvec")
    val top1 = ProductQuantizer.adcTopK(qs,
        ProductQuantizer.encode(corpus, "id", "vec", cb), cb, k = 1)
      .as[(Long, Long, Long, Int)].collect()
    // every self-query resolves to itself at distance 0 (ties to smaller id
    // cannot preempt: all four vectors are distinct code pairs)
    assert(top1.toSet == Set((0L, 0L, 0L, 1), (1L, 1L, 0L, 1),
      (2L, 2L, 0L, 1), (3L, 3L, 0L, 1)))
  }

  test("ann recall harness: exact hit math, and perfect recall on separable data") {
    import graft.operators.{ProductQuantizer, SimilaritySearch}
    import org.apache.spark.sql.functions.col
    // pure hit arithmetic on crafted frames
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("qid", "id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 77L), (2L, 78L))
      .toDF("qid", "id")
    val r = SimilaritySearch.recallAtK(exact, approx)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> x).toMap
    assert(r(1L) == ((1L, 2L, 6667L)) && r(2L) == ((2L, 0L, 0L)))
    // a PQ index over cluster-structured vectors recovers the exact L2
    // top-1 perfectly: the q75 fixture where every vector IS a centroid
    // concatenation (quantization loss zero by construction)
    val corpus = Seq(
      (0L, Seq(0f, 0f, 10f, 10f)),
      (1L, Seq(10f, 10f, 0f, 0f)),
      (2L, Seq(0f, 0f, 0f, 0f)),
      (3L, Seq(10f, 10f, 10f, 10f))).toDF("id", "vec")
    val cb = ProductQuantizer.fit(corpus, "id", "vec", 4, 2, 2, 2)
    val qs = corpus.toDF("qid", "qvec")
    val ex = SimilaritySearch.bruteForceTopKL2(qs, corpus, k = 1)
    val ap = ProductQuantizer.adcTopK(qs,
      ProductQuantizer.encode(corpus, "id", "vec", cb), cb, k = 1)
    val rr = SimilaritySearch.recallAtK(ex, ap)
      .select(col("recall_e4")).as[Long].collect()
    assert(rr.length == 4 && rr.forall(_ == 10000L))
  }

  test("ivf nprobe sweep: recall is monotone and reaches 1.0 at full probe") {
    import graft.operators.SimilaritySearch
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").as("bucket"))
    val cents = SimilaritySearch.centroids(corpus, "bucket")
    val nlist = cents.count().toInt
    val exact = SimilaritySearch.bruteForceTopK(qs, corpus.drop("bucket"), 5)
    def meanRecall(n: Int): Long = SimilaritySearch.recallAtK(exact,
        SimilaritySearch.ivfTopK(qs, corpus, cents, 5, n))
      .agg(org.apache.spark.sql.functions.sum(col("n_hits"))).as[Long].head()
    val curve = Seq(1, nlist / 2, nlist).map(n => meanRecall(math.max(1, n)))
    // more probes never lose hits, and probing EVERY cell is brute force
    assert(curve == curve.sorted, s"recall not monotone: $curve")
    assert(curve.last == exact.count(), "full probe must equal exact search")
  }

  test("dsir: target-like docs weigh positive, raw-only negative, short docs zero") {
    import graft.operators.Dsir
    // target corpus: alpha/beta bigrams; raw corpus adds gamma/delta mass.
    // Every target-doc gram then has tc == rc with tt < rt (positive
    // per-gram quantum); every gamma gram has tc = 0, rc > 0 (negative).
    val target = Seq(
      (1L, "alpha beta alpha beta alpha"),
      (2L, "beta alpha beta alpha beta")).toDF("doc_id", "text")
    val rawOnly = Seq(
      (3L, "gamma delta gamma delta gamma"),
      (4L, "delta gamma delta gamma delta")).toDF("doc_id", "text")
    val raw = target.unionByName(rawOnly)
    val model = Dsir.fit(target, raw, "text", numBuckets = 64)
    val scored = Dsir.scoreDocs(
      raw.unionByName(Seq((5L, "single")).toDF("doc_id", "text")),
      "doc_id", "text", model)
      .as[(Long, Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    // 5-token docs carry 4 bigram occurrences
    (1L to 4L).foreach(id => assert(scored(id)._2 == 4L))
    assert(scored(1L)._3 > 0L && scored(1L)._4 == 1)
    assert(scored(2L)._3 > 0L && scored(2L)._4 == 1)
    assert(scored(3L)._3 < 0L && scored(3L)._4 == 0)
    assert(scored(4L)._3 < 0L && scored(4L)._4 == 0)
    // a one-token doc has no bigram: excluded from grams, zero weight
    assert(scored(5L) == ((5L, 0L, 0L, 0)))
  }

  test("kmv sketch: exact below k, duplicate-collapsing, partition-invariant") {
    import graft.operators.Sketches
    // 3 groups: sizes 5, 40 (with every key fed twice), 1
    val rows = (1 to 5).map(i => ("small", i.toLong)) ++
      (1 to 40).flatMap(i => Seq(("big", 100L + i), ("big", 100L + i))) ++
      Seq(("one", 7L))
    val df = rows.toDF("g", "id")
    val out = Sketches.approxDistinct(df, Seq("g"), "id", k = 16)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // unsaturated sketches ARE the distinct set: estimate exact
    assert(out("small")._2 == 5L && out("small")._4 == 50000L)
    assert(out("one")._2 == 1L && out("one")._4 == 10000L)
    // saturated: kept == k, duplicates collapsed (40 distinct, 80 rows),
    // and the estimator lands within 2× of truth on this tiny sample
    assert(out("big")._2 == 16L)
    val est = out("big")._4 / 10000.0
    assert(est > 20.0 && est < 80.0, s"estimate $est implausible for n=40")
    // sketch state must be merge-order independent: 1 vs 13 partitions
    val p1 = Sketches.approxDistinct(df.repartition(1), Seq("g"), "id", 16)
      .as[(String, Long, Long, Long)].collect().toSet
    val p13 = Sketches.approxDistinct(df.repartition(13), Seq("g"), "id", 16)
      .as[(String, Long, Long, Long)].collect().toSet
    assert(p1 == p13)
  }

  test("sourceDiversity: cross-doc distinct ratios, sub-trigram docs counted for tokens only") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x y z x y z"), // trigrams: x y z / y z x / z x y / x y z
      ("a", "x y"),         // 2 tokens, no trigram
      ("b", "p q r s")
    ).toDF("source", "text")
    val out = Repetition.sourceDiversity(docs, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(out == Seq(
      ("a", 2L, 8L, 3L, 3750L, 4L, 3L, 7500L),
      ("b", 1L, 4L, 4L, 10000L, 2L, 2L, 10000L)))
  }

  test("sourceDiversity: a source with no >=3-token doc still appears, trigram stats zero") {
    import spark.implicits._
    // every "tiny" doc is under 3 tokens -> zero trigram rows; an inner
    // join would drop the source from the report entirely
    val docs = Seq(
      ("tiny", "x y"), ("tiny", "p"),
      ("full", "a b c d")
    ).toDF("source", "text")
    val out = Repetition.sourceDiversity(docs, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(out == Seq(
      ("full", 1L, 4L, 4L, 10000L, 2L, 2L, 10000L),
      ("tiny", 2L, 3L, 3L, 10000L, 0L, 0L, 0L)))
  }

  test("sentencePack: cuts only at sentence joints; bins never exceed budget; over-budget sentence sits alone") {
    import spark.implicits._
    import graft.operators.Chunking
    // doc 1: sentences of 2, 3, 1 tokens; budget 4 -> cum 2,5,6 ->
    // bins 0,1,1. doc 2: one 6-token sentence -> alone in bin 1.
    val docs = Seq(
      (1L, "aa bb. cc dd ee! ff?"),
      (2L, "w1 w2 w3 w4 w5 w6.")
    ).toDF("doc_id", "text")
    val out = Chunking.sentencePack(docs, "doc_id", "text", budget = 4L)
      .orderBy("doc_id", "chunk")
      .select("doc_id", "chunk", "n_sentences", "tok_sum", "first_sent")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (1L, 0L, 1L, 2L, 0L),
      (1L, 1L, 2L, 4L, 1L),
      (2L, 1L, 1L, 6L, 0L)))
    // chunk_md5 keys the ordered reassembly: both docs' first chunks
    // differ, and identical chunk text hashes identically
    val m = Chunking.sentencePack(docs, "doc_id", "text", budget = 4L)
      .select("chunk_md5").as[String].collect().toSet
    assert(m.size == 3)
    val twin = Chunking.sentencePack(
      Seq((9L, "cc   dd\n ee! ff?")).toDF("doc_id", "text"),
      "doc_id", "text", budget = 4L)
      .select("chunk_md5").as[String].head()
    // whitespace-normalized reassembly: "cc dd ee ff" regardless of
    // the source's spacing, matching doc 1's bin-1 chunk
    assert(m.contains(twin))
  }

  test("stripMarkup: tags are word boundaries, encoded markup stays literal, &amp; decodes last") {
    import spark.implicits._
    import graft.operators.Normalize
    val docs = Seq(
      (1L, "a<br>b <span class=\"x\">c</span>"),   // tag = boundary: "a b c"
      (2L, "say &lt;b&gt; and &amp;lt; loudly"),    // stays literal: "say <b> and &lt; loudly"
      (3L, "Tom&#39;s &quot;x&quot;&nbsp;y &amp; z"),
      (4L, "no markup at all")
    ).toDF("doc_id", "text")
    val out = Normalize.stripMarkup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_tags", "n_chars_clean", "clean_md5")
      .as[(Long, Long, Long, String)].collect().toSeq
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(out == Seq(
      (1L, 3L, 5L, m("a b c")),
      (2L, 0L, 23L, m("say <b> and &lt; loudly")),
      (3L, 0L, 15L, m("Tom's \"x\" y & z")),
      (4L, 0L, 16L, m("no markup at all"))))
  }

  test("intraDocLineDedup: first occurrence survives in order; trimmed compare; empties never count") {
    import spark.implicits._
    import graft.operators.TextDedup
    val docs = Seq(
      (1L, "a\nb\na\n b \nc"),   // ' b ' trims equal to 'b'
      (2L, "x\n\n\nx\nx"),        // empties skipped, two repeats
      (3L, "solo")
    ).toDF("doc_id", "text")
    val out = TextDedup.intraDocLineDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    assert(out == Seq(
      (1L, 3L, 2L, m("a\nb\nc")),
      (2L, 1L, 2L, m("x")),
      (3L, 1L, 0L, m("solo"))))
  }

  test("C4 line rules: terminal punct, min words, javascript kill, page kills, sentence floor") {
    import spark.implicits._
    val docs = Seq(
      (1L, "this line has enough words here .\nshort line .\n" +
        "no terminal punct line here\nanother good long line right there !\n" +
        "a third fine sentence sits here ?"),
      (2L, "please enable JavaScript to continue reading now .\n" +
        "real content line with five words ."),
      (3L, "good line one with enough words .\nsecond decent line with words too .\n" +
        "third worthy line with many words .\nlorem ipsum dolor sit amet friend ."),
      (4L, "some code follows right here now { x } .\nplain line with enough words .")
    ).toDF("doc_id", "text")
    val out = graft.operators.C4Rules.clean(docs, "doc_id", "text")
      .orderBy("id")
      .as[(Long, Long, Long, Long, Boolean, Boolean, Boolean, String)]
      .collect().toSeq
    // doc 1: "short line ." (3 words) and the punct-less line drop; 3 kept
    assert(out(0)._1 == 1L && out(0)._2 == 5L && out(0)._3 == 3L
      && out(0)._4 == 3L && !out(0)._5 && !out(0)._6 && out(0)._7)
    // doc 2: the JavaScript banner dies on rule 3 (case-insensitive,
    // word-bounded); 1 surviving sentence < 3 -> page dropped
    assert(out(1)._3 == 1L && out(1)._4 == 1L && !out(1)._7)
    // doc 3: all 4 lines keep, but 'lorem ipsum' kills the page
    assert(out(2)._3 == 4L && out(2)._5 && !out(2)._7)
    // doc 4: both lines keep as lines, but '{' kills the page
    assert(out(3)._3 == 2L && out(3)._6 && !out(3)._7)
  }

  test("percentile sketch at rest: commits converge to one-shot fit; replay guarded; bits enforced") {
    import spark.implicits._
    import graft.operators.Percentiles
    val df = Seq(("a", 10L), ("a", 20L), ("a", 20L), ("a", 300L),
      ("b", 5L), ("b", 7L), ("b", 7000L)).toDF("k", "v")
    val table = graft.table.WarehouseTable(tmpDir("pctrest") + "/t")
    Percentiles.sketchTableCommit(spark,
      df.filter($"v" <= 20L), "k", "v", batchId = 0L, table)
    Percentiles.sketchTableCommit(spark,
      df.filter($"v" > 20L), "k", "v", batchId = 1L, table)
    // checkpoint replay of batch 1: the maxBid guard makes it a no-op
    Percentiles.sketchTableCommit(spark,
      df.filter($"v" > 20L), "k", "v", batchId = 1L, table)
    def modelSets(m: Percentiles.Model) = (
      m.coord.as[(String, Long, Long, Long)].collect().toSet,
      m.sizes.as[(String, Long)].collect().toSet)
    val oneShot = modelSets(Percentiles.fitSketch(df, "k", "v"))
    assert(modelSets(Percentiles.sketchTableRead(spark, table)) == oneShot)
    // fold collapses history; the model is unchanged and bucket-bounded
    Percentiles.sketchTableFold(spark, table)
    assert(modelSets(Percentiles.sketchTableRead(spark, table)) == oneShot)
    // post-fold replay of an already-committed batch id: still a no-op
    Percentiles.sketchTableCommit(spark,
      df.filter($"v" > 20L), "k", "v", batchId = 1L, table)
    assert(modelSets(Percentiles.sketchTableRead(spark, table)) == oneShot)
    // a different bucket width never merges
    val e = intercept[IllegalArgumentException] {
      Percentiles.sketchTableCommit(spark, df, "k", "v",
        batchId = 2L, table, bits = 6)
    }
    assert(e.getMessage.contains("pct.bits"))
  }

  test("gopherRepetition: top-ngram char fractions, dup-span union coverage, overlap cap") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb aa bb aa cc dd ee ff gg hh ii jj"),
      (2L, "x y z w v x y z w v u"),
      (3L, "solo"),
      (4L, "a a a a")
    ).toDF("doc_id", "text")
    val out = Repetition.gopherRepetition(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), // top2..4
        r.getLong(6), r.getLong(7))) // dup5, dup6
      .toSeq
    // doc 1: top2 "aa bb"×2 → 8/26; top3 "aa bb aa"×2 → 12/26;
    //        top4 all-once, lexicographic min "aa bb aa bb" → 8/26; no dup-5+
    assert(out(0) == (1L, 13L, 26L, 3077L, 4615L, 3077L, 0L, 0L))
    // doc 2: top2 "w v"×2 → 4/11; top3 "x y z"×2 → 6/11; top4 "x y z w"×2
    // → 8/11; 5-gram "x y z w v" repeats at 1 and 6 → union covers 10/11
    assert(out(1) == (2L, 11L, 11L, 3636L, 5455L, 7273L, 9091L, 0L))
    // doc 3: shorter than every n → all fractions 0
    assert(out(2) == (3L, 1L, 4L, 0L, 0L, 0L, 0L, 0L))
    // doc 4: overlapping "a a"×3 would be 6/4 chars — capped at 10000
    assert(out(3)._4 == 10000L && out(3)._5 == 10000L && out(3)._6 == 10000L)
  }

  test("incrementalComponents: fold equals full recompute; replay is a no-op") {
    import spark.implicits._
    val ids = (1L to 8L).toDF("id")
    val hist = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val assignment = Dedup.connectedComponents(ids, hist)
    // arrival 9 joins {1,2,3}; fresh edge 6-7 merges two OLD components
    // through the assignment's star edges; arrival 10 stays a singleton
    val newIds = Seq(9L, 10L).toDF("id")
    val fresh = Seq((9L, 3L), (6L, 7L)).toDF("d1", "d2")
    val inc = Dedup.incrementalComponents(assignment, newIds, fresh)
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(
      (1L to 10L).toDF("id"), hist.unionByName(fresh))
      .as[(Long, Long)].collect().toSet
    assert(inc == full)
    assert(inc.contains((9L, 1L)) && inc.contains((7L, 5L))
      && inc.contains((10L, 10L)) && inc.contains((8L, 8L)))
    val replay = Dedup.incrementalComponents(
      inc.toSeq.toDF("id", "cluster"), newIds, fresh)
      .as[(Long, Long)].collect().toSet
    assert(replay == inc)
  }

  test("splitRepair: clusters move wholly to the representative's split; leakage afterwards is zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    // ids 1..6; near-dup clusters {1,2,3} and {5,6}; 4 is a singleton
    val splits = Seq(
      (1L, "train"), (2L, "valid"), (3L, "train"),
      (4L, "test"), (5L, "test"), (6L, "train")
    ).toDF("id", "split")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("d1", "d2")
    val assignment = Dedup.connectedComponents(
      (1L to 6L).toDF("id"), pairs)
    val out = Dedup.splitRepair(splits, assignment, "id", "split")
      .select("id", "split_orig", "split", "moved")
      .as[(Long, String, String, Boolean)].collect().sortBy(_._1).toSeq
    // cluster {1,2,3} -> rep 1 -> train; {5,6} -> rep 5 -> test
    assert(out == Seq(
      (1L, "train", "train", false), (2L, "valid", "train", true),
      (3L, "train", "train", false), (4L, "test", "test", false),
      (5L, "test", "test", false), (6L, "train", "test", true)))
    // the audit over the repaired splits reports zero leaks
    val repaired = Dedup.splitRepair(splits, assignment, "id", "split")
      .select(col("id"), col("split"))
    val audit = Dedup.crossSplitLeakage(
      pairs.withColumn("jaccard", lit(1.0)), repaired, "id", "split")
    assert(audit.filter(col("leaks")).isEmpty)
  }

  test("Drift.tvd: identical distributions score near zero, disjoint near one; alarm threshold exact") {
    import spark.implicits._
    import graft.operators.Drift
    import org.apache.spark.sql.functions.col
    def counts(rows: Seq[(String, Long)]) = Drift.bucketCounts(
      rows.toDF("k", "v"), Seq("k"), "v", bits = 4)
    // identical reference and batch -> every cross-term cancels, num = 0
    val same = Seq(("a", 10L), ("a", 20L), ("a", 300L), ("a", 300L))
      .map(x => (x._1, x._2))
    val self = Drift.tvd(counts(same), counts(same), Seq("k"))
      .select("tv_num", "drifted").as[(java.math.BigDecimal, Boolean)]
      .collect().head
    assert(self._1.longValueExact == 0L && !self._2)
    // fully disjoint buckets -> TVD near 1 (smoothing keeps it < 1)
    val ref = Seq(("a", 16L), ("a", 17L), ("a", 16L))
    val far = Seq(("a", 4096L), ("a", 4097L), ("a", 4100L))
    val d = Drift.tvd(counts(ref), counts(far), Seq("k"))
      .select("tv_num", "tv_den", "drifted")
      .as[(java.math.BigDecimal, java.math.BigDecimal, Boolean)]
      .collect().head
    val tvd = d._1.doubleValue / d._2.doubleValue
    assert(tvd > 0.5 && d._3)
    // hand-check the exact integers on a tiny asymmetric case:
    // ref {b16:2} batch {b16:1, b4096:1}; union B=2
    // a-side: (2+1,0+1) vs (1+1,1+1); Ta=2, Tb=2, taB=tbB=4
    // terms: |3*4-2*4| + |1*4-2*4| = 4+4 = 8; den = 2*4*4 = 32
    val h = Drift.tvd(
      counts(Seq(("a", 16L), ("a", 17L))),
      counts(Seq(("a", 16L), ("a", 4096L))), Seq("k"))
      .select("tv_num", "tv_den", "n_buckets", "drifted")
      .as[(java.math.BigDecimal, java.math.BigDecimal, Long, Boolean)]
      .collect().head
    assert(h._1.longValueExact == 8L && h._2.longValueExact == 32L)
    assert(h._3 == 2L && !h._4) // 4*8 = 32 is NOT > 32: threshold strict
    // a key present only in the reference still reports a row; with one
    // bucket, the empty batch smooths to the SAME shape (TVD compares
    // proportions, not volume) — no alarm, but the row is there to read
    val only = Drift.tvd(
      counts(Seq(("a", 16L), ("b", 16L))),
      counts(Seq(("a", 16L))), Seq("k"))
      .select("k", "drifted").as[(String, Boolean)].collect().toMap
    assert(only.keySet == Set("a", "b") && !only("b"))
  }

  test("Contracts: duplicate NULL keys read as duplicates, never silently clean") {
    import spark.implicits._
    import graft.operators.Contracts
    import org.apache.spark.sql.functions.col
    // two NULL-keyed rows = one duplicated key group (the SQL
    // count(*) OVER (PARTITION BY key) reading); a lone NULL is clean
    val df = Seq(
      (1L, None: Option[String]), (2L, None: Option[String]),
      (3L, Some("k")), (4L, Some("u"))
    ).toDF("id", "key")
    val flagged = Contracts.withDupFlag(df, "key", "dup")
    val out = flagged.select("id", "dup").as[(Long, Boolean)]
      .collect().toMap
    assert(out == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false))
    // the flag column is never NULL — tag()'s when(predicate) sees
    // every row
    assert(flagged.filter(col("dup").isNull).isEmpty)
    val tagged = Contracts.tag(flagged, Seq(Contracts.Rule("dup", col("dup"))))
    assert(tagged.filter(col("violations") === "dup").count() == 2)
  }

  test("Contracts: multi-rule tags in rule order, dup flag, zero-row summary for clean rules") {
    import spark.implicits._
    import graft.operators.Contracts
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, Some("en"), 10L, "x"),
      (2L, None: Option[String], -5L, "y"),  // null lang AND bad range
      (3L, Some("zz"), 20L, "x"),            // not in set; dup key with 1
      (4L, Some("en"), 2000000L, "w")        // over range
    ).toDF("id", "lang", "n", "key")
    val rules = Seq(
      Contracts.notNull("lang_null", col("lang")),
      Contracts.inRange("range", col("n"), 1L, 1000000L),
      Contracts.inSet("lang_set", col("lang"), Seq("en", "de")),
      Contracts.Rule("dup", col("dup")))
    val tagged = Contracts.tag(
      Contracts.withDupFlag(df, "key", "dup"), rules)
    val out = tagged.select("id", "violations", "clean")
      .as[(Long, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(out(0) == ((1L, "dup", false)))
    // violations join in RULE order, not alphabetically; null lang also
    // fails the set rule (null is never in the set)
    assert(out(1) == ((2L, "lang_null,range,lang_set", false)))
    assert(out(2) == ((3L, "lang_set,dup", false)))
    assert(out(3) == ((4L, "range", false)))
    // '' is the clean spelling — never NULL
    assert(tagged.filter(col("violations").isNull).isEmpty)
    val sums = Contracts.summary(tagged, rules)
      .as[(String, Long)].collect().toMap
    assert(sums == Map("lang_null" -> 1L, "range" -> 2L,
      "lang_set" -> 2L, "dup" -> 2L))
    // a rule nothing violates still reports an explicit zero
    val clean = Contracts.tag(
      Seq((9L, "ok")).toDF("id", "s"),
      Seq(Contracts.matches("shape", col("s"), "^[a-z]+$")))
    assert(clean.select("clean").as[Boolean].collect().toSeq == Seq(true))
    val zs = Contracts.summary(clean,
      Seq(Contracts.matches("shape", col("s"), "^[a-z]+$")))
      .as[(String, Long)].collect().toMap
    assert(zs == Map("shape" -> 0L))
  }

  test("ScriptDetect.profile: block counts, first-at-max dominance, letters-only mixed flag") {
    import spark.implicits._
    import graft.operators.ScriptDetect
    val docs = Seq(
      (1L, "hello мир"),        // latin 5, cyr 3 -> latin dominant, mixed
      (2L, "привет"),           // pure cyrillic, not mixed
      (3L, "你好 world 你好"),   // latin 5 > cjk 4 -> latin
      (4L, "abc где"),          // 3 vs 3 tie -> FIRST class (latin) wins
      (5L, "12345 !!!"),        // nothing scripted -> none, not mixed
      (6L, "αβγ γδε 123")       // greek only; digits don't make it mixed
    ).toDF("doc_id", "text")
    val out = ScriptDetect.profile(docs, "text")
      .select("doc_id", "n_latin", "n_cyrillic", "n_cjk", "n_greek",
        "dominant", "mixed")
      .as[(Long, Int, Int, Int, Int, String, Boolean)]
      .collect().sortBy(_._1).toSeq
    assert(out(0) == ((1L, 5, 3, 0, 0, "latin", true)))
    assert(out(1) == ((2L, 0, 6, 0, 0, "cyrillic", false)))
    assert(out(2) == ((3L, 5, 0, 4, 0, "latin", true)))
    assert(out(3) == ((4L, 3, 3, 0, 0, "latin", true)))
    assert(out(4) == ((5L, 0, 0, 0, 0, "none", false)))
    assert(out(5) == ((6L, 0, 0, 0, 6, "greek", false)))
  }

  test("interleaveBySource: closed-form position equals the global sort; prefixes balanced; partition-invariant") {
    import spark.implicits._
    val docs = (1L to 61L).map(i =>
      (i, Seq("a", "b", "c")((i % 7 % 3).toInt))) // uneven source counts
      .toDF("doc_id", "source")
    val out = Sampling.interleaveBySource(docs, "doc_id", "source")
      .as[(Long, String, Long, Long)].collect()
    // gpos is a permutation of [0, n)
    assert(out.map(_._4).sorted.toSeq == (0L until 61L).toSeq)
    // the closed form equals the literal row_number over (rank, source)
    val expected = out.sortBy(r => (r._3, r._2)).zipWithIndex
      .map { case (r, i) => r._1 -> i.toLong }.toMap
    assert(out.forall(r => expected(r._1) == r._4))
    // balanced prefix: while every source is still alive (rank < min
    // count), the first 3k positions hold exactly k docs of each source
    val kMin = out.groupBy(_._2).map(_._2.size).min.toLong
    val prefix = out.filter(_._4 < 3L * kMin)
    assert(prefix.groupBy(_._2).forall(_._2.size.toLong == kMin))
    // repartitioning cannot move anyone
    val shuffled = Sampling.interleaveBySource(
        docs.repartition(7), "doc_id", "source")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r._4).toMap
    assert(out.forall(r => shuffled(r._1) == r._4))
  }
}
