package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.{FileStreamSpec, StreamingIngest}
import graft.table.WarehouseTable

class StreamingIngestSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", IntegerType),
    StructField("ts", LongType),
    StructField("v", StringType),
    StructField("part", StringType)))

  test("streaming CSV → dedup → merge reaches the same state as batch") {
    val landing = tmpDir("land")
    val ckpt = tmpDir("ckpt")
    val table = WarehouseTable(tmpDir("wh") + "/t")
    table.create(schema, Some("part"), Map.empty)

    Files.write(Paths.get(s"$landing/b1.csv"),
      "k,ts,v,part\n1,10,a,CA\n2,10,b,NY\n1,11,a2,CA\n"
        .getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$landing/b2.csv"),
      "k,ts,v,part\n2,20,B,NY\n3,20,c,TX\n"
        .getBytes(StandardCharsets.UTF_8))

    val q = StreamingIngest.start(
      spark, landing, schema,
      Map("header" -> "true"),
      table, keys = Seq("k"), orderDesc = "ts",
      checkpointDir = ckpt, maxFilesPerTrigger = 1,
      tiebreakDesc = Seq("v"))
    q.awaitTermination(120000)

    val out = table.read(spark)
      .select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    // NOTE maxFilesPerTrigger=1 + AvailableNow: two micro-batches; file
    // order between them is not guaranteed, but keys 1/3 are single-writer
    // and key 2's winner depends on arrival order only if both files land
    // in ONE batch (they don't here: per-batch dedup, then merge by ts).
    assert(out.contains((1, "a2")) && out.contains((3, "c")))
    assert(out.size == 3)

    // restart with same checkpoint: no files left → no state change
    val q2 = StreamingIngest.start(
      spark, landing, schema, Map("header" -> "true"),
      table, Seq("k"), "ts", ckpt, 1)
    q2.awaitTermination(60000)
    assert(table.read(spark).count() == 3)
  }

  test("streaming sampler emits the exact batch q37 sample on the same files") {
    import spark.implicits._
    val src = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(src)
    val landing = tmpDir("samp_land")
    // two parquet files in the landing dir: maxFilesPerTrigger=1 forces
    // two micro-batches, so the equivalence covers the multi-batch union
    val staging = tmpDir("samp_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val outDir = tmpDir("samp_out") + "/shards"
    val ckpt = tmpDir("samp_ckpt")
    def run() = {
      val q = StreamingIngest.startSampler(
        spark, landing, docs.schema, "parquet", Map.empty,
        keyCol = "doc_id", cuts = Seq("sample" -> "28"), defaultShard = "rest",
        outDir = outDir, checkpointDir = ckpt, maxFilesPerTrigger = 1)
      q.awaitTermination(120000)
    }
    run()
    val streamed = spark.read.parquet(outDir)
      .filter(col("shard") === "sample")
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    val batch = SparkEntry.queries("q37_stratified_sample")(spark, "/root/testdata/sf0.001")
      .as[(Long, String)].collect().toSet
    assert(streamed == batch)
    // partition completeness: every input row lands in exactly one shard
    assert(spark.read.parquet(outDir).count() == docs.count())
    // checkpoint replay: a second AvailableNow pass finds no new files
    run()
    assert(spark.read.parquet(outDir).count() == docs.count())
  }

  test("streaming scrubber output equals the batch PII scrub on the same files") {
    import spark.implicits._
    import graft.operators.PiiRedaction
    val landing = tmpDir("scrub_land")
    // plant PII deterministically (the q43 trick) across two files so the
    // equivalence covers the multi-batch union
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" mail u"), col("doc_id").cast("string"), lit("@x.org")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0, lit(" ssn 123-45-6789"))
            .otherwise(lit(""))).as("text"))
    val staging = tmpDir("scrub_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val outDir = tmpDir("scrub_out") + "/clean"
    val ckpt = tmpDir("scrub_ckpt")
    def run() = {
      val q = StreamingIngest.startScrubber(
        spark, landing, docs.schema, "parquet", Map.empty,
        textCol = "text", outDir = outDir, checkpointDir = ckpt,
        maxFilesPerTrigger = 1)
      q.awaitTermination(120000)
    }
    run()
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "text", "n_email", "n_ssn")
      .as[(Long, String, Long, Long)].collect().toSet
    val batch = PiiRedaction.scrub(docs, "text")
      .select(col("doc_id"), col("redacted").as("text"),
        col("n_email"), col("n_ssn"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batch)
    // the landed data carries NO raw text: every planted pattern is gone
    assert(spark.read.parquet(outDir)
      .filter(col("text").rlike("@x\\.org|123-45-6789")).count() == 0L)
    // audit counts actually fired on the planted rows
    assert(spark.read.parquet(outDir).filter(col("n_email") > 0).count() > 0L)
    // checkpoint replay: a second AvailableNow pass is a no-op
    run()
    assert(spark.read.parquet(outDir).count() == docs.count())
  }

  test("streaming incremental deduper matches the batch decision per arrival") {
    import spark.implicits._
    import graft.operators.TextDedup
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = all.filter(col("doc_id") % 2 === 0)
    // arrivals: organic odd docs + one verbatim corpus re-arrival (exact
    // dup) + one 3-words-appended corpus re-arrival (near dup)
    val incoming = all.filter(col("doc_id") % 2 === 1)
      .unionAll(corpus.orderBy(col("doc_id").asc).limit(1)
        .select((col("doc_id") + 9001L).as("doc_id"), col("text")))
      .unionAll(corpus.orderBy(col("doc_id").desc).limit(1)
        .select((col("doc_id") + 9002L).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text")))
    val landing = tmpDir("incdedup_land")
    val staging = tmpDir("incdedup_stage") + "/files"
    incoming.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val outDir = tmpDir("incdedup_out")
    val ckpt = tmpDir("incdedup_ckpt")
    def run() = {
      val q = StreamingIngest.startIncrementalDeduper(
        spark, FileStreamSpec(landing, incoming.schema, maxFilesPerTrigger = 1),
        idCol = "doc_id", textCol = "text", corpus = corpus,
        outDir = outDir, checkpointDir = ckpt)
      q.awaitTermination(180000)
    }
    run()
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "exact_dup", "n_near_dups", "keep")
      .as[(Long, Int, Long, Int)].collect().toSet
    val batch = TextDedup.dedupAgainstCorpus(incoming, corpus, "doc_id", "text")
      .select("doc_id", "exact_dup", "n_near_dups", "keep")
      .as[(Long, Int, Long, Int)].collect().toSet
    assert(streamed == batch)
    // the planted arrivals were caught
    assert(streamed.count(_._1 > 9000L) == 2)
    assert(streamed.filter(_._1 > 9000L).forall(_._4 == 0)) // neither kept
    // replay: a second AvailableNow pass rewrites nothing new
    val before = spark.read.parquet(s"$outDir/batch=*").count()
    run()
    assert(spark.read.parquet(s"$outDir/batch=*").count() == before)
  }

  test("streaming bloom deduper under a frozen filter matches batch q71") {
    import spark.implicits._
    import graft.operators.TextDedup
    val all = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = all.filter(col("doc_id") % 2 === 0)
    val incoming = all.filter(col("doc_id") % 2 === 1)
      .unionAll(corpus.orderBy(col("doc_id").asc).limit(1)
        .select((col("doc_id") + 9001L).as("doc_id"), col("text")))
    val landing = tmpDir("bloomdedup_land")
    val staging = tmpDir("bloomdedup_stage") + "/files"
    incoming.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val outDir = tmpDir("bloomdedup_out")
    val ckpt = tmpDir("bloomdedup_ckpt")
    def run() = {
      val q = StreamingIngest.startBloomDeduper(
        spark, FileStreamSpec(landing, incoming.schema, maxFilesPerTrigger = 1),
        idCol = "doc_id", textCol = "text", corpus = corpus,
        outDir = outDir, checkpointDir = ckpt)
      q.awaitTermination(180000)
    }
    run()
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "exact_dup", "keep")
      .as[(Long, Int, Int)].collect().toSet
    val batch = TextDedup.bloomDedupAgainstCorpus(incoming, corpus, "doc_id", "text")
      .select("doc_id", "exact_dup", "keep")
      .as[(Long, Int, Int)].collect().toSet
    assert(streamed == batch)
    // the planted verbatim re-arrival was caught, fresh docs kept
    assert(streamed.contains((corpus.orderBy(col("doc_id").asc).limit(1)
      .select(col("doc_id")).as[Long].head() + 9001L, 1, 0)))
    assert(streamed.exists(_._3 == 1))
    // replay: a second AvailableNow pass rewrites nothing new
    val before = spark.read.parquet(s"$outDir/batch=*").count()
    run()
    assert(spark.read.parquet(s"$outDir/batch=*").count() == before)
  }

  test("streaming tf-idf scorer under a frozen model matches batch q38") {
    import spark.implicits._
    import graft.operators.TfIdf
    val src = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(src)
    // freeze the model over the full corpus, then stream the same docs:
    // scoring arriving batches under the frozen model must reproduce the
    // batch fit+apply (q38) exactly
    val model = TfIdf.idfModel(docs, "doc_id", "text").cache()
    val landing = tmpDir("tfidf_land")
    val staging = tmpDir("tfidf_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val outDir = tmpDir("tfidf_out")
    val ckpt = tmpDir("tfidf_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(TfIdf.scoreTopTerms(_, "doc_id", "text", model, 3))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "term", "tfidf", "rank")
      .as[(Long, String, Double, Int)].collect().toSet
    val batch = SparkEntry.queries("q38_tfidf_topterms")(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Double, Int)].collect().toSet
    assert(streamed == batch)
    model.unpersist()
    ()
  }

  test("streaming bigram-LM scorer under a frozen model matches batch q53") {
    import spark.implicits._
    import graft.operators.BigramLm
    val src = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(src)
    // freeze the LM over the full corpus, stream the same docs: micro-batch
    // scores under the frozen model must reproduce the batch fit+apply (q53)
    val model0 = BigramLm.fit(docs, "text")
    val model = BigramLm.Model(
      model0.grams.cache(), model0.unigrams.cache(), model0.vocab.cache())
    val landing = tmpDir("lm_land")
    val staging = tmpDir("lm_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("lm_out")
    val ckpt = tmpDir("lm_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(BigramLm.scoreDocs(_, "doc_id", "text", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "n_transitions", "avg_ll")
      .as[(Long, Long, Double)].collect().toSet
    val batch = SparkEntry.queries("q53_bigram_loglik")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch)
    model.grams.unpersist(); model.unigrams.unpersist(); model.vocab.unpersist()
    ()
  }

  test("streaming bpe encoder under frozen merges matches batch q86") {
    import spark.implicits._
    import graft.operators.Vocabulary
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model0 = Vocabulary.bpeTrain(docs, "text", nMerges = 12)
    val model = Vocabulary.BpeModel(
      model0.merges.cache(), model0.words.cache())
    val landing = tmpDir("bpe_land")
    val staging = tmpDir("bpe_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("bpe_out")
    val ckpt = tmpDir("bpe_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(Vocabulary.bpeEncode(_, "doc_id", "text", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "n_words", "n_bpe_tokens", "toks_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = SparkEntry.queries("q86_bpe_encode")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == batch)
    model.merges.unpersist(); model.words.unpersist()
    ()
  }

  test("streaming jsonl ingest: good rows and quarantine match the batch reader") {
    import spark.implicits._
    import graft.sources.JsonlReader
    val landing = tmpDir("jsonl_land")
    Files.write(Paths.get(s"$landing/a.jsonl"),
      ("""{"id": 1, "txt": "alpha"}""" + "\n" +
       """{"id": 2, "txt": "beta"}""" + "\n" +
       """{"id": 9, "txt": "trunc""" + "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(s"$landing/b.jsonl"),
      ("""{"id": 3, "txt": "gamma"}""" + "\n" +
       "\n" + // blank line: skipped, not quarantined
       "plain garbage\n").getBytes(StandardCharsets.UTF_8))
    val schema = new StructType().add("id", "long").add("txt", "string")
    val outDir = tmpDir("jsonl_out")
    val qDir = tmpDir("jsonl_quar")
    val q = StreamingIngest.startJsonlIngest(
      spark, landing, schema, outDir, qDir,
      checkpointDir = tmpDir("jsonl_ckpt"), maxFilesPerTrigger = 1)
    q.awaitTermination(180000)
    val streamedGood = spark.read.parquet(s"$outDir/batch=*")
      .as[(Long, String)].collect().toSet
    val streamedBad = spark.read.parquet(s"$qDir/batch=*")
      .as[String].collect().toSet
    val (bGood, bBad) = JsonlReader.readWithQuarantine(spark, landing, schema)
    assert(streamedGood == bGood.as[(Long, String)].collect().toSet)
    assert(streamedGood == Set((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    assert(streamedBad == bBad.as[String].collect().toSet)
    assert(streamedBad == Set("""{"id": 9, "txt": "trunc""", "plain garbage"))
    ()
  }

  test("streaming chunk-level bpe encoder matches batch q97") {
    import spark.implicits._
    import graft.operators.Vocabulary
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val model0 = Vocabulary.bpeTrain(docs, "text", nMerges = 12)
    val model = Vocabulary.BpeModel(
      model0.merges.cache(), model0.words.cache())
    val landing = tmpDir("bpec_land")
    val staging = tmpDir("bpec_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("bpec_out")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, tmpDir("bpec_ckpt"))(
      Vocabulary.bpeEncodeChunks(_, "doc_id", "text", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "seg_id", "n_words", "n_bpe_tokens", "toks_md5")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val batch = SparkEntry.queries("q97_bpe_chunk_encode")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamed == batch)
    model.merges.unpersist(); model.words.unpersist()
    ()
  }

  test("streaming bm25 indexer: commits per batch; final lookup matches full-corpus topK") {
    import spark.implicits._
    import graft.operators.Bm25
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val half1 = docs.filter(col("doc_id") % 2 === 0)
    val half2 = docs.filter(col("doc_id") % 2 =!= 0)
    val table = graft.table.WarehouseTable(tmpDir("bm25stream") + "/idx")
    Bm25.indexAtRest(half1, "doc_id", "text", table)
    val landing = tmpDir("bm25_land")
    val staging = tmpDir("bm25_stage") + "/files"
    half2.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val q = StreamingIngest.startBm25Indexer(
      spark, FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text", table = table,
      checkpointDir = tmpDir("bm25_ckpt"))
    q.awaitTermination(180000)
    val expect = Bm25.topK(Bm25.fit(docs, "doc_id", "text"),
      Seq("spark", "dup"), k = 15).as[(Long, Long, Long)].collect().toSeq
    val got = Bm25.lookupAtRest(spark, table, Seq("spark", "dup"), k = 15)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expect)
    ()
  }

  test("streaming percentile scorer under a frozen distribution matches batch q84") {
    import spark.implicits._
    import graft.operators.Percentiles
    import org.apache.spark.sql.functions.{col, max}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
    val model0 = Percentiles.fit(
      docs.filter(col("doc_id") <= cut), "source", "n_chars")
    val model = Percentiles.Model(model0.coord.cache(), model0.sizes.cache())
    val arrivals = docs.filter(col("doc_id") > cut)
    val landing = tmpDir("pct_land")
    val staging = tmpDir("pct_stage") + "/files"
    arrivals.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("pct_out")
    val ckpt = tmpDir("pct_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, arrivals.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(
      Percentiles.scoreAgainst(_, "doc_id", "source", "n_chars", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "source", "n_chars", "pct_e4")
      .as[(Long, String, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q84_percentile_score")(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batch)
    model.coord.unpersist(); model.sizes.unpersist()
    ()
  }

  test("streaming vocab encoder under a frozen vocabulary matches batch q79") {
    import spark.implicits._
    import graft.operators.Vocabulary
    import org.apache.spark.sql.functions.col
    val src = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(src)
    val vocab = Vocabulary.frequencyRank(docs, "text")
      .filter(col("rank") <= 16).select(col("word"), col("rank")).cache()
    val landing = tmpDir("ve_land")
    val staging = tmpDir("ve_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("ve_out")
    val ckpt = tmpDir("ve_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(Vocabulary.encodeWithVocab(_, "doc_id", "text", vocab, 16))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "n_tokens", "n_oov", "oov_rate", "ids_md5")
      .as[(Long, Long, Long, Double, String)].collect().toSet
    val batch = SparkEntry.queries("q79_vocab_encode")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Double, String)].collect().toSet
    assert(streamed == batch)
    vocab.unpersist()
    ()
  }

  test("streaming dsir scorer under a frozen model matches batch q74") {
    import spark.implicits._
    import graft.operators.Dsir
    import org.apache.spark.sql.functions.col
    val src = "/root/testdata/sf0.001/documents.parquet"
    val docs = spark.read.parquet(src)
    // freeze the bucket model (target = en subset, raw = all), stream the
    // same docs: micro-batch scores must reproduce the batch fit+apply (q74)
    val model0 = Dsir.fit(docs.filter(col("lang") === "en"), docs, "text", 256)
    val model = Dsir.Model(
      model0.buckets.cache(), model0.totals.cache(), model0.numBuckets)
    val landing = tmpDir("dsir_land")
    val staging = tmpDir("dsir_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("dsir_out")
    val ckpt = tmpDir("dsir_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(Dsir.scoreDocs(_, "doc_id", "text", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "n_grams", "lw_e4", "keep")
      .as[(Long, Long, Long, Int)].collect().toSet
    val batch = SparkEntry.queries("q74_dsir_weights")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(streamed == batch)
    model.buckets.unpersist(); model.totals.unpersist()
    ()
  }

  test("streaming chunk deduper under a frozen index matches batch q59, replay no-op") {
    import spark.implicits._
    import graft.operators.Chunking
    import org.apache.spark.sql.functions.{col, concat_ws, lit}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the q59 corpus: planted re-crawl (every doc_id % 7 == 0 reappears)
    val corpus = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
    val index = Chunking.chunkFirstOccurrence(
      Chunking.cdcChunks(corpus, "doc_id", "text"), "doc_id").cache()
    val landing = tmpDir("cd_land")
    val staging = tmpDir("cd_stage") + "/files"
    corpus.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("cd_out")
    val ckpt = tmpDir("cd_ckpt")
    def run(): Unit = {
      val q = StreamingIngest.startChunkDeduper(
        spark, FileStreamSpec(landing, corpus.schema, maxFilesPerTrigger = 1),
        idCol = "doc_id", textCol = "text", chunkIndex = index,
        outDir = outDir, checkpointDir = ckpt)
      q.awaitTermination(180000)
      ()
    }
    run()
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(concat_ws("|", col("doc_id"), col("n_chunks"),
        col("n_kept_chunks"), col("n_tokens"), col("n_kept_tokens"),
        col("kept_frac_e4"))).as[String].collect().toSet
    val streamed = rows(spark.read.parquet(s"$outDir/batch=*"))
    val batch = rows(SparkEntry.queries("q59_cdc_chunk_dedup")(
      spark, "/root/testdata/sf0.001"))
    assert(streamed == batch)
    // re-crawl copies keep nothing (their chunks' first occurrences are
    // the originals'), and replay is a no-op
    assert(streamed.exists(s => s.startsWith("10000000") && s.endsWith("|0")))
    val before = spark.read.parquet(s"$outDir/batch=*").count()
    run()
    assert(spark.read.parquet(s"$outDir/batch=*").count() == before)
    index.unpersist()
    ()
  }

  test("streaming NB classifier under a frozen model matches batch q70") {
    import spark.implicits._
    import graft.operators.NbClassifier
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // freeze the per-lang model over the full corpus, stream the same
    // docs: micro-batch argmax under the frozen model must reproduce the
    // batch fit+predict (q70)
    val m0 = NbClassifier.fit(docs, "lang", "text")
    val model = NbClassifier.Model(m0.grams.cache(), m0.unigrams.cache(),
      m0.priors.cache(), m0.labels.cache(), m0.vocab.cache())
    val landing = tmpDir("nb_land")
    val staging = tmpDir("nb_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("nb_out")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, tmpDir("nb_ckpt"))(NbClassifier.predict(_, "doc_id", "text", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "pred_label", "n_transitions", "score_q")
      .as[(Long, String, Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q70_nb_classifier")(spark, "/root/testdata/sf0.001")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamed == batch)
    Seq(model.grams, model.unigrams, model.priors, model.labels, model.vocab)
      .foreach(_.unpersist())
    ()
  }

  test("streaming decontaminator flags exactly the batch q42 set") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // same split as q42: doc_id < 50 is the benchmark, the rest streams in
    val benchGrams = docs.filter(col("doc_id") < 50)
      .select(explode(graft.functions.TextFunctions.shingles(col("text"), 8)).as("gram"))
      .distinct()
    val training = docs.filter(col("doc_id") >= 50)
    val landing = tmpDir("decon_land")
    val staging = tmpDir("decon_stage") + "/files"
    training.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("decon_out") + "/tagged"
    val ckpt = tmpDir("decon_ckpt")
    def run() = StreamingIngest.startDecontaminator(
      spark, FileStreamSpec(landing, training.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text", benchGrams = benchGrams, gramN = 8,
      outDir = outDir, checkpointDir = ckpt)
      .awaitTermination(120000)
    run()
    val flagged = spark.read.parquet(outDir)
      .filter(col("contaminated"))
      .select("doc_id", "n_shared_grams").as[(Long, Long)].collect().toSet
    val batch = SparkEntry.queries("q42_decontaminate")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long)].collect().toSet
    assert(batch.nonEmpty && flagged == batch)
    // pass-through completeness: every training doc is tagged exactly once
    assert(spark.read.parquet(outDir).count() == training.count())
    // checkpoint replay: nothing new to process, nothing duplicated
    run()
    assert(spark.read.parquet(outDir).count() == training.count())
  }

  test("streaming op-aware CDC: I/U/D micro-batches delete through the stream") {
    val cdcSchema = StructType(Seq(
      StructField("op", StringType),
      StructField("k", IntegerType),
      StructField("ts", LongType),
      StructField("v", StringType),
      StructField("part", StringType)))
    val landing = tmpDir("cdcland_s")
    val ckpt = tmpDir("cdcckpt_s")
    val table = WarehouseTable(tmpDir("cdcwh_s") + "/t")
    // table schema EXCLUDES the op column (merge plumbing, not data)
    table.create(schema, Some("part"), Map.empty)

    // the file source orders batches by MODIFICATION TIME; same-second
    // writes tie and the order becomes arbitrary — for CDC the cross-batch
    // order is semantic (merge is last-writer-wins), so pin b1 older
    Files.write(Paths.get(s"$landing/b1.csv"),
      "op,k,ts,v,part\nI,1,10,a,CA\nI,2,10,b,NY\nI,3,10,c,TX\n"
        .getBytes(StandardCharsets.UTF_8))
    Files.setLastModifiedTime(Paths.get(s"$landing/b1.csv"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    Files.write(Paths.get(s"$landing/b2.csv"),
      // U updates 1; D deletes 2; intra-batch U-then-D on 3 (latest wins);
      // D on absent key 9 no-ops
      ("op,k,ts,v,part\nU,1,20,a2,CA\nD,2,20,b,NY\n" +
        "U,3,20,c2,TX\nD,3,21,c2,TX\nD,9,20,x,CA\n")
        .getBytes(StandardCharsets.UTF_8))

    val q = StreamingIngest.start(
      spark, landing, cdcSchema, Map("header" -> "true"),
      table, keys = Seq("k"), orderDesc = "ts",
      checkpointDir = ckpt, maxFilesPerTrigger = 1,
      tiebreakDesc = Seq("op"), cdcOpColumn = "op")
    q.awaitTermination(120000)

    val out = table.read(spark)
      .select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a2"))) // 2 and 3 deleted, 9 never existed
  }

  test("graft-queue DSv2 stream: poll batches flow to a merge, ack after commit") {
    import org.apache.spark.sql.DataFrame
    val qdir = tmpDir("queue_src")
    val queue = new graft.sources.LocalDirQueue(qdir)
    // bodies: CSV-ish control messages (k,ts,v,part) — stand-ins for the
    // reference's S3 event notifications
    queue.send("m1", "1,10,a,CA")
    queue.send("m2", "2,10,b,NY")

    val table = WarehouseTable(tmpDir("wh_qs") + "/t")
    table.create(schema, Some("part"), Map.empty)

    val stream = spark.readStream.format("graft-queue")
      .option("dir", qdir).load()
    val query = stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", tmpDir("queue_ck"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val parsed = batch.select(split(col("body"), ",").as("f"))
            .select(
              col("f")(0).cast("int").as("k"),
              col("f")(1).cast("long").as("ts"),
              col("f")(2).as("v"),
              col("f")(3).as("part"))
          table.merge(batch.sparkSession,
            graft.operators.Dedup.latestByKey(parsed, Seq("k"), "ts"), Seq("k"))
        }
        ()
      }
      .start()
    query.processAllAvailable()
    // a message arriving mid-stream flows through the SAME query
    queue.send("m3", "1,20,a2,CA")
    query.processAllAvailable()
    // ack-after-commit: the DSv2 contract commits batch N's offsets on the
    // NEXT trigger's cleanup, so acking lags one (fast) trigger — await it
    // rather than racing it. Once every batch is committed the queue dir is
    // EMPTY: no pending files, no in-flight receipts.
    def dirEmpty() = {
      val l = Files.list(Paths.get(qdir))
      try !l.iterator().hasNext finally l.close()
    }
    val deadline = System.currentTimeMillis + 30000
    while (!dirEmpty() && System.currentTimeMillis < deadline) Thread.sleep(50)
    assert(dirEmpty(), "all receipts acked after their batches committed")
    query.stop()
    val out = table.read(spark)
      .select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a2"), (2, "b")))
  }

  test("full reference pipeline under real streaming: S3 events → files → merge") {
    // the reference's whole loop — SQS poll → S3-event parse → file read →
    // dedup → MERGE — driven by Structured Streaming over the graft-queue
    // source instead of the driver loop
    import org.apache.spark.sql.DataFrame
    val qdir = tmpDir("queue_e2e")
    val landing = tmpDir("landing_e2e")
    val queue = new graft.sources.LocalDirQueue(qdir)
    // bucket = landing dir, key = object name (the reference's S3 layout)
    def csv(name: String, rows: String): String = {
      Files.write(Paths.get(s"$landing/$name"),
        s"k,ts,v,part\n$rows".getBytes(StandardCharsets.UTF_8))
      name
    }
    def s3Event(names: Seq[String]): String =
      names.map(n =>
        s"""{"s3":{"bucket":{"name":"$landing"},"object":{"key":"$n"}}}""")
        .mkString("""{"Records":[""", ",", "]}")
    queue.send("e1", s3Event(Seq(
      csv("b1.csv", "1,10,a,CA\n2,10,b,NY"),
      csv("b2.csv", "1,11,a2,CA"))))

    val table = WarehouseTable(tmpDir("wh_e2e") + "/t")
    table.create(schema, Some("part"), Map.empty)

    val query = spark.readStream.format("graft-queue")
      .option("dir", qdir).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", tmpDir("queue_e2e_ck"))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bodies = batch.select("body").collect().map(_.getString(0)).toSeq
        // batch amalgamation: every file of the poll becomes ONE scan
        val files = graft.sources.S3EventParser.parseBatch(bodies, "file")
        if (files.nonEmpty) {
          val s = batch.sparkSession
          val df = s.read.option("header", "true").schema(schema)
            .csv(files: _*)
          table.merge(s,
            graft.operators.Dedup.latestByKey(df, Seq("k"), "ts", Seq("v")),
            Seq("k"))
        }
        ()
      }
      .start()
    query.processAllAvailable()
    // a second event arrives mid-stream (the CDC update batch)
    queue.send("e2", s3Event(Seq(csv("b3.csv", "2,20,B,NY\n3,20,c,TX"))))
    query.processAllAvailable()
    query.stop()
    val out = table.read(spark).select("k", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a2"), (2, "B"), (3, "c")))
  }

  test("graft-queue stream redelivers messages whose batch failed before commit") {
    import org.apache.spark.sql.DataFrame
    val qdir = tmpDir("queue_fail")
    val queue = new graft.sources.LocalDirQueue(qdir)
    queue.send("m1", "poison")

    def run(fail: Boolean): Either[Throwable, Set[String]] = {
      val seen = scala.collection.mutable.Set[String]()
      val query = spark.readStream.format("graft-queue")
        .option("dir", qdir).load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", tmpDir("queue_fail_ck"))
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val bodies = batch.collect().map(_.getString(1))
          if (fail && bodies.nonEmpty) sys.error("sink failure before commit")
          seen ++= bodies
          ()
        }
        .start()
      try {
        query.processAllAvailable()
        query.stop()
        Right(seen.toSet)
      } catch { case e: Throwable => Left(e) }
    }

    assert(run(fail = true).isLeft)   // batch failed → never committed
    // the message was NOT acked: after reclaim (new consumer), it redelivers.
    // (No final-ack assert: stopping right after the batch may beat the
    // next-trigger commit — the message then legitimately returns to the
    // queue, which is exactly at-least-once delivery.)
    val got = run(fail = false)
    assert(got == Right(Set("poison")))
  }

  test("graft-queue restart from a committed checkpoint delivers pending messages") {
    // Regression: a restarted QueueStream starts its batch sequence at -1,
    // and on a cleanly-committed restart Spark polls (latestOffset) BEFORE
    // deserializing the restored offset N — so the first poll numbers its
    // messages batch 0 < N, the replayed range (N, 0) delivers nothing,
    // and the next commit's rangeTo would ack — delete — the
    // never-delivered messages: silent loss. commit() must only ack
    // batches that went through planInputPartitions, requeueing the rest.
    import org.apache.spark.sql.DataFrame
    val qdir = tmpDir("queue_restart")
    val ckpt = tmpDir("queue_restart_ck")
    val queue = new graft.sources.LocalDirQueue(qdir)

    def dirEmpty() = {
      val l = Files.list(Paths.get(qdir))
      try !l.iterator().hasNext finally l.close()
    }
    def run(awaitAck: Boolean): Set[String] = {
      val seen = scala.collection.mutable.Set[String]()
      val query = spark.readStream.format("graft-queue")
        .option("dir", qdir).load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          seen ++= batch.collect().map(_.getString(1))
          ()
        }
        .start()
      query.processAllAvailable()
      if (awaitAck) { // ack lags one trigger — await it before stopping
        val deadline = System.currentTimeMillis + 30000
        while (!dirEmpty() && System.currentTimeMillis < deadline)
          Thread.sleep(50)
      }
      query.stop()
      seen.toSet
    }

    queue.send("m1", "one")
    assert(run(awaitAck = true) == Set("one"))
    assert(dirEmpty(), "first run's message acked")

    // arrives while the stream is down; the restarted run restores offset
    // N from the checkpoint and must still deliver this message
    queue.send("m2", "two")
    assert(run(awaitAck = true) == Set("two"),
      "message pending across a restart must be delivered, not silently acked")
    assert(dirEmpty(), "delivered message acked after its batch committed")
  }

  test("graft-queue options are case-insensitive (maxPerPoll)") {
    // getTable receives Spark's case-PRESERVING map; the provider must not
    // silently drop a user's .option("maxPerPoll", ...) camelCase spelling
    val provider = new graft.streaming.QueueSourceProvider
    def table(opts: Map[String, String]) = {
      val m = new java.util.HashMap[String, String]
      opts.foreach { case (k, v) => m.put(k, v) }
      provider.getTable(graft.streaming.QueueStream.Schema, Array.empty, m)
        .asInstanceOf[graft.streaming.QueueStreamTable]
    }
    assert(table(Map("dir" -> "/q", "maxPerPoll" -> "5")).maxPerPoll == 5)
    assert(table(Map("dir" -> "/q", "maxperpoll" -> "7")).maxPerPoll == 7)
    assert(table(Map("dir" -> "/q")).maxPerPoll == 10)
  }

  test("stateful streaming sessionization closes sessions by gap and timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{ClosedSession, SessionEvent}

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[SessionEvent]
    val sessions = StreamingIngest.sessionizeStream(
      input.toDS(), gapMs = 60000L, watermark = "0 seconds")
    val q = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    def ev(uid: Long, sec: Long, v: Double) =
      SessionEvent(uid, new java.sql.Timestamp(sec * 1000), v)

    // batch 1: user 1 has two events 10 s apart (one session), user 2 one
    input.addData(ev(1, 100, 1.0), ev(1, 110, 2.0), ev(2, 100, 5.0))
    q.processAllAvailable()
    assert(spark.table("sess_out").count() == 0) // nothing closed yet

    // batch 2: user 1's next event is 300 s later — closes the first
    // session immediately (intra-group gap). The advancing watermark (now
    // past 100+gap) also times out user 2's idle session without any new
    // data for that key — exactly the bounded-state property under test.
    input.addData(ev(1, 410, 4.0))
    q.processAllAvailable()
    val afterB2 = spark.table("sess_out").as[ClosedSession].collect()
      .map(s => (s.user_id, s.n_events, s.sum_value)).toSet
    assert(afterB2.contains((1L, 2L, 3.0))) // gap-closed with both events
    assert(afterB2.contains((2L, 1L, 5.0))) // timeout-closed, no new data
    assert(spark.table("sess_out").as[ClosedSession].collect()
      .forall(s => s.session_end.getTime >= s.session_start.getTime))
    q.stop()
  }

  test("stream-stream interval join pairs events within the lookback") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val purchases = MemoryStream[(Long, java.sql.Timestamp, String)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = graft.streaming.StreamingIngest.intervalJoin(
      purchases.toDS().toDF("user_id", "ts", "order_id"),
      clicks.toDS().toDF("user_id", "ts", "page")
        .withColumnRenamed("ts", "ts").select(col("user_id"), col("ts"), col("page")),
      key = "user_id", lookback = "60 seconds", watermark = "0 seconds")
      .select(col("l.order_id"), col("r.page"))
    val q = joined.writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    clicks.addData((1L, ts(100), "home"), (1L, ts(130), "item"),
      (1L, ts(10), "stale"), (2L, ts(100), "other"))
    purchases.addData((1L, ts(150), "ord-1"))
    q.processAllAvailable()
    val out = spark.table("ssj_out").as[(String, String)].collect().toSet
    // clicks at 100/130 are within 60 s of the purchase at 150; the click
    // at 10 is outside the lookback, user 2's click is a different key
    assert(out == Set(("ord-1", "home"), ("ord-1", "item")))
    q.stop()
  }

  test("streaming normalizer + chunker equal their batch twins on the same files") {
    import spark.implicits._
    import graft.operators.{Chunking, Normalize}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        // plant case/punctuation noise so normalization is observable
        concat(lit("HEAD** "), col("text"), lit(" ,tail!!")).as("text"))
    val landing = tmpDir("norm_land")
    val staging = tmpDir("norm_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    // stage 1: normalizer (two micro-batches)
    val normOut = tmpDir("norm_out") + "/clean"
    val q1 = StreamingIngest.startNormalizer(
      spark, FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1),
      textCol = "text", outDir = normOut, checkpointDir = tmpDir("norm_ckpt"))
    q1.awaitTermination(120000)
    val streamedNorm = spark.read.parquet(normOut)
      .select("doc_id", "text", "n_raw").as[(Long, String, Long)].collect().toSet
    val batchNorm = Normalize.normalized(docs, "doc_id", "text")
      .select(col("doc_id"), col("norm"), col("n_raw"))
      .as[(Long, String, Long)].collect().toSet
    assert(streamedNorm == batchNorm)
    // stage 2: CDC chunker over the normalized landing dir
    val chunkOut = tmpDir("chunk_out") + "/chunks"
    val q2 = StreamingIngest.startChunker(
      spark, FileStreamSpec(normOut, spark.read.parquet(normOut).schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text", outDir = chunkOut,
      checkpointDir = tmpDir("chunk_ckpt"))
    q2.awaitTermination(120000)
    val streamedChunks = spark.read.parquet(chunkOut)
      .select("doc_id", "seg_id", "n_seg_tokens", "seg_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val batchChunks = Chunking
      .cdcChunks(spark.read.parquet(normOut), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamedChunks == batchChunks && streamedChunks.nonEmpty)
  }

  test("streaming markup scrubber + sentence packer equal their batch twins on the same files") {
    import spark.implicits._
    import graft.operators.{Chunking, Normalize}
    import org.apache.spark.sql.functions.expr
    // plant markup + sentence punctuation so both stages are observable
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        expr("replace(replace(text, 'table', '<b>table.</b>')," +
          " 'value', '&quot;value&quot;')").as("text"))
    val landing = tmpDir("mk_land")
    val staging = tmpDir("mk_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parts.length == 2)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    // stage 1: markup scrubber (two micro-batches) — clean text + audit
    val cleanOut = tmpDir("mk_out") + "/clean"
    val q1 = StreamingIngest.startMarkupScrubber(
      spark, FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1),
      textCol = "text", outDir = cleanOut,
      checkpointDir = tmpDir("mk_ckpt"))
    q1.awaitTermination(120000)
    val streamedClean = spark.read.parquet(cleanOut)
      .select("doc_id", "text", "n_tags", "n_chars_raw")
      .as[(Long, String, Long, Long)].collect().toSet
    val batchClean = docs.select(col("doc_id"),
        Normalize.cleanMarkup(col("text")).as("text"),
        Normalize.markupTagCount(col("text")).as("n_tags"),
        length(col("text")).cast("long").as("n_chars_raw"))
      .as[(Long, String, Long, Long)].collect().toSet
    assert(streamedClean == batchClean)
    assert(streamedClean.exists(_._3 > 0)) // markup actually seen
    // stage 2: sentence packer over the scrubbed landing dir — per-doc
    // packing means micro-batch boundaries cannot change any chunk
    val packOut = tmpDir("pack_out")
    val q2 = StreamingIngest.batchStage(
      FileStreamSpec(cleanOut, spark.read.parquet(cleanOut).schema,
        maxFilesPerTrigger = 1).read(spark),
      packOut, tmpDir("pack_ckpt"))(
      graft.operators.Chunking.sentencePack(_, "doc_id", "text", 16L))
    q2.awaitTermination(120000)
    val streamedPack = spark.read.parquet(s"$packOut/batch=*")
      .select("doc_id", "chunk", "n_sentences", "tok_sum", "chunk_md5")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    val batchPack = Chunking.sentencePack(
        spark.read.parquet(cleanOut), "doc_id", "text", 16L)
      .select("doc_id", "chunk", "n_sentences", "tok_sum", "chunk_md5")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(streamedPack == batchPack && streamedPack.nonEmpty)
    // multi-chunk docs exist, so the packing is non-degenerate
    assert(streamedPack.exists(_._2 > 0))
  }

  test("streaming rollup maintainer equals the one-shot group-by; full replay changes nothing") {
    import spark.implicits._
    import graft.operators.IncrementalRollup
    import org.apache.spark.sql.functions.{count, lit, max, sum}
    val rows = (1 to 200).map { i =>
      (i.toLong, s"t${i % 3}", (i % 7).toLong)
    }
    val src = rows.toDF("id", "typ", "v")
    val landing = tmpDir("roll_land")
    val staging = tmpDir("roll_stage") + "/files"
    src.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val table = graft.table.WarehouseTable(tmpDir("roll_wh") + "/agg")
    val prepare = (b: org.apache.spark.sql.DataFrame) =>
      b.select(col("typ"), lit(1L).as("n"), col("v").as("sum_v"),
        col("v").as("max_v"))
    val merges = Map("n" -> "sum", "sum_v" -> "sum", "max_v" -> "max")
    def run(ckpt: String) = StreamingIngest.foreachBatchStage(
      FileStreamSpec(landing, src.schema, maxFilesPerTrigger = 1).read(spark), ckpt) {
      (b, id) => IncrementalRollup.commit(spark, prepare(b), Seq("typ"), merges, table, id)
    }
    val q = run(tmpDir("roll_ckpt"))
    q.awaitTermination(120000)
    def state(): Set[(String, Long, Long, Long)] =
      IncrementalRollup.read(spark, table)
        .select("typ", "n", "sum_v", "max_v")
        .as[(String, Long, Long, Long)].collect().toSet
    val oneShot = src.groupBy(col("typ"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
        max(col("v")).as("max_v"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(state() == oneShot)
    // fresh-checkpoint replay of the same landing dir, same batch
    // composition: every fold is guarded — nothing changes
    val q2 = run(tmpDir("roll_ckpt2"))
    q2.awaitTermination(120000)
    assert(state() == oneShot)
  }

  test("streaming overlap prober: each interval batch meets itself and every earlier arrival") {
    import spark.implicits._
    import graft.operators.RangeIndex
    // seed: one stored interval [0, 100]
    val idx = graft.table.WarehouseTable(tmpDir("oprob") + "/idx")
    RangeIndex.indexAtRest(
      Seq((100L, 0L, 100L)).toDF("iv", "s", "e"),
      "s", "e", Seq("iv"), idx, bucketWidth = 10L)
    // batch0: q1 [5,20] overlaps seed; q2 [200,210] overlaps nothing yet
    // batch1: q3 [205,207] overlaps q2's STORED copy (earlier arrival)
    // and itself-as-stored; q4 [500,501] isolated
    val b0 = Seq((1L, 5L, 20L), (2L, 200L, 210L)).toDF("qid", "qs", "qe")
    val b1 = Seq((3L, 205L, 207L), (4L, 500L, 501L)).toDF("qid", "qs", "qe")
    val landing = tmpDir("oprob_land")
    Seq(b0 -> "f0", b1 -> "f1").foreach { case (df, nm) =>
      val stage = tmpDir(s"oprob_stage_$nm") + "/files"
      df.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    val toStored = (b: org.apache.spark.sql.DataFrame) =>
      b.select((col("qid") + 1000L).as("iv"),
        col("qs").as("s"), col("qe").as("e"))
    val outDir = tmpDir("oprob_out")
    val q = StreamingIngest.startOverlapProber(
      spark, FileStreamSpec(landing, b0.schema, maxFilesPerTrigger = 1),
      "qs", "qe", toStored, idx, outDir,
      checkpointDir = tmpDir("oprob_ckpt"))
    q.awaitTermination(120000)
    def pairs(batch: Int): Set[(Long, Long)] =
      spark.read.parquet(s"$outDir/batch=$batch")
        .select("qid", "iv").as[(Long, Long)].collect().toSet
    // batch 0: q1 meets the seed AND its own stored copy; q2 only itself
    assert(pairs(0) == Set((1L, 100L), (1L, 1001L), (2L, 1002L)))
    // batch 1: q3 meets q2's stored copy (earlier arrival) + itself;
    // q4 only itself
    assert(pairs(1) == Set((3L, 1002L), (3L, 1003L), (4L, 1004L)))
  }

  test("streaming funnel tracker: stateful progress equals the batch funnel on in-order streams") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{FunnelEvent, FunnelProgress}
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[FunnelEvent]
    val q = StreamingIngest.funnelStream(input.toDS(), nSteps = 3)
      .writeStream.format("memory").queryName("fun_out")
      .outputMode("update").start()
    // batch 1: u1 view@10 click@20; u2 click-before-view (ignored) then
    // view@10 and a same-instant click@10 (strict > — ignored)
    input.addData(
      FunnelEvent(1L, 0, 10L), FunnelEvent(1L, 1, 20L),
      FunnelEvent(2L, 1, 5L), FunnelEvent(2L, 0, 10L), FunnelEvent(2L, 1, 10L))
    q.processAllAvailable()
    def latest(): Map[Long, (Int, Long, Long)] =
      spark.table("fun_out").as[FunnelProgress].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          // progress is monotone, so the furthest row IS the latest
          val r = rows.maxBy(x => (x.reached, x.t_last))
          u -> ((r.reached, r.t_first, r.t_last))
        }
    assert(latest() == Map(1L -> ((2, 10L, 20L)), 2L -> ((1, 10L, 10L))))
    // batch 2: u1 purchases@30 (completes); u2 clicks@15 (advances);
    // u1's stale extra view@25 changes nothing
    input.addData(
      FunnelEvent(1L, 2, 30L), FunnelEvent(1L, 0, 25L),
      FunnelEvent(2L, 1, 15L))
    q.processAllAvailable()
    assert(latest() == Map(1L -> ((3, 10L, 30L)), 2L -> ((2, 10L, 15L))))
    q.stop()
    // ≡ the batch operator's per-step counts on the union of both batches
    val all = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (2L, "click", 5L),
      (2L, "view", 10L), (2L, "click", 10L), (1L, "purchase", 30L),
      (1L, "view", 25L), (2L, "click", 15L)
    ).toDF("user_id", "event_type", "t")
    val batch = graft.operators.EventAnalytics.funnel(
      all, "user_id", "event_type", "t", Seq("view", "click", "purchase"))
      .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
    val fin = latest()
    (1 to 3).foreach { k =>
      assert(batch(k) == fin.values.count(_._1 >= k))
    }
  }

  test("streaming drift monitor: per-batch TVD vs the frozen reference equals the batch operator") {
    import spark.implicits._
    import graft.operators.Drift
    val refRows = (1 to 60).map(i => ("s" + (i % 2), (i % 5 + 1).toLong * 16))
    val reference = Drift.bucketCounts(
      refRows.toDF("k", "v"), Seq("k"), "v", bits = 4)
    // batch 0 mirrors the reference shape; batch 1 is shifted 256x
    val b0 = (1 to 30).map(i => ("s" + (i % 2), (i % 5 + 1).toLong * 16))
    val b1 = (1 to 30).map(i => ("s" + (i % 2), (i % 5 + 1).toLong * 4096))
    val landing = tmpDir("drift_land")
    Seq(b0 -> "f0", b1 -> "f1").foreach { case (rows, nm) =>
      val stage = tmpDir(s"drift_stage_$nm") + "/files"
      rows.toDF("k", "v").coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    val outDir = tmpDir("drift_out")
    val q = StreamingIngest.startDriftMonitor(
      spark, FileStreamSpec(landing, b0.toDF("k", "v").schema, maxFilesPerTrigger = 1),
      reference, Seq("k"), "v", bits = 4, outDir,
      checkpointDir = tmpDir("drift_ckpt"))
    q.awaitTermination(120000)
    def report(batch: Int): Map[String, Boolean] =
      spark.read.parquet(s"$outDir/batch=$batch")
        .select("k", "drifted").as[(String, Boolean)].collect().toMap
    // same shape -> quiet; 256x shift -> disjoint buckets -> alarm
    assert(report(0) == Map("s0" -> false, "s1" -> false))
    assert(report(1) == Map("s0" -> true, "s1" -> true))
    // stream report ≡ the batch operator on the same inputs
    val direct = Drift.tvd(reference,
        Drift.bucketCounts(b1.toDF("k", "v"), Seq("k"), "v", 4), Seq("k"))
      .select("k", "tv_num", "tv_den")
      .as[(String, java.math.BigDecimal, java.math.BigDecimal)]
      .collect().map(r => r._1 -> ((r._2.longValueExact, r._3.longValueExact))).toMap
    val streamed = spark.read.parquet(s"$outDir/batch=1")
      .select("k", "tv_num", "tv_den")
      .as[(String, java.math.BigDecimal, java.math.BigDecimal)]
      .collect().map(r => r._1 -> ((r._2.longValueExact, r._3.longValueExact))).toMap
    assert(streamed == direct)
  }

  test("streaming anomaly monitor: rollup-fed verdicts equal the batch detector; restart never double-counts") {
    import spark.implicits._
    import graft.operators.EventAnalytics
    val day = 86400L * 1000 * 1000 * 1000
    // file 0: days 1-7 steady (5/day); file 1: day-8 spike of 50 PLUS a
    // late arrival for day 7 (the re-derive-from-rollup case: day 7's
    // count changes after its verdict already landed)
    val f0 = (1 to 7).flatMap(d => Seq.fill(5)(("A", d * day + 1)))
    val f1 = Seq.fill(50)(("A", 8 * day + 1)) ++ Seq(("A", 7 * day + 2))
    val landing = tmpDir("anom_land")
    Seq(f0 -> "f0", f1 -> "f1").foreach { case (rows, nm) =>
      val stage = tmpDir(s"anom_stage_$nm") + "/files"
      rows.toDF("event_type", "ts").coalesce(1).write.parquet(stage)
      new java.io.File(stage).listFiles.filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.copy(
          f.toPath, java.nio.file.Paths.get(s"$landing/$nm.parquet")))
    }
    val counts = graft.table.WarehouseTable(tmpDir("anom_counts") + "/t")
    val verdictDir = tmpDir("anom_out")
    val ckpt = tmpDir("anom_ckpt")
    val ev = f0.toDF("event_type", "ts")
    val q = StreamingIngest.startAnomalyMonitor(
      spark, FileStreamSpec(landing, ev.schema, maxFilesPerTrigger = 1),
      "event_type", "ts", counts, verdictDir, ckpt,
      windowDays = 7, thresholdE2 = 350)
    q.awaitTermination(120000)
    def verdicts: Map[(String, Long), (Long, Long, Long, Boolean)] =
      graft.table.WarehouseTable(verdictDir).read(spark)
        .as[(String, Long, Long, Long, Long, Boolean)].collect()
        .map(t => (t._1, t._2) -> ((t._3, t._4, t._5, t._6))).toMap
    // stream verdicts ≡ the batch detector over everything landed
    val all = (f0 ++ f1).toDF("event_type", "ts")
    val direct = EventAnalytics.dailyCountAnomalies(all, "event_type", "ts", 7, 350)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map(t => (t._1, t._2) -> ((t._3, t._4, t._5, t._6))).toMap
    assert(verdicts == direct)
    // the late day-7 arrival re-derived day 7's verdict: n=6 now
    assert(verdicts(("A", 7L))._1 == 6L)
    assert(verdicts(("A", 8L))._4) // the spike flags
    // restart on the same checkpoint: no new files -> rollup unchanged,
    // verdicts identical (batch-marker idempotence)
    val q2 = StreamingIngest.startAnomalyMonitor(
      spark, FileStreamSpec(landing, ev.schema, maxFilesPerTrigger = 1),
      "event_type", "ts", counts, verdictDir, ckpt,
      windowDays = 7, thresholdE2 = 350)
    q2.awaitTermination(60000)
    assert(verdicts == direct)
  }

  test("streaming contracts gate: clean/quarantine split equals the batch tag; tags travel with quarantined rows") {
    import spark.implicits._
    import graft.operators.Contracts
    val rows = Seq(
      (1L, "en", 10L), (2L, null.asInstanceOf[String], 20L),
      (3L, "de", -4L), (4L, "fr", 30L), (5L, null.asInstanceOf[String], -1L)
    )
    val src = rows.toDF("id", "lang", "n")
    val landing = tmpDir("cgate_land")
    val staging = tmpDir("cgate_stage") + "/files"
    src.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    def rules = Seq(
      Contracts.notNull("lang_null", col("lang")),
      Contracts.inRange("range", col("n"), 1L, 1000L))
    val outDir = tmpDir("cgate_out")
    val q = StreamingIngest.startContractsGate(
      spark, FileStreamSpec(landing, src.schema, maxFilesPerTrigger = 1), rules,
      outDir, checkpointDir = tmpDir("cgate_ckpt"))
    q.awaitTermination(120000)
    val clean = spark.read.parquet(s"$outDir/clean/batch=*")
      .select("id").as[Long].collect().sorted.toSeq
    assert(clean == Seq(1L, 4L))
    val quar = spark.read.parquet(s"$outDir/quarantine/batch=*")
      .select("id", "violations").as[(Long, String)].collect().toMap
    assert(quar == Map(2L -> "lang_null", 3L -> "range",
      5L -> "lang_null,range"))
    // stream split ≡ batch tag partition
    val batchTag = Contracts.tag(src, rules)
    assert(batchTag.filter(col("clean")).select("id").as[Long]
      .collect().sorted.toSeq == clean)
    assert(batchTag.filter(!col("clean")).select("id", "violations")
      .as[(Long, String)].collect().toMap == quar)
  }

  test("streaming clustered writer: arrivals keep the layout's pruning; fresh-checkpoint replay changes nothing") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("payload", StringType)))
    def df(ids: Seq[Int]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, s"p$i")), 2), sch)
    val table = graft.table.WarehouseTable(tmpDir("sclw_wh") + "/t")
    table.create(sch, None, Map.empty)
    table.append(df(1 to 400))
    table.clusterBase(spark, "id", 4)
    // two arrival files -> two micro-batches, each spanning the full
    // domain (an unsplit append dir would never prune)
    val landing = tmpDir("sclw_land")
    Seq((401 to 700) -> "f0", (701 to 1000) -> "f1").foreach { case (ids, nm) =>
      val stage = tmpDir(s"sclw_stage_$nm") + "/files"
      df(ids).coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    def run(ckpt: String) = StreamingIngest.foreachBatchStage(
      FileStreamSpec(landing, sch, maxFilesPerTrigger = 1).read(spark), ckpt) {
      (b, id) => table.clusterAppend(spark, b, Some(id))
    }
    val q = run(tmpDir("sclw_ckpt"))
    q.awaitTermination(120000)
    val full = (1 to 1000).toSeq
    assert(table.read(spark).collect().map(_.getInt(0)).sorted.toSeq == full)
    // arrivals' dirs prune like the base's
    val filt = Seq(org.apache.spark.sql.sources.GreaterThan("id", 900))
    assert(table.read(spark, dataFilters = filt).inputFiles.length <
      table.read(spark).inputFiles.length)
    assert(table.read(spark, dataFilters = filt)
      .filter(col("id") > 900)
      .collect().map(_.getInt(0)).sorted.toSeq == (901 to 1000).toSeq)
    // fresh checkpoint, same landing dir, same batch composition: every
    // micro-batch replaces its own dirs — the table converges, no dups
    val q2 = run(tmpDir("sclw_ckpt2"))
    q2.awaitTermination(120000)
    assert(table.read(spark).collect().map(_.getInt(0)).sorted.toSeq == full)
  }

  test("agg view min/max: recompute-on-regress across MOR deletes, resurrection and an emptied group") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", StringType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    def df(rows: Seq[(Long, String, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, g, v) => Row(i, g, v) }, 2), sch)
    val src = graft.table.WarehouseTable(tmpDir("aggmm") + "/src")
    src.create(sch, Some("g"),
      graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    // g0: ids 1..4 values 10..40; g1: ids 5..6 values 50..60
    src.merge(spark, df(Seq((1L, "g0", 10), (2L, "g0", 20), (3L, "g0", 30),
      (4L, "g0", 40), (5L, "g1", 50), (6L, "g1", 60))), Seq("id", "g"))
    // delete g0's min-attaining row — the stored min MUST regress to 20
    src.deleteKeysMor(spark, df(Seq((1L, "g0", 0))).select("id", "g"),
      Seq("id", "g"))
    // resurrect id 1 with an even smaller value — pure insert-side fold
    src.merge(spark, df(Seq((1L, "g0", 5))), Seq("id", "g"))
    // update g0's max DOWN (upsert 40 -> 35): the old version's −40
    // reaches the stored max, recompute lands 35
    src.merge(spark, df(Seq((4L, "g0", 35))), Seq("id", "g"))
    // empty g1 entirely — its extremes must NULL and its row must
    // leave the read
    src.deleteWhereMor(spark, col("g") === "g1")
    val view = graft.table.WarehouseTable(tmpDir("aggmm") + "/view")
    val q = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), tmpDir("aggmm_ckpt"),
      minMaxCols = Seq("v"))
    q.awaitTermination(120000)
    val got = StreamingIngest.readAggView(spark, view)
      .select("g", "n", "sum_v", "min_v", "max_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(("g0", 4L, 5L + 20L + 30L + 35L, 5L, 35L)),
      s"view diverged: $got")
    // the emptied group resurrects cleanly: NULLed extremes restart
    src.merge(spark, df(Seq((7L, "g1", 70))), Seq("id", "g"))
    val q2 = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), tmpDir("aggmm_ckpt"),
      minMaxCols = Seq("v"))
    q2.awaitTermination(120000)
    val got2 = StreamingIngest.readAggView(spark, view)
      .select("g", "n", "min_v", "max_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got2 == Set(("g0", 4L, 5L, 35L), ("g1", 1L, 70L, 70L)),
      s"resurrected view diverged: $got2")
  }

  test("agg view drain skips a maintenance-only window statically (no view commit; the position holds)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", StringType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    def df(rows: Seq[(Long, String, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, g, v) => Row(i, g, v) }, 2), sch)
    val root = tmpDir("aggskip")
    val src = graft.table.WarehouseTable(root + "/src")
    src.create(sch, Some("g"),
      graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    src.merge(spark, df(Seq((1L, "g0", 10), (2L, "g1", 20))), Seq("id", "g"))
    val view = graft.table.WarehouseTable(root + "/view")
    val q = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), root + "/ckpt")
    q.awaitTermination(120000)
    val viewSnap = view.currentSnapshotId
    // maintenance-only window: the gross feed is STATICALLY empty, a
    // fact changesSinceOpt decides from manifests alone
    val before = src.currentSnapshotId
    src.compact(spark)
    assert(src.currentSnapshotId > before)
    assert(src.changesSinceOpt(spark, before, netRemovals = false).isEmpty)
    val q2 = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), root + "/ckpt")
    q2.awaitTermination(120000)
    // skipped: the view landed NO no-op merge commit...
    assert(view.currentSnapshotId == viewSnap,
      "maintenance-only window still folded into the view")
    // ...and recorded no position past it: the next window starts
    // before the maintenance snapshot and skips it exactly
    assert(view.sourcePosition(viewSnap) ==
      Some(graft.table.WarehouseTable.SourcePosition(src.lineageId, before)))
    // a later data window folds normally on top of the skip
    src.merge(spark, df(Seq((3L, "g0", 30))), Seq("id", "g"))
    val q3 = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), root + "/ckpt")
    q3.awaitTermination(120000)
    val got = StreamingIngest.readAggView(spark, view)
      .select("g", "n", "sum_v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("g0", 2L, 40L), ("g1", 1L, 20L)), s"view diverged: $got")
  }

  test("gross MOR feed: old-version subtraction stats-prunes by the delta's key range on an unpartitioned clustered source") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    def df(rows: Seq[(Long, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, v) => Row(i, v) }, 2), sch)
    val t = graft.table.WarehouseTable(tmpDir("gfprune") + "/t")
    t.create(sch, None,
      graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.merge(spark, df((1L to 1000L).map(i => i -> 1)), Seq("id"))
    t.clusterBase(spark, "id", 8)
    val since = t.currentSnapshotId
    val baseFiles = t.read(spark).inputFiles.toSet
    // narrow update wave: keys 1..50 — within one clustered bucket's range
    t.merge(spark, df((1L to 50L).map(i => i -> 2)), Seq("id"))
    val feed = t.changesSince(spark, since, netRemovals = false)
    // exactness first: the gross window is +new(1..50 @2) and −old(1..50 @1)
    val got = feed.select("id", "v", "_change_type").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val want = ((1L to 50L).map(i => (i, 2, "insert")) ++
      (1L to 50L).map(i => (i, 1, "delete"))).toSet
    assert(got == want)
    // scale: no partition column exists, so the −old read must bound by
    // the delta dirs' OWN footer key range — only the key-overlapping
    // clustered base dirs are planned, never the whole base
    val plannedBase = feed.inputFiles.toSet.intersect(baseFiles)
    assert(plannedBase.nonEmpty && plannedBase.size <= baseFiles.size / 2,
      s"old-version read planned ${plannedBase.size} of ${baseFiles.size} " +
        "base files — the key-range stats prune did not fire")
  }

  test("min/max recompute: the truth read stats-prunes to the regressed keys' range on a clustered non-partition-grouped source") {
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", LongType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    val src = graft.table.WarehouseTable(tmpDir("mmprune") + "/src")
    src.create(sch, None, Map.empty)
    src.append(spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 1000L).map(i => Row(i, i, i.toInt)), 4), sch))
    src.clusterBase(spark, "g", 8)
    val baseFiles = src.read(spark).inputFiles.toSet
    // regressed keys g 1..50 — within one clustered bucket's key range
    val needKeys = (1L to 50L).map(g => Row(g): org.apache.spark.sql.Row).toArray
    val needDf = spark.createDataFrame(
      java.util.Arrays.asList(needKeys: _*),
      StructType(Seq(StructField("g", LongType, nullable = false))))
    // drive the EXACT production read (regressedTruth is what the
    // foreachBatch recompute calls)
    val rec = StreamingIngest.regressedTruth(
      spark, src, Seq("g"), Seq("v"), needDf, Some(needKeys),
      target = src.currentSnapshotId)
    // exactness: one row per needing key, extremes = the group's values
    val got = rec.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == (1L to 50L).map(g => (g, g, g)).toSet, s"truth diverged: $got")
    // scale: no partition column, group key ≠ partition key — the
    // derived key-RANGE dataFilters must reach the dir-level stats
    // prune, so only key-overlapping clustered dirs are planned
    val planned = rec.inputFiles.toSet.intersect(baseFiles)
    assert(planned.nonEmpty && planned.size <= baseFiles.size / 2,
      s"recompute planned ${planned.size} of ${baseFiles.size} base files " +
        "— the key-range stats prune did not fire")
  }

  test("min/max recompute: an over-threshold full-view regress skips the driver collect and drains via the distributed semi-join") {
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", LongType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    def df(rows: Seq[(Long, Long, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, g, v) => Row(i, g, v) }, 4), sch)
    val src = graft.table.WarehouseTable(tmpDir("mmwide") + "/src")
    src.create(sch, None,
      graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    // 100 groups, two rows each: {g, g+100} with v = id — so deleting
    // every id >= 100 removes EVERY group's max, i.e. a full-view
    // regress (the COW-rewrite-of-every-partition shape)
    src.merge(spark,
      df((0L until 200L).map(i => (i, i % 100, i.toInt))), Seq("id"))
    src.deleteKeysMor(spark,
      df((100L until 200L).map(i => (i, i % 100, 0))).select("id"), Seq("id"))
    // force the guard: 100 needing keys >> bound 8, so the recompute
    // must refuse the collect and run the distributed fallback — at
    // most bound+1 key rows ever reach the driver
    spark.conf.set("spark.graft.aggview.recompute.maxCollectKeys", "8")
    StreamingIngest.lastRecomputeCollected = None
    try {
      val view = graft.table.WarehouseTable(tmpDir("mmwide") + "/view")
      val q = StreamingIngest.startAggView(
        spark, src, view, Seq("g"), Seq("v"), tmpDir("mmwide_ckpt"),
        minMaxCols = Seq("v"))
      q.awaitTermination(240000)
      assert(StreamingIngest.lastRecomputeCollected.contains(false),
        "the over-threshold regress did not take the distributed path " +
          s"(marker: ${StreamingIngest.lastRecomputeCollected})")
      val got = StreamingIngest.readAggView(spark, view)
        .select("g", "n", "sum_v", "min_v", "max_v").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val want = (0L until 100L)
        .map(g => (g, 1L, g, g, g)).toSet
      assert(got == want, s"distributed recompute diverged: " +
        s"${(got -- want).take(5)} vs ${(want -- got).take(5)}")
    } finally {
      spark.conf.unset("spark.graft.aggview.recompute.maxCollectKeys")
      StreamingIngest.lastRecomputeCollected = None
    }
  }

  test("min/max agg view: a NULL group key folds AND recomputes null-safely") {
    import org.apache.spark.sql.Row
    // the fold path matches null group keys null-safely (MergeInto's
    // <=>); the recompute must too — a plain equi-join would drop the
    // null group from the truth read and wrongly NULL its extremes
    // the moment it regresses, even with live rows remaining
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", StringType, nullable = true),
      StructField("v", IntegerType, nullable = false)))
    def df(rows: Seq[(Long, String, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, g, v) => Row(i, g, v) }, 2), sch)
    val src = graft.table.WarehouseTable(tmpDir("mmnull") + "/src")
    src.create(sch, None,
      graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    src.merge(spark, df(Seq((1L, null, 10), (2L, null, 20),
      (3L, "a", 30), (4L, "a", 40))), Seq("id"))
    // each delete regresses its group's min: the null group MUST take
    // the recompute path and land 20, not NULL
    src.deleteKeysMor(spark, df(Seq((1L, null, 0))).select("id"), Seq("id"))
    src.deleteKeysMor(spark, df(Seq((3L, "a", 0))).select("id"), Seq("id"))
    val view = graft.table.WarehouseTable(tmpDir("mmnull") + "/view")
    val q = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), tmpDir("mmnull_ckpt"),
      minMaxCols = Seq("v"))
    q.awaitTermination(240000)
    val got = StreamingIngest.readAggView(spark, view)
      .select("g", "n", "sum_v", "min_v", "max_v").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4)))).toSet
    assert(got == Set(
      (None, 1L, 20L, Some(20L), Some(20L)),
      (Some("a"), 1L, 40L, Some(40L), Some(40L))),
      s"null-group view diverged: $got")
  }

  test("min/max recompute: a wide delete wave regressing >10^4 groups completes without an analyzer stall") {
    import org.apache.spark.sql.Row
    val nGroups = 12000
    val wide = 10000 // groups regressed by the delete wave
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", LongType, nullable = false),
      StructField("v", IntegerType, nullable = false)))
    def df(rows: Seq[(Long, Long, Int)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, g, v) => Row(i, g, v) }, 4), sch)
    val src = graft.table.WarehouseTable(tmpDir("mmwide") + "/src")
    src.create(sch, None,
      graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    // one row per group: deleting it regresses (and empties) the group
    src.merge(spark, df((1L to nGroups.toLong).map(i => (i, i, i.toInt))),
      Seq("id"))
    // delete wave: groups 1..10000 each lose their extreme-attaining
    // (only) row — the OLD OR-chain predicate would build a 10^4-term
    // Catalyst expression here and stall the driver in analysis; the
    // broadcast left-semi must sail through
    src.deleteKeysMor(spark,
      df((1L to wide.toLong).map(i => (i, i, 0))).select("id"), Seq("id"))
    val view = graft.table.WarehouseTable(tmpDir("mmwide") + "/view")
    val q = StreamingIngest.startAggView(
      spark, src, view, Seq("g"), Seq("v"), tmpDir("mmwide_ckpt"),
      minMaxCols = Seq("v"))
    q.awaitTermination(240000)
    val live = StreamingIngest.readAggView(spark, view)
      .select("g", "n", "min_v", "max_v").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(live.length == nGroups - wide, s"expected ${nGroups - wide} " +
      s"surviving groups, got ${live.length}")
    assert(live.forall { case (g, n, mn, mx) =>
      g > wide && n == 1L && mn == g && mx == g })
  }

  // ---- MIN/MAX counts at the extremes -------------------------------------

  private val mmSch = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("g", StringType, nullable = true),
    StructField("v", IntegerType, nullable = true)))

  private def mmRows(rows: (Long, String, Integer)*) = spark.createDataFrame(
    spark.sparkContext.parallelize(
      rows.map { case (i, g, v) => org.apache.spark.sql.Row(i, g, v) }, 2),
    mmSch)

  /** A MOR source with `rows` loaded: partitioned by g and keyed (id, g),
    * or unpartitioned and keyed on id alone (room for a NULL group).
    */
  private def mmSource(name: String, partitioned: Boolean = true)(
      rows: (Long, String, Integer)*): WarehouseTable = {
    val src = WarehouseTable(tmpDir(name) + "/src")
    src.create(mmSch, if (partitioned) Some("g") else None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    src.merge(spark, mmRows(rows: _*),
      if (partitioned) Seq("id", "g") else Seq("id"))
    src
  }

  private def mmUpsert(src: WarehouseTable, rows: (Long, String, Integer)*): Unit =
    src.merge(spark, mmRows(rows: _*), src.recordedMergeKeys.get)

  private def mmDelete(src: WarehouseTable, rows: (Long, String, Integer)*): Unit = {
    val keys = src.recordedMergeKeys.get
    src.deleteKeysMor(spark, mmRows(rows: _*).select(keys.map(col): _*), keys)
  }

  /** Drains `src` into the view beside it, `perWindow` commits a window. */
  private def mmDrain(src: WarehouseTable, perWindow: Int = 1): WarehouseTable = {
    val root = new java.io.File(src.root).getParent
    val view = WarehouseTable(root + "/view")
    StreamingIngest.startAggView(spark, src, view, Seq("g"), Seq("id"),
      root + "/ckpt", maxFilesPerTrigger = perWindow, minMaxCols = Seq("v"))
      .awaitTermination(180000)
    view
  }

  /** readAggView must equal a group-by over the source it summarises. */
  private def assertViewIsSource(src: WarehouseTable, view: WarehouseTable): Unit = {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    val got = rows(StreamingIngest.readAggView(spark, view)
      .select("g", "n", "sum_id", "min_v", "max_v"))
    val want = rows(src.read(spark).groupBy("g").agg(count(lit(1)),
      sum(col("id")), min(col("v").cast("long")), max(col("v").cast("long"))))
    assert(got == want, s"view diverged from the source: $got vs $want")
  }

  test("min/max agg view: an extreme other rows still hold needs no truth read") {
    // one group, values 1..3 ten rows each
    val src = mmSource("mmheld")(
      (1L to 30L).map(i => (i, "g0", Int.box(((i - 1) % 3 + 1).toInt))): _*)
    val view = mmDrain(src)
    StreamingIngest.lastRecomputeCollected = None
    try {
      // one window: a delete at the min, an update moving a max row to 2
      mmDelete(src, (1L, "g0", null))
      mmUpsert(src, (3L, "g0", 2))
      mmDrain(src, perWindow = 2)
      assertViewIsSource(src, view)
      // a COW partition rewrite re-lands every unchanged row as a
      // delete+insert pair: the counts at both extremes stay put
      src.updateRows(spark, Map("v" -> col("v")), Some(col("id") === 2L))
      mmDrain(src)
      assertViewIsSource(src, view)
      assert(StreamingIngest.lastRecomputeCollected.isEmpty,
        "a window that left both extremes held read the source: " +
          StreamingIngest.lastRecomputeCollected)
      val counts = graft.operators.IncrementalRollup.read(spark, view)
        .select("n_min_v", "n_max_v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(counts == Seq((9L, 9L)), s"counts at the extremes: $counts")
    } finally StreamingIngest.lastRecomputeCollected = None
  }

  test("min/max agg view: count algebra edge cases match a group-by over the source") {
    StreamingIngest.lastRecomputeCollected = None
    try {
      // the only row at the min leaves while a smaller value arrives:
      // the new min is held once, no truth read
      val a = mmSource("mmedge_a")((1L, "g0", 5), (2L, "g0", 6), (3L, "g0", 7))
      val va = mmDrain(a)
      mmDelete(a, (1L, "g0", null))
      mmUpsert(a, (4L, "g0", 2))
      mmDrain(a, perWindow = 2)
      assertViewIsSource(a, va)
      assert(StreamingIngest.lastRecomputeCollected.isEmpty)
      // a key lands below the min and moves up in the same window: the
      // net count at the new min is 0, so the group recomputes
      val b = mmSource("mmedge_b")((1L, "g0", 5), (2L, "g0", 6))
      val vb = mmDrain(b)
      mmUpsert(b, (3L, "g0", 1))
      mmUpsert(b, (3L, "g0", 9))
      mmDrain(b, perWindow = 2)
      assertViewIsSource(b, vb)
      assert(StreamingIngest.lastRecomputeCollected.contains(true))
      // NULL values never count: deleting the group's only non-null row
      // NULLs its extremes while n stays above 0; a NULL group key
      // matches its stored row null-safely
      val c = mmSource("mmedge_c", partitioned = false)((1L, "g0", 5),
        (2L, "g0", null), (3L, "g0", null), (4L, null, 3), (5L, null, 3),
        (6L, null, 8))
      val vc = mmDrain(c)
      mmUpsert(c, (7L, "g0", null))
      mmDelete(c, (4L, null, null))
      mmDrain(c)
      assertViewIsSource(c, vc)
      mmDelete(c, (1L, "g0", null), (5L, null, null))
      mmDrain(c)
      assertViewIsSource(c, vc)
      val g0 = StreamingIngest.readAggView(spark, vc).filter(col("g") === "g0")
        .select("n", "min_v", "max_v").collect().map(_.toSeq).toSeq
      assert(g0 == Seq(Seq(3L, null, null)), s"all-NULL group: $g0")
    } finally StreamingIngest.lastRecomputeCollected = None
  }

  test("agg view sums skip NULLs: an all-NULL window keeps the sum, a group left with only NULLs reads NULL") {
    for (minMax <- Seq(Nil, Seq("v"))) {
      val src = mmSource(s"nullsum_${minMax.size}")((1L, "g0", 5))
      val root = new java.io.File(src.root).getParent
      val view = WarehouseTable(root + "/view")
      def drain(): Unit = StreamingIngest.startAggView(spark, src, view, Seq("g"),
        Seq("v"), root + "/ckpt", minMaxCols = minMax).awaitTermination(180000)
      def assertSumsAreSource(): Unit = {
        def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
        val got = rows(StreamingIngest.readAggView(spark, view).select("g", "n", "sum_v"))
        val want = rows(src.read(spark).groupBy("g")
          .agg(count(lit(1)), sum(col("v").cast("long"))))
        assert(got == want, s"view diverged from the source: $got vs $want")
      }
      drain()
      // a window whose only row for the group is NULL in v
      mmUpsert(src, (2L, "g0", null))
      drain()
      assertSumsAreSource()
      // the last non-NULL value leaves: the sum reads NULL, n stays 1
      mmDelete(src, (1L, "g0", null))
      drain()
      assertSumsAreSource()
      val g0 = StreamingIngest.readAggView(spark, view)
      assert(g0.columns.toSeq ==
        (if (minMax.isEmpty) Seq("g", "n", "sum_v") else Seq("g", "max_v", "min_v", "n", "sum_v")))
      assert(g0.select("n", "sum_v").collect().map(_.toSeq).toSeq == Seq(Seq(1L, null)))
    }
  }

  test("min/max agg view: two MIN/MAX columns count each column's extreme on its own") {
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("g", StringType, nullable = false),
      StructField("a", IntegerType, nullable = false),
      StructField("b", IntegerType, nullable = false)))
    def rows(rs: (Long, String, Int, Int)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (i, g, a, b) =>
        org.apache.spark.sql.Row(i, g, a, b) }, 2), sch)
    val root = tmpDir("mmtwo")
    val src = WarehouseTable(root + "/src")
    src.create(sch, Some("g"), WarehouseTable.tableProperties("MOR", "snappy") +
      ("compact.delta.threshold" -> "0"))
    // a = 1 is held by two rows that differ in b
    src.merge(spark, rows((1L, "g0", 1, 6), (2L, "g0", 1, 5), (3L, "g0", 2, 7),
      (4L, "g1", 3, 3)), Seq("id", "g"))
    val view = WarehouseTable(root + "/view")
    def drain(): Unit = StreamingIngest.startAggView(spark, src, view, Seq("g"),
      Seq("a"), root + "/ckpt", minMaxCols = Seq("a", "b")).awaitTermination(180000)
    def assertViewIsSource(): Unit = {
      val got = StreamingIngest.readAggView(spark, view)
        .select("g", "n", "min_a", "max_a", "min_b", "max_b")
        .collect().map(_.toSeq).toSet
      val want = src.read(spark).groupBy("g").agg(count(lit(1)),
        min(col("a").cast("long")), max(col("a").cast("long")),
        min(col("b").cast("long")), max(col("b").cast("long")))
        .collect().map(_.toSeq).toSet
      assert(got == want, s"view diverged from the source: $got vs $want")
    }
    drain()
    val counts = graft.operators.IncrementalRollup.read(spark, view)
      .filter(col("g") === "g0")
      .select("n_min_a", "n_max_a", "n_min_b", "n_max_b").collect()
      .map(r => (0 to 3).map(r.getLong))
    assert(counts.toSeq == Seq(Seq(2L, 1L, 1L, 1L)), s"counts: ${counts.toSeq}")
    StreamingIngest.lastRecomputeCollected = None
    try {
      // one of a's two min rows leaves (b's 6 is no extreme): held
      src.deleteKeysMor(spark, rows((1L, "g0", 0, 0)).select("id", "g"),
        Seq("id", "g"))
      drain()
      assertViewIsSource()
      assert(StreamingIngest.lastRecomputeCollected.isEmpty,
        s"a held extreme read the source: ${StreamingIngest.lastRecomputeCollected}")
      // the only row at both maxima leaves: the group reads the truth
      src.deleteKeysMor(spark, rows((3L, "g0", 0, 0)).select("id", "g"),
        Seq("id", "g"))
      drain()
      assertViewIsSource()
      assert(StreamingIngest.lastRecomputeCollected.contains(true))
    } finally StreamingIngest.lastRecomputeCollected = None
  }

  test("min/max agg view: a crash replay keeps the counts at the extremes") {
    val src = mmSource("mmcrash")((1L, "g0", 1), (2L, "g0", 1), (3L, "g0", 4),
      (4L, "g1", 7))
    val view = mmDrain(src)
    val root = new java.io.File(src.root).getParent
    val before = view.sourcePosition(view.currentSnapshotId)
    // one window: a delete at g0's min, a new max
    mmDelete(src, (1L, "g0", null))
    mmUpsert(src, (5L, "g0", 6))
    mmDrain(src, perWindow = 2)
    def state() = graft.operators.IncrementalRollup.read(spark, view)
      .collect().map(_.toSeq).toSet
    val drained = state()
    // crash after the view write, before the checkpoint's commit entry
    val commits = new java.io.File(root + "/ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong)
    Files.delete(Paths.get(s"$root/ckpt/commits/${commits.max}"))
    Files.deleteIfExists(Paths.get(s"$root/ckpt/commits/.${commits.max}.crc"))
    StreamingIngest.lastRecomputeCollected = None
    try {
      mmDrain(src, perWindow = 2)
      assert(state() == drained, s"replay moved the view: ${state()} vs $drained")
      // the replayed delete would drop g0's count at 1 to 0 a second
      // time; the recorded position skips the window before the probe
      assert(StreamingIngest.lastRecomputeCollected.isEmpty,
        "a replayed window read the source")
    } finally StreamingIngest.lastRecomputeCollected = None
    assert(view.sourcePosition(view.currentSnapshotId) != before)
    assertViewIsSource(src, view)
  }

  test("min/max agg view: a view without the per-extreme counts is refused, not migrated") {
    val src = mmSource("mmold")((1L, "g0", 5))
    val root = new java.io.File(src.root).getParent
    val view = WarehouseTable(root + "/view")
    // the layout a MIN/MAX view had before it counted its extremes
    graft.operators.IncrementalRollup.commit(spark,
      mmRows((1L, "g0", 5)).select(col("g"), col("id").as("sum_id"),
        lit(1L).as("n"), col("v").cast("long").as("min_v"),
        col("v").cast("long").as("max_v")),
      Seq("g"), Map("sum_id" -> "sum", "n" -> "sum", "min_v" -> "min",
        "max_v" -> "max"), view, 1L)
    val snap = view.currentSnapshotId
    val err = intercept[IllegalStateException](mmDrain(src))
    assert(err.getMessage.contains(view.root) && err.getMessage.contains(
      "drop the view and the stream checkpoint"),
      err.getMessage)
    assert(view.currentSnapshotId == snap)
    assert(view.sourcePosition(snap).isEmpty)
  }

  test("min/max agg view: a malformed maxCollectKeys conf is refused at start") {
    val key = "spark.graft.aggview.recompute.maxCollectKeys"
    val src = mmSource("mmconf")((1L, "g0", 5))
    val root = new java.io.File(src.root).getParent
    try Seq("abc", "0", Int.MaxValue.toString).foreach { bad =>
      spark.conf.set(key, bad)
      val err = intercept[IllegalArgumentException](mmDrain(src))
      assert(err.getMessage.contains(key), err.getMessage)
      assert(!WarehouseTable(root + "/view").exists)
    } finally spark.conf.unset(key)
    // a sum-only drain never reads the conf, so it still starts over one
    val sums = WarehouseTable(root + "/sums")
    try {
      spark.conf.set(key, "abc")
      StreamingIngest.startAggView(spark, src, sums, Seq("g"), Seq("id"),
        root + "/sums_ckpt").awaitTermination(180000)
    } finally spark.conf.unset(key)
    assert(StreamingIngest.readAggView(spark, sums).select("g", "n", "sum_id")
      .collect().map(_.toSeq).toSeq == Seq(Seq("g0", 1L, 1L)))
  }

  test("agg view write: a NULL truth lands, an un-repaired group folds, a replayed window changes no group") {
    // g0 is held by one row; g1 by two
    val src = mmSource("mmwrite")((1L, "g0", 5), (2L, "g1", 3), (3L, "g1", 7))
    val view = mmDrain(src)
    val root = new java.io.File(src.root).getParent
    // one window: g0 is emptied (its truth is NULL extremes at count 0),
    // g1 gains a new max, which folds without a truth read
    mmDelete(src, (1L, "g0", null))
    mmUpsert(src, (4L, "g1", 9))
    val viewSnap = view.currentSnapshotId
    StreamingIngest.lastRecomputeCollected = None
    def state() = graft.operators.IncrementalRollup.read(spark, view)
      .select("g", "n", "sum_id", "min_v", "max_v", "n_min_v", "n_max_v")
      .collect().map(_.toSeq).toSet
    try {
      mmDrain(src, perWindow = 2)
      assert(StreamingIngest.lastRecomputeCollected.contains(true),
        "the emptied group was not read from the source")
    } finally StreamingIngest.lastRecomputeCollected = None
    // one window, one view write
    assert(view.currentSnapshotId == viewSnap + 1)
    val want = Set(
      Seq("g0", 0L, 0L, null, null, 0L, 0L),
      Seq("g1", 3L, 9L, 3L, 9L, 1L, 1L))
    assert(state() == want, s"got ${state()}")
    assertViewIsSource(src, view)
    // replay the window: the checkpoint's last commit goes back, the
    // view write does not
    val commits = new java.io.File(root + "/ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong)
    Files.delete(Paths.get(s"$root/ckpt/commits/${commits.max}"))
    Files.deleteIfExists(Paths.get(s"$root/ckpt/commits/.${commits.max}.crc"))
    try {
      mmDrain(src, perWindow = 2)
      assert(StreamingIngest.lastRecomputeCollected.isEmpty,
        "a replayed window read the source")
    } finally StreamingIngest.lastRecomputeCollected = None
    assert(state() == want, s"replay moved the view: ${state()}")
  }

  test("agg view write: a view commit racing the window fails it; nothing advances; a restart converges") {
    val src = mmSource("mmrace")((1L, "g0", 5), (2L, "g1", 3))
    val view = mmDrain(src)
    val root = new java.io.File(src.root).getParent
    val positionBefore = view.sourcePosition(view.currentSnapshotId)
    def commits() = new java.io.File(root + "/ckpt/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong).toSet
    def dataDirs() = new java.io.File(view.root + "/data").list().toSet
    val commitsBefore = commits()
    mmUpsert(src, (3L, "g0", 1))
    mmDelete(src, (2L, "g1", null))
    // the racer rewrites the view with its own content, between the
    // window's read of the view and its write
    var afterRace = Set.empty[String]
    StreamingIngest.beforeConsumerWrite = { () =>
      view.overwrite(view.read(spark))
      afterRace = dataDirs()
    }
    val err =
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        mmDrain(src, perWindow = 2))
      finally StreamingIngest.beforeConsumerWrite = () => ()
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]), err)
    assert(afterRace.nonEmpty && dataDirs() == afterRace,
      "the refused view write left a data dir")
    assert(view.sourcePosition(view.currentSnapshotId) == positionBefore)
    assert(commits() == commitsBefore)
    mmDrain(src, perWindow = 2)
    assertViewIsSource(src, view)
  }

  test("agg view rollback: the view's position rolls back with it, and the next drain re-converges") {
    val src = mmSource("mmroll")((1L, "g0", 5), (2L, "g1", 3))
    val view = mmDrain(src)
    val k = view.currentSnapshotId
    val applied = view.sourcePosition(k)
    mmUpsert(src, (3L, "g0", 1))
    mmDelete(src, (2L, "g1", null))
    mmDrain(src)
    assertViewIsSource(src, view)
    // the view goes back to k, and with it the source position it
    // applied through; one more source commit, then a drain
    view.rollback(k)
    assert(view.sourcePosition(view.currentSnapshotId) == applied)
    mmUpsert(src, (4L, "g2", 8))
    mmDrain(src)
    // the windows after k are re-applied with the new one
    assertViewIsSource(src, view)
  }

  test("streaming window prober: as-of-arrival join — each batch sees itself and every earlier interval") {
    import spark.implicits._
    import graft.operators.RangeIndex
    import org.apache.spark.sql.functions.expr
    // seed: one wide interval; batch0 and batch1 each register a ±5
    // window around their own points before probing
    val idx = graft.table.WarehouseTable(tmpDir("wprob") + "/idx")
    RangeIndex.indexAtRest(
      Seq((100L, 0L, 1000L)).toDF("iv", "s", "e"),
      "s", "e", Seq("iv"), idx, bucketWidth = 10L)
    val b0 = Seq((1L, 50L), (2L, 61L)).toDF("pid", "p")
    val b1 = Seq((3L, 55L), (4L, 900L)).toDF("pid", "p")
    val landing = tmpDir("wprob_land")
    Seq(b0 -> "f0", b1 -> "f1").foreach { case (df, nm) =>
      val stage = tmpDir(s"wprob_stage_$nm") + "/files"
      df.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    val toIntervals = (b: org.apache.spark.sql.DataFrame) =>
      b.select((col("pid") + 10L).as("iv"),
        (col("p") - 5L).as("s"), (col("p") + 5L).as("e"))
    val outDir = tmpDir("wprob_out")
    val q = StreamingIngest.startWindowProber(
      spark, FileStreamSpec(landing, b0.schema, maxFilesPerTrigger = 1),
      pointCol = "p", toIntervals = toIntervals, indexTable = idx,
      outDir = outDir, checkpointDir = tmpDir("wprob_ckpt"))
    q.awaitTermination(120000)
    val out = spark.read.parquet(outDir + "/batch=*")
      .select("pid", "iv").as[(Long, Long)].collect().toSet
    // batch0: seed covers both points; windows 11 (45..55) and 12
    // (56..66) registered first, so 50∈11, 61∈12 (self), and no cross
    // (50∉12, 61∉11). batch1: 55 hits seed + 11 + its own 13 (50..60),
    // not 12 (55 < 56); 900 hits seed + its own 14 (895..905).
    assert(out == Set(
      (1L, 100L), (1L, 11L),
      (2L, 100L), (2L, 12L),
      (3L, 100L), (3L, 11L), (3L, 13L),
      (4L, 100L), (4L, 14L)))
    ()
  }

  test("streaming intra-doc scrubber equals batch intraDocLineDedup on the same files") {
    import spark.implicits._
    import graft.operators.TextDedup
    import org.apache.spark.sql.functions.concat
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        concat(col("text"), lit("\necho line\n"), col("text"),
          lit("\necho line")).as("text"))
    val landing = tmpDir("idl_land")
    val staging = tmpDir("idl_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("idl_out")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, tmpDir("idl_ckpt"))(TextDedup.intraDocLineDedup(_, "doc_id", "text"))
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "n_lines", "n_removed", "clean_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = TextDedup.intraDocLineDedup(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.forall(_._3 >= 2)) // the planted repeats were removed
  }

  test("streaming entropy scorer equals batch charEntropy on the same files") {
    import spark.implicits._
    import graft.operators.Repetition
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val landing = tmpDir("ent_land")
    val staging = tmpDir("ent_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val outDir = tmpDir("ent_out") + "/scored"
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, tmpDir("ent_ckpt"))(Repetition.charEntropy(_, "doc_id", "text"))
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "n_chars", "entropy")
      .as[(Long, Long, Double)].collect().toSet
    val batch = Repetition.charEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("streaming diff classifier equals batch corpusDiff on arrival statuses") {
    import spark.implicits._
    import graft.operators.Dedup
    val baseline = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    // arrivals: unchanged copies, edits, and brand-new ids
    val arrivals = baseline.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(baseline.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 900000).as("doc_id"), col("text")))
    val landing = tmpDir("diff_land")
    val staging = tmpDir("diff_stage") + "/files"
    arrivals.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
      .foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet")) }
    val outDir = tmpDir("diff_out") + "/classified"
    val q = StreamingIngest.startDiffClassifier(
      spark, FileStreamSpec(landing, arrivals.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text", baseline = baseline,
      outDir = outDir, checkpointDir = tmpDir("diff_ckpt"))
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id", "status").as[(Long, String)].collect().toSet
    val batch = Dedup.corpusDiff(baseline, arrivals, "doc_id", "text")
      .filter(col("status") =!= "removed") // absence is a snapshot property
      .select("id", "status").as[(Long, String)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(Set("added", "changed", "unchanged")
      .subsetOf(streamed.map(_._2))) // every class exercised
  }

  test("streaming mixture sampler under frozen cuts equals batch temperature sample") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("mega")).otherwise(col("source"))
          .as("source"))
    val batchKept = Sampling.temperatureSample(docs, "source", "doc_id",
      temperature = 0.5, targetFrac = 0.3)
    val cuts = batchKept.select("source", "cut").distinct()
      .as[(String, Int)].collect().toMap
    // strata absent from the kept set still need their cut for the stream:
    // recompute the full rate table via a 0-row-loss run is overkill for a
    // fixture this small — any stratum missing from cuts simply has no
    // kept rows, so its absence from the stream output matches batch.
    val landing = tmpDir("mix_land")
    val staging = tmpDir("mix_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).zipWithIndex
      .foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet")) }
    val outDir = tmpDir("mix_out") + "/kept"
    val q = StreamingIngest.startMixtureSampler(
      spark, FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1),
      stratumCol = "source", keyCol = "doc_id", cuts = cuts,
      outDir = outDir, checkpointDir = tmpDir("mix_ckpt"))
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(outDir)
      .select("doc_id").as[Long].collect().toSet
    val batch = batchKept.select("doc_id").as[Long].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("watermarked windowed rollup produces bounded-state aggregates") {
    import spark.implicits._
    val events = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:02:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:01:00"), "view", 5.0)
    ).toDF("ts", "event_type", "value")
    // run the streaming aggregation expression in batch mode (same plan
    // shape; watermark is a no-op on a bounded frame)
    val out = StreamingIngest.windowedRollup(events, "1 hour", "10 minutes")
      .select("event_type", "n", "sum_value")
      .as[(String, Long, Double)].collect().toSet
    assert(out == Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
    // hopping: 1 h window every 30 min -> each event lands in 2 instances
    val hop = StreamingIngest.windowedRollup(
        events, "1 hour", "10 minutes", slide = Some("30 minutes"))
      .select("window_start", "event_type", "n")
      .as[(java.sql.Timestamp, String, Long)].collect()
    assert(hop.map(_._3).sum == 2 * 3) // q130's len/slide fan-out rule
    assert(hop.filter(_._2 == "click").map(_._1.toString).sorted.toSeq ==
      Seq("2023-12-31 23:30:00.0", "2024-01-01 00:00:00.0"))
  }

  test("streaming repetition scorer equals batch gopherRepetition on the same files") {
    import spark.implicits._
    import graft.operators.Repetition
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val landing = tmpDir("rep_land")
    val staging = tmpDir("rep_stage") + "/files"
    docs.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("rep_out")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, docs.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, tmpDir("rep_ckpt"))(Repetition.gopherRepetition(_, "doc_id", "text"))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .collect().map(_.toSeq).toSet
    val batch = Repetition.gopherRepetition(docs, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    ()
  }

  test("streaming C4 scrubber equals batch C4Rules on the same files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // plant line structure the q113 way (terminal punct on some lines)
    val planted = raw.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0,
          lit("\na planted line with terminal punctuation ."))
          .otherwise(lit("\nshort .")))
        .as("text"))
    val landing = tmpDir("c4_land")
    val staging = tmpDir("c4_stage") + "/files"
    planted.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("c4_out")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, planted.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, tmpDir("c4_ckpt"))(graft.operators.C4Rules.clean(_, "doc_id", "text"))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .collect().map(_.toSeq).toSet
    val batch = graft.operators.C4Rules.clean(planted, "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    ()
  }

  test("streaming cluster maintainer: at-rest clusters equal full recompute over all batches") {
    import spark.implicits._
    import graft.operators.{Dedup, TextDedup}
    import org.apache.spark.sql.functions.{col, count, lit, min}
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val shC = TextDedup.shingled(corpus, "doc_id", "text", 3)
    val corpusPairs = TextDedup.verifyPairs(
      TextDedup.minHashCandidates(shC), shC, 0.5)
    val table = graft.table.WarehouseTable(tmpDir("ccmaint") + "/cc")
    Dedup.componentsCommit(spark,
      corpus.select(col("doc_id").as("id")),
      corpusPairs.select(col("d1"), col("d2")), table)
    // arrival sources: three corpus docs with NO near-dup partner (their
    // copies' only edges are to their own source / each other) — keeps
    // the frozen-corpus stage equivalent to full union mining
    val singles = table.read(spark)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"), min(col("id")).as("id"))
      .filter(col("n") === 1).orderBy(col("id")).limit(3)
      .select(col("id")).as[Long].collect()
    val Array(s1, s2, s3) = singles
    def textOf(id: Long): String =
      corpus.filter(col("doc_id") === id).select("text").as[String].head()
    val off = 1000000000L
    val batchA = Seq((off + 1, textOf(s1)), (off + 2, textOf(s1)),
      (off + 3, textOf(s2))).toDF("doc_id", "text")
    val batchB = Seq((off + 4, textOf(s3))).toDF("doc_id", "text")
    val landing = tmpDir("ccm_land")
    Seq(batchA -> "f0", batchB -> "f1").foreach { case (df, nm) =>
      val stage = tmpDir(s"ccm_stage_$nm") + "/files"
      df.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    val outDir = tmpDir("ccm_out")
    val q = StreamingIngest.startClusterMaintainer(
      spark, FileStreamSpec(landing, batchA.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text", corpus = corpus, table = table,
      outDir = outDir, checkpointDir = tmpDir("ccm_ckpt"))
    q.awaitTermination(300000)
    val stored = table.read(spark).as[(Long, Long)].collect().toSet
    // ground truth: one-shot mining + clustering over corpus ∪ arrivals
    val union = corpus.unionByName(batchA).unionByName(batchB)
    val shU = TextDedup.shingled(union, "doc_id", "text", 3)
    val full = Dedup.connectedComponents(
      union.select(col("doc_id").as("id")),
      TextDedup.verifyPairs(TextDedup.minHashCandidates(shU), shU, 0.5)
        .select(col("d1"), col("d2")))
      .as[(Long, Long)].collect().toSet
    assert(stored == full)
    // the copies joined their sources' clusters (label = min id = source)
    assert(stored.contains((off + 1, s1)) && stored.contains((off + 2, s1)))
    assert(stored.contains((off + 3, s2)) && stored.contains((off + 4, s3)))
    // audit rows landed per batch
    val audits = spark.read.parquet(s"$outDir/batch=*")
      .select("n_arrivals", "n_within_edges", "n_cross_edges")
      .as[(Long, Long, Long)].collect().toSet
    assert(audits == Set((3L, 1L, 3L), (1L, 0L, 1L)))
    ()
  }

  test("streaming corpus deduper: table converges to cluster minima; full replay changes nothing") {
    import spark.implicits._
    import graft.operators.{Dedup, TextDedup}
    import org.apache.spark.sql.functions.{col, count, lit, min}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpusTable = graft.table.WarehouseTable(tmpDir("cdup") + "/corpus")
    corpusTable.create(docs.schema,
      properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
    corpusTable.append(docs)
    val clusterTable = graft.table.WarehouseTable(tmpDir("cdup") + "/clusters")
    val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
    Dedup.componentsCommit(spark, docs.select(col("doc_id").as("id")),
      TextDedup.verifyPairs(TextDedup.minHashCandidates(sh), sh, 0.5)
        .select(col("d1"), col("d2")), clusterTable)
    Dedup.keepOneMaterialize(spark, corpusTable,
      clusterTable.read(spark), "doc_id")
    val survivors0 = corpusTable.read(spark)
      .select("doc_id").as[Long].collect().toSet
    val singles = clusterTable.read(spark)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"), min(col("id")).as("id"))
      .filter(col("n") === 1).orderBy(col("id")).limit(2)
      .select(col("id")).as[Long].collect()
    val Array(s1, s2) = singles
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").as[String].head()
    val off = 1000000000L
    val novel = (1 to 30).map(i => s"novelword$i").mkString(" ")
    val batchA = Seq((off + 1, textOf(s1)), (off + 2, textOf(s1)))
      .toDF("doc_id", "text")
    val batchB = Seq((off + 3, textOf(s2)), (off + 9, novel))
      .toDF("doc_id", "text")
    val landing = tmpDir("cdup_land")
    Seq(batchA -> "f0", batchB -> "f1").foreach { case (df, nm) =>
      val stage = tmpDir(s"cdup_stage_$nm") + "/files"
      df.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    val q = StreamingIngest.startCorpusDeduper(
      spark, FileStreamSpec(landing, batchA.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text",
      corpusTable = corpusTable, clusterTable = clusterTable,
      outDir = tmpDir("cdup_out"), checkpointDir = tmpDir("cdup_ckpt"))
    q.awaitTermination(300000)
    val after = corpusTable.read(spark)
      .select("doc_id").as[Long].collect().toSet
    // every re-crawl copy died (its source is its cluster minimum); the
    // genuinely novel doc survived
    assert(after == survivors0 + (off + 9))
    // the cluster table carries the copies' assignments to their sources
    val cl = clusterTable.read(spark).as[(Long, Long)].collect().toMap
    assert(cl(off + 1) == s1 && cl(off + 2) == s1 && cl(off + 3) == s2
      && cl(off + 9) == off + 9)
    // FULL replay (fresh checkpoint, same landing): keyed upsert + fold +
    // delete all converge — nothing changes
    val q2 = StreamingIngest.startCorpusDeduper(
      spark, FileStreamSpec(landing, batchA.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text",
      corpusTable = corpusTable, clusterTable = clusterTable,
      outDir = tmpDir("cdup_out2"), checkpointDir = tmpDir("cdup_ckpt2"))
    q2.awaitTermination(300000)
    assert(corpusTable.read(spark)
      .select("doc_id").as[Long].collect().toSet == after)
    assert(clusterTable.read(spark).as[(Long, Long)].collect().toMap == cl)
    ()
  }

  test("indexed streaming corpus deduper: pruned probes converge like the scan form; index stays corpus-aligned; replay changes nothing") {
    import spark.implicits._
    import graft.operators.{Dedup, TextDedup}
    import org.apache.spark.sql.functions.{col, count, lit, min}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val indexTable = graft.table.WarehouseTable(tmpDir("icdup") + "/mh_idx")
    val corpusTable = graft.table.WarehouseTable(tmpDir("icdup") + "/corpus")
    val clusterTable = graft.table.WarehouseTable(tmpDir("icdup") + "/clusters")
    // seed index + corpus through the SAME keyed commit the stage uses
    TextDedup.minhashIndexAtRest(docs.limit(0), "doc_id", "text", indexTable)
    TextDedup.minhashIndexCommit(
      spark, docs, "doc_id", "text", indexTable, corpusTable)
    val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
    Dedup.componentsCommit(spark, docs.select(col("doc_id").as("id")),
      TextDedup.verifyPairs(TextDedup.minHashCandidates(sh), sh, 0.5)
        .select(col("d1"), col("d2")), clusterTable)
    Dedup.keepOneMaterialize(spark, corpusTable,
      clusterTable.read(spark), "doc_id")
    val survivors0 = corpusTable.read(spark)
      .select("doc_id").as[Long].collect().toSet
    val singles = clusterTable.read(spark)
      .groupBy(col("cluster")).agg(count(lit(1)).as("n"), min(col("id")).as("id"))
      .filter(col("n") === 1).orderBy(col("id")).limit(2)
      .select(col("id")).as[Long].collect()
    val Array(s1, s2) = singles
    def textOf(id: Long): String =
      docs.filter(col("doc_id") === id).select("text").as[String].head()
    val off = 2000000000L
    val novel = (1 to 30).map(i => s"idxnovel$i").mkString(" ")
    val batchA = Seq((off + 1, textOf(s1)), (off + 2, textOf(s1)))
      .toDF("doc_id", "text")
    val batchB = Seq((off + 3, textOf(s2)), (off + 9, novel))
      .toDF("doc_id", "text")
    val landing = tmpDir("icdup_land")
    Seq(batchA -> "f0", batchB -> "f1").foreach { case (df, nm) =>
      val stage = tmpDir(s"icdup_stage_$nm") + "/files"
      df.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(f.toPath, Paths.get(s"$landing/$nm.parquet"))
    }
    val q = StreamingIngest.startIndexedCorpusDeduper(
      spark, FileStreamSpec(landing, batchA.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text",
      indexTable = indexTable, corpusTable = corpusTable,
      clusterTable = clusterTable,
      outDir = tmpDir("icdup_out"), checkpointDir = tmpDir("icdup_ckpt"))
    q.awaitTermination(300000)
    val after = corpusTable.read(spark)
      .select("doc_id").as[Long].collect().toSet
    // re-crawl copies died against their sources; the novel doc survived
    assert(after == survivors0 + (off + 9))
    val cl = clusterTable.read(spark).as[(Long, Long)].collect().toMap
    assert(cl(off + 1) == s1 && cl(off + 2) == s1 && cl(off + 3) == s2
      && cl(off + 9) == off + 9)
    // index hygiene: the id set the index knows IS the corpus — deleted
    // docs' band hashes left with them
    val idxIds = indexTable.read(spark)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(idxIds == after)
    // FULL replay (fresh checkpoint, same landing): keyed commits + fold +
    // deletes all converge — corpus, clusters AND index unchanged
    val q2 = StreamingIngest.startIndexedCorpusDeduper(
      spark, FileStreamSpec(landing, batchA.schema, maxFilesPerTrigger = 1),
      idCol = "doc_id", textCol = "text",
      indexTable = indexTable, corpusTable = corpusTable,
      clusterTable = clusterTable,
      outDir = tmpDir("icdup_out2"), checkpointDir = tmpDir("icdup_ckpt2"))
    q2.awaitTermination(300000)
    assert(corpusTable.read(spark)
      .select("doc_id").as[Long].collect().toSet == after)
    assert(clusterTable.read(spark).as[(Long, Long)].collect().toMap == cl)
    assert(indexTable.read(spark)
      .select("doc_id").distinct().as[Long].collect().toSet == after)
    ()
  }

  test("streaming boilerplate scrubber under a frozen line set matches batch q103") {
    import spark.implicits._
    import graft.operators.TextDedup
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // plant chrome the q103 way: high-df banner + one 2-doc quotation
    val planted = raw.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          lit("\nplanted banner line")).otherwise(lit("")),
        when(col("doc_id").isin(1L, 2L),
          lit("\nrare pair quote")).otherwise(lit("")))
        .as("text"))
    val model = TextDedup
      .boilerplateModel(planted, "doc_id", "text", maxDf = 3).cache()
    val landing = tmpDir("bp_land")
    val staging = tmpDir("bp_stage") + "/files"
    planted.repartition(2).write.parquet(staging)
    new java.io.File(staging).listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex.foreach { case (f, i) =>
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
      }
    val outDir = tmpDir("bp_out")
    val ckpt = tmpDir("bp_ckpt")
    val q = StreamingIngest.batchStage(
      FileStreamSpec(landing, planted.schema, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(TextDedup.scrubBoilerplate(_, "doc_id", "text", model))
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "n_lines", "n_boiler_lines", "clean_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val batch = TextDedup.lineBoilerplate(planted, "doc_id", "text", maxDf = 3)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(streamed == batch)
    // the scrubbed text really dropped the banner (doc 3 carried it) and
    // kept the two-document quotation (doc 1 — df 2 < 3)
    val scrubbed = spark.read.parquet(s"$outDir/batch=*")
    val d3 = scrubbed.filter(col("doc_id") === 3L)
      .select("clean_text").as[String].head()
    assert(!d3.contains("planted banner line"))
    val d1 = scrubbed.filter(col("doc_id") === 1L)
      .select("clean_text").as[String].head()
    assert(d1.contains("rare pair quote"))
    model.unpersist()
    ()
  }

  test("ordered funnel stream equals the batch funnel under shuffled cross-batch arrivals") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{FunnelProgress, TimedFunnelEvent}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // 8 users × deterministic pseudo-random step events over [0, 500] s,
    // including strict-tie traps (same-instant next step) and regressions
    val rnd = new scala.util.Random(42)
    val evs = (1L to 8L).flatMap { u =>
      // times start at 1 s: Spark's late policy drops rows at or before
      // the watermark, and the INITIAL watermark is 0 — a t=0 event
      // would be declared late before the state function ever ran
      (0 until 9).map { _ =>
        TimedFunnelEvent(u, rnd.nextInt(3), ts(rnd.nextInt(500).toLong + 1))
      }
    }
    // adversarial arrival order: global shuffle, then 5 micro-batches
    val shuffled = rnd.shuffle(evs)
    val batches = shuffled.grouped((shuffled.size + 4) / 5).toSeq
    val input = MemoryStream[TimedFunnelEvent]
    val q = StreamingIngest.funnelStreamOrdered(
        input.toDS(), nSteps = 3, watermark = "2 hours")
      .writeStream.format("memory").queryName("ofun_out")
      .outputMode("update").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    // flush: a sentinel user far in the future pushes the watermark past
    // every real event; the event-time timeouts then drain the buffers
    input.addData(TimedFunnelEvent(-1L, 0, ts(500 + 3 * 3600)))
    q.processAllAvailable()
    q.processAllAvailable()
    val fin = spark.table("ofun_out").as[FunnelProgress].collect()
      .filter(_.user_id >= 0).groupBy(_.user_id).map { case (u, rows) =>
        u -> rows.maxBy(r => (r.reached, r.t_last))
      }
    q.stop()
    // reference: the batch greedy fold over each user's time-sorted events
    val expected = evs.groupBy(_.user_id).map { case (u, es) =>
      var times = Vector.empty[Long]
      es.sortBy(e => (e.ts.getTime, e.step)).foreach { e =>
        val k = times.size
        if (k < 3 && e.step == k && (k == 0 || e.ts.getTime > times(k - 1)))
          times = times :+ e.ts.getTime
      }
      u -> ((times.size, times.headOption.getOrElse(-1L),
        times.lastOption.getOrElse(-1L)))
    }
    // every user was touched, so every user has progress rows
    assert(fin.keySet == expected.keySet)
    expected.foreach { case (u, (reached, tf, tl)) =>
      val r = fin(u)
      assert((r.reached, r.t_first, r.t_last) == ((reached, tf, tl)),
        s"user $u diverged")
    }
    // and the per-step conversion counts equal the real batch operator
    val all = evs.map(e => (e.user_id, s"s${e.step}", e.ts.getTime))
      .toDF("user_id", "event_type", "t")
    val batchCounts = graft.operators.EventAnalytics.funnel(
        all, "user_id", "event_type", "t", Seq("s0", "s1", "s2"))
      .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
    (1 to 3).foreach { k =>
      assert(batchCounts(k) == fin.values.count(_.reached >= k))
    }
  }

  test("ordered sessionization equals batch sessionize under shuffled cross-batch arrivals") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{ClosedSession, SessionEvent}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    val rnd = new scala.util.Random(7)
    // 5 users × events clustered into gap-separated bursts (gap = 60 s)
    val evs = (1L to 5L).flatMap { u =>
      // +1 s floor: rows at or before the initial watermark (0) are
      // dropped as late by Spark before the state function runs
      (0 until 12).map { _ =>
        SessionEvent(u, ts(rnd.nextInt(6) * 300L + rnd.nextInt(40) + 1),
          rnd.nextInt(10).toDouble)
      }
    }
    val shuffled = rnd.shuffle(evs)
    val batches = shuffled.grouped((shuffled.size + 3) / 4).toSeq
    val input = MemoryStream[SessionEvent]
    val q = StreamingIngest.sessionizeStreamOrdered(
        input.toDS(), gapMs = 60000L, watermark = "2 hours")
      .writeStream.format("memory").queryName("osess_out")
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    input.addData(SessionEvent(-1L, ts(3 * 3600 + 7200), 0.0))
    q.processAllAvailable()
    q.processAllAvailable()
    val streamed = spark.table("osess_out").as[ClosedSession].collect()
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events, s.sum_value)).toSet
    q.stop()
    // batch twin: sessionize tags rows; fold tags into closed sessions
    val tagged = graft.operators.TemporalJoins.sessionize(
      evs.map(e => (e.user_id, e.ts.getTime, e.value))
        .toDF("user_id", "t", "value"),
      Seq("user_id"), "t", tiebreak = "value", maxGap = 60000L)
    val batchSessions = tagged.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("t")).as("st"), max(col("t")).as("en"),
        count(lit(1)).as("n"), sum(col("value")).as("sv"))
      .select("user_id", "st", "en", "n", "sv")
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    assert(streamed == batchSessions)
  }

  test("streaming last-touch attribution equals the batch as-of rollup on ordered arrivals") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{AttrEvent, AttributedPurchase}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    def click(u: Long, id: Long, ch: Long, sec: Long) =
      AttrEvent(u, id, is_click = true, ch, 0.0, ts(sec))
    def buy(u: Long, id: Long, v: Double, sec: Long) =
      AttrEvent(u, id, is_click = false, 0L, v, ts(sec))
    val evs = Seq(
      click(1, 10, 2, 100), buy(1, 11, 5.0, 150),  // same-instant click 12
      click(1, 12, 3, 150),                        // outranks click 10:
      buy(1, 13, 7.0, 150),                        // c.t <= p.t → both ch 3
      buy(2, 20, 9.0, 80),                         // clickless → organic
      click(2, 21, 1, 90), click(2, 22, 0, 90),    // tie → larger id (22)
      buy(2, 23, 4.0, 200),                        // → ch 0
      click(3, 30, 2, 50), buy(3, 31, 1.0, 400))   // 350 s later → ch 2
    // ordered arrivals: global time order, split across 3 batches
    val ordered = evs.sortBy(e => (e.ts.getTime, e.event_id))
    val batches = ordered.grouped((ordered.size + 2) / 3).toSeq
    val input = MemoryStream[AttrEvent]
    val q = StreamingIngest.attributionStream(input.toDS(), watermark = "0 seconds")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    val streamed = spark.table("attr_out").as[AttributedPurchase].collect()
      .map(p => (p.event_id, p.channel, p.value)).toSet
    q.stop()
    assert(streamed == Set(
      (11L, "3", 5.0), (13L, "3", 7.0), (20L, "organic", 9.0),
      (23L, "0", 4.0), (31L, "2", 1.0)))
    // the batch twin agrees: asofJoinBackward + organic coalesce
    val purchases = evs.filterNot(_.is_click)
      .map(e => (e.user_id, e.event_id, e.value, e.ts.getTime))
      .toDF("user_id", "event_id", "value", "t")
    val clicks = evs.filter(_.is_click)
      .map(e => (e.user_id, e.event_id, e.channel, e.ts.getTime))
      .toDF("user_id", "click_id", "channel", "t")
    val batchAttr = graft.operators.TemporalJoins.asofJoinBackward(
        purchases, clicks, keys = Seq("user_id"),
        leftTime = "t", rightTime = "t",
        rightValueCols = Seq("channel"), tiebreak = "click_id")
      .select(col("event_id"),
        coalesce(col("asof_channel").cast("string"), lit("organic")).as("ch"),
        col("value"))
      .as[(Long, String, Double)].collect().toSet
    assert(batchAttr == streamed)
    // windowed attribution: a 30 s window de-credits user 3's stale click
    // (350 s gap) and expires newest-click state losslessly
    val input2 = MemoryStream[AttrEvent]
    val q2 = StreamingIngest.attributionStream(
        input2.toDS(), watermark = "0 seconds",
        attributionWindowMs = Some(30000L))
      .writeStream.format("memory").queryName("attr_win_out")
      .outputMode("append").start()
    batches.foreach { b => input2.addData(b: _*); q2.processAllAvailable() }
    val windowed = spark.table("attr_win_out").as[AttributedPurchase].collect()
      .map(p => (p.event_id, p.channel)).toMap
    q2.stop()
    assert(windowed(31L) == "organic") // click 350 s before > 30 s window
    assert(windowed(11L) == "3" && windowed(13L) == "3")
  }

  test("streaming forgetter cascades per micro-batch; audit receipts sum; replayed ids delete nothing") {
    import spark.implicits._
    import graft.pipeline.Forget
    val root = tmpDir("sforget")
    val docs = (1L to 40L).map(i => (i, s"text-$i")).toDF("doc_id", "text")
    val corpus = WarehouseTable(s"$root/corpus")
    corpus.create(docs.schema, None, WarehouseTable.tableProperties("COW", "snappy"))
    corpus.append(docs)
    // band-index-like derived artifact: 3 rows per doc, keyed (doc_id, band)
    val bands = docs.select(col("doc_id"),
      explode(array(lit(0), lit(1), lit(2))).as("band"))
    val idx = WarehouseTable(s"$root/idx")
    idx.create(bands.schema, None, Map.empty)
    idx.append(bands)
    val mor = WarehouseTable(s"$root/mor")
    mor.create(docs.schema, None, WarehouseTable.tableProperties("MOR", "snappy"))
    mor.append(docs)
    val targets = Seq(
      Forget.Target(corpus, "doc_id"),
      Forget.Target(idx, "doc_id", keys = Seq("doc_id", "band")),
      Forget.Target(mor, "doc_id"))
    val landing = tmpDir("sforget_land")
    val auditDir = tmpDir("sforget_audit")
    val ckpt = tmpDir("sforget_ckpt")
    def writeReq(name: String, ids: Seq[Long]): Unit = {
      val stage = tmpDir(s"sforget_stage_$name") + "/f"
      ids.toDF("the_id").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, Paths.get(s"$landing/$name.parquet"))
    }
    writeReq("r0", Seq(3L, 7L))
    writeReq("r1", Seq(7L, 11L, 999L)) // 7 already gone, 999 never existed
    val reqSchema = StructType(Seq(StructField("the_id", LongType)))
    def run(): Unit = {
      val q = StreamingIngest.startForgetter(
        spark, FileStreamSpec(landing, reqSchema, maxFilesPerTrigger = 1),
        idCol = "the_id", targets = targets,
        auditDir = auditDir, checkpointDir = ckpt)
      q.awaitTermination(180000)
      ()
    }
    run()
    val expect = (1L to 40L).filterNot(Set(3L, 7L, 11L)).toSeq
    assert(corpus.read(spark).select("doc_id").as[Long]
      .collect().sorted.toSeq == expect)
    assert(idx.read(spark).count() == expect.size * 3L)
    assert(mor.read(spark).select("doc_id").as[Long]
      .collect().sorted.toSeq == expect)
    // audit receipts: one row per (micro-batch, table, execution); the
    // documented aggregation is max per (batch_id, table_root) — replay
    // executions append zero rows beside the real one — then sum
    def auditSums(): Map[String, Long] =
      spark.read.parquet(s"$auditDir/batch=*")
        .groupBy("batch_id", "table_root")
        .agg(max("rows_deleted").as("d"))
        .groupBy("table_root").agg(sum("d").as("n"))
        .as[(String, Long)].collect().toMap
    val audit = spark.read.parquet(s"$auditDir/batch=*")
    assert(audit.count() == 6L) // 2 micro-batches × 3 targets, 1 exec each
    val sums = auditSums()
    assert(sums(corpus.root) == 3L)
    assert(sums(idx.root) == 9L)
    assert(sums(mor.root) == 3L)
    // a later request repeating forgotten ids deletes nothing further
    writeReq("r2", Seq(3L, 11L))
    run()
    assert(corpus.read(spark).count() == expect.size.toLong)
    val sums2 = auditSums()
    assert(sums2(corpus.root) == 3L && sums2(idx.root) == 9L)
    // crash-replay shape: a duplicate receipt for batch 0 with zeros (what
    // a post-cascade/pre-checkpoint crash leaves) must not change totals
    Seq((corpus.root, 0L, 0L, "replay"), (idx.root, 0L, 0L, "replay"),
        (mor.root, 0L, 0L, "replay"))
      .toDF("table_root", "rows_deleted", "batch_id", "exec_id")
      .write.mode("append").parquet(s"$auditDir/batch=0")
    assert(auditSums() == sums2)
  }

  test("ordered attribution equals the batch last-touch rule under shuffled cross-batch arrivals") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingIngest.{AttrEvent, AttributedPurchase}
    implicit val sqlCtx = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000)
    // 6 users × deterministic pseudo-random clicks/purchases over
    // [1, 500] s incl. same-instant click/purchase and click/click ties
    val rnd = new scala.util.Random(7)
    var nextId = 100L
    val evs = (1L to 6L).flatMap { u =>
      (0 until 10).map { _ =>
        nextId += 1
        val sec = rnd.nextInt(500).toLong + 1
        if (rnd.nextBoolean())
          AttrEvent(u, nextId, is_click = true, rnd.nextInt(3).toLong, 0.0, ts(sec))
        else
          AttrEvent(u, nextId, is_click = false, 0L, 1.0, ts(sec))
      }
    }
    val shuffled = rnd.shuffle(evs)
    val batches = shuffled.grouped((shuffled.size + 3) / 4).toSeq
    val input = MemoryStream[AttrEvent]
    val q = StreamingIngest.attributionStreamOrdered(
        input.toDS(), watermark = "2 hours")
      .writeStream.format("memory").queryName("oattr_out")
      .outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    // flush: sentinel pushes the watermark past every real event
    input.addData(AttrEvent(-1L, 0L, is_click = true, 0L, 0.0, ts(500 + 3 * 3600)))
    q.processAllAvailable()
    q.processAllAvailable()
    val streamed = spark.table("oattr_out").as[AttributedPurchase].collect()
      .filter(_.user_id >= 0).map(p => p.event_id -> p.channel).toMap
    q.stop()
    // batch reference: per user, fold in (t, clicks-first, id) order
    val expected = evs.groupBy(_.user_id).flatMap { case (_, es) =>
      var newest: Option[(Long, Long, Long)] = None // (t, id, channel)
      es.sortBy(e => (e.ts.getTime, if (e.is_click) 0 else 1, e.event_id))
        .flatMap { e =>
          if (e.is_click) {
            val t = e.ts.getTime
            if (newest.forall(c => c._1 < t || (c._1 == t && c._2 < e.event_id)))
              newest = Some((t, e.event_id, e.channel))
            None
          } else Some(e.event_id ->
            newest.map(_._3.toString).getOrElse("organic"))
        }
    }
    assert(streamed == expected)
    // every purchase emitted exactly once (Append mode, watermark-final)
    assert(streamed.size == evs.count(!_.is_click))
  }

  test("CDC mirror stage: append/upsert/equality-delete/position-delete history converges; restart applies only new commits") {
    import spark.implicits._
    val srcRoot = tmpDir("cdcm_src") + "/t"
    val mirRoot = tmpDir("cdcm_mir") + "/t"
    val ckpt = tmpDir("cdcm_ckpt")
    val src = WarehouseTable(srcRoot)
    def docs(rows: (Long, String, String)*) =
      rows.toDF("doc_id", "text", "lang")
    src.create(docs().schema, Some("lang"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    // commit 1: base rows
    src.append(docs((1L, "a", "en"), (2L, "b", "de"), (3L, "c", "en"),
      (4L, "d", "de"), (5L, "e", "fr")))
    // commit 2: upsert 1 (delta winner), insert 6
    src.merge(spark, docs((1L, "a2", "en"), (6L, "f", "fr")), Seq("doc_id"))
    // commit 3: equality-tombstone 5
    src.merge(spark, docs((5L, "DEAD", "fr")), Seq("doc_id"),
      deleteWhere = Some(col("text") === "DEAD"))
    // commit 4: predicate RTBF — position-deletes both 'de' rows
    assert(src.deleteWhereMor(spark, col("lang") === "de") == 2L)
    // commit 5: revive 4 after its erasure
    src.merge(spark, docs((4L, "d2", "en")), Seq("doc_id"))
    val mirror = WarehouseTable(mirRoot)
    def run(): Unit = {
      val q = StreamingIngest.startCdcMirror(
        spark, src, mirror, Seq("doc_id"), ckpt)
      q.awaitTermination(180000)
      ()
    }
    def view(t: WarehouseTable): Set[(Long, String, String)] =
      t.read(spark).select("doc_id", "text", "lang")
        .as[(Long, String, String)].collect().toSet
    run()
    assert(view(mirror) == Set((1L, "a2", "en"), (3L, "c", "en"),
      (4L, "d2", "en"), (6L, "f", "fr")))
    assert(view(mirror) == view(src))
    // the mirror's position carries the source lineage beside the
    // applied snapshot id
    assert(mirror.sourcePosition(mirror.currentSnapshotId) ==
      Some(WarehouseTable.SourcePosition(src.lineageId, src.currentSnapshotId)))
    // drained restart with no new commits: nothing to apply, position holds
    run()
    assert(view(mirror) == view(src))
    // more history: another predicate erasure + an append, applied by a
    // RESTARTED stage (checkpoint + position pick up mid-stream)
    assert(src.deleteWhereMor(spark, col("doc_id") % 3 === 0) == 2L)
    src.append(docs((7L, "g", "en")))
    run()
    assert(view(mirror) == view(src))
    assert(view(mirror) == Set((1L, "a2", "en"), (4L, "d2", "en"),
      (7L, "g", "en")))
  }

  test("CDC mirror on a keyless COW source: keys stamped at start, rewrite removals converge the mirror") {
    import spark.implicits._
    val src = WarehouseTable(tmpDir("cdck_src") + "/t")
    val mirror = WarehouseTable(tmpDir("cdck_mir") + "/t")
    val ckpt = tmpDir("cdck_ckpt")
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    // a plain COW landing table that was NEVER key-merged — the shape
    // that used to silently drop removals from any mirror
    src.create(docs().schema, None,
      WarehouseTable.tableProperties("COW", "snappy"))
    src.append(docs((1L, "a"), (2L, "b"), (3L, "c")))
    def run(): Unit = {
      val q = StreamingIngest.startCdcMirror(
        spark, src, mirror, Seq("doc_id"), ckpt)
      q.awaitTermination(180000)
      ()
    }
    run()
    // the mirror start stamped the row identity onto the SOURCE
    assert(src.recordedMergeKeys.contains(Seq("doc_id")))
    def view(t: WarehouseTable): Set[(Long, String)] =
      t.read(spark).select("doc_id", "text")
        .as[(Long, String)].collect().toSet
    assert(view(mirror) == view(src))
    // COW predicate RTBF: a dir rewrite removes doc 2 — the feed must
    // carry it and the restarted mirror must drop it too
    assert(src.deleteRows(spark, col("doc_id") === 2L) == 1L)
    src.append(docs((4L, "d")))
    run()
    assert(view(mirror) == Set((1L, "a"), (3L, "c"), (4L, "d")))
    assert(view(mirror) == view(src))
    // a source already keyed DIFFERENTLY refuses at start (one table,
    // one row identity — never a silently mis-keyed mirror)
    val err = intercept[IllegalArgumentException] {
      StreamingIngest.startCdcMirror(
        spark, src, mirror, Seq("text"), tmpDir("cdck_ckpt2"))
    }
    assert(err.getMessage.contains("identity"))
  }

  test("incremental aggregate view: updates/deletes/drops fold exactly; restart is a no-op; keyed MOR twin matches") {
    import spark.implicits._
    val base = tmpDir("aggview")
    val src = WarehouseTable(base + "/src")
    val view = WarehouseTable(base + "/view")
    val ckpt = base + "/ckpt"
    def docs(rows: (Long, String, Long)*) = rows.toDF("doc_id", "lang", "n")
    src.create(docs().schema, Some("lang"),
      WarehouseTable.tableProperties("COW", "snappy"))
    src.merge(spark, docs((1L, "en", 10L), (2L, "en", 20L), (3L, "de", 5L),
      (4L, "de", 7L), (5L, "fr", 100L)), Seq("doc_id"))
    // update: en partition rewrite re-lands doc 1 UNCHANGED (gross-zero)
    src.merge(spark, docs((2L, "en", 25L)), Seq("doc_id"))
    // predicate delete + TTL drop
    assert(src.deleteRows(spark, col("doc_id") === 5L) == 1L)
    src.dropPartitions(Seq("de"))
    def drain(): Unit = {
      val q = StreamingIngest.startAggView(
        spark, src, view, Seq("lang"), Seq("n"), ckpt)
      q.awaitTermination(180000)
      ()
    }
    def state(): Map[String, (Long, Long)] =
      StreamingIngest.readAggView(spark, view)
        .select("lang", "n", "sum_n").as[(String, Long, Long)]
        .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    drain()
    // en: docs 1+2 with 2 updated to 25; de zeroed out; fr deleted
    assert(state() == Map("en" -> ((2L, 35L))))
    // the zeroed groups remain as suppression markers in the rollup
    assert(graft.operators.IncrementalRollup.read(spark, view).count() == 3)
    // restart on the drained checkpoint: per-key batch markers make it a no-op
    drain()
    assert(state() == Map("en" -> ((2L, 35L))))
    // more history picked up mid-stream by a fresh drain
    src.merge(spark, docs((6L, "fr", 50L)), Seq("doc_id"))
    drain()
    assert(state() == Map("en" -> ((2L, 35L)), "fr" -> ((1L, 50L))))
    // KEYLESS MOR sources refuse loudly — without merge keys the gross
    // feed cannot arbitrate each upsert's −old
    val mor = WarehouseTable(base + "/mor")
    mor.create(docs().schema, None,
      WarehouseTable.tableProperties("MOR", "snappy"))
    val err = intercept[IllegalArgumentException] {
      StreamingIngest.startAggView(
        spark, mor, WarehouseTable(base + "/v2"), Seq("lang"), Seq("n"),
        base + "/ckpt2")
    }
    assert(err.getMessage.contains("merge keys"))
    // a KEYED MOR twin replaying the COW source's history (upserts never
    // remove the old version's dir; a compaction re-lands everything)
    // must maintain the IDENTICAL view — no compact-to-COW required
    mor.drop()
    mor.create(docs().schema, Some("lang"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    mor.merge(spark, docs((1L, "en", 10L), (2L, "en", 20L), (3L, "de", 5L),
      (4L, "de", 7L), (5L, "fr", 100L)), Seq("doc_id", "lang"))
    mor.merge(spark, docs((2L, "en", 25L)), Seq("doc_id", "lang"))
    assert(mor.deleteWhereMor(spark, col("doc_id") === 5L) == 1L)
    mor.dropPartitions(Seq("de"))
    mor.compact(spark) // maintenance: must contribute nothing
    mor.merge(spark, docs((6L, "fr", 50L)), Seq("doc_id", "lang"))
    val morView = WarehouseTable(base + "/v2")
    val q2 = StreamingIngest.startAggView(
      spark, mor, morView, Seq("lang"), Seq("n"), base + "/ckpt2")
    q2.awaitTermination(180000)
    val morState = StreamingIngest.readAggView(spark, morView)
      .select("lang", "n", "sum_n").as[(String, Long, Long)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(morState == Map("en" -> ((2L, 35L)), "fr" -> ((1L, 50L))))
  }

  test("CDC mirror refuses a cursor from a pre-rollback source lineage instead of silently diverging") {
    import spark.implicits._
    val src = WarehouseTable(tmpDir("cdcl_src") + "/t")
    val mirror = WarehouseTable(tmpDir("cdcl_mir") + "/t")
    val ckpt = tmpDir("cdcl_ckpt")
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    src.create(docs().schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    src.append(docs((1L, "a")))
    val s1 = src.currentSnapshotId
    src.merge(spark, docs((2L, "b")), Seq("doc_id"))
    val q = StreamingIngest.startCdcMirror(
      spark, src, mirror, Seq("doc_id"), ckpt)
    q.awaitTermination(180000)
    assert(mirror.read(spark).count() == 2)
    // an aggregate view over the same source shares the commit-log tail
    val view = WarehouseTable(tmpDir("cdcl_view") + "/v")
    val viewCkpt = tmpDir("cdcl_vckpt")
    def startView() = StreamingIngest.startAggView(
      spark, src, view, Seq("text"), Seq("doc_id"), viewCkpt)
    startView().awaitTermination(180000)
    assert(StreamingIngest.readAggView(spark, view).count() == 2)
    // the source's timeline is rewritten: rollback reclaims snapshot ids,
    // so the mirror's applied-through cursor points into a DELETED
    // history — new commits reuse the same ids with different content
    src.rollback(s1)
    src.merge(spark, docs((3L, "c")), Seq("doc_id"))
    // the reused snap path would never re-fire the file source, so the
    // refusal must come AT START — before any trigger could (not) run
    val err = intercept[IllegalStateException] {
      StreamingIngest.startCdcMirror(
        spark, src, mirror, Seq("doc_id"), ckpt)
    }
    assert(err.getMessage.contains("lineage"))
    val viewErr = intercept[IllegalStateException](startView())
    assert(viewErr.getMessage.contains("lineage"))
  }

  test("CDC mirror: one mirror commit a window, carrying its position; a replay lands none; a racing position change fails the window") {
    import spark.implicits._
    val src = WarehouseTable(tmpDir("cdc1_src") + "/t")
    val mirror = WarehouseTable(tmpDir("cdc1_mir") + "/t")
    val ckpt = tmpDir("cdc1_ckpt")
    def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
    src.create(docs().schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    src.append(docs((1L, "a"), (2L, "b"), (3L, "c")))
    def run(): Unit = StreamingIngest.startCdcMirror(spark, src, mirror,
      Seq("doc_id"), ckpt, maxFilesPerTrigger = 2).awaitTermination(180000)
    def rows(t: WarehouseTable) =
      t.read(spark).select("doc_id", "text").as[(Long, String)].collect().toSet
    def position = mirror.sourcePosition(mirror.currentSnapshotId)
    def applied = Some(WarehouseTable.SourcePosition(src.lineageId, src.currentSnapshotId))
    def dataDirs() = new java.io.File(mirror.root + "/data").list().toSet
    run()
    val snap = mirror.currentSnapshotId
    // one window holding an upsert, an insert and a delete
    src.merge(spark, docs((1L, "a2"), (4L, "d")), Seq("doc_id"))
    src.deleteKeysMor(spark, docs((2L, "")).select("doc_id"), Seq("doc_id"))
    run()
    assert(mirror.currentSnapshotId == snap + 1)
    assert(position == applied)
    assert(rows(mirror) == rows(src) && rows(src) == Set((1L, "a2"), (3L, "c"), (4L, "d")))
    // replay the window: the checkpoint's last commit goes back
    val commits = new java.io.File(ckpt + "/commits").list()
      .filter(_.forall(_.isDigit)).map(_.toLong)
    Files.delete(Paths.get(s"$ckpt/commits/${commits.max}"))
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.${commits.max}.crc"))
    run()
    assert(mirror.currentSnapshotId == snap + 1)
    // a mirror rollback between the window's read of the position and
    // its merge moves the position back under it
    src.merge(spark, docs((5L, "e")), Seq("doc_id"))
    src.deleteKeysMor(spark, docs((3L, "")).select("doc_id"), Seq("doc_id"))
    var afterRace = Set.empty[String]
    StreamingIngest.beforeConsumerWrite = { () =>
      mirror.rollback(snap)
      afterRace = dataDirs()
    }
    val err =
      try intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
      finally StreamingIngest.beforeConsumerWrite = () => ()
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[java.util.ConcurrentModificationException]), err)
    assert(mirror.currentSnapshotId == snap)
    assert(afterRace.nonEmpty && dataDirs() == afterRace,
      "the refused mirror write left a data dir")
    // the restart re-applies everything after the rolled-back position
    run()
    assert(rows(mirror) == rows(src) && rows(src) == Set((1L, "a2"), (4L, "d"), (5L, "e")))
    assert(position == applied)
  }

  /** A keyless COW table with `commits` one-row appends after its create. */
  private def logTable(name: String, commits: Int): WarehouseTable = {
    import spark.implicits._
    val t = WarehouseTable(tmpDir(name) + "/t")
    t.create(Seq((0L, "")).toDF("doc_id", "text").schema, None,
      WarehouseTable.tableProperties("COW", "snappy"))
    (1 to commits).foreach(i => t.append(Seq((i.toLong, s"d$i")).toDF("doc_id", "text")))
    t
  }

  private def logStream(t: WarehouseTable, perBatch: Int) = {
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", t.root)
    opts.put("maxFilesPerTrigger", perBatch.toString)
    new graft.streaming.SnapshotLogProvider()
      .getTable(graft.streaming.SnapshotLogStream.Schema, Array.empty, opts)
      .asInstanceOf[graft.streaming.SnapshotLogTable]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream("unused")
      .asInstanceOf[graft.streaming.SnapshotLogStream]
  }

  test("snapshot-log source: trigger planning reads _current only, never the snaps dir") {
    import graft.streaming.{SnapshotLogOffset, SnapshotRange}
    val t = logTable("slog_plan", 5)
    val stream = logStream(t, perBatch = 2)
    val snaps = Paths.get(t.root, "snaps")
    val away = Paths.get(t.root, "snaps.away")
    // with snaps/ gone, nothing that lists it or reads a snapshot can run
    Files.move(snaps, away)
    try {
      val start = stream.initialOffset()
      assert(start == SnapshotLogOffset("root", 0L))
      val limit = stream.getDefaultReadLimit
      def next(o: org.apache.spark.sql.connector.read.streaming.Offset) =
        stream.latestOffset(o, limit).asInstanceOf[SnapshotLogOffset]
      val first = next(start)
      assert(first == SnapshotLogOffset("root", 2L))
      assert(stream.planInputPartitions(start, first).toSeq == Seq(SnapshotRange(1L, 2L)))
      val rest = Iterator.iterate(first)(next).take(4).map(_.snapshotId).toSeq
      assert(rest == Seq(2L, 4L, 5L, 5L))
      assert(stream.planInputPartitions(first, first).isEmpty)
      // the same through Spark: a drain whose body reads the batch rows
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      StreamingIngest.foreachBatchStage(spark.readStream.format("graft-snapshots")
          .option("path", t.root).option("maxFilesPerTrigger", 2).load(),
        tmpDir("slog_plan_ckpt")) { (batch, _) =>
        batch.collect().foreach(r => seen.add(r.getLong(0)))
      }.awaitTermination(120000)
      assert(seen.toArray.toSeq == (1L to 5L))
    } finally Files.move(away, snaps)
  }

  test("snapshot-log source: AvailableNow stops at the snapshot current at start while commits land") {
    import spark.implicits._
    val t = logTable("slog_now", 3)
    val ends = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    val q = StreamingIngest.foreachBatchStage(spark.readStream.format("graft-snapshots")
        .option("path", t.root).load(), tmpDir("slog_now_ckpt")) { (batch, _) =>
      ends.add(batch.collect().map(_.getLong(0)).toSeq)
      // a commit lands during every batch
      t.append(Seq((100L, "x")).toDF("doc_id", "text"))
    }
    assert(q.awaitTermination(120000), "the drain did not stop")
    assert(ends.toArray.toSeq == Seq(Seq(1L), Seq(2L), Seq(3L)))
    assert(t.currentSnapshotId == 6L)
  }

  test("snapshot-log source: one snapshot a window at maxFilesPerTrigger = 1, with the same change ordinals") {
    val t = logTable("slog_one", 4)
    val windows = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[Long], Set[Long])]()
    StreamingIngest.foreachBatchStage(spark.readStream.format("graft-snapshots")
        .option("path", t.root).option("maxFilesPerTrigger", 1).load(),
      tmpDir("slog_one_ckpt")) { (batch, _) =>
      val ids = batch.collect().map(_.getLong(0)).toSeq
      val ordinals = t.changesSince(spark, ids.min - 1, asOf = Some(ids.max))
        .select("_change_ordinal").collect().map(_.getLong(0)).toSet
      windows.add(ids -> ordinals)
    }.awaitTermination(120000)
    assert(windows.toArray.toSeq == (1L to 4L).map(i => (Seq(i), Set(i))))
    // the aggregate view over the same log: every group was folded by
    // the window of its own commit, and each window wrote the view once
    val view = WarehouseTable(tmpDir("slog_one_view") + "/v")
    StreamingIngest.startAggView(spark, t, view, Seq("text"), Seq("doc_id"),
      tmpDir("slog_one_vckpt")).awaitTermination(120000)
    assert((1L to 4L).map(k => view.read(spark, asOf = Some(k)).select("text").collect()
      .map(_.getString(0)).toSet -> view.sourcePosition(k).map(_.snapshotId)) ==
      (1L to 4L).map(k => (1L to k).map(i => s"d$i").toSet -> Some(k)))
    assert(view.currentSnapshotId == 4L) // the create, then one write a window
  }

  test("snapshot-log source: a window over an expired snapshot fails loudly") {
    val t = logTable("slog_exp", 4)
    t.expireSnapshots(keepLast = 2)
    assert(!Files.exists(Paths.get(t.root, "snaps", "snap-0.json")))
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      StreamingIngest.startAggView(spark, t, WarehouseTable(tmpDir("slog_exp_view") + "/v"),
        Seq("text"), Seq("doc_id"), tmpDir("slog_exp_ckpt")).awaitTermination(120000)
    }
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("expired")), err)
  }

  test("snapshot-log source: a checkpointed offset from another lineage is refused by the source") {
    import spark.implicits._
    val t = logTable("slog_lin", 2)
    val mirror = WarehouseTable(tmpDir("slog_lin_mir") + "/m")
    val ckpt = tmpDir("slog_lin_ckpt")
    def run() = StreamingIngest.startCdcMirror(spark, t, mirror, Seq("doc_id"), ckpt)
      .awaitTermination(120000)
    run()
    t.rollback(1L)
    t.append(Seq((3L, "d3")).toDF("doc_id", "text"))
    // without the mirror's position the start-time check has nothing to
    // compare: the checkpoint's offset alone must stop the drain
    mirror.drop()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(Iterator.iterate(err: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("lineage")), err)
    // the stream itself, handed the old offset
    val stale = graft.streaming.SnapshotLogOffset("root", 2L).json
    val direct = intercept[IllegalStateException](logStream(t, 1).deserializeOffset(stale))
    assert(direct.getMessage.contains(t.lineageId), direct.getMessage)
  }

  test("batchStage crash replay: the uncommitted batch re-runs under its id and rewrites only its own dir") {
    import spark.implicits._
    val landing = tmpDir("crash_land")
    Seq(Seq((1L, "a b"), (2L, "c")), Seq((3L, "d e f"))).zipWithIndex.foreach {
      case (rows, i) =>
        val stage = tmpDir(s"crash_stage$i") + "/files"
        rows.toDF("doc_id", "text").coalesce(1).write.parquet(stage)
        val f = new java.io.File(stage).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        Files.copy(f.toPath, Paths.get(s"$landing/f$i.parquet"))
    }
    val sch = Seq((0L, "")).toDF("doc_id", "text").schema
    val outDir = tmpDir("crash_out")
    val ckpt = tmpDir("crash_ckpt")
    def run(): Unit = StreamingIngest.batchStage(
      FileStreamSpec(landing, sch, maxFilesPerTrigger = 1).read(spark),
      outDir, ckpt)(_.withColumn("n_chars", length(col("text"))))
      .awaitTermination(120000)
    def rows() = spark.read.parquet(s"$outDir/batch=*")
      .select("doc_id", "text", "n_chars").as[(Long, String, Int)].collect().toSeq.sorted
    def dirs() = new java.io.File(outDir).list().filter(_.startsWith("batch=")).toSet
    def parts(d: String) =
      new java.io.File(s"$outDir/$d").list().filter(_.endsWith(".parquet")).toSet
    run()
    val (rows0, dirs0, parts0) = (rows(), dirs(), parts("batch=1"))
    assert(dirs0 == Set("batch=0", "batch=1") && rows0.size == 3)
    // a crash after batch 1's body ran but before its commit was logged
    val commit = Paths.get(s"$ckpt/commits/1")
    Files.delete(commit)
    Files.deleteIfExists(Paths.get(s"$ckpt/commits/.1.crc"))
    run()
    assert(Files.exists(commit)) // batch 1 ran again and committed
    val parts1 = parts("batch=1") // ...replacing its own dir's files
    assert(parts1.size == parts0.size && (parts1 & parts0).isEmpty)
    assert(dirs() == dirs0)
    assert(rows() == rows0)
  }
}
