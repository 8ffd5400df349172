package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.operators.{BigramLm, C4Rules, Chunking, Dedup, MergeInto, Multimodal, Normalize, Repetition, Sampling, SimilaritySearch, TemporalJoins, TextDedup}

/** Driver contract — one `queries` entry per operator from SURVEY.md §2
  * (relational core W1/F1/P1/J1-J3 + the training-data-pipeline extension
  * ops), each with a DuckDB-equivalent `oracleSql` on the same parquet
  * tables.
  *
  * Numeric-parity rules used throughout (so Spark and DuckDB hash-match
  * bit-for-bit):
  *  - money/measure sums go through exact `decimal(18,2)` arithmetic and
  *    only the final value is cast to double;
  *  - averages are `cast(exact_sum as double) / count` (no engine-native
  *    AVG, whose intermediate types differ);
  *  - timestamps never appear raw in outputs (the parquet files store
  *    nanos, Spark truncates to micros) — they are bucketed to epoch
  *    seconds instead;
  *  - every window/top-k has a total deterministic order (explicit
  *    tiebreak columns).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(s, dir)
    else s.read.parquet(s"$dir/$name.parquet")

  /** Planted-id offset for in-query re-crawls/arrivals: far beyond any
    * realistic corpus id (10^12 docs) so a planted id can NEVER collide
    * with a real one at any SF — a 10^5-scale offset silently corrupted
    * the planted-duplicate semantics once the corpus outgrew it.
    * The DuckDB oracles spell the same literal.
    */
  private val PlantOffset = 1000000000000L

  /** q103's planted chrome lines: high-df banner/footer (removed) and a
    * two-document quotation (kept — below the df >= 3 threshold). The
    * DuckDB oracle spells the same literals.
    */
  private val BoilerBanner = "subscribe to our newsletter for weekly updates"
  private val BoilerFooter =
    "all rights reserved contact the publisher for permissions"
  private val BoilerQuote =
    "a rare shared quotation between exactly two documents"

  /** q91/q92's fixed retrieval query: three common terms plus the rare
    * fixture term 'dup' (present in ~6% of docs), so the ranking
    * exercises both high- and low-df idf mass at every SF.
    */
  private val Bm25QueryTerms = Seq("spark", "merge", "vector", "dup")

  /** At-rest index builds (q34's IVF buckets, q66's MinHash bands) are a
    * ONE-TIME ingest cost a deployment pays when the corpus lands — not a
    * per-query cost. Memoizing the build per (JVM, sfDir) makes repeated
    * invocations of those entries (Bench's untimed row-count + N timed
    * runs) measure the pruned LOOKUP, the cost actually paid per arrival
    * batch. Correctness is unchanged: the first call in any JVM still
    * drops and rebuilds from scratch, so no run can read a stale index
    * from an earlier process. [[prepareAtRestIndexes]] lets Bench force
    * and time the builds up front and report them separately.
    */
  private val atRestBuilt =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def scratchPath(tag: String, dir: String): String =
    sys.props("java.io.tmpdir") + s"/graft_${tag}_scratch/" +
      dir.replaceAll("[^A-Za-z0-9._-]", "_")

  private def q34Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q34", dir)
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      val corpus = t(s, dir, "embeddings").filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").as("bucket"))
      SimilaritySearch.ivfIndexAtRest(corpus, table)
    }
    table
  }

  /** q77's PQ codebooks — deterministic fit, cached per (JVM, sfDir) so
    * the index build and every lookup share the identical model without
    * re-running Lloyd per query invocation.
    */
  private val pqCbCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.operators.ProductQuantizer.Codebooks]()

  private def q77Corpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").filter(col("vec_id") >= 10)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").as("bucket"))

  /** Every PQ fit trains on a bounded deterministic sample of the corpus
    * ([[graft.operators.ProductQuantizer.trainSample]],
    * `lehmer2(id) % p == 0` with `p = ceil(n/256)` and `lehmer2` the
    * two-round Park–Miller hash `(id % M) * 48271 % M * 48271 % M`,
    * `M = 2^31−1` — a bare `id % p` biases or empties on structured id
    * spaces, and ONE round is still linear below the wraparound) — the index
    * BUILD stays linear while the codebook quality is sample-stable;
    * the oracle replays the identical integer arithmetic from the same
    * corpus count. 256 bites already at sf0.01 (n=490 → p=2), so the
    * correctness gate exercises the sampled path.
    */
  private val PqTrainCap = 256L

  private def q77Cb(s: SparkSession, dir: String): graft.operators.ProductQuantizer.Codebooks =
    pqCbCache.computeIfAbsent(dir, _ =>
      graft.operators.ProductQuantizer.fit(
        graft.operators.ProductQuantizer.trainSample(
          q77Corpus(s, dir), "id", PqTrainCap),
        "id", "vec", dim = 64, m = 4, k = 8, iters = 2))

  private def q77Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q77", dir)
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      graft.operators.ProductQuantizer.ivfPqIndexAtRest(
        q77Corpus(s, dir), q77Cb(s, dir), table)
    }
    table
  }

  /** The q69 corpus's pHashes, decoded ONCE per (JVM, sfDir) and persisted
    * as a tiny (id, phash) parquet: q82's index build consumes hashes, not
    * images — re-decoding the corpus a second time made that build 32×
    * per 10× data (each downstream action re-ran the lazy decode), while
    * the hash frame is 16 bytes/image and reads back for free. q69's own
    * TIMED query still decodes live: the decode IS that operator.
    */
  private def q69Hashes(s: SparkSession, dir: String): DataFrame = {
    val path = scratchPath("q69h", dir)
    if (atRestBuilt.add(path)) {
      graft.operators.Multimodal.imagePHashes(q69Images(s, dir))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** q82's at-rest image-hash index: pHashes of the ORIGINAL images
    * (everything below [[PlantOffset]] in the q69 fixture corpus),
    * pigeonhole-block-partitioned. Build-once per (JVM, sfDir), from the
    * [[q69Hashes]] frame — no second image decode.
    */
  private def q82Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q82", dir)
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      graft.operators.Multimodal.phashIndexAtRest(
        q69Hashes(s, dir).filter(col("id") < PlantOffset), table)
    }
    table
  }

  /** q92's at-rest BM25 inverted index over `documents` — term-hash
    * partitioned postings with inlined norms. Build-once per (JVM, sfDir).
    */
  private def q92Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q92", dir)
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      graft.operators.Bm25.indexAtRest(
        t(s, dir, "documents"), "doc_id", "text", table)
    }
    table
  }

  /** q121's at-rest interval index: ±5-min event windows, half at build,
    * half via keyed commits with the second commit REPLAYED — the
    * build/commit/replay sequence IS the semantics under test, so it runs
    * in full on the first invocation per (JVM, sfDir) and is memoized
    * like [[q34Index]] so Bench's scored runs measure the pruned point
    * probe (the recurring per-arrival-batch cost), not the one-time
    * ingest.
    */
  private def q121Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q121", dir) + "/win_idx"
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      val R = graft.operators.RangeIndex
      val HalfWin = 300000000000L
      val e = t(s, dir, "events").select(col("event_id"), col("ts"))
      val wins = e.select(col("event_id").as("win_id"),
        (col("ts") - HalfWin).as("w_start"),
        (col("ts") + HalfWin).as("w_end"))
      val cut = e.agg((max(col("event_id")) / 2).cast("long"))
        .head().getLong(0)
      R.indexAtRest(wins.filter(col("win_id") <= cut),
        "w_start", "w_end", Seq("win_id"), table, bucketWidth = 2 * HalfWin)
      R.indexCommit(s, wins.filter(col("win_id") > cut), table)
      R.indexCommit(s, wins.filter(col("win_id") > cut), table) // replay
      // fold the commits' MOR deltas before the measured probes: delta
      // compaction is amortized maintenance (index_build cost), and the
      // per-arrival probe should read the folded base it would see in
      // steady state, not re-arbitrate the build's own delta history
      table.compact(s)
    }
    table
  }

  /** q127's at-rest session-interval index — q118's sessions stored,
    * half at build + half via a replayed commit. Same memoization
    * contract as [[q121Index]].
    */
  private def q127Sessions(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
    TemporalJoins.sessionize(
      ev, keys = Seq("user_id"), timeCol = "ts_us",
      tiebreak = "event_id", maxGap = 30L * 60 * 1000000)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts_us")).as("st"), max(col("ts_us")).as("en"))
  }

  private def q127Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q127", dir) + "/sess_idx"
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      val R = graft.operators.RangeIndex
      val stored = q127Sessions(s, dir).select(col("user_id").as("b_user"),
        col("session_seq").as("b_seq"),
        col("st").as("b_st"), col("en").as("b_en"))
      val cut = stored.agg((max(col("b_user")) / 2).cast("long"))
        .head().getLong(0)
      R.indexAtRest(stored.filter(col("b_user") <= cut),
        "b_st", "b_en", Seq("b_user", "b_seq"), table,
        bucketWidth = 1800000000L)
      R.indexCommit(s, stored.filter(col("b_user") > cut), table)
      R.indexCommit(s, stored.filter(col("b_user") > cut), table) // replay
      table.compact(s) // fold build deltas out of the measured probe path
    }
    table
  }

  /** q149's at-rest ENDPOINT index — q118's sessions stored two rows
    * each (start + end, filed by value cell) for pair-free counting;
    * half at build + half via commits, with one commit planting WRONG
    * bounds that the next commit fixes (the mutable-bounds path) and a
    * final exact replay. Same memoization contract as [[q127Index]].
    */
  private def q149Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q149", dir) + "/ep_idx"
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      val R = graft.operators.RangeIndex
      val stored = q127Sessions(s, dir)
      val cut = stored.agg((max(col("user_id")) / 2).cast("long"))
        .head().getLong(0)
      R.countIndexAtRest(stored.filter(col("user_id") <= cut),
        "st", "en", Seq("user_id", "session_seq"), table,
        bucketWidth = 1800000000L)
      // first commit lands the late half with bounds shifted a full day —
      // wrong cells on purpose — then the true bounds supersede them
      // (stale endpoint rows must vanish), then an exact replay no-ops
      val late = stored.filter(col("user_id") > cut)
      R.countIndexCommit(s, late
        .withColumn("st", col("st") + 86400000000L)
        .withColumn("en", col("en") + 86400000000L), table)
      R.countIndexCommit(s, late, table)
      R.countIndexCommit(s, late, table) // replay
      table.compact(s) // fold build deltas out of the measured probe path
    }
    table
  }

  /** q71's corpus-fingerprint Bloom filter, built ONCE per (JVM, sfDir)
    * — the build is index work (amortized across arrival batches, like
    * q66/q82's at-rest builds), priced under the bench's index_build
    * line, not the per-batch probe.
    */
  private val q71Blooms = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.util.sketch.BloomFilter]
  private def q71Bloom(s: SparkSession, dir: String): org.apache.spark.util.sketch.BloomFilter =
    q71Blooms.getOrElseUpdate(dir, {
      val corpus = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      TextDedup.corpusFingerprintBloom(
        corpus.select(graft.functions.TextFunctions
          .fingerprint(col("text")).as("fp")).distinct(),
        expectedItems = 1000000L, fpp = 0.01)
    })

  /** q106's at-rest incremental-clustering fixture, built ONCE per
    * (JVM, sfDir): the corpus minhash index (its own table — q66's gate
    * must not see q106's committed arrivals), the at-rest corpus text
    * table the verify step reads, and the cluster table seeded with the
    * corpus-only assignment (historical pairs mined one-shot here — that
    * mine is BUILD work, amortized like every other at-rest build). The
    * timed gate then does only what a live ingest does per batch:
    * pruned-index lookup + batch-local mine + three arrival-bound
    * commits.
    */
  private def q106Fixture(s: SparkSession, dir: String):
      (graft.table.WarehouseTable, graft.table.WarehouseTable, graft.table.WarehouseTable) = {
    val root = scratchPath("q106", dir)
    val idxT = graft.table.WarehouseTable(root + "/mh_idx")
    val corpT = graft.table.WarehouseTable(root + "/corpus_t")
    val clusT = graft.table.WarehouseTable(root + "/clusters")
    // bench replays of the gate land logically-idempotent MOR deltas in
    // this shared fixture, so run 2+ used to measure a drifted store
    // (lookup 3.1 → 7.5 s over 5 back-to-back replays). Every reuse now
    // ROLLS BACK to the recorded build snapshots first — a metadata-only
    // pointer move, microseconds inside the timed region — so each run
    // replays the identical cold ingest.
    if (atRestBuilt.add(root)) {
      idxT.drop(); corpT.drop(); clusT.drop()
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      TextDedup.minhashIndexAtRest(docs, "doc_id", "text", idxT)
      val corp = docs.select(col("doc_id").cast("long").as("doc_id"),
        graft.functions.TextFunctions.fingerprint(col("text")).as("fp"),
        col("text"))
      // MOR: the timed gate MERGES arrivals into this table — COW would
      // full-rewrite the unpartitioned corpus per commit (corpus-bound)
      corpT.create(corp.schema,
        properties = graft.table.WarehouseTable.tableProperties("MOR", "snappy"))
      corpT.append(corp)
      val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
      val pairs = TextDedup.verifyPairs(TextDedup.minHashCandidates(sh), sh, 0.5)
      Dedup.componentsCommit(s, docs.select(col("doc_id").as("id")),
        pairs.select(col("d1"), col("d2")), clusT)
      clusT.compact(s) // fold the seed commit's delta (build-time work)
      q106BuildSnaps(root) = (idxT.currentSnapshotId,
        corpT.currentSnapshotId, clusT.currentSnapshotId)
    } else q106BuildSnaps.get(root).foreach { case (si, sc, sk) =>
      idxT.rollback(si); corpT.rollback(sc); clusT.rollback(sk)
    }
    (idxT, corpT, clusT)
  }

  /** Post-build snapshot ids of the q106 fixture tables, the rollback
    * target every replayed gate run restores before its timed work.
    */
  private val q106BuildSnaps =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long, Long)]

  /** q134's bloom-indexed content-hash table: documents keyed by a
    * per-doc fingerprint, landed as FOUR append dirs (so no dir's
    * min/max range can prune an equality probe), bloom sidecars built
    * over the fingerprint column. Build-once per (JVM, sfDir).
    */
  private def q134Table(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q134", dir) + "/fp_t"
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      val rows = t(s, dir, "documents").select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":"), col("text")))
          .as("fp"))
      table.create(rows.schema, None, Map.empty)
      (0 until 4).foreach(w =>
        table.append(rows.filter(col("doc_id") % 4 === w)))
      table.buildBloomIndex(s, "fp")
    }
    table
  }

  /** q137/q139's shared contracts pipeline: the planted-violation corpus
    * (re-crawl dups, nulled langs, negated lengths) tagged under the
    * standard rule set. Returns (tagged frame, rules).
    */
  private def q137Tagged(
      s: SparkSession, dir: String): (DataFrame, Seq[graft.operators.Contracts.Rule]) = {
    val C = graft.operators.Contracts
    val base = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
    val un = base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("lang"),
        col("text"), col("n_chars")))
    val planted = un
      .withColumn("lang", when(col("doc_id") % 19 === 0,
        lit(null).cast("string")).otherwise(col("lang")))
      .withColumn("n_chars", when(col("doc_id") % 23 === 0,
        -col("n_chars")).otherwise(col("n_chars")))
      .withColumn("fp", md5(col("text")))
    val flagged = C.withDupFlag(planted, "fp", "dup")
    val rules = Seq(
      C.notNull("lang_null", col("lang")),
      C.inRange("chars_range", col("n_chars"), 1L, 1000000L),
      C.Rule("dup_fp", col("dup")))
    (C.tag(flagged, rules), rules)
  }

  /** q136's ORC landing fixture: the events table written once as ORC —
    * the other columnar interchange format a landing zone actually
    * receives (Spark's native vectorized ORC path; no extra deps).
    * Memoized per (JVM, sfDir).
    */
  private def q136OrcDir(s: SparkSession, dir: String): String = {
    val root = scratchPath("q136", dir)
    if (atRestBuilt.add(root)) {
      t(s, dir, "events").write.mode("overwrite").orc(root)
    }
    root
  }

  private def q66Index(s: SparkSession, dir: String): graft.table.WarehouseTable = {
    val wh = scratchPath("q66", dir)
    val table = graft.table.WarehouseTable(wh)
    if (atRestBuilt.add(wh)) {
      table.drop()
      TextDedup.minhashIndexAtRest(t(s, dir, "documents"), "doc_id", "text", table)
    }
    table
  }

  /** q69's image corpus — synthesized PNGs plus their resized/re-encoded
    * copies — is test FIXTURE, not engine work: a deployment reads image
    * blobs from storage, it does not render them. Materialize the blobs
    * to scratch parquet once per (JVM, sfDir) so q69's timed region is
    * what the engine actually does per corpus: decode + pHash + blocked
    * hamming join. Same memoization contract as [[q34Index]]/[[q66Index]]
    * (first call in any JVM rebuilds from scratch; results identical —
    * synthesis is deterministic by id and parquet round-trips the bytes).
    */
  private def q69Images(
      s: SparkSession, dir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    val path = scratchPath("q69", dir)
    if (atRestBuilt.add(path)) {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val originals = Multimodal.synthesizeImages(s, docs, "doc_id")
      val copies = originals.filter(_.id % 10 == 0).map(r =>
        Multimodal.MediaRow(r.id + PlantOffset,
          Multimodal.ImageCodec.resize(r.content, 2)))
      originals.union(copies).write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path).as[Multimodal.MediaRow]
  }

  /** Force-build the at-rest indexes for `dir`, returning query name →
    * build seconds. Bench calls this before its timed loop so the JSON
    * reports build cost separately from per-lookup cost; any other caller
    * (Verify, tests) pays the build lazily on first query invocation.
    */
  def prepareAtRestIndexes(s: SparkSession, dir: String): Map[String, Double] = {
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    Map(
      // q69's image FIXTURE synthesis must run (and be timed) FIRST:
      // q82's index build reads q69Images, so timing q82 before the
      // fixture exists would charge image synthesis — test scaffolding,
      // not engine work — to the index-build line (round-7 audit item).
      "q69_phash_image_dedup" -> timed(q69Images(s, dir).write
        .format("noop").mode("overwrite").save()),
      "q34_ivf_at_rest" -> timed(q34Index(s, dir)),
      "q66_minhash_at_rest" -> timed(q66Index(s, dir)),
      "q77_ivfpq_at_rest" -> timed(q77Index(s, dir)),
      "q82_phash_at_rest" -> timed(q82Index(s, dir)),
      "q92_bm25_at_rest" -> timed(q92Index(s, dir)),
      // interval-index builds INCLUDE their in-gate commit + replay
      // sequence — that IS the ingest path being priced
      "q121_interval_at_rest" -> timed(q121Index(s, dir)),
      "q127_overlap_at_rest" -> timed(q127Index(s, dir)),
      "q149_overlap_counts_at_rest" -> timed(q149Index(s, dir)),
      "q71_bloom_dedup" -> timed(q71Bloom(s, dir)),
      "q106_incremental_components" -> timed(q106Fixture(s, dir)),
      "q134_bloom_skipping" -> timed(q134Table(s, dir)))
  }

  /** q100's JSONL landing fixture: `documents` round-tripped to
    * newline-delimited JSON (the corpus interchange format) plus one
    * planted shard of 2 malformed lines (a truncated object and a
    * non-JSON line — the broken-upload cases quarantine exists for).
    * Memoized per (JVM, sfDir); `overwrite` first wipes the dir, so a
    * rebuild regenerates the corrupt shard too.
    */
  private def q100JsonlDir(s: SparkSession, dir: String): String = {
    val root = scratchPath("q100", dir)
    if (atRestBuilt.add(root)) {
      t(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("source"), col("lang"),
          col("text"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(root)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "corrupt.txt"),
        "{\"doc_id\": -1, \"source\": \"bad\"\nnot json at all\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    root
  }

  /** Real-labels seam for the q70 quality/domain classifier: the NB
    * machinery is complete but the fixtures carry only synthetic labels,
    * so production fitting accepts an EXTERNAL labeled parquet — path
    * from the `SPARK_GRAFT_LABELS` env var (the `SPARK_GRAFT_SF_DIR`
    * convention) or the `graft.labels` JVM property (the in-JVM testable
    * override; env wins are impossible to simulate under ScalaTest) —
    * with columns `label: string, text: string`. Unset, it falls back to
    * the synthetic fixture (`documents`, `lang` as the label), which is
    * exactly what the driver's oracle run sees: the q70 oracle SQL keeps
    * certifying the fallback path byte-for-byte. Contract + a checked-in
    * 50-row realistic sample documented in TESTDATA.md.
    */
  private[graft] def labeledCorpus(s: SparkSession, dir: String): DataFrame =
    sys.props.get("graft.labels").orElse(sys.env.get("SPARK_GRAFT_LABELS")) match {
      case Some(path) => s.read.parquet(path)
        .select(col("label").cast("string").as("label"), col("text"))
      case None => t(s, dir, "documents")
        .select(col("lang").as("label"), col("text"))
    }

  /** The q44/q59/q61 planted re-crawl: every doc_id % 7 == 0 document
    * reappears under `doc_id + PlantOffset` — deterministic duplicate
    * mass at every SF, shared by every query that needs a re-crawl.
    */
  private def plantedRecrawl(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    base.unionByName(base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
  }

  /** The events table's `ts` is an INT64 parquet timestamp whose UNIT has
    * differed across driver testdata generations — TIMESTAMP(NANOS) (which
    * Spark's parquet reader rejects outright, [PARQUET_TYPE_ILLEGAL]) in
    * earlier rounds, TIMESTAMP(MICROS) now. We read it as a raw LongType
    * via an explicit schema (lossless either way) and NORMALIZE to
    * epoch-nanos: any value below 4·10^16 is micros-scale (4·10^16 ns ≈
    * mid-1971, 4·10^16 µs ≈ year 3237 — no realistic event time is
    * ambiguous) and is scaled ×1000. All downstream integer-nanos math
    * (`NanosPerHour` buckets, 30-min session gaps, `ts div 1000` µs
    * tiebreaks) and every `epoch_ns(ts)`-based DuckDB oracle then agree
    * bit-for-bit regardless of which generation wrote the file.
    */
  /** Reset an agg-view gate's consumer state for a fresh drain: drop the
    * view table (its source position goes with it) and the stream
    * checkpoint. The SOURCE fixture is untouched — it memoizes via
    * atRestBuilt.
    */
  private def resetAggView(base: String): (graft.table.WarehouseTable, java.nio.file.Path) = {
    val view = graft.table.WarehouseTable(base + "/view")
    view.drop()
    val ckpt = java.nio.file.Paths.get(base, "ckpt")
    if (java.nio.file.Files.exists(ckpt)) {
      val walk = java.nio.file.Files.walk(ckpt)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists)
      } finally walk.close()
    }
    (view, ckpt)
  }

  private def events(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    s.read.schema(schema).parquet(s"$dir/events.parquet")
      .withColumn("ts",
        when(col("ts") < 40000000000000000L, col("ts") * 1000L)
          .otherwise(col("ts")))
  }

  private val NanosPerHour = 3600L * 1000 * 1000 * 1000
  /** epoch nanos literal for a UTC date, for split/cutoff filters. */
  private def utcNanos(date: String): Long =
    java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.getEpochSecond * 1000000000L

  /** Exact decimal sum of a 2-decimal double column, surfaced as double. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q02_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  // ==========================================================================
  // Queries
  // ==========================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // ---- relational core (reference surface, SURVEY.md §2.2) ------------

    // S4/P1 + aggregation sweep (pricing summary, TPC-H Q1 shape).
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1999-12-31").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          count(lit(1)).as("n_rows"))
    }),

    // J-family: multi-way join + agg; small dims broadcast explicitly.
    "q02_revenue_by_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      // customer is NOT hinted broadcast: it scales with the data (TPC-H
      // grows it with SF), so a hint would pin an executor-memory-bound
      // plan at corpus scale. AQE size-dispatches (still a broadcast at
      // bench SFs). nation is a fixed 25-row dim — hint is safe.
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(18,2)")
            * (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }),

    // W1 variant: ranking window + top-k filter (WindowGroupLimit path).
    "q03_topk_orders_per_segment" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      // unhinted: customer is data-scaled (see q02) — AQE size-dispatches
      o.join(c, o("o_custkey") === c("c_custkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select(col("c_mktsegment"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // W1+F1: the reference's dedup window (mergeSQL.sql:14-21) on events.
    "q04_dedup_latest" -> ((s, dir) => {
      // order on µs-truncated ts: DuckDB stores TIMESTAMP at µs, so the
      // tiebreak must kick in at exactly the same granularity
      Dedup.latestByKey(
        t(s, dir, "events").withColumn("ts_us", expr("ts div 1000")),
        keys = Seq("user_id", "event_type"),
        orderDesc = "ts_us",
        tiebreakDesc = Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
    }),

    // J1-J3: MERGE upsert as join-rewrite (mergeSQL.sql:23-43 semantics):
    // old half of the stream is the target, new half the deduped source.
    "q05_merge_upsert" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val keys = Seq("user_id", "event_type")
      val cut = lit(utcNanos("2024-01-16"))
      val target = Dedup.latestByKey(
        ev.filter(col("ts") < cut), keys, "ts_us", Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      val source = Dedup.latestByKey(
        ev.filter(col("ts") >= cut), keys, "ts_us", Seq("event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("value"))
      MergeInto.upsertAll(target, source, keys)
    }),

    // Event-time tumbling-window rollup (streaming agg shape, run batch).
    "q06_hourly_rollup" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(
          col("event_type"),
          // integer nanos → epoch-second hour bucket (ts is epoch-nanos
          // long; double math would lose precision above 2^53)
          (expr(s"ts div $NanosPerHour") * 3600).as("hour_bucket"))
        .agg(
          count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"))
    }),

    // ---- training-data pipeline ops -------------------------------------

    // Exact dedup by content fingerprint (md5 of normalized text).
    "q07_exact_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("fp", fingerprint(col("text")))
        .groupBy(col("fp"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    }),

    // Token counting: whitespace + BPE-ish unit counts.
    "q08_token_stats" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          bpeishCount(col("text")).as("n_bpeish"),
          punctCount(col("text")).cast("long").as("n_punct"),
          // engine-stable rounding (see TextFunctions.qualityScore)
          (floor(length(regexp_replace(col("text"), "\\s+", "")).cast("double")
              / tokenCount(col("text")) * 10000.0 + 0.5) / 10000.0)
            .as("mean_word_len"))
    }),

    // Quality scoring (length/alpha/stopword/word-length blend).
    "q09_quality_score" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
    }),

    // Language ID heuristic vs the declared lang label. Computed as an
    // explode + broadcast-join against the stopword table + conditional
    // counts — fully codegen'd, unlike the per-language array-filter HOFs
    // (same semantics: marker sets are disjoint, duplicates count).
    "q10_lang_id" -> ((s, dir) => {
      import s.implicits._
      val langs = graft.functions.TextFunctions.stopwords.keys.toSeq.sorted
      val sw = graft.functions.TextFunctions.stopwords.toSeq
        .flatMap { case (l, ws) => ws.map(w => (w, l)) }
        .toDF("w", "slang")
      val docs = t(s, dir, "documents")
      val ex = docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      val hitCols = langs.map(l =>
        count(when(col("slang") === l, 1)).as(s"h_$l"))
      val hits = ex.join(broadcast(sw), "w")
        .groupBy(col("doc_id"))
        .agg(hitCols.head, hitCols.tail: _*)
      val withHits = docs.select(col("doc_id"), col("lang"))
        .join(hits, Seq("doc_id"), "left")
        .na.fill(0L, langs.map(l => s"h_$l"))
      val mx = greatest(langs.map(l => col(s"h_$l")): _*)
      val pick = langs.zip(langs.map(l => col(s"h_$l")))
        .foldRight(lit("und")) { case ((lang, h), other) =>
          when(h === mx, lit(lang)).otherwise(other)
        }
      withHits
        .withColumn("guess", when(mx === 0, lit("und")).otherwise(pick))
        .groupBy(col("lang"), col("guess"))
        .agg(count(lit(1)).as("n"))
    }),

    // N-gram Jaccard near-dup pairs (word 3-gram shingles, same-lang
    // blocking, exact set similarity) — the exact-verification twin of the
    // MinHash candidate generator.
    "q11_ngram_jaccard" -> ((s, dir) => {
      // IMPORTANT shape: the join carries ONLY (doc_id, tri). Dragging the
      // shingle-count expression through the join lets projection collapse
      // re-evaluate the whole shingle array per joined row (≈1.3M × at
      // sf0.1 — measured 450 s); aggregating first and broadcast-joining
      // the 1-row-per-doc count table afterwards computes it once per doc.
      val docs = t(s, dir, "documents")
      val counts = docs.select(
        col("doc_id"), size(shingles(col("text"), 3)).as("n_sh"))
      // repartition on the join key: both self-join sides then share one
      // identical Exchange subtree, which ReuseExchange dedupes — the
      // (interpreted, HOF-heavy) shingle explode runs ONCE, not once per
      // side, and the join needs no further shuffle. EXPLICIT partition
      // count: the exploded frame is small by bytes, so AQE would coalesce
      // the exchange and serialize the per-shingle pair enumeration
      // (CPU-quadratic in doc frequency) onto a handful of tasks.
      val ex = docs.select(
        col("doc_id"), explode(shingles(col("text"), 3)).as("tri"))
        .repartition(s.sparkContext.defaultParallelism, col("tri"))
      // rename one side so the self-join has unambiguous equi-keys
      // (same-lineage aliases can collapse the condition and degrade to a
      // nested-loop join — 50× slower even at tiny scale)
      val b = ex.select(col("doc_id").as("doc_id_b"), col("tri").as("tri_b"))
      val pairs = ex.join(b,
          col("tri") === col("tri_b") && col("doc_id") < col("doc_id_b"))
        .groupBy(col("doc_id").as("d1"), col("doc_id_b").as("d2"))
        .agg(count(lit(1)).as("inter"))
      pairs
        // totals joins unhinted (one row per doc = executor-memory-bound
        // at corpus scale; AQE size-dispatches) — same rule as
        // TextDedup.winnowMatches. The count-aggregate-then-join shape
        // itself stays: it is what avoids the measured 450 s
        // CollapseProject shingle recomputation, independent of strategy.
        .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
        .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
        // engine-stable rounding: see TextDedup.verifyPairs (the jaccard
        // feeds the threshold filter)
        .withColumn("jaccard",
          floor(col("inter").cast("double")
            / (col("n1") + col("n2") - col("inter")) * 10000.0 + 0.5) / 10000.0)
        .filter(col("jaccard") >= 0.5)
        .select(col("d1"), col("d2"), col("jaccard"))
    }),

    // MinHash+LSH near-dup: banded signature buckets prune candidates,
    // exact Jaccard verifies — same defined output as q11, computed without
    // the all-pairs inverted-index join (the 100 TB path).
    "q12_minhash_lsh" -> ((s, dir) => {
      val sh = TextDedup.shingled(t(s, dir, "documents"), "doc_id", "text", 3)
      val cands = TextDedup.minHashCandidates(sh, bands = 16, rows = 4)
      TextDedup.verifyPairs(cands, sh, 0.5)
    }),

    // SimHash near-dup: 128-bit fingerprints (two independently-seeded
    // codegen SimHash64 halves) with pigeonhole block-join candidates and
    // exact-Jaccard verify. The fingerprint is over SHINGLES, not tokens:
    // shingle sets are near-disjoint for unrelated docs, so hamming
    // separates signal from noise. Doubling 64→128 bits is what retires
    // the round-2 dense all-pairs scan: the radius that needed 17/64
    // (sub-4-bit blocks ⇒ blocking degenerated) needs only ~30/128 —
    // measured on this corpus: true pairs ≤ 22-25 bits, noise ≥ 32; the
    // sf1 scale harness showed a marginal pair at 28 bits, so radius 30
    // (31 pigeonhole blocks, still ≥4 bits each) keeps recall with real
    // margin at the same equi-join plan (explode + shuffle join, no
    // broadcast cartesian anywhere).
    "q13_simhash" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
      // fingerprint over the same shingled frame the verifier uses — one
      // shingle computation, not two
      val cands = TextDedup.simHash128Candidates(
        sh.select(col("doc_id"), col("sh").as("toks")), maxHamming = 30)
      TextDedup.verifyPairs(cands, sh, 0.5)
    }),

    // Brute-force cosine top-k (exact ANN baseline): 10 query vectors vs
    // the rest of the corpus; cosines are bit-identical to the oracle's
    // in-order double fold, so raw doubles are emitted.
    "q14_cosine_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      SimilaritySearch.bruteForceTopK(qs, corpus, k = 5)
    }),

    // Hard-negative mining (DPR/contrastive training prep): per query,
    // the 5 most-similar corpus vectors with a DIFFERENT label — the
    // near-misses an embedding model trains against. q14's exact plan
    // with the label-mismatch predicate applied before ranking.
    "q99_hard_negatives" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilaritySearch.hardNegatives(
        e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
            col("label").as("qlabel")),
        e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("id"), col("embedding").as("vec"),
            col("label")),
        k = 5)
    }),

    // IVF (inverted-file) ANN: label-bucketed coarse quantizer, probe the
    // 3 nearest centroids only. Deterministic end-to-end (label-means
    // codebook, total-order probe ranking + top-k), so it carries a full
    // DuckDB oracle; recall vs q14 is additionally asserted in the suite.
    "q15_ivf_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").as("bucket"))
      val cents = SimilaritySearch.centroids(corpus, "bucket")
      SimilaritySearch.ivfTopK(qs, corpus, cents, k = 5, nprobe = 3)
    }),

    // End-to-end warehouse CDC pipeline INSIDE the correctness gate: two
    // event batches flow through create-table → dedup → partition-level
    // COW merge → snapshot read, on a real on-disk WarehouseTable. The
    // final table must equal the pure-DataFrame upsert of q05.
    "q17_warehouse_cdc" -> ((s, dir) => {
      // fixed scratch root, wiped on entry: repeated Verify/Bench runs in
      // one process (or across rounds) reuse the same /tmp footprint
      // instead of leaking a populated warehouse per invocation. Not
      // dropped on exit — the returned DataFrame reads it lazily.
      val wh = sys.props("java.io.tmpdir") + "/graft_q17_scratch/events_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val keys = Seq("user_id", "event_type")
      val cut = lit(utcNanos("2024-01-16"))
      val cols = Seq("user_id", "event_type", "event_id", "value")
      val b1 = Dedup.latestByKey(
        ev.filter(col("ts") < cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*)
      val b2 = Dedup.latestByKey(
        ev.filter(col("ts") >= cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*)
      table.create(b1.schema, partition = Some("event_type"),
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.merge(s, b1, keys)
      table.merge(s, b2, keys)
      table.read(s).select(cols.map(col): _*)
    }),

    // As-of join (an operator the reference and stock SQL lack): each
    // purchase event picks up the newest click event by the same user at
    // or before its time. Union + carry-forward window — one shuffle.
    // Times are µs-truncated so inclusivity matches DuckDB's ASOF.
    "q18_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
      TemporalJoins.asofJoinBackward(
        purchases, clicks,
        keys = Seq("user_id"),
        leftTime = "ts_us", rightTime = "ts_us",
        rightValueCols = Seq("click_id"),
        tiebreak = "click_id")
        .select(col("user_id"), col("event_id"), col("value"),
          col("asof_click_id"))
    }),

    // Gap-based sessionization (30-minute inactivity gap) + per-session
    // rollup — lag/flag/running-sum windows, no state store in batch.
    "q19_sessionize" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      TemporalJoins.sessionize(
        ev, keys = Seq("user_id"), timeCol = "ts_us",
        tiebreak = "event_id", maxGap = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"),
          min(col("event_id")).as("first_event"))
    }),

    // Exact order-statistic quantiles (p50/p90) per group — rank-based
    // selection, not approx sketches, so the oracle matches bit-for-bit.
    // Two-phase selection, NOT a per-group window sort: with ~5 distinct
    // event_types a Window.partitionBy(event_type) global sort puts 20% of
    // the table through ONE task at 100 TB. Phase 1 bins values and counts
    // per (group, bin) — a plain hash aggregation, fully parallel. The
    // cumulative bin histogram (5 groups × 1024 bins, driver-light) locates
    // which bin holds each target rank; phase 2 sorts ONLY the rows of the
    // target bins (~n/1024 of the data per group) to pick the exact ranked
    // row. Ties are safe: a bin is a function of value alone, and the
    // in-bin rank offset comes from the strictly-smaller bins' counts.
    "q20_quantiles" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value"), col("event_id"))
      val nBins = 1024
      val stats = ev.groupBy(col("event_type")).agg(
        count(lit(1)).as("cnt"),
        min(col("value")).as("vmin"),
        max(col("value")).as("vmax"))
      // bin id in [0, nBins): value-only function, degenerate range → bin 0
      def binOf(v: Column, vmin: Column, vmax: Column): Column =
        when(vmax <= vmin, lit(0)).otherwise(
          least(lit(nBins - 1),
            floor((v - vmin) / ((vmax - vmin) / nBins)).cast("int")))
      val binned = ev.join(broadcast(stats), "event_type")
        .withColumn("bin", binOf(col("value"), col("vmin"), col("vmax")))
      val binCounts = binned.groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("bn"))
      // rows strictly before each bin (tiny frame: groups × bins)
      val wb = Window.partitionBy(col("event_type")).orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = binCounts.withColumn("before",
        coalesce(sum(col("bn")).over(wb), lit(0L)))
      // target ranks per group; one row per (group, quantile-bin)
      val targets = stats.select(
        col("event_type"), col("cnt"),
        explode(array(
          struct(lit("p50").as("q"), ceil(col("cnt") * 0.5).cast("long").as("r")),
          struct(lit("p90").as("q"), ceil(col("cnt") * 0.9).cast("long").as("r"))))
          .as("t"))
        .select(col("event_type"), col("cnt"), col("t.q").as("q"), col("t.r").as("r"))
      // (cnt travels with `binned` via the stats join; don't duplicate it)
      val hitBins = targets.join(cum, "event_type")
        .filter(col("r") > col("before") && col("r") <= col("before") + col("bn"))
        .select(col("event_type"), col("bin"), col("q"), col("r"), col("before"))
      // phase 2: rank only inside the hit bins (≈ cnt/nBins rows per group)
      val win = Window.partitionBy(col("event_type"), col("bin"), col("q"))
        .orderBy(col("value").asc, col("event_id").asc)
      val picked = binned.join(broadcast(hitBins), Seq("event_type", "bin"))
        .withColumn("rin", row_number().over(win))
        .filter(col("before") + col("rin") === col("r"))
      picked.groupBy(col("event_type"))
        .agg(
          max(col("cnt")).as("n"),
          max(when(col("q") === "p50", col("value"))).as("p50"),
          max(when(col("q") === "p90", col("value"))).as("p90"))
    }),

    // ROLLUP grouping sets (subtotals + grand total in one pass).
    "q21_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // Set operations (EXCEPT / INTERSECT, distinct semantics) over
    // discriminating subsets (high-value events only — every user has
    // every event type, so unfiltered sets would be degenerate).
    "q22_set_ops" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      def users(tpe: String) =
        ev.filter(col("event_type") === tpe && col("value") > 195)
          .select(col("user_id"))
      val pure = users("purchase").except(users("error"))
        .select(lit("pure").as("tag"), col("user_id"))
      val both = users("purchase").intersect(users("click"))
        .select(lit("both").as("tag"), col("user_id"))
      pure.unionByName(both)
    }),

    // Embedding-cosine near-dup pairs through the 100 TB path: multi-table
    // RP-LSH candidate buckets + exact-cosine verify
    // (SimilaritySearch.embeddingNearDupPairs) — an equi-join on
    // (table, bucket), never an all-pairs cartesian. The driver corpus has
    // no high-cosine dups (max ≈ 0.51), so near-dups are PLANTED
    // deterministically inside the query: each of the first 25 vectors
    // gains a ×2-scaled copy (id + 1_000_000). Scaling by an exact power
    // of two keeps every random-projection sign identical (sign(r·2v) ≡
    // sign(r·v) — products and sums scale exactly in IEEE arithmetic), so
    // each planted pair collides in EVERY LSH table: recall 1.0 at
    // τ = 0.95 is provable, not sampled. The DuckDB oracle builds the same
    // augmented corpus and runs the exact all-pairs semantics — the
    // brute-force twin verifying the LSH path end-to-end. (The spec
    // additionally asserts LSH ≡ exact-broadcast on the augmented corpus.)
    "q24_embedding_neardup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val planted = base.filter(col("id") < 25)
        .select((col("id") + 1000000L).as("id"),
          transform(col("vec"), x => x * lit(2.0f)).as("vec"))
      val corpus = base.unionByName(planted)
      SimilaritySearch.embeddingNearDupPairs(
        corpus, nPlanes = 12, threshold = 0.95, nTables = 4)
    }),

    // Running / navigational window functions (cumulative sum, lag, lead,
    // row_number) over event time — the window family beyond ranking.
    "q25_window_running" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us").asc, col("event_id").asc)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(
        col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,2)")).over(wRun)
          .cast("double").as("run_sum"),
        lag(col("event_id"), 1).over(w).as("prev_event"),
        lead(col("event_id"), 1).over(w).as("next_event"),
        row_number().over(w).as("seq"))
    }),

    // Literal MERGE INTO SQL (with a CDC DELETE branch) planned natively:
    // the statement goes through spark.sql against the DSv2 catalog — the
    // GraftMergeStrategy lowers it onto the partition-pruned COW merge.
    // Semantics under test: matched rows with value<50 are DELETED, other
    // matches update, unmatched sources insert only when value>=50.
    "q23_sql_merge" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q23_scratch"
      graft.table.WarehouseTable(s"$wh/db/events_t").drop()
      s.conf.set("spark.sql.catalog.graft_q23", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q23.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val keys = Seq("user_id", "event_type")
      val cut = lit(utcNanos("2024-01-16"))
      val cols = Seq("user_id", "event_type", "event_id", "value")
      Dedup.latestByKey(ev.filter(col("ts") < cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*).createOrReplaceTempView("q23_b1")
      Dedup.latestByKey(ev.filter(col("ts") >= cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*).createOrReplaceTempView("q23_b2")
      s.sql(
        """CREATE TABLE graft_q23.db.events_t (
          |  user_id BIGINT, event_type STRING, event_id BIGINT, value DOUBLE
          |) PARTITIONED BY (event_type)""".stripMargin)
      s.sql("INSERT INTO graft_q23.db.events_t SELECT * FROM q23_b1")
      s.sql(
        """MERGE INTO graft_q23.db.events_t AS t USING q23_b2 AS s
          |ON t.user_id = s.user_id AND t.event_type = s.event_type
          |WHEN MATCHED AND s.value < 50 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET t.event_id = s.event_id, t.value = s.value
          |WHEN NOT MATCHED AND s.value >= 50 THEN INSERT
          |  (user_id, event_type, event_id, value)
          |  VALUES (s.user_id, s.event_type, s.event_id, s.value)""".stripMargin)
      s.sql("SELECT user_id, event_type, event_id, value FROM graft_q23.db.events_t")
    }),

    // PIVOT: per-user event-type columns in one aggregation pass (explicit
    // value list ⇒ no extra distinct-values job; single agg ⇒ unsuffixed
    // column names). The oracle is the equivalent conditional aggregation.
    "q26_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))
    }),

    // Correlated EXISTS / NOT EXISTS subqueries through spark.sql —
    // Catalyst rewrites them to left-semi / left-anti joins.
    "q27_exists_subquery" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q27_customer")
      t(s, dir, "orders").createOrReplaceTempView("q27_orders")
      s.sql(
        """SELECT c.c_custkey, c.c_name FROM q27_customer c
          |WHERE EXISTS (SELECT 1 FROM q27_orders o
          |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          |  AND NOT EXISTS (SELECT 1 FROM q27_orders o
          |                  WHERE o.o_custkey = c.c_custkey
          |                    AND o.o_orderstatus = 'F' AND o.o_totalprice < 10000)""".stripMargin)
    }),

    // Multimodal frame sampling with an exact oracle: the text payload
    // plays an opaque byte stream (all-ASCII corpus ⇒ char == byte), cut
    // into 64-byte frames, every 2nd frame fingerprinted. Same chunking
    // shape as Multimodal.sampleFrames, expressed scan-side: explode of a
    // bounded sequence, no driver involvement.
    "q28_multimodal_frames" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("n_frames", expr("int(length(text) div 64)"))
        .filter(col("n_frames") > 0)
        .withColumn("frame_idx", explode(expr("sequence(0L, n_frames - 1L, 2L)")))
        .select(col("doc_id"), col("frame_idx"),
          md5(expr("cast(substring(text, int(frame_idx * 64 + 1), 64) as binary)"))
            .as("frame_md5"))
    }),

    // UNPIVOT (wide→long melt) + per-metric rollup: the inverse of q26's
    // pivot, one Expand pass, no join.
    "q29_unpivot" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .unpivot(
          ids = Array(col("l_orderkey")),
          values = Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          variableColumnName = "metric",
          valueColumnName = "val")
        .groupBy(col("metric"))
        .agg(dsum(col("val")).as("total"), count(lit(1)).as("n"))
    }),

    // MERGE WITH SCHEMA EVOLUTION through the full SQL stack: the second
    // CDC batch carries a column the table was not created with
    // (batch_tag); the analyzer's ResolveMergeIntoSchemaEvolution diffs
    // source vs target and ADDs it through GraftCatalog.alterTable
    // (metadata-only — no rewrite), the planner strategy lowers the merge
    // onto the partition-pruned COW rewrite, and pre-evolution rows
    // surface NULL — the implicit Iceberg widening the reference pipeline
    // relies on for its float/double schema quirk (SURVEY.md §1.2).
    "q30_merge_schema_evolution" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q30_scratch"
      graft.table.WarehouseTable(s"$wh/db/events_t").drop()
      s.conf.set("spark.sql.catalog.graft_q30", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q30.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val keys = Seq("user_id", "event_type")
      val cut = lit(utcNanos("2024-01-16"))
      val cols = Seq("user_id", "event_type", "event_id", "value")
      Dedup.latestByKey(ev.filter(col("ts") < cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*).createOrReplaceTempView("q30_b1")
      Dedup.latestByKey(ev.filter(col("ts") >= cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*)
        .withColumn("batch_tag", col("event_id") % 7)
        .createOrReplaceTempView("q30_b2")
      s.sql(
        """CREATE TABLE graft_q30.db.events_t (
          |  user_id BIGINT, event_type STRING, event_id BIGINT, value DOUBLE
          |) PARTITIONED BY (event_type)""".stripMargin)
      s.sql("INSERT INTO graft_q30.db.events_t SELECT * FROM q30_b1")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft_q30.db.events_t AS t
          |USING q30_b2 AS s
          |ON t.user_id = s.user_id AND t.event_type = s.event_type
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      s.sql(
        """SELECT user_id, event_type, event_id, value, batch_tag
          |FROM graft_q30.db.events_t""".stripMargin)
    }),

    // LATERAL correlated derived table (top-3 orders per customer of one
    // segment): Catalyst decorrelates the per-row ORDER BY + LIMIT into a
    // windowed rank over one shuffle on the join key — no per-customer
    // subquery execution, the plan a 100 TB top-N-per-group needs.
    "q31_lateral_topn" -> ((s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("q31_customer")
      t(s, dir, "orders").createOrReplaceTempView("q31_orders")
      s.sql(
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM q31_customer c,
          |LATERAL (
          |  SELECT o_orderkey, o_totalprice FROM q31_orders o
          |  WHERE o.o_custkey = c.c_custkey
          |  ORDER BY o_totalprice DESC, o_orderkey
          |  LIMIT 3
          |) t
          |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin)
    }),

    // Winnowing (rolling-hash) document fingerprints: min-hash of each
    // sliding window over positional trigram hashes — the MOSS scheme as
    // one posexplode + one partition-window pass. Output: per-doc window
    // count, distinct-fingerprint count, smallest fingerprint.
    "q32_winnow_fingerprint" -> ((s, dir) => {
      graft.operators.TextDedup.winnowFingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 3, window = 4)
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_windows"),
          countDistinct(col("fp")).as("n_fp"),
          min(col("fp")).as("min_fp"))
    }),

    // Op-aware CDC pipeline (the extension point SURVEY.md §2.2 names; the
    // reference upserts deletes — read.py ignores the DMS Op column its own
    // sampledata carries). Batch 2 derives an op code per row (event_id
    // divisible by 10 ⇒ 'D'), and the SAME WarehouseTable.merge(deleteWhere)
    // path IngestRunner's cdc_op_column mode wires runs it: delete-marked
    // matches drop, other matches update, unmarked unmatched rows insert,
    // delete-of-absent-key is a no-op. On-disk COW with partition pruning,
    // exactly like q17.
    "q33_cdc_delete_pipeline" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q33_scratch/events_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val keys = Seq("user_id", "event_type")
      val cut = lit(utcNanos("2024-01-16"))
      val cols = Seq("user_id", "event_type", "event_id", "value")
      val b1 = Dedup.latestByKey(
        ev.filter(col("ts") < cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*)
      val b2 = Dedup.latestByKey(
        ev.filter(col("ts") >= cut), keys, "ts_us", Seq("event_id"))
        .select(cols.map(col): _*)
        .withColumn("op",
          when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U")))
      table.create(b1.schema, partition = Some("event_type"),
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.merge(s, b1, keys)
      table.merge(s, b2, keys, deleteWhere = Some(col("op").isin("D")))
      table.read(s).select(cols.map(col): _*)
    }),

    // IVF bucketed AT REST: the corpus persists in a WarehouseTable
    // partitioned by quantizer bucket, and the probe reads ONLY the nprobe
    // probed buckets' partitions (manifest-level pruning — unprobed
    // partitions' file lists are never parsed). Same quantizer, probe
    // ranking and tiebreaks as q15, so the q15 oracle certifies it; the
    // pruning itself is asserted in the suite via inputFiles.
    "q34_ivf_at_rest" -> ((s, dir) => {
      val table = q34Index(s, dir) // build-once (memoized); timed part = lookup
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").as("bucket"))
      val cents = SimilaritySearch.centroids(corpus, "bucket")
      SimilaritySearch.ivfTopKAtRest(s, qs, table, cents, k = 5, nprobe = 3)
    }),

    // Winnow-based clone detection (the matching half of MOSS, completing
    // q32's fingerprint extraction): inverted-index join on distinct
    // winnow fingerprints, containment |∩| / min(|FP|) — document pairs
    // sharing at least half their fingerprints.
    "q35_winnow_match" -> ((s, dir) => {
      val fps = graft.operators.TextDedup.winnowFingerprints(
        t(s, dir, "documents"), "doc_id", "text", k = 3, window = 4)
      graft.operators.TextDedup.winnowMatches(fps, threshold = 0.5)
    }),

    // The dedup DECISION step: connected components over the MinHash+LSH
    // pair set (q12's scale path) — transitive closure grouped into
    // clusters, cluster id = min reachable doc_id ("keep the oldest").
    // Alternating large-star/small-star contraction: O(log n) rounds
    // regardless of cluster diameter (a chain of versioned near-dups
    // cannot stall it). Oracle: DuckDB WITH RECURSIVE closure.
    "q36_dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
      val pairs = TextDedup.verifyPairs(TextDedup.minHashCandidates(sh), sh, 0.5)
      Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("d1"), col("d2")))
        .select(col("id").as("doc_id"), col("cluster"))
    }),

    // Deterministic stratified sampling — training-data mixture building
    // without rand(): the sampling decision is a pure function of the row
    // key (first two hex chars of md5 < '28' ⇒ ~15.6%), so the sample is
    // reproducible across engines, runs and partitionings, and the
    // per-stratum rates are auditable. The same trick shards corpora into
    // train/val/test splits that survive recomputation.
    "q37_stratified_sample" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(Sampling.keep(col("doc_id"), lit("28")))
        .select(col("doc_id"), col("lang"))
    }),

    // TF-IDF top terms per document — the classic text-analysis scoring as
    // two hash aggregations and a broadcast: term frequencies per (doc,
    // term), document frequencies per term (tf is already distinct per
    // doc, so count(*) = df), idf = ln(N/df) with the corpus size joined
    // in as a 1-row broadcast (no driver collect). Ranking happens on the
    // ROUNDED score (4 decimals, term-asc tiebreak) so the order is
    // deterministic across engines — ln() may differ in the last ulp
    // between libm implementations, and an unrounded ORDER BY could flip
    // near-ties.
    "q38_tfidf_topterms" -> ((s, dir) => {
      // fit + apply on the same corpus ≡ the classic single-pass TF-IDF;
      // the split exists so the SAME scoring code serves the streaming
      // scorer (frozen model, arriving docs). Plan shape is unchanged:
      // vocabulary-sized model join unhinted, 1-row corpus count
      // broadcast, rank on the engine-stable ROUNDED score.
      val docs = t(s, dir, "documents")
      graft.operators.TfIdf.scoreTopTerms(docs, "doc_id", "text",
        graft.operators.TfIdf.idfModel(docs, "doc_id", "text"), 3)
    }),

    // Training-mixture construction: per-source target rates (upsample
    // common-crawl-ish bulk down, keep curated sources whole) applied as
    // per-stratum deterministic hash thresholds — the q37 sampler with a
    // rate PER STRATUM. One scan, no shuffle except the audit rollup; the
    // mixture is reproducible across engines and runs.
    "q39_mixture_weights" -> ((s, dir) => {
      // hex-prefix thresholds: keep fraction = x/256 of each source tier
      val thr =
        when(col("source").isin("src0", "src1", "src2", "src3"), lit("29")) // ~16%
        .when(col("source").isin("src4", "src5", "src6", "src7"), lit("80")) // 50%
        .otherwise(lit("zz")) // keep whole (every hex prefix < "zz")
      t(s, dir, "documents")
        .filter(Sampling.keep(col("doc_id"), thr))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_sampled"), min(col("doc_id")).as("first_id"))
    }),

    // INT8 embedding quantization — the storage/serving transform a 100 TB
    // vector corpus needs (4× smaller, SIMD-friendly): per-vector absmax
    // scaling, q = clamp(round(x * 127 / absmax)). Rounding is spelled
    // floor(v + 0.5) explicitly because engine-native round() disagrees
    // between engines (HALF_UP vs banker's); floor is exact IEEE in both.
    // Emits the quantized vector plus reconstruction error stats.
    "q40_embedding_quantize" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").as("vec"))
        .withColumn("absmax", expr(
          "aggregate(vec, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(CAST(x AS DOUBLE))))"))
      e.withColumn("q", expr(
          """transform(vec, x -> CAST(CASE WHEN absmax = 0.0 THEN 0.0
            |  ELSE greatest(-127.0, least(127.0,
            |    floor(CAST(x AS DOUBLE) * 127.0 / absmax + 0.5))) END AS INT))""".stripMargin))
        // engine-stable rounding at 6 decimals (floor(x·10⁶+0.5)/10⁶) —
        // same half-boundary rationale as qualityScore, at this scale
        .withColumn("recon_mae", floor(expr(
          """aggregate(zip_with(vec, q, (x, qq) ->
            |  abs(CAST(x AS DOUBLE) - CAST(qq AS DOUBLE) * absmax / 127.0)),
            |  CAST(0.0 AS DOUBLE), (a, b) -> a + b) / size(vec)""".stripMargin)
          * 1000000.0 + 0.5) / 1000000.0)
        // CSV-string the int8 vector: the compare gate hashes scalar cells
        .select(col("vec_id"), array_join(col("q"), ",").as("q_csv"),
          (floor(col("absmax") * 1000000.0 + 0.5) / 1000000.0).as("absmax_r"),
          col("recon_mae"))
    }),

    // Sequence packing — batching documents into ~fixed-token training
    // sequences. Packing is inherently order-dependent, so the scalable
    // shape is SHARDED contiguous packing: docs partition into contiguous
    // doc_id shards (independent ⇒ parallel; one window each), a running
    // token sum within the shard assigns bin = cumsum div budget, and the
    // rollup reports per-bin fill. No global sort anywhere — the
    // single-sequence "optimal" packing would serialize the corpus.
    "q41_sequence_pack" -> ((s, dir) => {
      val budget = 2048L
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          (col("doc_id") / 100).cast("long").as("shard"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      docs
        .withColumn("cum", sum(col("n_tokens")).over(w))
        // greatest(cum-1, 0) keeps the dividend non-negative, where trunc
        // (Spark cast) and floor (DuckDB //) agree — the cum=0 edge (empty
        // docs heading a shard) cannot diverge between engines.
        .withColumn("bin",
          floor(greatest(col("cum") - 1, lit(0L)) / budget).cast("long"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_sum"),
          min(col("doc_id")).as("first_doc"))
    }),

    // Benchmark decontamination — the GPT-3/Pile-style n-gram filter: a
    // training document is contaminated if it shares ANY 8-gram with the
    // benchmark set (here: doc_id < 50 plays the benchmark). Inverted-
    // index equi-join on the gram (benchmark side is small → broadcast);
    // emits contaminated docs with shared-gram counts — the removal list
    // a training pipeline consumes.
    "q42_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def grams(df: DataFrame, idAs: String) = df
        .select(col("doc_id").as(idAs), explode(shingles(col("text"), 8)).as("gram"))
      val bench = grams(docs.filter(col("doc_id") < 50), "bench_id")
        .select(col("gram")).distinct()
      grams(docs.filter(col("doc_id") >= 50), "doc_id")
        .join(broadcast(bench), "gram")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shared_grams"))
    }),

    // PII redaction — the content-scrubbing stage of a training pipeline:
    // regex-class scrub (email/SSN/phone/IPv4) as a codegen'd
    // regexp_replace chain plus per-class audit counts (map-only, no
    // shuffle, no UDF). The corpus carries no organic PII, so
    // deterministic patterns are planted INSIDE the query (the q24
    // planted-pair trick): docs at doc_id % {3,4,5} == 0 gain an email /
    // phone / SSN; the oracle plants and scrubs identically. Output keys
    // the redacted text by md5 so the gate hashes a bounded cell.
    "q43_pii_redaction" -> ((s, dir) => {
      import graft.operators.PiiRedaction
      val id = col("doc_id").cast("string")
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), id, lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      PiiRedaction.scrub(planted, "text")
        .select(col("doc_id"), md5(col("redacted")).as("red_md5"),
          col("n_email"), col("n_ssn"), col("n_phone"), col("n_ipv4"))
    }),

    // Segment-level exact dedup (the C4/RefinedWeb line-dedup stage): the
    // corpus is re-crawled inside the query (plantedRecrawl — deterministic
    // dup mass at every SF) and each 16-word segment keeps only its global
    // first occurrence.
    "q44_segment_dedup" -> ((s, dir) =>
      TextDedup.segmentDedup(plantedRecrawl(s, dir), "doc_id", "text",
        segWords = 16)),

    // Gopher-style repetition quality signals: duplicate-word fraction,
    // top-word share, top-bigram coverage, and a threshold flag computed
    // on the rounded fractions (engine-reproducible cut).
    "q45_repetition_quality" -> ((s, dir) =>
      Repetition.signals(t(s, dir, "documents"), "doc_id", "text")),

    // Deterministic global training order: 16-way shard + dense position
    // within shard from the md5 of the key — built two-level (micro-bucket
    // rank + prefix-sum offsets over a ≤4096-row coordination table) so no
    // single task ever sorts a whole shard. Semantically identical to
    // row_number() OVER (PARTITION BY shard ORDER BY hashkey, doc_id).
    "q46_training_order" -> ((s, dir) =>
      Sampling.trainingOrder(t(s, dir, "documents"), "doc_id")),

    // Incremental dedup — the arriving-batch-vs-existing-corpus decision:
    // corpus = even doc_ids; incoming = odd doc_ids (organic) plus planted
    // arrivals derived from the corpus (every doc_id % 10 == 0 corpus doc
    // re-arrives verbatim → exact dup; every doc_id % 10 == 4 re-arrives
    // with 3 appended words → near dup at jaccard m/(m+3) ≥ 0.5). Exact =
    // q07's normalized fingerprint vs the corpus set; near = q11's exact
    // shingle-Jaccard vs any corpus doc.
    "q47_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .unionAll(corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
        .unionAll(corpus.filter(col("doc_id") % 10 === 4)
          .select((col("doc_id") + PlantOffset * 2).as("doc_id"),
            concat(col("text"), lit(" zz yy xx")).as("text")))
      TextDedup.dedupAgainstCorpus(incoming, corpus, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
    }),

    // The full curation pipeline (scrub → exact dedup → repetition/length
    // gates → deterministic sample) as ONE tagged-decision program: PII is
    // planted per-doc (q43's trick) BEFORE the re-crawl union (so copies
    // carry identical planted text and stay exact dups after scrubbing),
    // every doc_id % 9 == 1 doc re-arrives under doc_id + PlantOffset, and the
    // output carries each stage's INT decision plus the conjunction.
    "q48_curation_pipeline" -> ((s, dir) => {
      import graft.pipeline.CurationPipeline
      val id = col("doc_id").cast("string")
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact user"), id, lit("@example.com")))
            .otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            concat(lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" ssn 123-45-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(""))).as("text"))
      val docs = planted.unionAll(
        planted.filter(col("doc_id") % 9 === 1)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
      CurationPipeline.curate(docs, "doc_id", "text",
        CurationPipeline.Config(minWords = 10, sampleHex = "d0"))
        .select(col("doc_id"), md5(col("text")).as("red_md5"),
          (col("n_email") + col("n_ssn") + col("n_phone") + col("n_ipv4")).as("n_pii"),
          col("exact_dup"), col("repetitive"), col("short"),
          col("sampled_out"), col("keep"))
    }),

    // Packed-sequence MATERIALIZATION — q41 assigns documents to ~2048-
    // token bins; this emits the training file content: per (shard, bin),
    // the member documents concatenated in doc_id order with an <eos>
    // separator (md5'd so the gate hashes a bounded cell). The concat is
    // the per-bin groupBy any packing writer pays — bins are budget-
    // bounded, so collect_list memory is capped by the token budget, and
    // shards pack independently (no global sort).
    "q49_pack_materialize" -> ((s, dir) => {
      val budget = 2048L
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          tokenCount(col("text")).cast("long").as("n_tokens"),
          (col("doc_id") / 100).cast("long").as("shard"))
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id").asc)
      docs
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin",
          floor(greatest(col("cum") - 1, lit(0L)) / budget).cast("long"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tok_sum"),
          md5(array_join(
            transform(
              array_sort(collect_list(struct(col("doc_id"), col("text")))),
              _.getField("text")),
            " <eos> ")).as("packed_md5"))
    }),

    // C4-style per-source cap: at most 20 docs per source, selected by
    // the deterministic md5 order (rerun-stable). Built on the same
    // two-level rank as q46 — per-domain caps are where a flat
    // row_number-per-domain window dies in one task under domain skew.
    "q50_source_cap" -> ((s, dir) =>
      Sampling.capPerKey(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        Seq("source"), "doc_id", maxPerKey = 20L)
        .select(col("doc_id"), col("source"), col("pos"))),

    // SemDeDup — semantic dedup via embedding clusters: nearest-centroid
    // assignment confines the pair search to one quantizer cell, exact
    // cosine >= 0.95 verifies, connected components pick one
    // representative per duplicate set. Duplicates are planted as
    // exactly-scaled copies (the q24 trick: x2.0f is exact in float, so
    // the copy's cosine to every centroid is bit-identical to its
    // source's — the pair is guaranteed co-clustered in both engines).
    "q51_semantic_dedup" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").as("bucket"))
      val planted = base.filter(col("id") < 25)
        .select((col("id") + 1000000L).as("id"),
          transform(col("vec"), x => x * lit(2.0f)).as("vec"), col("bucket"))
      val cents = SimilaritySearch.centroids(base, "bucket")
      SimilaritySearch.semanticDedup(
        base.unionByName(planted).select(col("id"), col("vec")),
        cents, threshold = 0.95)
    }),

    // Duplicated-span coverage — substring-level dedup signal (Lee et
    // al. 2021): fraction of each document's tokens inside an 8-gram
    // shared with another document, overlapping spans union-counted.
    "q52_dup_span_coverage" -> ((s, dir) =>
      TextDedup.dupSpanCoverage(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("dup_tokens"), col("dup_frac"))),

    // Bigram-LM quality score (the CCNet/KenLM stage): fit an add-one-
    // smoothed bigram model on the corpus, score each doc's average
    // per-transition log-likelihood under the frozen model.
    "q53_bigram_loglik" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      BigramLm.scoreDocs(docs, "doc_id", "text", BigramLm.fit(docs, "text"))
    }),

    // Overlapping context-window chunking: 64-token windows advancing by
    // 48 (16 tokens of shared context), full coverage guaranteed.
    "q54_chunking" -> ((s, dir) =>
      Chunking.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        window = 64, stride = 48)),

    // Character-entropy quality signal: bits/char per document — the
    // gibberish/binary-junk detector word-level heuristics miss.
    "q55_char_entropy" -> ((s, dir) =>
      Repetition.charEntropy(t(s, dir, "documents"), "doc_id", "text")),

    // Text canonicalization audit (the pre-dedup normalization pass).
    // Case/punctuation/whitespace noise is planted inside the query (the
    // q43 trick — the corpus itself is already clean ASCII prose) so every
    // normalization rule is exercised deterministically at every SF.
    "q56_normalize" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat_ws(" ",
          upper(substring(col("text"), 1, 32)),
          lit("** JUNK!! **"),
          substring(col("text"), 33, 1000000),
          concat(lit("(c) 2026, Doc-"), col("doc_id").cast("string"), lit("...")))
          .as("text"))
      Normalize.normalized(planted, "doc_id", "text")
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          col("n_raw"), col("n_norm"))
    }),

    // Filter-then-verify near-dup pipeline ending in exact edit distance:
    // inverted-index candidates -> jaccard >= 0.5 -> levenshtein. The
    // O(len^2) comparison only ever runs on the ~25 surviving pairs.
    "q57_edit_similarity" -> ((s, dir) =>
      TextDedup.editSimilarity(t(s, dir, "documents"), "doc_id", "text")),

    // Content-defined chunking: md5-prefix rolling boundary rule, mean
    // chunk ~16 tokens; insertion-shift-invariant (vs q54's fixed grid).
    "q58_cdc_chunks" -> ((s, dir) =>
      Chunking.cdcChunks(t(s, dir, "documents"), "doc_id", "text")),

    // Chunk-level exact dedup over the CDC chunks (what CDC exists for):
    // the corpus is re-crawled inside the query (q44's planted-duplicate
    // trick) and every repeated chunk keeps only its global first
    // occurrence; per-doc kept/total audit.
    "q59_cdc_chunk_dedup" -> ((s, dir) =>
      Chunking.cdcChunkDedup(plantedRecrawl(s, dir), "doc_id", "text")),

    // Temperature-rebalanced mixture sampling (n_i^T stratum weights,
    // T=0.5, 30% target). Source skew is planted inside the query (half
    // the corpus re-labeled 'mega') because the natural source mix is
    // uniform — rebalancing must be observable to be tested.
    "q60_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("mega")).otherwise(col("source"))
          .as("source"))
      Sampling.temperatureSample(docs, "source", "doc_id",
        temperature = 0.5, targetFrac = 0.3)
        .select(col("doc_id"), col("source"), col("cut").cast("long").as("cut"))
    }),

    // Length-bucketed batching (dynamic-batching prep): equal-count
    // token-length quantile buckets cut into fixed-size batches; global
    // length rank built two-level (distinct-value prefix sums), never a
    // global sort.
    "q62_length_buckets" -> ((s, dir) =>
      graft.operators.Batching.lengthBuckets(
        t(s, dir, "documents"), "doc_id", "text",
        numBuckets = 16, batchSize = 8)),

    // Exactly-k deterministic sample (fixed-size eval-set carving): the
    // 100 rows smallest in md5 order — TakeOrderedAndProject, no sort.
    "q63_exact_k_sample" -> ((s, dir) =>
      Sampling.exactK(t(s, dir, "documents"), "doc_id", 100)
        .select(col("doc_id"), col("source"), col("lang"))),

    // Vocabulary build (tokenizer-training prep): every word with corpus
    // count, frequency rank and cumulative token coverage — the curve
    // that sizes a BPE vocabulary. Two-level rank, no global sort.
    "q67_vocabulary" -> ((s, dir) =>
      graft.operators.Vocabulary.frequencyRank(t(s, dir, "documents"), "text")),

    // Duplicated-span REMOVAL (the rewrite stage of Lee et al. 2021
    // substring dedup — q52 measures, this cuts): over the re-crawled
    // corpus, every duplicated 8-gram span keeps its global first
    // occurrence only; re-crawl copies collapse to empty text. clean_md5
    // hashes the rewritten text so the gate compares a bounded cell.
    "q68_dup_span_removal" -> ((s, dir) =>
      TextDedup.removeDupSpans(plantedRecrawl(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("removed_tokens"), md5(col("clean_text")).as("clean_md5"))),

    // Perceptual-hash image dedup: DCT pHash over synthesized PNGs (real
    // javax.imageio decode), planted copies = 2×-downscaled re-encoded
    // versions of every 10th image. pHash is resize-invariant (planted
    // pairs measure hamming 0) while distinct images separate (closest
    // organic pair = 4 at sf0.1, measured), so the hamming<=2 pair set
    // IS the planted pair set — the q12 exact-pair-set gate argument.
    "q69_phash_image_dedup" -> ((s, dir) => {
      val media = q69Images(s, dir) // fixture synth (memoized); timed part =
      val hashes = Multimodal.imagePHashes(media) // decode + hash + pair join
      Multimodal.phashNearDupPairs(hashes, maxHamming = 2)
        .select(col("id_a"), col("id_b"))
    }),

    // Naive-Bayes bigram classifier (the CCNet/fastText-style gate):
    // per-lang bigram models fit on the labeled corpus, every doc scored
    // under every class, argmax kept. Self-classification recovers the
    // true lang on ~89% of this corpus — the model carries real signal,
    // and cross-class scoring constantly exercises the seen-w1/unseen-
    // bigram backoff path.
    "q70_nb_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.NbClassifier.predict(docs, "doc_id", "text",
        graft.operators.NbClassifier.fit(labeledCorpus(s, dir), "label", "text"))
    }),

    // Bloom-prefiltered exact dedup (q47's exact arm at the 100 TB shape):
    // arrivals probe a corpus-fingerprint Bloom filter map-side, only the
    // dup_rate+fpp candidate sliver reaches the verify join, and the
    // verify makes the decision EXACT — the oracle is the plain SQL
    // fingerprint join, nothing probabilistic leaks into the output.
    "q71_bloom_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 2 === 0)
      val incoming = docs.filter(col("doc_id") % 2 === 1)
        .unionAll(corpus.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
      TextDedup.bloomDedupAgainstCorpus(incoming, corpus, "doc_id", "text",
        prebuilt = Some(q71Bloom(s, dir)))
    }),

    // Learned k-means codebook (Lloyd, 3 iterations, fixed-point exact):
    // the TRAIN side of the IVF/SemDeDup quantizers — the fit here is the
    // measured work (training IS the operator, unlike the q34/q66 builds
    // which amortize across lookups). Assignment is map-side only; each
    // iteration shuffles ≤ k·dim aggregated cells.
    "q72_kmeans_codebook" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.operators.KMeans.fitAssign(emb, "vec_id", "embedding",
        k = 8, iters = 3)
    }),

    // Per-source distinct-document cardinality via a k-minimum-values
    // sketch (native bounded-buffer aggregate: the shuffle moves ≤ k
    // longs per group per partition, not the distinct key set). k=16 <
    // the ~25 docs per source, so every group exercises the ESTIMATOR
    // path, not the exact-small fallback.
    "q73_kmv_distinct" -> ((s, dir) =>
      graft.operators.Sketches.approxDistinct(
        t(s, dir, "documents"), Seq("source"), "doc_id", k = 16)),

    // Product quantization ANN: 4 subspace codebooks trained on the
    // corpus, corpus stored as 4 codes/vector (64× compression), queries
    // answered via ADC table lookups. Exact integer geometry end-to-end
    // (the q72 rules), so fit+encode+search all replay in the oracle.
    "q75_pq_adc_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cb = graft.operators.ProductQuantizer.fit(
        graft.operators.ProductQuantizer.trainSample(corpus, "id", PqTrainCap),
        "id", "vec", dim = 64, m = 4, k = 8, iters = 2)
      val codes = graft.operators.ProductQuantizer.encode(corpus, "id", "vec", cb)
      graft.operators.ProductQuantizer.adcTopK(qs, codes, cb, k = 5)
    }),

    // IVFADC at rest: coarse buckets prune partitions (q34), PQ codes
    // compress what's scanned inside them (q75) — the two at-rest savings
    // composed, the classic Jégou IVFADC layout.
    "q77_ivfpq_at_rest" -> ((s, dir) => {
      val table = q77Index(s, dir) // build-once (memoized); timed part = lookup
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val cents = SimilaritySearch.centroids(q77Corpus(s, dir), "bucket")
      graft.operators.ProductQuantizer.ivfPqTopKAtRest(
        s, qs, table, cents, q77Cb(s, dir), k = 5, nprobe = 3)
    }),

    // SemDeDup, fully unsupervised (the paper's own pipeline): codebook
    // LEARNED by the q72 trainer on the unplanted base, map-side
    // quantized assignment, same per-cell pairs + components as q51.
    "q83_semantic_dedup_kmeans" -> ((s, dir) => {
      val base = t(s, dir, "embeddings")
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val planted = base.filter(col("id") < 25)
        .select((col("id") + 1000000L).as("id"),
          transform(col("vec"), x => x * lit(2.0f)).as("vec"))
      SimilaritySearch.semanticDedupKMeans(
        base.unionByName(planted), base, k = 8, iters = 2, threshold = 0.95)
    }),

    // Incremental IMAGE dedup: arriving (resized/re-encoded) images probe
    // the at-rest pHash index — only the partitions their own hash blocks
    // name are read; pigeonhole recall is exact, so the result is the
    // planted pair set (the q69 argument, per-arrival-batch).
    "q82_phash_at_rest" -> ((s, dir) => {
      val table = q82Index(s, dir) // build-once (memoized); timed = lookup
      val arrivals = q69Images(s, dir).filter(_.id >= PlantOffset)
      graft.operators.Multimodal.phashLookupAtRest(
        s, graft.operators.Multimodal.imagePHashes(arrivals), table)
    }),

    // ANN index quality evaluation: recall@5 of the IVFADC at-rest index
    // (q77's compressed, pruned path) against exact L2 top-5 — the metric
    // PQ approximates, so the number isolates quantization+pruning loss.
    // The harness that MEASURES the recall/speed trade instead of
    // assuming it.
    "q88_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      val exact = SimilaritySearch.bruteForceTopKL2(qs, corpus, k = 5)
      val table = q77Index(s, dir)
      val cents = SimilaritySearch.centroids(q77Corpus(s, dir), "bucket")
      val approx = graft.operators.ProductQuantizer.ivfPqTopKAtRest(
        s, qs, table, cents, q77Cb(s, dir), k = 5, nprobe = 3)
      // decomposition: exact L2 RESTRICTED to the probed cells isolates
      // quantization loss from coarse-pruning loss — with near-orthogonal
      // synthetic vectors the pruning term dominates by construction (no
      // cluster structure to exploit), and the harness shows exactly that
      val qk = graft.operators.KMeans.quantize(col("qvec"))
      val ck = graft.operators.KMeans.quantize(col("vec"))
      val exactProbed = SimilaritySearch.probeBuckets(qs, cents, 3)
        .join(q77Corpus(s, dir).select(col("id"), col("vec"), col("bucket")),
          Seq("bucket"))
        .withColumn("d", graft.functions.LongSqDist(qk, ck))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("d").asc, col("id").asc)))
        .filter(col("rank") <= 5)
        .select(col("qid"), col("id"))
      val global = SimilaritySearch.recallAtK(exact, approx)
      val quant = SimilaritySearch.recallAtK(exactProbed, approx)
        .select(col("qid"), col("n_hits").as("n_hits_probed"),
          col("recall_e4").as("recall_probed_e4"))
      global.join(quant, Seq("qid"))
    }),

    // The IVF tuning curve: mean recall@5 vs exact cosine as nprobe
    // rises 1→4 — the number that decides an index's probe budget. Same
    // quantizer/tiebreaks as q15, recall via the q88 harness.
    "q89_ivf_nprobe_sweep" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val corpus = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"),
          col("label").as("bucket"))
      val cents = SimilaritySearch.centroids(corpus, "bucket")
      val exact = SimilaritySearch.bruteForceTopK(
        qs, corpus.drop("bucket"), k = 5)
      (1 to 4).map { n =>
        SimilaritySearch.recallAtK(exact,
            SimilaritySearch.ivfTopK(qs, corpus, cents, k = 5, nprobe = n))
          .agg(sum(col("n_hits")).as("hits"),
            (count(lit(1)) * 5).as("total"))
          .select(lit(n).as("nprobe"),
            col("hits").cast("long").as("hits"),
            floor(col("hits").cast("double") / col("total").cast("double")
              * 10000.0 + 0.5).cast("long").as("mean_recall_e4"))
      }.reduce(_ unionByName _)
    }),

    // At-rest KMV sketch table maintained INCREMENTALLY: two arrival
    // batches fold into stored sketches (touched groups only), batch 2
    // replays once (keyed-merge idempotence exercised inside the gate),
    // and the table must equal the whole-corpus sketch (q73's oracle).
    "q87_kmv_at_rest" -> ((s, dir) => {
      val wh = scratchPath("q87", dir) + "/sketches"
      val table = graft.table.WarehouseTable(wh)
      table.drop() // side-effecting query: rebuild per invocation (q17 rule)
      val docs = t(s, dir, "documents")
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      graft.operators.Sketches.sketchTableCommit(s, b1, "source", "doc_id", 16, table)
      graft.operators.Sketches.sketchTableCommit(s, b2, "source", "doc_id", 16, table)
      graft.operators.Sketches.sketchTableCommit(s, b2, "source", "doc_id", 16, table)
      graft.operators.Sketches.estimate(
        table.read(s).select(col("g").as("source"), col("kmins")), 16)
    }),

    // BPE merge learning (tokenizer training): 12 greedy merges over the
    // word-frequency table — one corpus scan, then vocabulary-sized
    // iterations, the industrial-trainer shape.
    "q85_bpe_merges" -> ((s, dir) =>
      graft.operators.Vocabulary.bpeMerges(
        t(s, dir, "documents"), "text", nMerges = 12)),

    // BPE encode under the trained model: each word resolves through the
    // final word→symbols table (the fast-tokenizer trick — no per-token
    // merge replay), OOV words fall back to characters (no UNK).
    "q86_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Vocabulary.bpeTrain(docs, "text", nMerges = 12)
      graft.operators.Vocabulary.bpeEncode(docs, "doc_id", "text", model)
    }),

    // Arrival scoring against a FROZEN per-source length distribution:
    // the first half (by id — parity would split the sources disjointly,
    // since source is a function of id modulo the source count) forms the
    // reference corpus, the second half arrives and lands with its
    // corpus-relative percentile (values between corpus values resolve
    // via the backward carry — the asof construction).
    "q84_percentile_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
      val model = graft.operators.Percentiles.fit(
        docs.filter(col("doc_id") <= cut), "source", "n_chars")
      graft.operators.Percentiles.scoreAgainst(
        docs.filter(col("doc_id") > cut), "doc_id", "source", "n_chars",
        model)
    }),

    // Per-source percentile normalization of document length: where each
    // doc sits WITHIN its source — the per-shard rank normalization run
    // before any cross-source quality cut.
    "q81_source_percentile" -> ((s, dir) =>
      graft.operators.Percentiles.perKeyPercentile(
        t(s, dir, "documents"), "source", "n_chars", "doc_id")),

    // CCNet-style head/middle/tail stratification: LM-score every doc
    // (q53's bigram model, self-scored), then place each score in its
    // SOURCE's distribution via the q90 sketch (ll is continuous — the
    // exact CDF would be corpus-sized) and cut thirds. The composition
    // IS the point: score → sketch-percentile → bucket is the actual
    // CCNet pipeline shape, each stage already scale-certified.
    "q95_ccnet_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lm = graft.operators.BigramLm.fit(docs, "text")
      val scored = graft.operators.BigramLm
        .scoreDocs(docs, "doc_id", "text", lm)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("ll_e4",
          floor(col("avg_ll") * 10000.0 + 0.5).cast("long"))
      val model = graft.operators.Percentiles.fitSketch(
        scored, "source", "ll_e4", bits = 8)
      graft.operators.Percentiles.scoreAgainstSketch(
        scored, "doc_id", "source", "ll_e4", model, bits = 8)
        .withColumn("bucket",
          when(col("pct_e4") >= 6667L, lit("head"))
            .when(col("pct_e4") >= 3333L, lit("middle"))
            .otherwise(lit("tail")))
    }),

    // At-rest CMS counter maintenance (q87's gate shape for FREQUENCY):
    // two parity batches commit per-batch keyed partials, batch 2 replays
    // once (byte-idempotent keyed merge), the fold collapses history to
    // ≤ depth·width rows, then batch 2 replays AGAIN post-fold (only the
    // cms.maxBid high-water guard saves it now — CMS adds are not
    // idempotent). The read-back must equal the whole-corpus counters.
    "q96_cms_at_rest" -> ((s, dir) => {
      val wh = scratchPath("q96", dir) + "/counters"
      val table = graft.table.WarehouseTable(wh)
      table.drop() // side-effecting query: rebuild per invocation (q17 rule)
      val docs = t(s, dir, "documents")
      val b1 = docs.filter(col("doc_id") % 2 === 0)
      val b2 = docs.filter(col("doc_id") % 2 === 1)
      val S = graft.operators.Sketches
      S.countersTableCommit(s, b1, "text", batchId = 1L, table)
      S.countersTableCommit(s, b2, "text", batchId = 2L, table)
      S.countersTableCommit(s, b2, "text", batchId = 2L, table) // pre-fold replay
      S.countersTableFold(s, table)
      S.countersTableCommit(s, b2, "text", batchId = 2L, table) // post-fold replay
      S.countersTableRead(s, table)
        .select(col("r").cast("long").as("r"), col("b"), col("c"))
    }),

    // Reciprocal Rank Fusion hybrid retrieval (q91 sparse × q14 dense):
    // the calibration-free fusion rule RAG stacks standardize on —
    // integer contributions 10^6 div (60 + rank), exact BIGINT sums, so
    // the hybrid ranking is a cross-engine total order. Fusion cost is
    // bounded by the input top-k lists, never the corpus.
    "q98_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val sparse = graft.operators.Bm25.topK(
        graft.operators.Bm25.fit(docs, "doc_id", "text"),
        Bm25QueryTerms, k = 20)
        // rank over the ≤20-row top-k list (bounded single-partition window)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_e6").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("rank"))
      val e = t(s, dir, "embeddings")
      val dense = SimilaritySearch.bruteForceTopK(
        e.filter(col("vec_id") === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qvec")),
        e.filter(col("vec_id") >= 10)
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        k = 20)
        .select(col("id").as("doc_id"), col("rank"))
      graft.operators.Rrf.fuse(Seq(sparse, dense), "doc_id", "rank",
        k0 = 60, topK = 10)
    }),

    // Encoding-damage signals: the fixture text is clean, so decoder
    // damage (U+FFFD + a BEL control) is planted on every 3rd doc and
    // LEGIT non-ASCII (accented prose) on every 5th — damage and benign
    // non-ASCII must separate observably (most languages are non-ASCII;
    // only the decoder's own failure markers gate).
    "q102_encoding_damage" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit("\uFFFD\u0007x")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit(" caf\u00E9")).otherwise(lit("")))
          .as("text"))
      Normalize.encodingSignals(planted, "doc_id", "text")
    }),

    // Boilerplate line removal (RefinedWeb "most frequent lines"): the
    // fixture corpus has no newlines, so chrome is planted the way a
    // crawler sees it — a newsletter banner on every 3rd doc, a license
    // footer on every 4th, and ONE organic two-document quotation
    // (docs 1 and 2) that must SURVIVE the df >= 3 threshold: removal
    // gates on document frequency, not mere sharing.
    "q103_boilerplate_lines" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit("\n" + BoilerBanner)).otherwise(lit("")),
          when(col("doc_id") % 4 === 0,
            lit("\n" + BoilerFooter)).otherwise(lit("")),
          when(col("doc_id").isin(1L, 2L),
            lit("\n" + BoilerQuote)).otherwise(lit("")))
          .as("text"))
      TextDedup.lineBoilerplate(planted, "doc_id", "text", maxDf = 3)
    }),

    // Split-leakage audit: deterministic md5-cut train/valid/test
    // assignment (Sampling.shard — ~84% / ~8% / ~8%), then every
    // LSH-verified near-dup pair labeled with both sides' splits and a
    // cross-boundary flag. The planted near-dup pairs land in splits by
    // hash, so some genuinely leak — the audit must find exactly those.
    "q104_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val splits = docs.select(col("doc_id"),
        Sampling.shard(col("doc_id"),
          Seq("valid" -> "14", "test" -> "28"), "train").as("split"))
      val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
      val cands = TextDedup.minHashCandidates(sh, bands = 16, rows = 4)
      val pairs = TextDedup.verifyPairs(cands, sh, 0.5)
      Dedup.crossSplitLeakage(pairs, splits, "doc_id", "split")
    }),

    // Embedding-space outliers: distance-to-assigned-centroid percentile
    // WITHIN each learned cluster (global cutoffs break on unequal
    // cluster radii), log-bucket-quantized so the per-cluster CDF is
    // bucket-bounded, never a corpus/k-row sort. Rides the q72 exact
    // integer k-means, so fit + assign + percentile all replay in SQL.
    "q105_embedding_outliers" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val a = graft.operators.KMeans.fitAssign(
        emb, "vec_id", "embedding", k = 8, iters = 3)
      SimilaritySearch.clusterOutliers(a, "vec_id", pctCut = 9000L)
    }),

    // Incremental cluster maintenance: the corpus's near-dup clusters are
    // built once from HISTORICAL edges; planted re-crawl arrivals
    // (doc_id + 10^12, every 7th doc, verbatim text) then fold in via the
    // assignment's spanning-star edges + only the arrival-touching edges
    // — never the full pair history. Output must equal clustering the
    // union from scratch (the oracle's recursive closure proves it).
    // AT-REST incremental clustering — what a 100 TB deployment runs per
    // arrival batch (round-9 verdict: the old gate re-mined the corpus
    // per run; this one is ARRIVAL-BOUND): candidates come from the
    // pruned minhash-index read + a batch-local arrival×arrival mine,
    // verify reads only candidate rows of the at-rest corpus table, and
    // three keyed commits (index hashes, corpus rows, touched-component
    // cluster fold) absorb the batch. Oracle unchanged: the final
    // cluster table must equal exact components over corpus ∪ arrivals.
    // Re-runs replay the same batch — every commit is idempotent.
    "q106_incremental_components" -> ((s, dir) => {
      val (idxT, corpT, clusT) = q106Fixture(s, dir)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val arrivals = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"), col("text"))
      val storePairs = TextDedup.minhashLookupAtRest(s, arrivals,
        corpT.read(s).select(col("doc_id"), col("text")),
        "doc_id", "text", idxT, threshold = 0.5).localCheckpoint()
      val arrSh = TextDedup.shingled(arrivals, "doc_id", "text", 3)
      val arrPairs = TextDedup.verifyPairs(
        TextDedup.minHashCandidates(arrSh), arrSh, 0.5).localCheckpoint()
      val fresh = storePairs.select(col("d1"), col("d2"))
        .unionByName(arrPairs.select(col("d1"), col("d2"))).distinct()
      TextDedup.minhashIndexCommit(s, arrivals, "doc_id", "text", idxT, corpT)
      Dedup.componentsCommit(
        s, arrivals.select(col("doc_id").as("id")), fresh, clusT)
      clusT.read(s).select(col("id").as("doc_id"), col("cluster"))
    }),

    // Per-source lexical diversity: type-token + distinct-trigram ratios
    // per source — the corpus-marginal of the q45 per-doc repetition
    // signals, read by mixture planners (a template-farm source shows
    // collapsed trigram diversity long before per-doc filters fire).
    "q107_source_diversity" -> ((s, dir) =>
      Repetition.sourceDiversity(t(s, dir, "documents"), "source", "text")),

    // Keep-one MATERIALIZATION: the q36 clustering decision applied to
    // the at-rest corpus table — duplicates merge-DELETE out (COW rewrite
    // of only the partitions carrying one), survivors read back clean.
    // Decide once, materialize once; no per-read filter downstream.
    "q108_dedup_materialize" -> ((s, dir) => {
      val wh = scratchPath("q108", dir) + "/docs_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs)
      val sh = TextDedup.shingled(docs, "doc_id", "text", 3)
      val pairs = TextDedup.verifyPairs(
        TextDedup.minHashCandidates(sh), sh, 0.5)
      val assignment = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")),
        pairs.select(col("d1"), col("d2")))
      Dedup.keepOneMaterialize(s, table, assignment, "doc_id")
      table.read(s).select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),

    // Incremental change read: first half lands, snapshot taken, second
    // half lands — addedSince(snapshot) must surface EXACTLY the second
    // half, resolved from the manifest diff before any file opens. The
    // consumption primitive an incremental pipeline checkpoints on.
    "q109_incremental_read" -> ((s, dir) => {
      val wh = scratchPath("q109", dir) + "/docs_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") <= cut))
      val snap = table.currentSnapshotId
      table.append(docs.filter(col("doc_id") > cut))
      table.addedSince(s, snap)
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    }),

    // Clustered data skipping: events land range-clustered on user_id
    // (exact equi-depth cuts, one dynamic write), then a stats-pruned
    // read of the top decile — the pruned scan must agree exactly with
    // the full-scan answer while reading ~1/8 of the files.
    "q110_clustered_skipping" -> ((s, dir) => {
      val wh = scratchPath("q110", dir) + "/events_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      table.create(ev.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(ev)
      table.clusterBase(s, "user_id", 8)
      val hi = ev.agg((max(col("user_id")) * 9 / 10).cast("long"))
        .head().getLong(0)
      table.read(s,
          dataFilters = Seq(org.apache.spark.sql.sources.GreaterThan("user_id", hi)))
        .filter(col("user_id") > hi)
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"))
    }),

    // The COMPLETE Gopher repetition table (Rae et al. 2021 A1): top
    // n-gram char fractions (n 2-4, occurrences × chars, capped) and
    // duplicated n-gram UNION char coverage (n 5-10) — q45 covers the
    // n=1 rows; together they are the published rule set verbatim.
    "q111_gopher_repetition" -> ((s, dir) =>
      Repetition.gopherRepetition(t(s, dir, "documents"), "doc_id", "text")),

    // Percentile model AT REST: the q90 fit rebuilt from the warehouse —
    // two batch-keyed commits + one checkpoint REPLAY (guarded no-op) +
    // a fold to bucket-bounded rows, then arrivals score against the
    // stored model. Must equal the one-shot fitSketch exactly (same
    // oracle as q90) — idempotence exercised INSIDE the gate, q87-style.
    "q112_percentile_at_rest" -> ((s, dir) => {
      val wh = scratchPath("q112", dir) + "/pct_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val P = graft.operators.Percentiles
      val docs = t(s, dir, "documents").filter(col("n_chars") > 0)
        .withColumn("density_e6",
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) " +
            "* 1000000 div n_chars"))
      val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
      val ref = docs.filter(col("doc_id") <= cut)
      P.sketchTableCommit(s, ref.filter(col("doc_id") % 2 === 0),
        "source", "density_e6", batchId = 0L, table)
      P.sketchTableCommit(s, ref.filter(col("doc_id") % 2 === 1),
        "source", "density_e6", batchId = 1L, table)
      P.sketchTableCommit(s, ref.filter(col("doc_id") % 2 === 1),
        "source", "density_e6", batchId = 1L, table) // replay: guarded no-op
      P.sketchTableFold(s, table)
      P.scoreAgainstSketch(docs.filter(col("doc_id") > cut),
        "doc_id", "source", "density_e6", P.sketchTableRead(s, table), bits = 8)
    }),

    // C4 line rules (Raffel et al. 2020 §2.2): the corpus has no line
    // structure, so pages are planted the way a crawler sees them —
    // 6-word lines, terminal '.' on 2 of 3 ((i + doc_id) % 3 rotates the
    // phase per doc), an 'enable javascript' banner on every 11th page
    // (line-rule kill), 'lorem ipsum' filler on every 13th and a curly-
    // brace code line on every 17th (page-rule kills). Entirely map-side.
    "q113_c4_line_rules" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .withColumn("ws", split(trim(col("text")), "\\s+"))
        .withColumn("body", expr(
          "array_join(transform(sequence(0, int(ceil(size(ws) / 6.0)) - 1), " +
            "i -> concat(array_join(slice(ws, i * 6 + 1, 6), ' '), " +
            "CASE WHEN (i + doc_id) % 3 = 0 THEN '' ELSE '.' END)), '\\n')"))
        .select(col("doc_id"), concat(
          when(col("doc_id") % 11 === 0,
            lit("please enable javascript before reading this page .\n"))
            .otherwise(lit("")),
          col("body"),
          when(col("doc_id") % 13 === 0,
            lit("\nthis page is only lorem ipsum filler text ."))
            .otherwise(lit("")),
          when(col("doc_id") % 17 === 0,
            lit("\nvar config = { mode: production } ;"))
            .otherwise(lit("")))
          .as("text"))
      C4Rules.clean(planted, "doc_id", "text")
    }),

    // Z-ordered data skipping: events land bit-interleaved on
    // (user_id, event_id) — ONE layout serves range predicates on BOTH
    // columns (q110's linear clustering can only serve one). The doubly
    // stats-pruned scan must agree exactly with the full-table answer.
    "q114_zorder_skipping" -> ((s, dir) => {
      val wh = scratchPath("q114", dir) + "/events_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      table.create(ev.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(ev)
      table.clusterBaseZ(s, Seq("user_id", "event_id"),
        bitsPerCol = 3, nBuckets = 16)
      val hi = ev.agg(
        (max(col("user_id")) * 3 / 4).cast("long"),
        (max(col("event_id")) * 3 / 4).cast("long")).head()
      val (hu, he) = (hi.getLong(0), hi.getLong(1))
      table.read(s, dataFilters = Seq(
          org.apache.spark.sql.sources.GreaterThan("user_id", hu),
          org.apache.spark.sql.sources.GreaterThan("event_id", he)))
        .filter(col("user_id") > hu && col("event_id") > he)
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"))
    }),

    // Change-feed-driven incremental curation: the corpus table lands in
    // two batches; scoring runs ONCE over the initial content and then
    // ONLY over addedSince(snapshot) — the scores table (keyed MERGE)
    // must equal scoring the whole corpus. The pattern every recurring
    // curation job wants: arrival-bound work, never a corpus rescan.
    "q115_incremental_scoring" -> ((s, dir) => {
      val base = scratchPath("q115", dir)
      val docsTable = graft.table.WarehouseTable(s"$base/docs_t")
      val scoresTable = graft.table.WarehouseTable(s"$base/scores_t")
      docsTable.drop(); scoresTable.drop()
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
      docsTable.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      docsTable.append(docs.filter(col("doc_id") <= cut))
      def score(d: DataFrame): DataFrame =
        d.select(col("doc_id"), qualityScore(col("text")).as("quality"))
      val first = score(docsTable.read(s))
      scoresTable.create(first.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      scoresTable.merge(s, first, Seq("doc_id"))
      val snap = docsTable.currentSnapshotId
      docsTable.append(docs.filter(col("doc_id") > cut))
      scoresTable.merge(s,
        score(docsTable.addedSince(s, snap)), Seq("doc_id"))
      scoresTable.read(s)
    }),

    // Sentence-boundary-aware packing — q41's cumulative-bin rule at
    // SENTENCE granularity: documents cut only at sentence joints
    // (never mid-sentence), sentences pack into 16-token bins, and each
    // chunk carries the md5 of its reassembled text for downstream
    // chunk-level dedup. One per-doc window, no global sort. The
    // synthetic corpus carries no terminal punctuation, so the gate
    // derives one deterministically (plain substring replace — engine-
    // identical) to exercise real multi-sentence packing, not the
    // one-sentence degenerate case.
    "q116_sentence_pack" -> ((s, dir) =>
      graft.operators.Chunking.sentencePack(
        t(s, dir, "documents")
          .withColumn("text", expr("replace(text, 'table', 'table.')")),
        "doc_id", "text", budget = 16L)),

    // Range join via grid bucketing — the non-equi join shape (point in
    // interval) as a shuffled equi-join on grid cells instead of the
    // broadcast nested loop Spark would otherwise plan. Here: per-event
    // ±5-minute concurrency (how many events, any user, fall inside each
    // event's window) — the burst/bot-detection primitive. Cell width =
    // the 10-min window length, so each interval explodes to ≤ 3 cells
    // and each qualifying pair is met exactly once.
    "q117_interval_join" -> ((s, dir) => {
      val HalfWin = 300000000000L // 5 min in nanos
      val e = t(s, dir, "events").select(col("event_id"), col("ts"))
      val pts = e.select(col("ts").as("p_ts"))
      val ivals = e.select(col("event_id"),
        (col("ts") - HalfWin).as("w_start"),
        (col("ts") + HalfWin).as("w_end"))
      graft.operators.TemporalJoins.intervalJoin(
        pts, ivals, "p_ts", "w_start", "w_end", bucketWidth = 2 * HalfWin)
        .groupBy(col("event_id"))
        .agg((count(lit(1)) - 1).cast("long").as("n_concurrent"))
    }),

    // Interval-overlap join (the owner-cell variant of q117's grid):
    // cross-USER session overlap counts — for each user, how many
    // (their session, someone else's session) pairs coincide in time.
    // Sessions from q19's 30-min-gap rule; the overlap join runs on
    // 30-min grid cells with each pair emitted only in the cell owning
    // the later start — exactly once, no distinct, no nested loop.
    "q118_session_overlap" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val sess = TemporalJoins.sessionize(
        ev, keys = Seq("user_id"), timeCol = "ts_us",
        tiebreak = "event_id", maxGap = 30L * 60 * 1000000)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts_us")).as("st"), max(col("ts_us")).as("en"))
      val a = sess.select(col("user_id"), col("st"), col("en"))
      val b = sess.select(col("user_id").as("b_user"),
        col("st").as("b_st"), col("en").as("b_en"))
      TemporalJoins.overlapJoin(a, b, "st", "en", "b_st", "b_en",
        bucketWidth = 1800000000L)
        .filter(col("user_id") =!= col("b_user"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"))
    }),

    // Markup stripping — web-crawl text extraction (tags → spaces before
    // entity decode, &amp; decoded last, whitespace canonicalized), with
    // the tag count and shrinkage as quality signals and the clean-text
    // md5 for downstream dedup. The synthetic corpus is markup-free, so
    // the gate plants tags + entities deterministically (substring
    // replaces — engine-identical) before stripping.
    "q119_markup_strip" -> ((s, dir) =>
      graft.operators.Normalize.stripMarkup(
        t(s, dir, "documents").withColumn("text",
          expr("replace(replace(text, 'table', '<span class=\"x\">table</span>')," +
            " 'value', '&quot;value&amp;co&quot;')")),
        "doc_id", "text")),

    // Incrementally-maintained rollup (materialized-view maintenance
    // with EXACTLY-ONCE folds): q06's hourly aggregate built from two
    // arrival halves via IncrementalRollup.commit, with the second half
    // RE-COMMITTED (same batch id) inside the gate — the per-row
    // last_batch guard makes the non-idempotent "+= counts" fold
    // replay-safe in one snapshot. Must equal the one-shot group-by.
    // Exact integer cents (decimal-cast then ×100) dodge float drift.
    "q120_incremental_rollup" -> ((s, dir) => {
      val wh = scratchPath("q120", dir) + "/rollup_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val R = graft.operators.IncrementalRollup
      val cents =
        (col("value").cast("decimal(18,2)") * 100).cast("long")
      val prep = t(s, dir, "events").select(
        col("event_id"),
        col("event_type"),
        (expr(s"ts div $NanosPerHour") * 3600).as("hour_bucket"),
        lit(1L).as("n_events"),
        cents.as("sum_cents"),
        cents.as("max_cents"))
      val cut = prep.agg((max(col("event_id")) / 2).cast("long"))
        .head().getLong(0)
      val keys = Seq("event_type", "hour_bucket")
      val merges = Map(
        "n_events" -> "sum", "sum_cents" -> "sum", "max_cents" -> "max")
      R.commit(s, prep.filter(col("event_id") <= cut), keys, merges, table, 1L)
      R.commit(s, prep.filter(col("event_id") > cut), keys, merges, table, 2L)
      // checkpoint-replay twin: identical batch, identical id — no-op
      R.commit(s, prep.filter(col("event_id") > cut), keys, merges, table, 2L)
      R.read(s, table)
    }),

    // AT-REST interval index — q117's stored twin: ±5-min windows land
    // in a cell-partitioned warehouse table (half at build, half via
    // keyed commits, second commit REPLAYED in-gate), and the point
    // probe reads only the partitions its own cells name. Equality with
    // the direct inequality join proves pruning + commits lossless.
    "q121_interval_at_rest" -> ((s, dir) => {
      val table = q121Index(s, dir)
      val e = t(s, dir, "events").select(col("event_id"), col("ts"))
      graft.operators.RangeIndex
        .lookupAtRest(s, e.select(col("ts").as("p_ts")), "p_ts", table)
        .groupBy(col("win_id"))
        .agg(count(lit(1)).as("n_inside"))
    }),

    // Incremental VOCABULARY maintenance — IncrementalRollup composed
    // over the token axis: per-word corpus counts maintained at rest
    // from two arrival halves (+ in-gate replay), equal to the one-shot
    // corpus word count. The word-frequency table every tokenizer/vocab
    // job reads, kept arrival-bound instead of recounted.
    "q122_word_counts_at_rest" -> ((s, dir) => {
      val wh = scratchPath("q122", dir) + "/wc_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val R = graft.operators.IncrementalRollup
      val toks = t(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("w"))
        .withColumn("n", lit(1L))
      val cut = toks.agg((max(col("doc_id")) / 2).cast("long"))
        .head().getLong(0)
      def half(p: Column): DataFrame =
        toks.filter(p).select(col("w"), col("n"))
      R.commit(s, half(col("doc_id") <= cut), Seq("w"), Map("n" -> "sum"), table, 1L)
      R.commit(s, half(col("doc_id") > cut), Seq("w"), Map("n" -> "sum"), table, 2L)
      R.commit(s, half(col("doc_id") > cut), Seq("w"), Map("n" -> "sum"), table, 2L)
      R.read(s, table)
    }),

    // Incremental clustered append — q110's layout kept selective as
    // data arrives: half the table clusters (cuts persist as the layout
    // contract), the other half lands via clusterAppend (routed through
    // the FROZEN cuts into bucket-split dirs — narrow stats, no base
    // rewrite), and the stats-pruned top-decile scan must equal the
    // full-table answer over BOTH halves.
    "q123_clustered_append" -> ((s, dir) => {
      val wh = scratchPath("q123", dir) + "/events_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"))
      val cut = ev.agg((max(col("event_id")) / 2).cast("long"))
        .head().getLong(0)
      table.create(ev.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(ev.filter(col("event_id") <= cut))
      table.clusterBase(s, "user_id", 8)
      table.clusterAppend(s, ev.filter(col("event_id") > cut))
      val hi = ev.agg((max(col("user_id")) * 9 / 10).cast("long"))
        .head().getLong(0)
      table.read(s,
          dataFilters = Seq(org.apache.spark.sql.sources.GreaterThan("user_id", hi)))
        .filter(col("user_id") > hi)
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"))
    }),

    // Within-doc repeated-line removal — q103's complement on the other
    // axis (cross-doc df can't see repetition living inside one doc):
    // first occurrence survives in order, repeats drop. The gate plants
    // each doc's text twice plus a repeated echo line and a unique tail.
    "q124_intradoc_lines" -> ((s, dir) =>
      graft.operators.TextDedup.intraDocLineDedup(
        t(s, dir, "documents").withColumn("text",
          concat(col("text"), lit("\necho line\n"), col("text"),
            lit("\necho line\ntail "), col("doc_id").cast("string"))),
        "doc_id", "text")),

    // CUBE — all four grouping combinations in one pass (q21's rollup
    // covers the hierarchy prefixes; cube adds the column-marginal the
    // hierarchy misses). Spark plans one Expand + one shuffle — the
    // subtotals are NOT four scans.
    "q125_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // Anti join — customers with no 1995 order (the TPC-H Q22 shape,
    // year-scoped so the gate is non-degenerate at every SF): a LEFT
    // ANTI hash join, one shuffle, never a per-row NOT EXISTS probe.
    "q126_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1995)
        .select(col("o_custkey"))
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_custs"),
          dsum(col("c_acctbal")).as("bal_sum"))
    }),

    // Overlap probe against the AT-REST interval index — q118's join
    // with the stored side materialized: sessions land in the index
    // (half at build, half via a replayed commit), the other copy
    // probes with overlap semantics + the owner-cell rule. Equality
    // with q118's direct-join oracle proves the pruned at-rest path
    // reconstructs the inequality join exactly.
    "q127_overlap_at_rest" -> ((s, dir) => {
      val table = q127Index(s, dir)
      graft.operators.RangeIndex.overlapLookupAtRest(s,
          q127Sessions(s, dir).select(col("user_id"), col("st"), col("en")),
          "st", "en", table)
        .filter(col("user_id") =!= col("b_user"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"))
    }),

    // Distribution drift alarm: an arrival batch (every 3rd doc, with
    // one source's lengths DOUBLED — planted drift) against the frozen
    // reference bucket model. Doubling shifts every value's exponent,
    // so the planted source's mass relocates to disjoint geometric
    // buckets (TVD → 1) while unplanted sources stay put; the alarm is
    // decided in exact integers (4·num > den), no float anywhere.
    "q140_drift" -> ((s, dir) => {
      val D = graft.operators.Drift
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val ref = D.bucketCounts(docs, Seq("source"), "n_chars", bits = 4)
      val drifter = docs.agg(min(col("source"))).head().getString(0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", when(col("source") === drifter,
          col("n_chars") * 2).otherwise(col("n_chars")))
      D.tvd(ref, D.bucketCounts(batch, Seq("source"), "n_chars", bits = 4),
          Seq("source"))
        .select(col("source"),
          col("tv_num").cast("long").as("tv_num"),
          col("tv_den").cast("long").as("tv_den"),
          col("n_buckets"), col("drifted"))
    }),

    // The drift reference AT REST: the frozen bucket model maintained
    // incrementally (IncrementalRollup over (source, bucket) — counts
    // are mergeable sums) from two corpus halves with an in-gate
    // replayed commit, then the SAME batch comparison as q140. Equality
    // with q140's direct-reference answer proves the maintained model
    // is the model — drift monitoring composes with continuous
    // ingestion at arrival-bound upkeep cost.
    "q141_drift_at_rest" -> ((s, dir) => {
      val D = graft.operators.Drift
      val R = graft.operators.IncrementalRollup
      val wh = scratchPath("q141", dir) + "/ref_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
      val cut = docs.agg((max(col("doc_id")) / 2).cast("long"))
        .head().getLong(0)
      def half(p: Column): DataFrame =
        D.bucketCounts(docs.filter(p), Seq("source"), "n_chars", bits = 4)
          .select(col("source"), col("bucket"), col("cnt"))
      val keys = Seq("source", "bucket")
      R.commit(s, half(col("doc_id") <= cut), keys, Map("cnt" -> "sum"), table, 1L)
      R.commit(s, half(col("doc_id") > cut), keys, Map("cnt" -> "sum"), table, 2L)
      R.commit(s, half(col("doc_id") > cut), keys, Map("cnt" -> "sum"), table, 2L)
      val ref = R.read(s, table).select(col("source"), col("bucket"), col("cnt"))
      val drifter = docs.agg(min(col("source"))).head().getString(0)
      val batch = docs.filter(col("doc_id") % 3 === 0)
        .withColumn("n_chars", when(col("source") === drifter,
          col("n_chars") * 2).otherwise(col("n_chars")))
      D.tvd(ref, D.bucketCounts(batch, Seq("source"), "n_chars", bits = 4),
          Seq("source"))
        .select(col("source"),
          col("tv_num").cast("long").as("tv_num"),
          col("tv_den").cast("long").as("tv_den"),
          col("n_buckets"), col("drifted"))
    }),

    // Right-to-be-forgotten cascade: %13 subjects deleted from the
    // corpus AND both derived tables (fingerprints; a (doc, part)-keyed
    // aux table) in one partition-pruned pass each; the output joins the
    // survivors against both derived row sets, so equality with the
    // oracle proves the cascade deleted everywhere and ONLY there.
    "q138_forget" -> ((s, dir) => {
      val whRoot = scratchPath("q138", dir)
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      def freshTable(name: String, df: DataFrame): graft.table.WarehouseTable = {
        val wt = graft.table.WarehouseTable(s"$whRoot/$name")
        wt.drop(); wt.create(df.schema, None, Map.empty); wt.append(df); wt
      }
      val corpus = freshTable("corpus", docs)
      val fps = freshTable("fps",
        docs.select(col("doc_id"), md5(col("text")).as("fp")))
      val aux = freshTable("aux", docs.select(col("doc_id"),
        explode(array(lit(0), lit(1))).as("part")))
      val F = graft.pipeline.Forget
      val ids = docs.filter(col("doc_id") % 13 === 0).select(col("doc_id"))
      F.forget(s, ids, Seq(
        F.Target(corpus, "doc_id"),
        F.Target(fps, "doc_id"),
        F.Target(aux, "doc_id", keys = Seq("doc_id", "part"))))
      // replay of the same request: matches nothing, changes nothing
      F.forget(s, ids, Seq(F.Target(corpus, "doc_id")))
      corpus.read(s).select(col("doc_id"))
        .join(fps.read(s).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_fp")), Seq("doc_id"))
        .join(aux.read(s).groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_aux")), Seq("doc_id"))
    }),

    // Ingest contracts (the DLT-expectation layer): planted violations —
    // re-crawl duplicate fingerprints, nulled langs, negated lengths —
    // tagged per row with the broken rules, never dropped. Row rules are
    // map-side; the uniqueness rule is the one honest shuffle (count per
    // fp joined back on fp).
    "q137_contracts" -> ((s, dir) =>
      q137Tagged(s, dir)._1
        .select(col("doc_id"), col("violations"), col("clean"))),

    // The audit half of the same gate: per-rule violation totals, with
    // explicit zero rows (a missing rule must read as "never checked",
    // not "clean") — one explode + rule-keyed aggregation.
    "q139_contract_summary" -> ((s, dir) => {
      val (tagged, rules) = q137Tagged(s, dir)
      graft.operators.Contracts.summary(tagged, rules)
    }),

    // ORC format surface: the events table round-trips through ORC
    // (longs, strings, doubles — Spark's vectorized ORC reader) and the
    // aggregate over the ORC copy must equal DuckDB's over the parquet
    // original: byte-faithful interchange, proven by hash equality.
    "q136_orc_roundtrip" -> ((s, dir) => {
      s.read.orc(q136OrcDir(s, dir))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          dsum(col("value")).as("sum_value"),
          min(expr("ts div 1000")).as("min_ts_us"),
          max(expr("ts div 1000")).as("max_ts_us"))
    }),

    // Unicode script profiling: per-doc script-block counts, dominant
    // script (first-at-max tie rule), mixed-script flag. Fixture docs
    // are ASCII, so Cyrillic/CJK mass is planted deterministically
    // in-gate (engine-identical literals, the q119 planting rule).
    "q135_script_mix" -> ((s, dir) => {
      val planted = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 11 === 0, lit(" привет мир")).otherwise(lit("")),
          when(col("doc_id") % 13 === 0, lit(" 你好世界")).otherwise(lit("")))
          .as("text"))
      graft.operators.ScriptDetect.profile(planted, "text").drop("text")
    }),

    // Bloom file-skipping point lookups: a batch of content-hash probes
    // (half present, half absent) against the bloom-indexed table —
    // the sidecars name the only dirs that can hold each hash, stats
    // never could (every dir spans the full hash domain). Exactness =
    // no false negatives; the absent probes exercise full skips.
    "q134_bloom_skipping" -> ((s, dir) => {
      val table = q134Table(s, dir)
      val docs = t(s, dir, "documents")
      // probe batches are CAPPED before the collect (256 each,
      // deterministic doc_id order): the operator under test is the
      // bloom read path — the fixture's driver memory must stay O(1) in
      // corpus size, not grow with every SF (round-9 audit item). The
      // oracle applies the identical cap.
      val hits = docs.filter(col("doc_id") % 97 === 0)
        .orderBy(col("doc_id")).limit(256)
        .select(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("text"))).as("fp"))
        .collect().map(_.getString(0))
      val misses = docs.filter(col("doc_id") % 101 === 0)
        .orderBy(col("doc_id")).limit(256)
        .select(md5(concat(col("doc_id").cast("string"), lit("@absent:"),
          col("text"))).as("fp"))
        .collect().map(_.getString(0))
      val probes = (hits ++ misses).toSeq
      table.read(s,
          dataFilters = Seq(org.apache.spark.sql.sources.In(
            "fp", probes.toArray[Any])))
        .filter(col("fp").isin(probes: _*))
        .select(col("doc_id"), col("fp"))
    }),

    // Link-graph centrality as a curation signal: PageRank over the
    // planted citation graph i → i div 2, i → i div 3 (deterministic at
    // every SF; parallel edges honored), 5 iterations of exact
    // fixed-point updates — bit-identical across engines and reduction
    // orders, so the oracle replays it cell-exact.
    "q133_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val linked = docs.filter(col("doc_id") >= 1)
      val edges = linked
        .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
        .unionByName(linked
          .select(col("doc_id").as("src"), expr("doc_id div 3").as("dst")))
      graft.operators.GraphRank.pageRank(
        edges, "src", "dst", docs, "doc_id",
        iters = 5, dampingPct = 85, scale = 1000000000L)
        .select(col("node").as("doc_id"), col("r").as("rank_e9"))
    }),

    // Split-leakage REPAIR (q104's other half): the planted re-crawl
    // pairs span split boundaries wherever the md5 shard put the copy
    // elsewhere; every cluster moves wholly to its representative's
    // split — afterwards the leakage audit is zero by construction.
    "q144_split_repair" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val un = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id")))
      val splits = un.select(col("doc_id"),
        Sampling.shard(col("doc_id"),
          Seq("valid" -> "14", "test" -> "28"), "train").as("split"))
      val pairs = docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id").as("d1"),
          (col("doc_id") + PlantOffset).as("d2"))
      val assignment = Dedup.connectedComponents(
        un.select(col("doc_id").as("id")), pairs)
      Dedup.splitRepair(splits, assignment, "doc_id", "split")
    }),

    // Semi-structured JSON analytics: the events' props payload parsed
    // in place (codegen'd JSON path scalar — no UDF, no pre-flatten
    // pass) and aggregated two-level. The JSON never leaves the scan
    // projection; only (type, bucket) partials shuffle.
    "q143_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"), expr("k div 10").as("k_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
    }),

    // Semi-supervised label propagation: the %10 seed docs' langs
    // spread 3 synchronous rounds through the symmetrized citation
    // graph (clamped seeds, majority vote, lexicographic tie) — the
    // "label the unlabeled 99% from the curated 1%" move. Pure
    // integer/string ops, so the unrolled oracle replays it exactly.
    "q142_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val linked = docs.filter(col("doc_id") >= 1)
      val fwd = linked
        .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
        .unionByName(linked
          .select(col("doc_id").as("src"), expr("doc_id div 3").as("dst")))
      val edges = fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = docs.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("lang").as("label"))
      graft.operators.GraphRank.labelPropagation(
        edges, "src", "dst", seeds, docs.select(col("doc_id")),
        "doc_id", iters = 3)
        .select(col("node").as("doc_id"), col("label"))
    }),

    // Correlated-aggregate filter (TPC-H Q17 shape): lineitems with
    // quantity below 20% of their part's average, revenue rolled up per
    // brand. The correlation decorrelates to ONE partkey-keyed
    // aggregation joined back on the same key (co-partitioned, AQE
    // picks the dispatch); the avg threshold is the exact integer rule
    // 5·qty·cnt < sum_qty — no floating division anywhere.
    "q132_correlated_avg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_partkey"),
        col("l_quantity").cast("decimal(18,2)").as("qc"),
        col("l_extendedprice"))
      val pa = li.groupBy(col("l_partkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("qc")).as("sq"))
      li.join(pa, "l_partkey")
        .filter(col("qc") * lit(5) * col("cnt") < col("sq"))
        .join(t(s, dir, "part")
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
          Seq("l_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          dsum(col("l_extendedprice")).as("rev_small"))
    }),

    // Nearest as-of join: each error event attaches the user's closest
    // purchase within ±3 days (backward-preferred on distance ties) —
    // one union shuffle + one sort; both direction carries are frames
    // over the same window sort, the choice + tolerance gate map-side.
    "q131_nearest_asof" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          expr("ts div 1000").as("ts_us"), col("event_type"))
      val err = e.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id"), col("ts_us"))
      val pur = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("ts_us").as("p_ts"))
      TemporalJoins.asofJoinNearest(
        err, pur, keys = Seq("user_id"), leftTime = "ts_us",
        rightTime = "p_ts", rightValueCols = Seq("p_id"),
        tiebreak = "p_id", tolerance = 259200000000L)
        .select(col("user_id"), col("event_id"),
          col("asof_p_id").as("near_purchase"),
          col("asof_dist").as("near_dist_us"))
    }),

    // Last-touch attribution: every purchase credits the user's newest
    // preceding click's CHANNEL (parsed from the click's JSON props);
    // purchases with no prior click fall into 'organic'. One as-of
    // union-sort + one channel rollup — never the per-purchase
    // backward-scan self-join the naive SQL writes.
    "q147_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events").withColumn("ts_us", expr("ts div 1000"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("value"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          (get_json_object(col("props"), "$.k").cast("long") % 4)
            .as("channel"),
          col("ts_us"))
      TemporalJoins.asofJoinBackward(
          purchases, clicks, keys = Seq("user_id"),
          leftTime = "ts_us", rightTime = "ts_us",
          rightValueCols = Seq("channel"), tiebreak = "click_id")
        .groupBy(coalesce(col("asof_channel").cast("string"), lit("organic"))
          .as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          dsum(col("value")).as("revenue"))
    }),

    // PAIR-FREE session-overlap counts — q118's count-shaped answer
    // without materializing a single pair: the order-statistics identity
    // `overlaps(i) = |{starts ≤ end_i}| − |{ends < start_i}| − 1`, both
    // ranks via the bucketed two-level running sum, minus the identical
    // per-user term (same-user sessions excluded). Output is per SESSION
    // (finer than q118's per-user sum) and LINEAR in sessions where
    // q118's pair join is quadratic in dense windows — the 100 TB form.
    "q148_overlap_counts" -> ((s, dir) =>
      TemporalJoins.overlapCounts(
          q127Sessions(s, dir), "st", "en",
          excludeKey = Some("user_id"), bucketWidth = 1800000000L)
        .select(col("user_id"), col("session_seq"), col("n_overlaps"))),

    // q148's counts against the AT-REST endpoint index (2 rows/interval,
    // mutable bounds — the gate's build plants one commit of WRONG
    // bounds that the next commit supersedes, then replays): per-cell
    // totals + the probe's own cells reconstruct both ranks exactly;
    // the same-user term comes from a key-bound semi-join. Must equal
    // q148's direct identity — and q118's pair join — row for row.
    "q149_overlap_counts_at_rest" -> ((s, dir) => {
      val sess = q127Sessions(s, dir)
        .select(col("user_id"), col("session_seq").as("probe_seq"),
          col("st").as("qs"), col("en").as("qe"))
      graft.operators.RangeIndex.overlapCountsAtRest(
          s, sess, "qs", "qe", excludeKey = Some("user_id"),
          q149Index(s, dir))
        .select(col("user_id"), col("probe_seq").as("session_seq"),
          col("n_overlaps"))
    }),

    // MOR POSITION DELETES (Iceberg v2's second delete flavor): predicate
    // deletes with NO key columns — each delete writes an O(matching-rows)
    // (file, row-ordinal) sidecar, applied as one anti join at read; no
    // target rewrite, no compaction. The gate replays the lifecycle on a
    // live MOR table: bulk load → predicate erase (every 5th-length doc) →
    // upsert resurrects a third of them with revised text → second
    // predicate erase (lang='de') evaluated on the CURRENT view — then
    // reads the table cold. At 100 TB each delete costs the matching rows
    // plus one manifest commit; reads stay scan + broadcast-anti-join.
    "q150_position_delete" -> ((s, dir) => {
      val wh = scratchPath("q150", dir)
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
      table.create(docs.schema, partition = Some("lang"),
        properties =
          graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
            ("compact.delta.threshold" -> "0"))
      table.append(docs)
      table.deleteWhereMor(s, col("n_chars") % 5 === 0)
      val revived = docs
        .filter(col("n_chars") % 5 === 0 && col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" [rev2]")))
      table.merge(s, revived, Seq("doc_id"))
      table.deleteWhereMor(s, col("lang") === "de")
      table.read(s)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_len"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
    }),

    // PATH ANALYSIS, transition form: (prev type → next type) step counts
    // over each user's time-ordered events + exact ppm transition
    // probability — the Markov matrix behind "where do users go next".
    // One user-keyed window, then a |types|²-domain count.
    "q151_event_transitions" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"))
      graft.operators.EventAnalytics.transitions(
        ev, "user_id", "event_type", "ts_us", "event_id")
    }),

    // CDC CHANGE FEED: one MOR merge lands updates (text+' v2'),
    // deletes (every %8 doc tombstoned via deleteWhere) and inserts
    // (planted new ids) in a single batch; changesSince(snap) must
    // surface EXACTLY that batch with insert/delete labels, resolved
    // from the manifest diff before any file opens — the read a
    // downstream mirror replays verbatim.
    "q155_change_feed" -> ((s, dir) => {
      val wh = scratchPath("q155", dir) + "/feed_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema, None,
        graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
          ("compact.delta.threshold" -> "0"))
      table.append(docs)
      val snap = table.currentSnapshotId
      val batch = docs.filter(col("doc_id") % 4 === 0)
        .withColumn("text",
          when(col("doc_id") % 8 === 0, lit("DEAD"))
            .otherwise(concat(col("text"), lit(" v2"))))
        .unionByName(docs.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + PlantOffset).as("doc_id"),
            col("text"), col("lang")))
      table.merge(s, batch, Seq("doc_id"),
        deleteWhere = Some(col("text") === "DEAD"))
      table.changesSince(s, snap)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("_change_type"))
    }),

    // CDC MIRROR under position deletes — the round-10 gap closed and
    // proven end-to-end: a mixed history (MOR merge with updates +
    // equality tombstones + inserts, then a PREDICATE position-delete —
    // the forgetWhere RTBF path — then a revival merge) replays through
    // changesSince(snap0) into a keyed mirror (latest _change_ordinal
    // wins, insert beats delete at equal ordinal, deletes drop the key).
    // The mirror must equal the table's resolved view, which the oracle
    // recomputes independently — impossible unless the feed carries the
    // posdel erasures as labeled deletes.
    "q156_cdc_mirror_posdel" -> ((s, dir) => {
      val wh = scratchPath("q156", dir) + "/mirror_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema, Some("lang"),
        graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
          ("compact.delta.threshold" -> "0"))
      table.append(docs)
      val snap0 = table.currentSnapshotId
      // ordinal snap0+1: updates (%4=0 → ' v2'), tombstones (%8=0),
      // planted inserts (%4=1 + offset)
      val batch1 = docs.filter(col("doc_id") % 4 === 0)
        .withColumn("text",
          when(col("doc_id") % 8 === 0, lit("DEAD"))
            .otherwise(concat(col("text"), lit(" v2"))))
        .unionByName(docs.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + PlantOffset).as("doc_id"),
            col("text"), col("lang")))
      table.merge(s, batch1, Seq("doc_id"),
        deleteWhere = Some(col("text") === "DEAD"))
      // ordinal snap0+2: predicate RTBF — position-delete every 'de' row
      // (erases base rows, a delta winner, and planted rows alike)
      table.deleteWhereMor(s, col("lang") === "de")
      // ordinal snap0+3: revive a third of the forgotten keys
      table.merge(s,
        docs.filter(col("lang") === "de" && col("doc_id") % 3 === 0)
          .withColumn("text", concat(col("text"), lit(" [rev]"))),
        Seq("doc_id"))
      // keyed mirror: snapshot at snap0 + the feed, applied by ordinal
      val mirror0 = table.read(s, asOf = Some(snap0))
        .withColumn("_change_type", lit("insert"))
        .withColumn("_change_ordinal", lit(snap0))
      val applied = Dedup.latestByKey(
        mirror0.unionByName(table.changesSince(s, snap0))
          .withColumn("__ord2",
            expr("_change_ordinal * 2 + IF(_change_type = 'insert', 1, 0)")),
        Seq("doc_id"), orderDesc = "__ord2")
        .filter(col("_change_type") =!= "delete")
      applied.select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"))
    }),

    // COW change feed with removals, oracle-gated: the q156 contract on
    // the OTHER delete mode. A keyed COW table takes a merge (updates +
    // inserts, partition rewrites), a predicate deleteRows (dir-level
    // rewrite — removals used to be silent in the feed), and a
    // dropPartitions TTL (pure metadata removal); changesSince emits the
    // removed-not-relanded rows of every rewrite as labeled deletes, so
    // the keyed mirror replay converges on COW exactly as on MOR.
    "q168_cdc_mirror_cow" -> ((s, dir) => {
      val wh = scratchPath("q168", dir) + "/mirror_cow"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema, Some("lang"),
        graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      // keyed from the start: the initial load is a merge so merge.keys
      // are recorded and the feed can diff rewrites by identity
      table.merge(s, docs, Seq("doc_id"))
      val snap0 = table.currentSnapshotId
      // ordinal +1: COW merge — updates (%4=0 -> ' v2') + planted inserts
      table.merge(s,
        docs.filter(col("doc_id") % 4 === 0)
          .withColumn("text", concat(col("text"), lit(" v2")))
          .unionByName(docs.filter(col("doc_id") % 4 === 1)
            .select((col("doc_id") + PlantOffset).as("doc_id"),
              col("text"), col("lang"))), Seq("doc_id"))
      // ordinal +2: predicate RTBF on COW — dir-level rewrite
      table.deleteRows(s, col("doc_id") % 7 === 0)
      // ordinal +3: TTL — drop the 'de' partition, metadata-only
      table.dropPartitions(Seq("de"))
      val mirror0 = table.read(s, asOf = Some(snap0))
        .withColumn("_change_type", lit("insert"))
        .withColumn("_change_ordinal", lit(snap0))
      val applied = Dedup.latestByKey(
        mirror0.unionByName(table.changesSince(s, snap0))
          .withColumn("__ord2",
            expr("_change_ordinal * 2 + IF(_change_type = 'insert', 1, 0)")),
        Seq("doc_id"), orderDesc = "__ord2")
        .filter(col("_change_type") =!= "delete")
      applied.select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"))
    }),

    // CHANGE FEED ACROSS AN ALTER RENAME, consumed by the REAL stage-40
    // mirror (round-11 VERDICT #8): commits 1-2 write files under the
    // physical name 'lang', the column is renamed to 'language'
    // (metadata-only), commits 3-4 (a merge and a predicate deleteRows
    // whose removal diff re-reads PRE-rename dirs) land under the new
    // name. startCdcMirror then drains the whole history commit-by-
    // commit: every feed window reads old-epoch files through the
    // prior-name coalesce, and the mirror must converge on the CURRENT
    // logical names. The oracle recomputes the final state relationally
    // on the renamed view.
    "q170_cdc_rename_window" -> ((s, dir) => {
      // the SOURCE history (4 commits spanning the rename) is a fixture:
      // built once per (JVM, sfDir), immutable afterwards — the TIMED
      // part is the mirror drain, the operator under test (q106 rule)
      val base = scratchPath("q170", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"))
        src.create(docs.schema,
          properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
        // commits 1-2: pre-rename epoch (files carry physical 'lang')
        src.merge(s, docs.filter(col("doc_id") % 2 === 0), Seq("doc_id"))
        src.merge(s,
          docs.filter(col("doc_id") % 4 === 0)
            .withColumn("text", concat(col("text"), lit(" v2"))),
          Seq("doc_id"))
        src.renameColumn("lang", "language") // metadata-only, inside the window
        // commits 3-4: post-rename epoch — the deleteRows removal diff
        // re-reads commit-1 dirs (old physical name) through the coalesce
        src.merge(s,
          docs.filter(col("doc_id") % 2 === 1)
            .withColumnRenamed("lang", "language"), Seq("doc_id"))
        src.deleteRows(s, col("doc_id") % 7 === 0)
      }
      val mirror = graft.table.WarehouseTable(base + "/mirror")
      mirror.drop()
      val ckpt = java.nio.file.Paths.get(base, "ckpt")
      if (java.nio.file.Files.exists(ckpt)) {
        val walk = java.nio.file.Files.walk(ckpt)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse
            .foreach(java.nio.file.Files.deleteIfExists)
        } finally walk.close()
      }
      val q = graft.streaming.StreamingIngest.startCdcMirror(
        s, src, mirror, Seq("doc_id"), ckpt.toString)
      q.awaitTermination(600000)
      mirror.read(s).select(col("doc_id"),
        md5(col("text")).as("text_md5"), col("language"))
    }),

    // SQL MAINTENANCE + LIFECYCLE PROCEDURES, oracle-gated: the full
    // Iceberg-procedures surface from PLAIN SQL, no engine API in the
    // lifecycle. (1) WRITE-AUDIT-PUBLISH via the session conf: with
    // spark.graft.wap.id set, INSERT INTO stages an invisible snapshot;
    // CALL staged_changes resolves the WAP id to the snapshot id, the
    // audit reads it with VERSION AS OF, and CALL publish_changes /
    // discard_changes finish the lifecycle (a corrupt batch is staged,
    // audited, and discarded without ever being readable). (2) A posdel
    // DELETE, then CALL compact (fold). (3) Spec evolution: CALL
    // evolve_partition (metadata-only re-spec) + rewrite_to_current_spec
    // (the pay-once physical migration to lang-partitioned layout).
    // (4) CALL expire_snapshots + remove_orphan_files reclaim history and
    // bytes. The final view must be untouched by ALL of it; the oracle
    // recomputes the relational answer.
    "q176_sql_procedures" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q176_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.table.WarehouseTable(s"$wh/db/docs_p").drop()
      s.conf.set("spark.sql.catalog.graft_q176", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q176.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .createOrReplaceTempView("q176_docs")
      // created UNPARTITIONED on purpose — evolve_partition +
      // rewrite_to_current_spec migrate it to lang partitioning below
      s.sql(
        """CREATE TABLE graft_q176.db.docs_p (
          |  doc_id BIGINT, text STRING, lang STRING
          |) TBLPROPERTIES ('write.merge.mode'='merge-on-read',
          |  'write.delete.mode'='merge-on-read',
          |  'write.update.mode'='merge-on-read',
          |  'compact.delta.threshold'='0')""".stripMargin)
      def one(sql: String): Long = s.sql(sql).collect()(0).getLong(0)
      // -- WAP: stage the even half; invisible until publish_changes --
      s.conf.set(graft.plans.GraftCatalog.WapIdConf, "wap-even")
      s.sql("INSERT INTO graft_q176.db.docs_p SELECT * FROM q176_docs WHERE doc_id % 2 = 0")
      s.conf.unset(graft.plans.GraftCatalog.WapIdConf)
      require(one("SELECT count(*) FROM graft_q176.db.docs_p") == 0L,
        "staged INSERT must be invisible to main readers")
      val evenSid = one(
        "CALL graft_q176.system.staged_changes('db.docs_p', 'wap-even')")
      require(one(s"SELECT count(*) FROM graft_q176.db.docs_p VERSION AS OF $evenSid") > 0L,
        "audit must see the staged rows via time travel")
      s.sql("CALL graft_q176.system.publish_changes('db.docs_p', 'wap-even')")
      // -- WAP: a corrupt batch stages, fails its audit, is discarded --
      s.conf.set(graft.plans.GraftCatalog.WapIdConf, "wap-odd-corrupt")
      s.sql("INSERT INTO graft_q176.db.docs_p SELECT doc_id, 'CORRUPT' AS text, lang FROM q176_docs WHERE doc_id % 2 = 1")
      s.conf.unset(graft.plans.GraftCatalog.WapIdConf)
      val badSid = one(
        "CALL graft_q176.system.staged_changes('db.docs_p', 'wap-odd-corrupt')")
      require(one(s"SELECT count(*) FROM graft_q176.db.docs_p VERSION AS OF $badSid WHERE text = 'CORRUPT'") > 0L,
        "audit must observe the staged corruption")
      require(one("SELECT count(*) FROM graft_q176.db.docs_p WHERE text = 'CORRUPT'") == 0L,
        "main readers must never see the staged corruption")
      s.sql("CALL graft_q176.system.discard_changes('db.docs_p', 'wap-odd-corrupt')")
      // -- land the odd half for real, then the maintenance runbook --
      s.sql("INSERT INTO graft_q176.db.docs_p SELECT * FROM q176_docs WHERE doc_id % 2 = 1")
      s.sql("DELETE FROM graft_q176.db.docs_p WHERE doc_id % 11 = 0")
      s.sql("CALL graft_q176.system.compact('db.docs_p')")
      s.sql("CALL graft_q176.system.evolve_partition('db.docs_p', 'lang')")
      s.sql("CALL graft_q176.system.rewrite_to_current_spec('db.docs_p')")
      s.sql("CALL graft_q176.system.expire_snapshots('db.docs_p', 1)")
      s.sql("CALL graft_q176.system.remove_orphan_files('db.docs_p', 0)")
      s.sql(
        """SELECT doc_id, md5(text) AS text_md5, lang
          |FROM graft_q176.db.docs_p""".stripMargin)
    }),

    // METADATA TABLES FROM SQL — Iceberg's `SELECT * FROM db.t.partitions`
    // shape, served when the suffix names no real table but the parent is
    // one: .snapshots (commit log with writer-stamped kinds), .files
    // (per-file footprint from footers), .tags, .staged (pending WAP
    // audits with their WAP ids) are require-checked in-gate; the
    // returned frame is the .partitions relation read by plain SQL, and
    // the oracle recomputes its physical counts relationally (delete-free
    // COW table, so physical ≡ logical). Everything is manifest/footer
    // priced — no data pages, no distributed job.
    "q179_sql_metadata_tables" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q179_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.table.WarehouseTable(s"$wh/db/docs_m").drop()
      s.conf.set("spark.sql.catalog.graft_q179", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q179.warehouse", wh)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .createOrReplaceTempView("q179_docs")
      s.sql(
        """CREATE TABLE graft_q179.db.docs_m (
          |  doc_id BIGINT, text STRING, lang STRING
          |) PARTITIONED BY (lang)""".stripMargin)
      s.sql("INSERT INTO graft_q179.db.docs_m SELECT * FROM q179_docs")
      s.sql(s"INSERT INTO graft_q179.db.docs_m SELECT doc_id + ${PlantOffset}L, text, lang FROM q179_docs WHERE doc_id % 3 = 0")
      val wt = graft.table.WarehouseTable(s"$wh/db/docs_m")
      wt.tagSnapshot("v1")
      s.conf.set(graft.plans.GraftCatalog.WapIdConf, "audit-1")
      try s.sql("INSERT INTO graft_q179.db.docs_m SELECT doc_id, text, lang FROM q179_docs WHERE doc_id % 2 = 0")
      finally s.conf.unset(graft.plans.GraftCatalog.WapIdConf)
      def one(sql: String): Long = s.sql(sql).collect()(0).getLong(0)
      // snapshots: the create commit (snap 0) + the 2 published inserts,
      // all writer-stamped 'data'; the staged INSERT must NOT appear
      require(one("SELECT count(*) FROM graft_q179.db.docs_m.snapshots WHERE kind = 'data'") == 3L,
        "snapshots table must list create + the two published commits only")
      require(one("SELECT snapshot_id FROM graft_q179.db.docs_m.snapshots WHERE is_current") == wt.currentSnapshotId,
        "is_current must mark the pointer")
      // files: footer row counts over data content ≡ the table's count
      require(one("SELECT sum(n_rows) FROM graft_q179.db.docs_m.files WHERE content = 'data'") ==
        one("SELECT count(*) FROM graft_q179.db.docs_m"),
        "files table footer counts must equal the table count")
      // tags: the engine-tagged release is SQL-visible
      require(s.sql("SELECT tag, snapshot_id FROM graft_q179.db.docs_m.tags")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("v1", wt.tags("v1"))), "tags table must list v1")
      // staged: the pending WAP audit is visible WITH its WAP id
      require(s.sql("SELECT wap_id FROM graft_q179.db.docs_m.staged WHERE live")
        .collect().map(_.getString(0)).toSeq == Seq("audit-1"),
        "staged table must list the pending audit by WAP id")
      s.sql("CALL graft_q179.system.discard_changes('db.docs_m', 'audit-1')")
      require(one("SELECT count(*) FROM graft_q179.db.docs_m.staged") == 0L,
        "discarded stage must leave the staged table")
      s.sql(
        """SELECT partition, n_dirs, n_rows
          |FROM graft_q179.db.docs_m.partitions""".stripMargin)
    }),

    // TIMESTAMP AS OF time travel from SQL — Iceberg's second travel
    // axis beside VERSION AS OF: the query resolves to the newest
    // snapshot committed at or before the literal (commit wall-clock is
    // stamped in every snapshot). The 'asof' rows must read the
    // captured mid-history state while 'final' reads the head — one
    // relation, two pinned scans.
    "q184_time_travel_ts" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q184_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.table.WarehouseTable(s"$wh/db/docs_t").drop()
      s.conf.set("spark.sql.catalog.graft_q184", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q184.warehouse", wh)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .createOrReplaceTempView("q184_docs")
      s.sql(
        """CREATE TABLE graft_q184.db.docs_t (
          |  doc_id BIGINT, text STRING, lang STRING
          |) PARTITIONED BY (lang)""".stripMargin)
      s.sql("INSERT INTO graft_q184.db.docs_t SELECT * FROM q184_docs WHERE doc_id % 2 = 0")
      Thread.sleep(5)
      val mid = java.time.Instant.now().toString.replace("T", " ").stripSuffix("Z")
      Thread.sleep(5)
      s.sql("INSERT INTO graft_q184.db.docs_t SELECT * FROM q184_docs WHERE doc_id % 2 = 1")
      s.sql(
        s"""SELECT 'asof' AS view, doc_id, md5(text) AS text_md5, lang
           |FROM graft_q184.db.docs_t TIMESTAMP AS OF '$mid'
           |UNION ALL
           |SELECT 'final' AS view, doc_id, md5(text) AS text_md5, lang
           |FROM graft_q184.db.docs_t""".stripMargin)
    }),

    // STATS METADATA TABLE (`t.stats`) — the SQL face of data skipping:
    // per-dir min/max ranges straight from the manifest, no file I/O.
    // The gate is the layout AUDIT a 100 TB operator actually runs:
    // after a CALL cluster, the per-dir doc_id ranges must be DISJOINT
    // within every partition (asserted in-gate — that's what makes
    // stats pruning selective), and the per-partition range envelope
    // must equal the relational per-lang min/max (the oracle).
    "q182_stats_meta" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q182_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.table.WarehouseTable(s"$wh/db/docs_s").drop()
      s.conf.set("spark.sql.catalog.graft_q182", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q182.warehouse", wh)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
        .createOrReplaceTempView("q182_docs")
      s.sql(
        """CREATE TABLE graft_q182.db.docs_s (
          |  doc_id BIGINT, text STRING, lang STRING
          |) PARTITIONED BY (lang)""".stripMargin)
      s.sql("INSERT INTO graft_q182.db.docs_s SELECT * FROM q182_docs")
      s.sql("CALL graft_q182.system.cluster('db.docs_s', 'doc_id', 4)")
      val per = s.sql(
        """SELECT partition, CAST(min_value AS BIGINT) AS mn,
          |  CAST(max_value AS BIGINT) AS mx
          |FROM graft_q182.db.docs_s.stats
          |WHERE column_name = 'doc_id' AND content = 'data'""".stripMargin)
        .collect()
      per.groupBy(_.getString(0)).foreach { case (_, rows) =>
        val sorted = rows.map(r => (r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        sorted.sliding(2).foreach {
          case Seq((_, amax), (bmin, _)) =>
            require(bmin > amax,
              "clustered dirs must carry disjoint doc_id ranges")
          case _ => ()
        }
      }
      s.sql(
        """SELECT partition, min(CAST(min_value AS BIGINT)) AS min_id,
          |  max(CAST(max_value AS BIGINT)) AS max_id
          |FROM graft_q182.db.docs_s.stats
          |WHERE column_name = 'doc_id' AND content = 'data'
          |GROUP BY partition""".stripMargin)
    }),

    // STRING-KEY DATA SKIPPING THROUGH SQL, destructively proven: the
    // warehouse's dir-level stats prune compares string ranges the same
    // way it compares numeric ones, but no gate drove it through the
    // DSv2 pushdown end-to-end. The fixture lands one dir per language
    // (each dir's `lang_key` range is prefix-disjoint by construction —
    // the clustered-by-string layout), then DESTROYS the parquet files
    // of every dir outside the queried 'en#' prefix range. The BETWEEN
    // read can only match the oracle if the pushed string range filters
    // reached the manifest stats prune and the destroyed dirs were never
    // planned — at 100 TB this is the difference between reading one
    // language and reading the corpus.
    "q187_string_skipping" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q187_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val root = s"$wh/db/docs_sk"
      s.conf.set("spark.sql.catalog.graft_q187", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q187.warehouse", wh)
      if (atRestBuilt.add(root)) {
        graft.table.WarehouseTable(root).drop()
        val docs = t(s, dir, "documents").select(
          col("doc_id"),
          concat(col("lang"), lit("#"),
            lpad(col("doc_id").cast("string"), 12, "0")).as("lang_key"),
          col("n_chars"))
        docs.createOrReplaceTempView("q187_docs")
        s.sql(
          """CREATE TABLE graft_q187.db.docs_sk (
            |  doc_id BIGINT, lang_key STRING, n_chars BIGINT)""".stripMargin)
        val langs = t(s, dir, "documents").select("lang").distinct()
          .collect().map(_.getString(0)).sorted
        langs.foreach { lg =>
          s.sql("INSERT INTO graft_q187.db.docs_sk " +
            s"SELECT * FROM q187_docs WHERE lang_key LIKE '$lg#%'")
        }
        // destroy the files of every dir the string range must prune
        val wt = graft.table.WarehouseTable(root)
        wt.statsMeta(s)
          .filter(col("content") === "data" && col("column_name") === "lang_key")
          .select("dir", "min_value", "max_value").collect()
          .filter(r => r.getString(2) < "en#" || r.getString(1) > "en#~")
          .foreach { r =>
            val d = java.nio.file.Paths.get(root, r.getString(0))
            val l = java.nio.file.Files.list(d)
            try {
              import scala.jdk.CollectionConverters._
              l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
                .toSeq.foreach(java.nio.file.Files.delete)
            } finally l.close()
          }
      }
      s.sql(
        """SELECT doc_id, n_chars FROM graft_q187.db.docs_sk
          |WHERE lang_key BETWEEN 'en#' AND 'en#~'""".stripMargin)
    }),

    // STRING × STRING z-order skipping, proven DESTRUCTIVELY through the
    // SQL path (q187's pattern, two dimensions): domain × lang is the
    // text-corpus layout — exactly the reference's own string-keyed
    // partition shape (read.py:223-225, `destinationstate`) — and after
    // `CALL cluster_zorder('db.docs_z', 'dom,lang', 16)` a dom×lang box
    // predicate must prune by the dir stats of BOTH string columns. The
    // fixture deletes the parquet files of every dir either dimension
    // refutes — and REQUIRES dirs refuted by dom alone AND by lang
    // alone to exist — so the gate can only match its oracle if both
    // string dimensions actually pruned (a missing prune reads a gutted
    // dir and dies or mis-answers).
    "q189_zstring_skipping" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q189_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val root = s"$wh/db/docs_z"
      s.conf.set("spark.sql.catalog.graft_q189", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q189.warehouse", wh)
      if (atRestBuilt.add(root)) {
        graft.table.WarehouseTable(root).drop()
        val docs = t(s, dir, "documents").select(
          col("doc_id"),
          concat(lit("dom"),
            lpad(pmod(col("doc_id"), lit(17)).cast("string"), 2, "0")).as("dom"),
          col("lang"), col("n_chars"))
        docs.createOrReplaceTempView("q189_docs")
        s.sql(
          """CREATE TABLE graft_q189.db.docs_z (
            |  doc_id BIGINT, dom STRING, lang STRING, n_chars BIGINT)""".stripMargin)
        s.sql("INSERT INTO graft_q189.db.docs_z SELECT * FROM q189_docs")
        s.sql("CALL graft_q189.system.cluster_zorder('db.docs_z', 'dom,lang', 16)")
        // classify every dir by which query-box dimension refutes it
        val wt = graft.table.WarehouseTable(root)
        val byDir = wt.statsMeta(s)
          .filter(col("content") === "data" &&
            col("column_name").isin("dom", "lang"))
          .select("dir", "column_name", "min_value", "max_value").collect()
          .groupBy(_.getString(0)).view.mapValues { rs =>
            rs.map(r => r.getString(1) -> (r.getString(2), r.getString(3))).toMap
          }.toMap
        def refutes(mm: Option[(String, String)], lo: String, hi: String) =
          mm.exists { case (mn, mx) => mx < lo || mn > hi }
        val domRef = byDir.view.mapValues(m =>
          refutes(m.get("dom"), "dom04", "dom11")).toMap
        val langRef = byDir.view.mapValues(m =>
          refutes(m.get("lang"), "de", "en")).toMap
        val domOnly = byDir.keys.filter(d => domRef(d) && !langRef(d))
        val langOnly = byDir.keys.filter(d => langRef(d) && !domRef(d))
        require(domOnly.nonEmpty && langOnly.nonEmpty,
          s"degenerate z-layout: dom-only refuters ${domOnly.size}, " +
            s"lang-only ${langOnly.size} — the gate would not prove both " +
            "dimensions prune")
        byDir.keys.filter(d => domRef(d) || langRef(d)).foreach { d =>
          val p = java.nio.file.Paths.get(root, d)
          val l = java.nio.file.Files.list(p)
          try {
            import scala.jdk.CollectionConverters._
            l.iterator().asScala.filter(_.toString.endsWith(".parquet"))
              .toSeq.foreach(java.nio.file.Files.delete)
          } finally l.close()
        }
      }
      s.sql(
        """SELECT doc_id, n_chars FROM graft_q189.db.docs_z
          |WHERE dom BETWEEN 'dom04' AND 'dom11'
          |  AND lang BETWEEN 'de' AND 'en'""".stripMargin)
    }),

    // NULL GROUP KEY through the incremental aggregate view — the gate
    // for a real bug: the rollup's maintenance merge ran under ANSI key
    // equality (null never matches), so a NULL group re-INSERTED a fresh
    // row every window instead of folding, and the min/max recompute's
    // equi-joins dropped it from the truth read. Group keys are
    // identities, not ANSI merge keys: the fold and recompute now match
    // them null-safely (<=>). The view over a history whose group key is
    // nullif(lang,'de') — so one group IS null — must equal the plain
    // GROUP BY exactly, extremes included, across an update wave and a
    // delete wave that regresses the null group too.
    "q188_agg_view_null_group" -> ((s, dir) => {
      val base = scratchPath("q188", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"),
            nullif(col("lang"), lit("de")).as("lang_n"), col("n_chars"))
        src.create(docs.schema, None,
          graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
            ("compact.delta.threshold" -> "0"))
        src.merge(s, docs, Seq("doc_id"))
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 7), Seq("doc_id"))
        src.deleteKeysMor(s,
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
          Seq("doc_id"))
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang_n"), Seq("n_chars"), ckpt.toString,
        minMaxCols = Seq("n_chars"))
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(coalesce(col("lang_n"), lit("-")).as("grp"), col("n"),
          col("sum_n_chars"), col("min_n_chars"), col("max_n_chars"))
    }),

    // q182 exposed the BASE layout; this gate exposes the MOR overlay —
    // the rows a 100 TB operator reads to decide when to compact. A MOR
    // upsert wave lands delta dirs whose manifest-recorded key ranges
    // (`content = 'delta'`, from the snapshot's dstats) bound the wave's
    // keys per partition; a SQL position DELETE lands a sidecar whose
    // pending-erasure count surfaces as `content = 'posdel'`
    // (min = max = the sidecar's row count, so SUM(max_value) is the
    // pending-erasure total). Widening delta ranges + growing erasure
    // counts = delta locality degrading = schedule compaction — one SQL
    // query instead of a manifest spelunk. Oracled against the
    // relational truth of each wave.
    "q186_stats_delta_meta" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q186_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.table.WarehouseTable(s"$wh/db/docs_m").drop()
      s.conf.set("spark.sql.catalog.graft_q186", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q186.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      docs.createOrReplaceTempView("q186_docs")
      s.sql(
        """CREATE TABLE graft_q186.db.docs_m (
          |  doc_id BIGINT, text STRING, lang STRING
          |) PARTITIONED BY (lang)
          |TBLPROPERTIES ('write.merge.mode'='merge-on-read',
          |  'write.delete.mode'='merge-on-read',
          |  'write.update.mode'='merge-on-read',
          |  'compact.delta.threshold'='0')""".stripMargin)
      s.sql("INSERT INTO graft_q186.db.docs_m SELECT * FROM q186_docs")
      // MOR upsert wave → delta dirs (+ dstats key ranges)
      graft.table.WarehouseTable(s"$wh/db/docs_m").merge(s,
        docs.filter(col("doc_id") % 4 === 0)
          .withColumn("text", concat(col("text"), lit(" [u]"))),
        Seq("doc_id"))
      // position-delete wave → posdel sidecar (erasure count)
      s.sql("DELETE FROM graft_q186.db.docs_m WHERE doc_id % 13 = 5")
      s.sql(
        """SELECT partition, content,
          |  min(CAST(min_value AS BIGINT)) AS lo,
          |  max(CAST(max_value AS BIGINT)) AS hi
          |FROM graft_q186.db.docs_m.stats
          |WHERE column_name = 'doc_id' AND content IN ('data', 'delta')
          |GROUP BY partition, content
          |UNION ALL
          |SELECT '-' AS partition, 'posdel' AS content,
          |  coalesce(sum(CAST(min_value AS BIGINT)), 0) AS lo,
          |  coalesce(sum(CAST(max_value AS BIGINT)), 0) AS hi
          |FROM graft_q186.db.docs_m.stats
          |WHERE content = 'posdel'""".stripMargin)
    }),

    // q186 exposed the compaction DIAL; this gate closes the loop — the
    // dial DRIVES the maintenance verb. A key-clustered partitioned MOR
    // table takes a SCATTERED upsert wave in 'en' (delta spans the key
    // domain → overlaps every clustered base dir → locality degraded), a
    // NARROW wave in 'de' (overlaps one bucket → healthy), and a posdel
    // DELETE in 'en'; `CALL compact_if_degraded(t, 0.5, 1)` must fold
    // 'en' ONLY — 'de' keeps its base dirs AND its delta slice
    // byte-for-byte (require'd on the manifest) — while the table's
    // relational content is EXACTLY preserved (the oracle: partial
    // compaction is a rewrite, and a wrong one corrupts data, not
    // latency). The dropped 'en' sidecar must empty the erasure dial.
    "q190_compact_if_degraded" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q190_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val root = s"$wh/db/docs_cd"
      graft.table.WarehouseTable(root).drop()
      s.conf.set("spark.sql.catalog.graft_q190", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q190.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      docs.createOrReplaceTempView("q190_docs")
      s.sql(
        """CREATE TABLE graft_q190.db.docs_cd (
          |  doc_id BIGINT, text STRING, lang STRING
          |) PARTITIONED BY (lang)
          |TBLPROPERTIES ('write.merge.mode'='merge-on-read',
          |  'write.delete.mode'='merge-on-read',
          |  'write.update.mode'='merge-on-read',
          |  'compact.delta.threshold'='0')""".stripMargin)
      s.sql("INSERT INTO graft_q190.db.docs_cd SELECT * FROM q190_docs")
      s.sql("CALL graft_q190.system.cluster('db.docs_cd', 'doc_id', 8)")
      val wt = graft.table.WarehouseTable(root)
      // scattered wave: every 5th doc across the whole key range, 'en'
      wt.merge(s,
        docs.filter(col("lang") === "en" && col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(" [u]"))),
        Seq("doc_id"))
      // narrow wave: a contiguous low band, 'de' (SF-relative cut so the
      // band stays one bucket wide at every scale)
      val cut = docs.agg((max(col("doc_id")) / 20).as("c")).head().getDouble(0)
      wt.merge(s,
        docs.filter(col("lang") === "de" && col("doc_id") <= cut)
          .withColumn("text", concat(col("text"), lit(" [d]"))),
        Seq("doc_id"))
      // erasure wave: posdel sidecar, 'en' only
      s.sql("DELETE FROM graft_q190.db.docs_cd WHERE lang = 'en' AND doc_id % 13 = 5")
      val deBase = wt.statsMeta(s)
        .filter(col("content") === "data" && col("partition") === "de" &&
          col("column_name") === "doc_id")
        .select("dir").collect().map(_.getString(0)).toSet
      // drive the fold through the SQL face — the procedure registration
      // is part of what this gate certifies
      val folded = s.sql(
        "CALL graft_q190.system.compact_if_degraded('db.docs_cd', 0.5, 1)")
        .collect()
      require(folded.length == 1 && folded.head.getLong(0) == 1L,
        s"compact_if_degraded summary ${folded.toSeq}, expected 1 folded " +
          "partition (the degraded 'en')")
      val post = wt.statsMeta(s)
      val postDeBase = post
        .filter(col("content") === "data" && col("partition") === "de" &&
          col("column_name") === "doc_id")
        .select("dir").collect().map(_.getString(0)).toSet
      require(postDeBase == deBase,
        "the healthy 'de' partition's base dirs changed under a targeted fold")
      require(post.filter(col("content") === "delta" &&
          col("partition") === "de").count() > 0,
        "the healthy 'de' partition lost its delta slice")
      require(post.filter(col("content") === "delta" &&
          col("partition") === "en").count() == 0,
        "the degraded 'en' partition still carries deltas after the fold")
      require(post.filter(col("content") === "posdel").count() == 0,
        "the folded partition's sidecar must drop — the erasure dial " +
          "must read zero")
      s.sql(
        """SELECT doc_id, md5(text) AS text_md5, lang
          |FROM graft_q190.db.docs_cd""".stripMargin)
    }),

    // q190 with NOBODY calling the verb: the AUTO-COMPACT POLICY
    // properties (declared in DDL, exactly how an operator would ship a
    // self-maintaining table) run the same stats-driven targeted fold
    // INLINE after each commit — the scattered 'en' wave must self-fold
    // the moment it lands, the narrow 'de' wave must survive as a delta
    // through BOTH of 'en's folds, and the posdel DELETE must clear its
    // own sidecar under the erasure dial. Content oracle identical to
    // q190's (the policy is a cadence, not a semantics).
    "q191_auto_compact_policy" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q191_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      val root = s"$wh/db/docs_ac"
      graft.table.WarehouseTable(root).drop()
      s.conf.set("spark.sql.catalog.graft_q191", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q191.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      docs.createOrReplaceTempView("q191_docs")
      s.sql(
        """CREATE TABLE graft_q191.db.docs_ac (
          |  doc_id BIGINT, text STRING, lang STRING
          |) PARTITIONED BY (lang)
          |TBLPROPERTIES ('write.merge.mode'='merge-on-read',
          |  'write.delete.mode'='merge-on-read',
          |  'write.update.mode'='merge-on-read',
          |  'compact.delta.threshold'='0',
          |  'compact.auto.overlap-threshold'='0.5',
          |  'compact.auto.erasure-threshold'='1')""".stripMargin)
      s.sql("INSERT INTO graft_q191.db.docs_ac SELECT * FROM q191_docs")
      s.sql("CALL graft_q191.system.cluster('db.docs_ac', 'doc_id', 8)")
      val wt = graft.table.WarehouseTable(root)
      def deltas(p: String): Long = wt.statsMeta(s)
        .filter(col("content") === "delta" && col("partition") === p).count()
      // narrow 'de' wave FIRST: must commit and STAY a delta (frac 1/8)
      val cut = docs.agg((max(col("doc_id")) / 20).as("c")).head().getDouble(0)
      wt.merge(s,
        docs.filter(col("lang") === "de" && col("doc_id") <= cut)
          .withColumn("text", concat(col("text"), lit(" [d]"))),
        Seq("doc_id"))
      require(deltas("de") > 0, "the policy folded a HEALTHY partition")
      // scattered 'en' wave: the policy must fold it INLINE
      wt.merge(s,
        docs.filter(col("lang") === "en" && col("doc_id") % 5 === 0)
          .withColumn("text", concat(col("text"), lit(" [u]"))),
        Seq("doc_id"))
      require(deltas("en") == 0,
        "the auto policy did not fold the scattered wave inline")
      require(deltas("de") > 0,
        "the auto fold swept the healthy 'de' delta along")
      // posdel DELETE: the erasure dial must clear its own sidecar
      s.sql("DELETE FROM graft_q191.db.docs_ac WHERE lang = 'en' AND doc_id % 13 = 5")
      require(wt.statsMeta(s)
          .filter(col("content") === "posdel").count() == 0,
        "the erasure policy left the sidecar pending")
      require(deltas("de") > 0,
        "the erasure-driven fold swept the healthy 'de' delta along")
      s.sql(
        """SELECT doc_id, md5(text) AS text_md5, lang
          |FROM graft_q191.db.docs_ac""".stripMargin)
    }),

    // CONCURRENT WRITERS, oracle-gated: 8 racing appends of disjoint
    // corpus slices rebase through the optimistic CREATE_NEW-guarded
    // commit — every batch lands exactly once with no coordination, the
    // multi-writer ingest shape a landing table actually sees. The
    // oracle is the corpus itself (set equality; commit order free).
    "q175_concurrent_appends" -> ((s, dir) => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val wh = scratchPath("q175", dir) + "/docs_mw"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      Await.result(Future.sequence((0 until 8).map(i =>
        Future(table.append(docs.filter(pmod(col("doc_id"), lit(8)) === i))))),
        600.seconds)
      table.read(s).select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"))
    }),

    // WRITE-AUDIT-PUBLISH lifecycle, oracle-gated: a bad batch stages as
    // a real (audit-readable) snapshot that main readers never see, the
    // audit rejects it, a good batch stages and publishes — one pointer
    // move, no data rewritten. Iceberg's spark.wap pattern as a
    // first-class table operation.
    "q174_wap_publish" -> ((s, dir) => {
      val wh = scratchPath("q174", dir) + "/docs_wap"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") % 2 === 0))
      val mainBefore = table.currentSnapshotId
      // stage a corrupted batch; the AUDIT (a read of the staged state)
      // rejects it; main never advanced
      val bad = table.stageAppend(docs.filter(col("doc_id") % 2 === 1)
        .withColumn("text", lit("CORRUPT")))
      require(table.read(s, asOf = Some(bad))
        .filter(col("text") === "CORRUPT").count() > 0, "audit must see staged rows")
      require(table.currentSnapshotId == mainBefore, "stage must not publish")
      table.discardStaged(bad)
      // stage the clean batch; audit passes; publish = pointer move
      val good = table.stageAppend(docs.filter(col("doc_id") % 2 === 1))
      require(table.read(s, asOf = Some(good))
        .filter(col("text") === "CORRUPT").isEmpty, "audit must pass")
      table.publishStaged(good)
      table.read(s).select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"))
    }),

    // INCREMENTAL AGGREGATE VIEW (42nd stage): per-lang (count, sum)
    // maintained from the source's GROSS change feed — updates contribute
    // exactly their difference, unchanged re-landed rows cancel to zero,
    // predicate RTBF and a TTL partition drop subtract through, and the
    // zeroed 'de' group drops out of the read. The view is never rebuilt
    // from the corpus; the oracle recomputes it relationally.
    "q173_incremental_agg_view" -> ((s, dir) => {
      // source history is a build-once fixture (q106 rule); the timed
      // part is the gross-feed drain + rollup fold — the operator
      val base = scratchPath("q173", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        src.create(docs.schema, Some("lang"),
          graft.table.WarehouseTable.tableProperties("COW", "snappy"))
        src.merge(s, docs, Seq("doc_id"))
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 7), Seq("doc_id"))
        src.deleteRows(s, col("doc_id") % 7 === 0)
        src.dropPartitions(Seq("de"))
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang"), Seq("n_chars"), ckpt.toString)
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(col("lang"), col("n"), col("sum_n_chars"))
    }),

    // INCREMENTAL AGGREGATE VIEW ACROSS A MID-HISTORY RENAME — q173
    // where the SUMMED column is renamed (n_chars → length) between the
    // base load and the update wave: the gross feed resolves pre-rename
    // commits' dirs through the prior-name coalesce (q170's machinery),
    // so the fold — which selects by the CURRENT name — sees every
    // window commit under 'length' and the view converges exactly. The
    // view is started AFTER the rename with the current names, the only
    // well-defined contract (a feed keyed by per-commit column names
    // would make the fold's schema depend on where the cursor happens
    // to stand).
    "q180_agg_view_renamed" -> ((s, dir) => {
      val base = scratchPath("q180", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        src.create(docs.schema, Some("lang"),
          graft.table.WarehouseTable.tableProperties("COW", "snappy"))
        src.merge(s, docs, Seq("doc_id"))
        src.renameColumn("n_chars", "length") // metadata-only, mid-history
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .select(col("doc_id"), col("lang"),
            (col("n_chars") + 7).as("length")), Seq("doc_id"))
        src.deleteRows(s, col("doc_id") % 7 === 0)
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang"), Seq("length"), ckpt.toString)
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(col("lang"), col("n"), col("sum_length"))
    }),

    // INCREMENTAL AGGREGATE VIEW OVER A MOR SOURCE — q173's twin without
    // compact-to-COW: upserts never remove their old version's dir, so
    // the gross feed recovers each −old through the table's own keyed
    // arbitration (read asOf pre-commit, key-semi-joined to the commit's
    // delta keys). The history stresses every subtraction path: a
    // double-updated key must subtract its LATEST prior version (not its
    // base row), an equality delete contributes −old with the victim's
    // payload (the tombstone row carries nulls), a later upsert
    // resurrects deleted keys, a mid-history COMPACTION is writer-stamped
    // maintenance and must contribute exactly nothing, and a position
    // delete + partition drop subtract through like q173's. The view is
    // never rebuilt from the corpus; the oracle replays the history
    // relationally over the final state.
    "q177_agg_view_mor" -> ((s, dir) => {
      val base = scratchPath("q177", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        src.create(docs.schema, Some("lang"),
          graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
            ("compact.delta.threshold" -> "0"))
        // composite (doc_id, lang) row identity: equality deletes on a
        // partitioned MOR table must route by partition, and one table
        // has ONE keyset for its whole history
        src.merge(s, docs, Seq("doc_id", "lang"))
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 7), Seq("doc_id", "lang"))
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 9), Seq("doc_id", "lang"))
        src.deleteKeysMor(s,
          docs.filter(col("doc_id") % 7 === 0).select("doc_id", "lang"),
          Seq("doc_id", "lang"))
        src.compact(s) // maintenance: the view must not see the re-land
        src.merge(s, docs.filter(col("doc_id") % 5 === 2)
          .withColumn("n_chars", col("n_chars") * 2), Seq("doc_id", "lang"))
        src.deleteWhereMor(s, col("doc_id") % 11 === 3)
        src.dropPartitions(Seq("de"))
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang"), Seq("n_chars"), ckpt.toString)
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(col("lang"), col("n"), col("sum_n_chars"))
    }),

    // INCREMENTAL AGGREGATE VIEW WITH MIN/MAX — the non-invertible
    // aggregates kept with the number of rows at each extreme: a window
    // that removes the last row holding a group's extreme re-aggregates
    // exactly that group from the source AS OF the window end
    // (partition-pruned — the group key IS the partition column). The
    // history forces every repair path: an update wave
    // rewrites partitions (COW re-land = delete+insert pairs, extremes
    // survive exactly), a predicate delete removes min-attaining rows,
    // and a partition drop empties a group (its extremes must NULL, its
    // zero-count row must leave the read).
    "q183_agg_view_minmax" -> ((s, dir) => {
      val base = scratchPath("q183", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        src.create(docs.schema, Some("lang"),
          graft.table.WarehouseTable.tableProperties("COW", "snappy"))
        src.merge(s, docs, Seq("doc_id"))
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 7), Seq("doc_id"))
        src.deleteRows(s, col("doc_id") % 7 === 0)
        src.dropPartitions(Seq("de"))
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang"), Seq("n_chars"), ckpt.toString,
        minMaxCols = Seq("n_chars"))
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(col("lang"), col("n"), col("sum_n_chars"),
          col("min_n_chars"), col("max_n_chars"))
    }),

    // q183's MIN/MAX view over a MOR source — the half
    // q183's COW fixture cannot stress: equality-delete waves regress
    // extremes through keyed −old arbitration, one group is EMPTIED
    // (extremes must NULL) and then RESURRECTED (extremes must restart
    // from the insert fold alone), and a position-delete wave lands
    // last. The source is unpartitioned and key-clustered, so the
    // regress recompute cannot partition-prune either — it must bound
    // itself by the broadcast left-semi + derived key-range filters
    // (the q181 mechanism). The view must equal the plain GROUP BY over
    // the source's final state exactly.
    "q185_agg_view_minmax_mor" -> ((s, dir) => {
      val base = scratchPath("q185", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        src.create(docs.schema, None,
          graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
            ("compact.delta.threshold" -> "0"))
        src.merge(s, docs, Seq("doc_id"))
        src.clusterBase(s, "doc_id", 8)
        // update wave: %4 docs +7 — the old versions' −feed can reach
        // stored extremes (regress without any delete)
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 7), Seq("doc_id"))
        // equality-delete wave: extreme-attaining rows leave
        src.deleteKeysMor(s,
          docs.filter(col("doc_id") % 7 === 0 && col("lang") =!= "de")
            .select("doc_id"),
          Seq("doc_id"))
        // empty the 'de' group entirely — its extremes must NULL
        src.deleteKeysMor(s,
          docs.filter(col("lang") === "de").select("doc_id"), Seq("doc_id"))
        // resurrect a third of it with rescaled values — extremes restart
        src.merge(s, docs
          .filter(col("lang") === "de" && col("doc_id") % 3 === 0)
          .withColumn("n_chars", col("n_chars") * 2), Seq("doc_id"))
        // position-delete flavor last
        src.deleteWhereMor(s, col("doc_id") % 11 === 3)
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang"), Seq("n_chars"), ckpt.toString,
        minMaxCols = Seq("n_chars"))
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(col("lang"), col("n"), col("sum_n_chars"),
          col("min_n_chars"), col("max_n_chars"))
    }),

    // INCREMENTAL AGGREGATE VIEW OVER AN UNPARTITIONED MOR SOURCE —
    // q177 without the partition crutch: no partition column exists, so
    // the gross feed's −old recovery cannot partition-prune. Instead it
    // STATS-prunes — each commit's fresh delta dirs carry merge-key
    // min/max footer stats, whose merged range bounds the pre-commit
    // read to key-overlapping dirs of the (key-CLUSTERED) base. The
    // history interleaves a narrow low-range update wave (prunable to
    // ~1/10 of the clustered base) with full-range waves, both delete
    // flavors, a resurrection and a mid-history compaction; the view
    // must converge exactly either way — the prune is a cost bound,
    // never a semantics change.
    "q181_agg_view_unpart" -> ((s, dir) => {
      val base = scratchPath("q181", dir)
      val src = graft.table.WarehouseTable(base + "/src")
      if (atRestBuilt.add(base + "/src")) {
        src.drop()
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"))
        src.create(docs.schema, None,
          graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
            ("compact.delta.threshold" -> "0"))
        src.merge(s, docs, Seq("doc_id"))
        // key-cluster the base: the layout that makes per-dir key
        // ranges disjoint, so the stats prune has something to refuse
        src.clusterBase(s, "doc_id", 8)
        val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
        src.merge(s, docs.filter(col("doc_id") * 10 <= maxId)
          .withColumn("n_chars", col("n_chars") + 7), Seq("doc_id"))
        src.merge(s, docs.filter(col("doc_id") % 4 === 0)
          .withColumn("n_chars", col("n_chars") + 9), Seq("doc_id"))
        src.deleteKeysMor(s,
          docs.filter(col("doc_id") % 7 === 0).select("doc_id"),
          Seq("doc_id"))
        src.compact(s) // maintenance: the view must not see the re-land
        src.merge(s, docs.filter(col("doc_id") % 5 === 2)
          .withColumn("n_chars", col("n_chars") * 2), Seq("doc_id"))
        src.deleteWhereMor(s, col("doc_id") % 11 === 3)
      }
      val (view, ckpt) = resetAggView(base)
      val q = graft.streaming.StreamingIngest.startAggView(
        s, src, view, Seq("lang"), Seq("n_chars"), ckpt.toString)
      q.awaitTermination(600000)
      graft.streaming.StreamingIngest.readAggView(s, view)
        .select(col("lang"), col("n"), col("sum_n_chars"))
    }),

    // KEYED SNAPSHOT DIFF between two tagged releases: dirs are immutable
    // and content-addressed, so only the manifests' symmetric dir
    // difference is read (plus sidecar-named erasures in shared dirs) —
    // a release-to-release corpus diff costs O(changed bytes), never a
    // corpus scan. v1.1 = v1 + planted %5 docs, minus forgotten %7 docs,
    // with %9 docs updated (posdel erase + re-append — must classify as
    // CHANGED, not removed+added).
    "q171_snapshot_diff" -> ((s, dir) => {
      val wh = scratchPath("q171", dir) + "/docs_rel"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
          ("compact.delta.threshold" -> "0"))
      table.ensureMergeKeys(Seq("doc_id"))
      table.append(docs)
      table.tagSnapshot("v1")
      table.append(docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
          col("text"), col("lang")))
      table.deleteWhereMor(s,
        col("doc_id") % 7 === 0 && col("doc_id") < PlantOffset)
      table.deleteWhereMor(s, col("doc_id") % 7 =!= 0 &&
        col("doc_id") % 9 === 0 && col("doc_id") < PlantOffset)
      table.append(docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 9 === 0)
        .withColumn("text", concat(col("text"), lit(" v2"))))
      table.tagSnapshot("v2")
      table.diffSnapshots(s, table.tags("v1"), table.tags("v2"), Seq("doc_id"))
        .select(col("diff_type"), col("doc_id"),
          md5(col("text")).as("text_md5"), col("lang"))
    }),

    // SNAPSHOT DIFF ACROSS SCHEMA EVOLUTION — q171 where `from` PREDATES
    // an ALTER RENAME and a DROP COLUMN: both sides resolve through the
    // CURRENT schema (the renamed column coalesces its prior physical
    // name out of pre-rename files; the dropped column simply isn't in
    // the diff's universe), so a release diff keeps working after
    // metadata DDL — no snapshot rewrite, no special evolved-diff path.
    // Same set algebra as q171, output under the POST-RENAME name.
    "q178_snapshot_diff_evolved" -> ((s, dir) => {
      val wh = scratchPath("q178", dir) + "/docs_rel"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("MOR", "snappy") +
          ("compact.delta.threshold" -> "0"))
      table.ensureMergeKeys(Seq("doc_id"))
      table.append(docs)
      table.tagSnapshot("v1")
      table.renameColumn("lang", "language") // metadata-only, mid-window
      table.dropColumn("source")             // pre-drop bytes never read back
      table.append(docs.filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
          col("text"), col("lang").as("language")))
      table.deleteWhereMor(s,
        col("doc_id") % 7 === 0 && col("doc_id") < PlantOffset)
      table.deleteWhereMor(s, col("doc_id") % 7 =!= 0 &&
        col("doc_id") % 9 === 0 && col("doc_id") < PlantOffset)
      table.append(docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 9 === 0)
        .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
          col("lang").as("language")))
      table.tagSnapshot("v2")
      table.diffSnapshots(s, table.tags("v1"), table.tags("v2"), Seq("doc_id"))
        .select(col("diff_type"), col("doc_id"),
          md5(col("text")).as("text_md5"), col("language"))
    }),

    // PARTITIONS METADATA TABLE (Iceberg's `t.partitions`): per-partition
    // dir/file/row footprint from manifests + parquet footers only — the
    // ops primitive behind retention planning and skew audits, priced at
    // metadata reads. Physical row counts must equal the relational
    // GROUP BY on this delete-free COW table.
    "q172_partitions_meta" -> ((s, dir) => {
      val wh = scratchPath("q172", dir) + "/docs_parts"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema, Some("lang"),
        graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs)
      table.append(docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
          col("text"), col("lang")))
      table.partitionsMeta(s)
        .select(col("partition"), col("n_dirs"), col("n_rows"))
    }),

    // Catalog-SQL DML lifecycle, oracle-gated (round-10 VERDICT #6):
    // standalone UPDATE and DELETE FROM through spark.sql on BOTH delete
    // modes — the COW table takes stats-pruned dir rewrites, the MOR
    // table routes DELETE through an O(match) position-delete sidecar —
    // and both must land the exact same visible rows, which the oracle
    // recomputes relationally.
    "q157_sql_update_delete" -> ((s, dir) => {
      val wh = sys.props("java.io.tmpdir") + "/graft_q157_scratch/" +
        dir.replaceAll("[^A-Za-z0-9._-]", "_")
      graft.table.WarehouseTable(s"$wh/db/docs_cow").drop()
      graft.table.WarehouseTable(s"$wh/db/docs_mor").drop()
      s.conf.set("spark.sql.catalog.graft_q157", "graft.plans.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_q157.warehouse", wh)
      graft.plans.GraftMergeStrategy.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("n_chars"), col("lang"))
        .createOrReplaceTempView("q157_docs")
      Seq(
        "docs_cow" -> "",
        "docs_mor" -> ("""TBLPROPERTIES ('write.merge.mode'='merge-on-read',
          |  'write.delete.mode'='merge-on-read',
          |  'write.update.mode'='merge-on-read',
          |  'compact.delta.threshold'='0')""".stripMargin)
      ).foreach { case (name, props) =>
        s.sql(
          s"""CREATE TABLE graft_q157.db.$name (
             |  doc_id BIGINT, text STRING, n_chars BIGINT, lang STRING
             |) PARTITIONED BY (lang) $props""".stripMargin)
        s.sql(s"INSERT INTO graft_q157.db.$name SELECT * FROM q157_docs")
        s.sql(s"UPDATE graft_q157.db.$name SET text = concat(text, ' [u]') " +
          "WHERE n_chars % 7 = 0")
        s.sql(s"DELETE FROM graft_q157.db.$name " +
          "WHERE lang = 'fr' OR doc_id % 11 = 0")
      }
      s.sql(
        """SELECT 'cow' AS mode, doc_id, md5(text) AS text_md5, n_chars, lang
          |FROM graft_q157.db.docs_cow
          |UNION ALL
          |SELECT 'mor' AS mode, doc_id, md5(text) AS text_md5, n_chars, lang
          |FROM graft_q157.db.docs_mor""".stripMargin)
    }),

    // SNAPSHOT ROLLBACK lifecycle, oracle-gated: an abandoned timeline
    // (append + predicate delete) rolls back to the first snapshot —
    // metadata-only pointer move, Iceberg's rollback_to_snapshot — and a
    // DIFFERENT second half commits onto the reclaimed ids. The final
    // view must carry the surviving timeline only, while AS OF the
    // rollback target still reads the original first half: rollback
    // must neither leak the abandoned commits nor break time travel.
    "q158_snapshot_rollback" -> ((s, dir) => {
      val wh = scratchPath("q158", dir) + "/docs_t"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") % 2 === 0))
      val snapA = table.currentSnapshotId
      // abandoned timeline: the odd half + a predicate delete
      table.append(docs.filter(col("doc_id") % 2 === 1))
      table.deleteRows(s, col("doc_id") % 13 === 0)
      table.rollback(snapA)
      // surviving timeline: the odd half re-landed with different content
      table.append(docs.filter(col("doc_id") % 2 === 1)
        .withColumn("text", concat(col("text"), lit(" [alt]"))))
      table.read(s).withColumn("view", lit("final"))
        .unionByName(
          table.read(s, asOf = Some(snapA)).withColumn("view", lit("asof")))
        .select(col("view"), col("doc_id"),
          md5(col("text")).as("text_md5"), col("lang"))
    }),

    // ROBUST DAILY-COUNT ANOMALIES (median/MAD, exact integers): the
    // corpus collapses to (type, day) counts in one map-side-combinable
    // aggregation; the odd trailing window makes both medians exact
    // elements — no interpolation, so the oracle replays bit-identical.
    "q167_count_anomalies" -> ((s, dir) => {
      graft.operators.EventAnalytics.dailyCountAnomalies(
        t(s, dir, "events"), "event_type", "ts",
        windowDays = 7, thresholdE2 = 350)
    }),

    // FULL COLUMN-DDL LIFECYCLE, oracle-gated and ALL metadata-only: the
    // table starts (doc_id, text, lang, source, n_chars INT); after the
    // first append it WIDENs n_chars to BIGINT, RENAMEs lang->language,
    // DROPs source, ADDs quality — then appends a second epoch. The read
    // must reconcile files of BOTH epochs per column: widen promotes the
    // INT files, rename coalesces the prior physical name, drop never
    // scans the old bytes, add reads NULL where files predate it. At
    // 100 TB this is the whole point of metadata DDL — none of the four
    // touched a data file.
    "q166_schema_lifecycle" -> ((s, dir) => {
      import org.apache.spark.sql.types._
      val wh = scratchPath("q166", dir) + "/docs_ddl"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
      val initial = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", IntegerType)))
      table.create(initial,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")))
      table.widenColumn("n_chars", LongType)
      table.renameColumn("lang", "language")
      table.dropColumn("source")
      table.addColumn("quality", LongType)
      table.append(docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"),
          col("lang").as("language"), col("n_chars"),
          expr("n_chars div 100").as("quality")))
      table.read(s).select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("language"), col("n_chars"), col("quality"))
    }),

    // SALTED TWO-PHASE AGGREGATION, oracle-gated: one hot key (here the
    // 3-value l_returnflag — maximal skew) spreads over 16 salt buckets
    // in the partial phase, so no reducer owns more than ~1/16 of a key;
    // the final phase re-combines per key. Result ≡ the plain GROUP BY.
    "q163_salted_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("decimal(18,2)").as("qty"))
      graft.operators.SkewTools.saltedSumCount(li, Seq("l_returnflag"), "qty", 16)
        .select(col("l_returnflag"),
          col("sum_qty").cast("double").as("sum_qty"), col("n"))
    }),

    // SALTED BROADCAST-REPLICATED JOIN, oracle-gated: the fact side is
    // NEVER shuffled (the dim replicates saltBuckets ways and broadcasts)
    // and no task sees more than ~1/8 of a hot key's fact rows. Result ≡
    // the plain equi-join; the aggregation on top proves row multiplicity
    // survived the salting exactly.
    "q164_salted_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_suppkey"),
          col("l_quantity").cast("decimal(18,2)").as("qty"))
      val dim = t(s, dir, "supplier")
        .select(col("s_suppkey").as("l_suppkey"), col("s_name"))
      graft.operators.SkewTools.saltedBroadcastJoin(li, dim, "l_suppkey", 8)
        .groupBy(col("s_name"))
        .agg(sum(col("qty")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    // ORPHAN-FILE GC, oracle-gated: a rollback abandons a timeline whose
    // data dirs remain on disk as unreferenced garbage (q158 documents
    // this as vacuum's territory — this is the vacuum). The gate rolls
    // back, GCs, then keeps committing: the final view, time travel to
    // the rollback target, and a post-GC append must all be exact — an
    // over-eager GC that touched any LIVE dir (the carried even half is
    // referenced by every snapshot) corrupts all three.
    "q162_orphan_gc" -> ((s, dir) => {
      val wh = scratchPath("q162", dir) + "/docs_gc"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") % 2 === 0))
      val snapA = table.currentSnapshotId
      // abandoned timeline -> orphaned data dirs after rollback
      table.append(docs.filter(col("doc_id") % 2 === 1))
      table.deleteRows(s, col("doc_id") % 11 === 0)
      table.rollback(snapA)
      // olderThanMs = 0: the gate IS the single-writer maintenance
      // window (no concurrent committer can race it); production runs
      // keep the default 3-day in-flight-commit grace
      table.removeOrphanFiles(olderThanMs = 0)
      table.append(docs.filter(col("doc_id") % 2 === 1))
      table.read(s).withColumn("view", lit("final"))
        .unionByName(
          table.read(s, asOf = Some(snapA)).withColumn("view", lit("asof")))
        .select(col("view"), col("doc_id"),
          md5(col("text")).as("text_md5"), col("lang"))
    }),

    // TRIANGLE COUNTS over the doc link graph (same derived edges as
    // q133's PageRank): degree-ordered node-iterator — wedges enumerate
    // only around each edge's (degree,id)-min endpoint, so wedge volume
    // is m^1.5-bounded and a power-law hub costs nothing. Exact integer
    // counts; the oracle replays the identical orientation.
    "q161_triangle_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docs
        .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
        .unionByName(docs
          .select(col("doc_id").as("src"), expr("doc_id div 3").as("dst")))
      graft.operators.GraphRank.triangleCounts(
        edges, "src", "dst", docs, "doc_id")
        .select(col("node").as("doc_id"), col("n_triangles"))
    }),

    // EDGE EMBEDDEDNESS over the same link graph: per-edge common
    // neighbors (= triangles through the edge) and integer Jaccard —
    // the sparsification/strong-tie signal; same m^1.5 wedge bound.
    "q165_edge_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docs
        .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
        .unionByName(docs
          .select(col("doc_id").as("src"), expr("doc_id div 3").as("dst")))
      graft.operators.GraphRank.edgeJaccard(edges, "src", "dst")
    }),

    // K-CORE membership after 4 synchronous peel rounds (k=2) on the
    // same link graph — the density filter before trusting link signals;
    // fixed rounds make the fixpoint engine-replayable (q133's
    // discipline), and the oracle unrolls the identical peels.
    "q169_kcore" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val edges = docs
        .select(col("doc_id").as("src"), expr("doc_id div 2").as("dst"))
        .unionByName(docs
          .select(col("doc_id").as("src"), expr("doc_id div 3").as("dst")))
      graft.operators.GraphRank.kCorePeel(
        edges, "src", "dst", docs, "doc_id", k = 2, rounds = 4)
        .select(col("node").as("doc_id"), col("in_core"), col("core_deg"))
    }),

    // PARTITION-SPEC EVOLUTION lifecycle, oracle-gated: the table re-keys
    // from `lang` to `source` with ZERO data movement (Iceberg's REPLACE
    // PARTITION FIELD) — at 100 TB the layout change must not cost a
    // corpus rewrite. Three views prove the read semantics: `pruned` is a
    // point read on the NEW spec over the MIXED layout (new-spec dirs
    // prune by manifest key; legacy dirs are swept in — their layout says
    // nothing about `source` — and row-filtered), captured lazily BEFORE
    // the merge (COW keeps the dirs); `full` reads after a COW merge that
    // both updates keys living in legacy dirs and migrates every swept-in
    // legacy dir to the current spec with no ghost copies; `asof` time
    // travel to the pre-evolution snapshot is untouched by all of it.
    "q159_partition_evolution" -> ((s, dir) => {
      val wh = scratchPath("q159", dir) + "/docs_evo"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
      table.create(docs.schema, partition = Some("lang"),
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") % 2 === 0))
      val snapA = table.currentSnapshotId
      table.evolvePartition("source")
      table.append(docs.filter(col("doc_id") % 2 === 1))
      val out = (df: DataFrame, view: String) => df
        .withColumn("view", lit(view))
        .select(col("view"), col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
      val pruned = out(
        table.read(s, partitions = Some(Seq("src1")),
            dataFilters = Seq(org.apache.spark.sql.sources.EqualTo("source", "src1")))
          .filter(col("source") === "src1"), "pruned")
      table.merge(s,
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L), Seq("doc_id"))
      pruned
        .unionByName(out(table.read(s), "full"))
        .unionByName(out(table.read(s, asOf = Some(snapA)), "asof"))
    }),

    // SNAPSHOT EXPIRY + VACUUM lifecycle, oracle-gated: history (append,
    // tag, append, COW predicate delete) then `expireSnapshots(keepLast=1)`
    // — which PHYSICALLY deletes every data dir, manifest fragment, and
    // snapshot file only expired snapshots reference. The gate proves the
    // two reads that must survive the purge: the current view (its dirs
    // are live by definition — but the COW delete carried most of them
    // from older snapshots, so over-eager vacuum would corrupt it) and
    // the TAGGED release (pinned through expiry; its dirs stay alive even
    // though its snapshot is outside the keepLast window). Reading an
    // expired untagged snapshot throws — spec-asserted, not oracle-able.
    "q160_snapshot_expiry" -> ((s, dir) => {
      val wh = scratchPath("q160", dir) + "/docs_exp"
      val table = graft.table.WarehouseTable(wh)
      table.drop()
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      table.create(docs.schema, partition = Some("lang"),
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy"))
      table.append(docs.filter(col("doc_id") % 2 === 0))
      table.tagSnapshot("release")
      table.append(docs.filter(col("doc_id") % 2 === 1))
      table.deleteRows(s, col("doc_id") % 13 === 0)
      table.expireSnapshots(keepLast = 1)
      table.read(s).withColumn("view", lit("final"))
        .unionByName(
          table.readTag(s, "release").withColumn("view", lit("tag")))
        .select(col("view"), col("doc_id"),
          md5(col("text")).as("text_md5"), col("lang"))
    }),

    // Source-balanced interleave: every prefix of the training order
    // carries each source as evenly as arithmetic allows; the global
    // position is computed per row from (source, rank, counts) — no
    // global sort anywhere. Oracle recomputes it as a literal
    // row_number over (rank, source), proving the closed form.
    "q154_source_interleave" -> ((s, dir) =>
      graft.operators.Sampling.interleaveBySource(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source")),

    // Containment decontamination: the %9 docs are the "benchmark";
    // each is planted verbatim inside a longer synthetic train doc
    // (preamble + text), so containment = exactly 1e6 for the plants
    // while Jaccard would stay low — the graded contamination signal
    // q42's exact 13-gram rule complements. Reference side broadcasts.
    "q153_containment_decon" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = docs.filter(col("doc_id") % 9 === 0)
      val corpus = docs.filter(col("doc_id") % 9 =!= 0)
        .unionByName(ref.select((col("doc_id") + PlantOffset).as("doc_id"),
          concat(lit("quality assurance preamble "), col("text")).as("text")))
      TextDedup.containmentAgainst(corpus, ref, "doc_id", "text")
    }),

    // PATH ANALYSIS, prefix form: each user's first-3 event types as an
    // ordered path string, counted across users.
    "q152_user_paths" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          expr("ts div 1000").as("ts_us"))
      graft.operators.EventAnalytics.userPaths(
        ev, "user_id", "event_type", "ts_us", "event_id", k = 3)
    }),

    // Composition: hopping windows × KMV — approximate distinct users
    // per (2 h window every 30 min, type). Each instance's sketch is
    // ≤ k longs of map-side state; the window fan-out multiplies rows
    // 4×, the sketch keeps the shuffle from multiplying with USERS.
    "q146_window_distinct" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("user_id"),
          expr("ts div 1000").as("ts_us"))
      val wsMax = expr("(ts_us div 1800000000) * 1800000000")
      val exploded = ev.withColumn("window_start",
        explode(sequence(wsMax - 5400000000L, wsMax, lit(1800000000L))))
      graft.operators.Sketches.approxDistinct(
        exploded, Seq("window_start", "event_type"), "user_id", k = 16)
    }),

    // Time-bounded funnel: the q128 funnel under a 24 h CONVERSION
    // WINDOW — later steps count only within a day of the user's first
    // view (the product-analytics framing: "converted within 24h").
    "q145_funnel_windowed" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      graft.operators.EventAnalytics.funnel(
        ev, "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"), maxLag = 86400000000L)
    }),

    // Ordered funnel over the event stream: view → click → purchase,
    // each step strictly after the user's previous step time. Chained
    // user-keyed aggregations (co-partitioned, map-side mins) — never a
    // per-user window sort. Exact integer lag sums.
    "q128_funnel" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("ts_us"))
      graft.operators.EventAnalytics.funnel(
        ev, "user_id", "event_type", "ts_us",
        Seq("view", "click", "purchase"))
    }),

    // Weekly cohort retention: cohort = week of a user's first event;
    // each (cohort, week-offset) cell counts distinct active members.
    "q129_retention" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"))
      graft.operators.EventAnalytics.retentionCohorts(
        ev, "user_id", "ts_us", periodUs = 604800000000L)
    }),

    // Hopping-window rollup: 2 h windows every 30 min — each event fans
    // out to exactly 4 window instances; one (window, type)-keyed shuffle.
    "q130_hopping" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"), col("value"),
          expr("ts div 1000").as("ts_us"))
      graft.operators.EventAnalytics.hoppingWindows(
        ev, "ts_us", "event_type", "value",
        lenUs = 7200000000L, hopUs = 1800000000L)
    }),

    // MMR diversified selection over a bounded candidate set: top-20 by
    // relevance to query vector 0, then 5 greedy picks trading relevance
    // against redundancy (λ = 0.5, exact integer objective). The
    // eval-set/few-shot-pool selector — a plain top-k returns one
    // neighborhood's near-duplicates; MMR provably does not.
    "q101_mmr_select" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      val cand = e.filter(col("vec_id") >= 10)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .crossJoin(broadcast(qv)) // 1-row query — provably bounded
        .withColumn("cos", graft.functions.CosineSim(col("qvec"), col("vec")))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cos").desc, col("id").asc)))
        .filter(col("rnk") <= 20)
        .select(col("id"), col("vec"),
          floor(col("cos") * 1000000.0 + lit(0.5)).cast("long").as("rel_e6"))
      SimilaritySearch.mmrDiversify(cand, k = 5)
    }),

    // JSONL ingest with corrupt-line quarantine: documents round-tripped
    // through the corpus interchange format (explicit schema — never a
    // second inference pass — PERMISSIVE capture, tag-don't-drop). The
    // per-source stats AND an md5-derived text signature prove the parse
    // lossless against the parquet originals; the 2 planted malformed
    // lines land in quarantine, not in the stats and not on the floor.
    "q100_jsonl_ingest" -> ((s, dir) => {
      val root = q100JsonlDir(s, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("source", "string")
        .add("lang", "string").add("text", "string").add("n_chars", "long")
      val (good, bad) =
        graft.sources.JsonlReader.readWithQuarantine(s, root, schema)
      good.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          sum(expr("CAST(conv(substring(md5(text), 1, 8), 16, 10) AS BIGINT)"))
            .as("text_sig"))
        .unionByName(bad.agg(count(lit(1)).as("n_docs"))
          .select(lit("_quarantine").as("source"), col("n_docs"),
            lit(0L).as("n_chars"), lit(0L).as("text_sig")))
    }),

    // Chunk-granularity BPE encode (q58 × q86): every content-defined
    // chunk lands with its own subword stream — the unit q41/q49 packing
    // actually consumes. CDC boundaries partition the token sequence
    // exactly, so per-doc chunk sums of n_words/n_bpe_tokens equal the
    // q86 document-level counts (conservation law; OperatorsSpec pins it,
    // the oracle replays boundaries + the final word table independently).
    "q97_bpe_chunk_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Vocabulary.bpeTrain(docs, "text", nMerges = 12)
      graft.operators.Vocabulary.bpeEncodeChunks(docs, "doc_id", "text", model)
    }),

    // Gopher quality rules (Rae et al. 2021 App. A1.1): the published
    // rule set as one tag-don't-drop map-side pass — raw signals,
    // per-rule bits, failure count, combined gate. No shuffle at all.
    "q94_gopher_rules" -> ((s, dir) =>
      graft.operators.Gopher.rules(t(s, dir, "documents"), "doc_id", "text")),

    // Blocklist (badwords) filter, C4-style: word-boundary phrase match
    // against a broadcast list (one rare word + one bigram phrase so both
    // gram lengths carry mass at every SF), tag-don't-drop with per-doc
    // occurrence counts and the sorted hit set.
    "q93_blocklist" -> ((s, dir) =>
      graft.operators.Blocklist.flag(
        t(s, dir, "documents"), "doc_id", "text",
        Seq("dup", "batch batch"))),

    // BM25 keyword retrieval (the sparse half of the search stack — the
    // dense half is q14/q15/q34): top-20 docs for a 4-term query under
    // Lucene-smoothed idf, per-(doc,term) contributions e6-quantized and
    // BIGINT-summed (the q53 ln-parity rule), score-desc/doc-asc total
    // order. The term filter is the scale story in-memory: only the query
    // terms' postings ever leave the scan.
    "q91_bm25_topk" -> ((s, dir) => {
      val model = graft.operators.Bm25.fit(
        t(s, dir, "documents"), "doc_id", "text")
      graft.operators.Bm25.topK(model, Bm25QueryTerms, k = 20)
    }),

    // The same query against the AT-REST inverted index (q34/q66 pattern
    // for keyword retrieval): postings partitioned by term hash, the
    // query reads only its own terms' partitions, globals ride as table
    // properties. Result must equal q91 row-for-row — pruning is lossless
    // by construction, and the shared oracle proves it.
    "q92_bm25_at_rest" -> ((s, dir) => {
      val table = q92Index(s, dir) // build-once (memoized); timed part = lookup
      graft.operators.Bm25.lookupAtRest(s, table, Bm25QueryTerms, k = 20)
    }),

    // q84's bounded twin for CONTINUOUS signals: token-density (tokens
    // per char, e6 fixed-point — high-cardinality, range-unbounded in
    // general) sketch-fitted per source via significant-bits geometric
    // buckets, arrivals scored against the FROZEN bucketed CDF. The
    // model is bucket-bounded by construction (~29k rows/key max at
    // bits=8) where q84's exact CDF would be corpus-sized on a signal
    // like this — the 100 TB shape for continuous-score normalization.
    "q90_sketch_percentile" -> ((s, dir) => {
      val docs = t(s, dir, "documents").filter(col("n_chars") > 0)
        .withColumn("density_e6",
          expr("CAST(size(split(trim(text), '\\\\s+')) AS BIGINT) " +
            "* 1000000 div n_chars"))
      val cut = docs.agg((max(col("doc_id")) / 2).cast("long")).head().getLong(0)
      val model = graft.operators.Percentiles.fitSketch(
        docs.filter(col("doc_id") <= cut), "source", "density_e6", bits = 8)
      graft.operators.Percentiles.scoreAgainstSketch(
        docs.filter(col("doc_id") > cut), "doc_id", "source", "density_e6",
        model, bits = 8)
    }),

    // Cross-source overlap matrix: every 5th doc re-landed under a
    // 'mirror' source (the planted-dup trick), so each real source shares
    // deterministic mass with 'mirror' and none with its peers.
    "q80_source_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val planted = docs.select(col("text"), col("source"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select(col("text"), lit("mirror").as("source")))
      graft.operators.Dedup.crossSourceOverlap(planted, "text", "source")
    }),

    // Tokenizer apply under a frozen 16-word vocabulary: ids in frequency
    // order, UNK = 16, per-doc OOV audit + id-sequence fingerprint. The
    // tight cut makes OOV mass real at every SF.
    "q79_vocab_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.operators.Vocabulary.frequencyRank(docs, "text")
        .filter(col("rank") <= 16).select(col("word"), col("rank"))
      graft.operators.Vocabulary.encodeWithVocab(
        docs, "doc_id", "text", vocab, vocabSize = 16)
    }),

    // Weighted exactly-k sample: 50 docs drawn with probability scaling
    // with n_chars (a long-doc-favoring eval draw). Priorities are md5-
    // deterministic, so the k-set is a pure function of the corpus.
    "q78_weighted_sample" -> ((s, dir) =>
      Sampling.weightedPriorityK(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 50)),

    // Count-min heavy hitters: top-20 words by sketch estimate from a
    // bounded 4×1024 counter table — the corpus frequency report without
    // shuffling the vocabulary (q67's cost). Width 1024 < vocab would
    // collide at corpus scale by design; estimates only ever overcount.
    "q76_cms_top_words" -> ((s, dir) =>
      graft.operators.Sketches.countMinTopWords(
        t(s, dir, "documents"), "text", depth = 4, width = 1024, topK = 20)),

    // DSIR importance resampling (Xie et al. 2023): target = the English
    // subset, raw = the whole corpus; every document scored by its hashed-
    // bigram log importance weight under the frozen 256-bucket model.
    "q74_dsir_weights" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.operators.Dsir.fit(
        docs.filter(col("lang") === "en"), docs, "text", numBuckets = 256)
      graft.operators.Dsir.scoreDocs(docs, "doc_id", "text", model)
    }),

    // At-rest banded-MinHash index (q34's pattern for TEXT dedup): the
    // corpus band hashes live in a pb-partitioned warehouse table;
    // arrivals (planted near-dup edits of every 10th doc) probe only the
    // partitions their own band hashes name, then exact-verify.
    "q66_minhash_at_rest" -> ((s, dir) => {
      val table = q66Index(s, dir) // build-once (memoized); timed part = lookup
      val docs = t(s, dir, "documents")
      val arrivals = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + PlantOffset).as("doc_id"),
          concat(lit("edited "), col("text")).as("text"))
      TextDedup.minhashLookupAtRest(s, arrivals, docs, "doc_id", "text", table)
    }),

    // Corpus snapshot diff (re-crawl version management): the new
    // snapshot is derived in-query — docs % 11 dropped, % 13 edited,
    // % 17 re-added under new ids — so every status class is planted
    // deterministically at every SF.
    "q65_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val newSnap = docs
        .filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + PlantOffset).as("doc_id"), col("text")))
      Dedup.corpusDiff(docs, newSnap, "doc_id", "text")
    }),

    // Corpus report (the dataset-card rollup): per-language, per-source
    // and overall doc/token/char totals in ONE grouping-sets scan; gid
    // spelled as grouping(lang)*2+grouping(source) so both engines emit
    // the same set discriminator; avg from exact integer sums.
    "q64_corpus_report" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("lang"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_toks"),
        col("n_chars"))
      d.groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq()),
        col("lang"), col("source"))
        .agg(
          (grouping(col("lang")) * 2 + grouping(col("source")))
            .cast("long").as("gid"),
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"))
        .withColumn("avg_chars",
          floor(col("sum_chars").cast("double") / col("n_docs")
            * 10000.0 + 0.5) / 10000.0)
    }),

    // Corpus duplicated-8-gram report (the substring-dedup diagnostic):
    // top 20 grams in >=2 docs after an in-query re-crawl plants real
    // cross-document duplication.
    "q61_top_dup_grams" -> ((s, dir) =>
      TextDedup.topDuplicatedGrams(plantedRecrawl(s, dir), "doc_id", "text",
        n = 8, topK = 20)),

    // Multimodal binary-column plumbing through codegen'd functions:
    // blob length + magic prefix of an opaque binary payload.
    "q16_binary_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(
          col("doc_id"),
          length(col("text").cast("binary")).cast("long").as("n_bytes"),
          upper(hex(substring(col("text"), 1, 4).cast("binary"))).as("magic_hex"))
    })
  )

  // ==========================================================================
  // Oracle SQL (DuckDB dialect, same tables)
  // ==========================================================================

  def oracleSql: Map[String, String] = ListMap(

    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  count(DISTINCT l_orderkey) AS n_orders,
        |  count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1999-12-31'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  count(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q03_topk_orders_per_segment" ->
      """SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |) WHERE rn <= 5""".stripMargin,

    "q04_dedup_latest" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |) WHERE rn = 1""".stripMargin,

    "q05_merge_upsert" -> mergeUpsertOracle,

    "q06_hourly_rollup" ->
      """SELECT event_type,
        |  CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS hour_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    "q07_exact_dedup" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q08_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |  CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |    w -> greatest(1, CAST(ceil(len(w) / 4.0) AS BIGINT)))) AS BIGINT) AS n_bpeish,
        |  CAST(len(text) - len(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS BIGINT) AS n_punct,
        |  floor(CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
        |    / len(regexp_split_to_array(trim(text), '\s+'))
        |    * 10000.0 + 0.5) / 10000.0 AS mean_word_len
        |FROM documents""".stripMargin,

    "q09_quality_score" -> qualityOracleSql,

    // incremental scoring must converge to whole-corpus scoring — the
    // oracle IS q09's (the feed is invisible by construction)
    "q115_incremental_scoring" -> qualityOracleSql,

    // sentence split = terminal-punct runs over whitespace-normalized
    // text; bin = q41's cumulative rule; chunk_md5 = ordered reassembly
    "q116_sentence_pack" ->
      """WITH p AS (
        |  SELECT doc_id, replace(text, 'table', 'table.') AS text
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(
        |      trim(regexp_replace(text, '\s+', ' ', 'g')), '[.!?]+')) AS sent,
        |    CAST(generate_subscripts(regexp_split_to_array(
        |      trim(regexp_replace(text, '\s+', ' ', 'g')), '[.!?]+'), 1)
        |      AS BIGINT) - 1 AS idx
        |  FROM p
        |), f AS (
        |  SELECT doc_id, idx, trim(sent) AS sent,
        |    CAST(len(regexp_split_to_array(trim(sent), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM s WHERE len(trim(sent)) > 0
        |), c AS (
        |  SELECT doc_id, idx, sent, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY doc_id ORDER BY idx)
        |      AS BIGINT) AS cum
        |  FROM f
        |)
        |SELECT doc_id,
        |  CAST(greatest(cum - 1, 0) // 16 AS BIGINT) AS chunk,
        |  count(*) AS n_sentences,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
        |  min(idx) AS first_sent,
        |  md5(string_agg(sent, ' ' ORDER BY idx)) AS chunk_md5
        |FROM c
        |GROUP BY doc_id, CAST(greatest(cum - 1, 0) // 16 AS BIGINT)""".stripMargin,

    // the at-rest overlap probe must equal q118's direct join — the
    // build/commit split, replay and pruning are invisible
    "q127_overlap_at_rest" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, tus,
        |    CAST(sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM o
        |), sess AS (
        |  SELECT user_id, seq, min(tus) AS st, max(tus) AS en
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT a.user_id, count(*) AS n_overlaps
        |FROM sess a JOIN sess b
        |  ON a.st <= b.en AND b.st <= a.en AND a.user_id <> b.user_id
        |GROUP BY a.user_id""".stripMargin,

    // same q90 bucket spelling, add-one smoothing over the union bucket
    // set, exact cross-multiplied TVD — no division, no ln
    "q140_drift" -> driftOracle,

    // the maintained-at-rest reference must answer identically to the
    // direct one — same oracle as q140
    "q141_drift_at_rest" -> driftOracle,


    // survivors keep exactly their derived rows; forgotten ids have none
    "q138_forget" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS n_fp, CAST(2 AS BIGINT) AS n_aux
        |FROM documents WHERE doc_id % 13 <> 0""".stripMargin,

    // same planted pipeline, aggregated per rule with explicit zeros
    "q139_contract_summary" ->
      """WITH un AS (
        |  SELECT doc_id, lang, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, lang, text, n_chars
        |  FROM documents WHERE doc_id % 7 = 0
        |), p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 23 = 0 THEN -n_chars ELSE n_chars END
        |      AS n_chars,
        |    md5(text) AS fp
        |  FROM un
        |), d AS (
        |  SELECT *, count(*) OVER (PARTITION BY fp) > 1 AS dup FROM p
        |), c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS lang_null,
        |    CAST(sum(CASE WHEN n_chars IS NULL OR n_chars < 1
        |                       OR n_chars > 1000000
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS chars_range,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_fp
        |  FROM d
        |)
        |SELECT 'lang_null' AS rule, lang_null AS n_violations FROM c
        |UNION ALL SELECT 'chars_range', chars_range FROM c
        |UNION ALL SELECT 'dup_fp', dup_fp FROM c""".stripMargin,

    // concat_ws skips NULL branches in both engines; '' = clean
    "q137_contracts" ->
      """WITH un AS (
        |  SELECT doc_id, lang, text, n_chars FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, lang, text, n_chars
        |  FROM documents WHERE doc_id % 7 = 0
        |), p AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 19 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 23 = 0 THEN -n_chars ELSE n_chars END
        |      AS n_chars,
        |    md5(text) AS fp
        |  FROM un
        |), d AS (
        |  SELECT *, count(*) OVER (PARTITION BY fp) > 1 AS dup FROM p
        |), v AS (
        |  SELECT doc_id, concat_ws(',',
        |    CASE WHEN lang IS NULL THEN 'lang_null' END,
        |    CASE WHEN n_chars IS NULL OR n_chars < 1 OR n_chars > 1000000
        |         THEN 'chars_range' END,
        |    CASE WHEN dup THEN 'dup_fp' END) AS violations
        |  FROM d
        |)
        |SELECT doc_id, violations, violations = '' AS clean FROM v""".stripMargin,

    // oracle reads the parquet ORIGINAL — equality proves the ORC copy
    "q136_orc_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(epoch_us(ts)) AS min_ts_us,
        |  max(epoch_us(ts)) AS max_ts_us
        |FROM events GROUP BY 1""".stripMargin,

    // same planted literals; dominant = first class at the max count
    "q135_script_mix" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' привет мир' ELSE '' END ||
        |    CASE WHEN doc_id % 13 = 0 THEN ' 你好世界' ELSE '' END AS text
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS INT) AS n_latin,
        |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS INT)
        |      AS n_cyrillic,
        |    CAST(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS INT)
        |      AS n_cjk,
        |    CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS INT)
        |      AS n_arabic,
        |    CAST(len(regexp_extract_all(text, '[\x{0370}-\x{03FF}]')) AS INT)
        |      AS n_greek
        |  FROM p
        |), m AS (
        |  SELECT *, greatest(n_latin, n_cyrillic, n_cjk, n_arabic, n_greek)
        |    AS mx FROM c
        |)
        |SELECT doc_id, n_latin, n_cyrillic, n_cjk, n_arabic, n_greek,
        |  CASE WHEN n_latin > 0 AND n_latin = mx THEN 'latin'
        |       WHEN n_cyrillic > 0 AND n_cyrillic = mx THEN 'cyrillic'
        |       WHEN n_cjk > 0 AND n_cjk = mx THEN 'cjk'
        |       WHEN n_arabic > 0 AND n_arabic = mx THEN 'arabic'
        |       WHEN n_greek > 0 AND n_greek = mx THEN 'greek'
        |       ELSE 'none' END AS dominant,
        |  ((CASE WHEN n_latin > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN n_cjk > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN n_arabic > 0 THEN 1 ELSE 0 END +
        |    CASE WHEN n_greek > 0 THEN 1 ELSE 0 END) >= 2) AS mixed
        |FROM m""".stripMargin,

    // the probe set is the first 256 %97 fingerprints by doc_id (absent
    // probes match nothing), so the answer is the capped projection
    "q134_bloom_skipping" ->
      """SELECT doc_id,
        |  md5(CAST(doc_id AS VARCHAR) || ':' || text) AS fp
        |FROM (SELECT doc_id, text FROM documents
        |      WHERE doc_id % 97 = 0 ORDER BY doc_id LIMIT 256)""".stripMargin,

    // pair structure is (d, d+1e12) only, so cluster = min member is
    // spellable without a recursive CC: copies map down, others are self
    "q144_split_repair" ->
      """WITH un AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 FROM documents WHERE doc_id % 7 = 0
        |), s AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14'
        |           THEN 'valid'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '28'
        |           THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM un
        |), c AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id >= 1000000000000 THEN doc_id - 1000000000000
        |         ELSE doc_id END AS cluster
        |  FROM un
        |)
        |SELECT c.doc_id, s.split AS split_orig, r.split AS split,
        |  r.split <> s.split AS moved
        |FROM c JOIN s ON s.doc_id = c.doc_id
        |JOIN s r ON r.doc_id = c.cluster""".stripMargin,

    "q143_json_props" ->
      """SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS k_bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
        |    AS sum_k
        |FROM events GROUP BY 1, 2""".stripMargin,

    // 3 unrolled vote rounds — recompute-from-seeds semantics, clamped
    // seeds, majority with lexicographic tie, parallel edges vote twice
    "q142_label_prop" -> {
      val rounds = (1 to 3).map { i =>
        s"""v$i AS (
           |  SELECT e.dst, l.label, count(*) AS c
           |  FROM e JOIN l${i - 1} l ON l.node = e.src
           |  WHERE l.label IS NOT NULL GROUP BY 1, 2
           |), p$i AS (
           |  SELECT dst AS node, label FROM (
           |    SELECT dst, label, row_number() OVER (
           |      PARTITION BY dst ORDER BY c DESC, label ASC) AS rn
           |    FROM v$i) WHERE rn = 1
           |), l$i AS (
           |  SELECT n.node, coalesce(s.label, p.label) AS label
           |  FROM nodes n LEFT JOIN seed s USING (node)
           |  LEFT JOIN p$i p USING (node)
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH nodes AS (
         |  SELECT doc_id AS node FROM documents
         |), f AS (
         |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
         |  WHERE doc_id >= 1
         |  UNION ALL
         |  SELECT doc_id, doc_id // 3 FROM documents WHERE doc_id >= 1
         |), e AS (
         |  SELECT src, dst FROM f UNION ALL SELECT dst, src FROM f
         |), seed AS (
         |  SELECT doc_id AS node, lang AS label FROM documents
         |  WHERE doc_id % 10 = 0
         |), l0 AS (
         |  SELECT n.node, s.label FROM nodes n LEFT JOIN seed s USING (node)
         |), $rounds
         |SELECT node AS doc_id, label FROM l3""".stripMargin
    },

    // 5 unrolled fixed-point iterations — the same integer ops the
    // engine runs; dangling mass dropped, ranks un-normalized (init =
    // 1e9), base = 1e9*15/100
    "q133_pagerank" -> {
      val steps = (1 to 5).map { i =>
        s"""c$i AS (
           |  SELECT ed.dst, CAST(sum((r.r * 85) // (100 * ed.od)) AS BIGINT) AS c
           |  FROM ed JOIN r${i - 1} r ON r.node = ed.src GROUP BY 1
           |), r$i AS (
           |  SELECT n.node, CAST(150000000 + coalesce(c.c, 0) AS BIGINT) AS r
           |  FROM nodes n LEFT JOIN c$i c ON c.dst = n.node
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH nodes AS (
         |  SELECT doc_id AS node FROM documents
         |), edges AS (
         |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
         |  WHERE doc_id >= 1
         |  UNION ALL
         |  SELECT doc_id AS src, doc_id // 3 AS dst FROM documents
         |  WHERE doc_id >= 1
         |), ed AS (
         |  SELECT e.src, e.dst, o.od FROM edges e
         |  JOIN (SELECT src, count(*) AS od FROM edges GROUP BY 1) o
         |    USING (src)
         |), r0 AS (
         |  SELECT node, CAST(1000000000 AS BIGINT) AS r FROM nodes
         |), $steps
         |SELECT node AS doc_id, r AS rank_e9 FROM r5""".stripMargin
    },

    // same exact integer threshold: 5*qty*cnt < sum_qty, never a float avg
    "q132_correlated_avg" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS DECIMAL(18,2)) AS qc,
        |    l_extendedprice
        |  FROM lineitem
        |), pa AS (
        |  SELECT l_partkey, count(*) AS cnt, sum(qc) AS sq
        |  FROM li GROUP BY 1
        |)
        |SELECT p_brand, count(*) AS n_small,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS rev_small
        |FROM li JOIN pa USING (l_partkey)
        |  JOIN part ON p_partkey = l_partkey
        |WHERE qc * 5 * cnt < sq
        |GROUP BY 1""".stripMargin,

    // nearest = min |Δt| within tolerance; ties prefer the backward row,
    // equal-time backward rows the largest id, forward rows the smallest
    "q131_nearest_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus, event_type
        |  FROM events
        |), err AS (
        |  SELECT user_id, event_id, tus FROM e WHERE event_type = 'error'
        |), pur AS (
        |  SELECT user_id, event_id AS p_id, tus AS ptus FROM e
        |  WHERE event_type = 'purchase'
        |), cand AS (
        |  SELECT err.event_id, pur.p_id, abs(pur.ptus - err.tus) AS dist,
        |    row_number() OVER (PARTITION BY err.event_id
        |      ORDER BY abs(pur.ptus - err.tus),
        |        CASE WHEN pur.ptus <= err.tus THEN 0 ELSE 1 END,
        |        CASE WHEN pur.ptus <= err.tus THEN -pur.p_id
        |             ELSE pur.p_id END) AS rn
        |  FROM err JOIN pur USING (user_id)
        |  WHERE abs(pur.ptus - err.tus) <= 259200000000
        |)
        |SELECT err.user_id, err.event_id, c.p_id AS near_purchase,
        |  c.dist AS near_dist_us
        |FROM err LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
        |  USING (event_id)""".stripMargin,

    // newest click at-or-before (ties to larger click_id, the q18 rule);
    // clickless purchases land in 'organic'
    "q147_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tus,
        |    CAST(json_extract(props, '$.k') AS BIGINT) % 4 AS ch
        |  FROM events
        |), p AS (
        |  SELECT user_id, event_id, value, tus FROM e
        |  WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id, event_id AS click_id, ch, tus FROM e
        |  WHERE event_type = 'click'
        |), j AS (
        |  SELECT p.event_id, c.ch,
        |    row_number() OVER (PARTITION BY p.event_id
        |      ORDER BY c.tus DESC, c.click_id DESC) AS rn
        |  FROM p JOIN c ON p.user_id = c.user_id AND c.tus <= p.tus
        |), best AS (
        |  SELECT event_id, ch FROM j WHERE rn = 1
        |)
        |SELECT coalesce(CAST(b.ch AS VARCHAR), 'organic') AS channel,
        |  count(*) AS n_purchases,
        |  CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM p LEFT JOIN best b USING (event_id)
        |GROUP BY 1""".stripMargin,

    // the oracle states the inequality self-join COUNT directly (LEFT
    // join keeps zero-overlap sessions); the engine's rank identity and
    // grid buckets are execution strategy, invisible in the result
    "q148_overlap_counts" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, tus,
        |    CAST(sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM o
        |), sess AS (
        |  SELECT user_id, seq, min(tus) AS st, max(tus) AS en
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT a.user_id, a.seq AS session_seq,
        |  count(b.user_id) AS n_overlaps
        |FROM sess a LEFT JOIN sess b
        |  ON a.st <= b.en AND b.st <= a.en AND a.user_id <> b.user_id
        |GROUP BY 1, 2""".stripMargin,

    // identical statement — the endpoint store, mutable-bounds commits
    // and per-cell rank reconstruction must be invisible in the result
    "q149_overlap_counts_at_rest" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, tus,
        |    CAST(sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM o
        |), sess AS (
        |  SELECT user_id, seq, min(tus) AS st, max(tus) AS en
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT a.user_id, a.seq AS session_seq,
        |  count(b.user_id) AS n_overlaps
        |FROM sess a LEFT JOIN sess b
        |  ON a.st <= b.en AND b.st <= a.en AND a.user_id <> b.user_id
        |GROUP BY 1, 2""".stripMargin,

    // the table lifecycle replayed as set algebra: visible = (not erased
    // by delete 1 OR revived by the upsert) AND not erased by delete 2
    "q150_position_delete" ->
      """WITH revived AS (
        |  SELECT doc_id FROM documents
        |  WHERE n_chars % 5 = 0 AND doc_id % 3 = 0
        |), visible AS (
        |  SELECT d.doc_id, d.source,
        |    CASE WHEN r.doc_id IS NOT NULL THEN d.text || ' [rev2]'
        |         ELSE d.text END AS text
        |  FROM documents d LEFT JOIN revived r ON d.doc_id = r.doc_id
        |  WHERE (d.n_chars % 5 <> 0 OR r.doc_id IS NOT NULL)
        |    AND d.lang <> 'de'
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_len,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM visible GROUP BY source""".stripMargin,

    // exact ppm probabilities: integer // on both engines, never native /
    "q151_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
        |  FROM events
        |), o AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY tus, event_id) AS prev_type
        |  FROM e
        |)
        |SELECT prev_type, event_type AS next_type,
        |  count(*) AS n,
        |  CAST(count(*) * 1000000
        |       // sum(count(*)) OVER (PARTITION BY prev_type) AS BIGINT)
        |    AS p_e6
        |FROM o WHERE prev_type IS NOT NULL
        |GROUP BY 1, 2""".stripMargin,

    // the feed IS the batch, labeled: tombstoned rows read 'delete'
    "q155_change_feed" ->
      s"""WITH batch AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 = 0 THEN 'DEAD'
        |         ELSE text || ' v2' END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + $PlantOffset, text, lang
        |  FROM documents WHERE doc_id % 4 = 1
        |)
        |SELECT doc_id, md5(text) AS text_md5, lang,
        |  CASE WHEN text = 'DEAD' THEN 'delete' ELSE 'insert' END
        |    AS _change_type
        |FROM batch""".stripMargin,

    // the mirror must equal the final resolved view: batch-1 updates minus
    // tombstones, plants, every 'de' row position-deleted, %3 'de' keys
    // revived from ORIGINAL text — each branch below is one feed ordinal
    "q156_cdc_mirror_posdel" ->
      s"""SELECT doc_id, md5(text) AS text_md5, lang FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang
        |  FROM documents
        |  WHERE lang <> 'de' AND NOT (doc_id % 4 = 0 AND doc_id % 8 = 0)
        |  UNION ALL
        |  SELECT doc_id + $PlantOffset, text, lang FROM documents
        |  WHERE doc_id % 4 = 1 AND lang <> 'de'
        |  UNION ALL
        |  SELECT doc_id, text || ' [rev]', lang FROM documents
        |  WHERE lang = 'de' AND doc_id % 3 = 0
        |) q""".stripMargin,

    // the keyed COW mirror: merge upserts applied, predicate-deleted and
    // TTL-dropped keys ABSENT (the feed carried their removals)
    "q168_cdc_mirror_cow" ->
      s"""SELECT doc_id, md5(text) AS text_md5, lang FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + $PlantOffset AS doc_id, text, lang
        |  FROM documents WHERE doc_id % 4 = 1
        |) q
        |WHERE doc_id % 7 <> 0 AND lang <> 'de'""".stripMargin,

    // the mirror's view on the renamed logical names: merge upserts
    // applied across both epochs, %7 predicate-deleted keys absent
    "q170_cdc_rename_window" ->
      s"""SELECT doc_id, md5(text) AS text_md5, lang AS language FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id, text, lang FROM documents WHERE doc_id % 2 = 1
        |) q WHERE doc_id % 7 <> 0""".stripMargin,

    // only the published timeline is ever visible: the discarded staged
    // batch leaves no trace, the published one is the full corpus
    "q174_wap_publish" ->
      """SELECT doc_id, md5(text) AS text_md5, lang FROM documents""",

    // 8 racing disjoint appends must land the corpus exactly once each
    "q175_concurrent_appends" ->
      """SELECT doc_id, md5(text) AS text_md5, lang FROM documents""",

    // the full SQL maintenance runbook must leave the view untouched
    "q176_sql_procedures" ->
      """SELECT doc_id, md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 11 <> 0""".stripMargin,

    // the MOR-maintained view must equal the plain GROUP BY over the
    // replayed history's final state: %5=2 upsert wins last (and
    // resurrects deleted %7 keys), else the second %4 update (+9, a
    // REPLACE — not +16), else base; %7 equality-deleted unless
    // resurrected; %11=3 position-deleted after all upserts; 'de'
    // partition dropped; the mid-history compaction contributes nothing
    "q177_agg_view_mor" ->
      """WITH fin AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 5 = 2 THEN n_chars * 2
        |         WHEN doc_id % 4 = 0 THEN n_chars + 9
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE (doc_id % 7 <> 0 OR doc_id % 5 = 2)
        |    AND doc_id % 11 <> 3 AND lang <> 'de'
        |)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM fin GROUP BY 1""".stripMargin,

    // q177's algebra on the unpartitioned source: no partition drop,
    // plus the narrow low-range (+7) wave that the clustered layout
    // lets the stats prune bound — later waves override earlier ones
    "q181_agg_view_unpart" ->
      """WITH fin AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 5 = 2 THEN n_chars * 2
        |         WHEN doc_id % 4 = 0 THEN n_chars + 9
        |         WHEN doc_id * 10 <= (SELECT max(doc_id) FROM documents)
        |           THEN n_chars + 7
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE (doc_id % 7 <> 0 OR doc_id % 5 = 2) AND doc_id % 11 <> 3
        |)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars
        |FROM fin GROUP BY 1""".stripMargin,

    // q173's algebra with the non-invertible extremes alongside: the
    // MIN/MAX view must equal the plain GROUP BY exactly
    "q183_agg_view_minmax" ->
      """WITH fin AS (
        |  SELECT lang,
        |    CASE WHEN doc_id % 4 = 0 THEN n_chars + 7
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 7 <> 0 AND lang <> 'de'
        |)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_n_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_n_chars
        |FROM fin GROUP BY 1""".stripMargin,

    // q183's extremes over the MOR history: update wave, keyed deletes,
    // an emptied-then-resurrected group, a closing posdel wave
    "q185_agg_view_minmax_mor" ->
      """WITH fin AS (
        |  SELECT lang,
        |    CASE WHEN lang = 'de' THEN n_chars * 2
        |         WHEN doc_id % 4 = 0 THEN n_chars + 7
        |         ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE doc_id % 11 <> 3
        |    AND ((lang = 'de' AND doc_id % 3 = 0)
        |      OR (lang <> 'de' AND doc_id % 7 <> 0))
        |)
        |SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_n_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_n_chars
        |FROM fin GROUP BY 1""".stripMargin,

    // the incrementally-maintained view must equal the plain GROUP BY
    // over the source's final state
    "q173_incremental_agg_view" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN n_chars + 7
        |            ELSE n_chars END) AS BIGINT) AS sum_n_chars
        |FROM documents
        |WHERE doc_id % 7 <> 0 AND lang <> 'de'
        |GROUP BY 1""".stripMargin,

    // q173's algebra (minus the partition drop) under the post-rename
    // sum-column name
    "q180_agg_view_renamed" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(CASE WHEN doc_id % 4 = 0 THEN n_chars + 7
        |            ELSE n_chars END) AS BIGINT) AS sum_length
        |FROM documents
        |WHERE doc_id % 7 <> 0
        |GROUP BY 1""".stripMargin,

    // same algebra as q171 under the post-rename column name; the
    // dropped column never resurfaces
    "q178_snapshot_diff_evolved" ->
      s"""SELECT 'added' AS diff_type, doc_id + $PlantOffset AS doc_id,
        |  md5(text) AS text_md5, lang AS language
        |FROM documents WHERE doc_id % 5 = 1
        |UNION ALL
        |SELECT 'removed', doc_id, md5(text), lang
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 'changed', doc_id, md5(text || ' v2'), lang
        |FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 9 = 0""".stripMargin,

    // the diff is pure set algebra over the two release definitions
    "q171_snapshot_diff" ->
      s"""SELECT 'added' AS diff_type, doc_id + $PlantOffset AS doc_id,
        |  md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 5 = 1
        |UNION ALL
        |SELECT 'removed', doc_id, md5(text), lang
        |FROM documents WHERE doc_id % 7 = 0
        |UNION ALL
        |SELECT 'changed', doc_id, md5(text || ' v2'), lang
        |FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 9 = 0""".stripMargin,

    // physical footprint ≡ the relational GROUP BY on a delete-free COW
    // table; the second append lands one extra dir only where %3 rows exist
    "q172_partitions_meta" ->
      """SELECT lang AS partition,
        |  CAST(1 + max(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dirs,
        |  CAST(count(*) + sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_rows
        |FROM documents GROUP BY 1""".stripMargin,

    // the mid-history timestamp pins the even half; the head reads all
    "q184_time_travel_ts" ->
      """SELECT 'asof' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'final' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents""".stripMargin,

    // manifest-recorded per-dir ranges envelope exactly the relational
    // per-partition min/max on a delete-free table (footer stats cover
    // every non-null value; the clustered rewrite re-lands all rows)
    "q182_stats_meta" ->
      """SELECT lang AS partition, min(doc_id) AS min_id,
        |  max(doc_id) AS max_id
        |FROM documents GROUP BY 1""".stripMargin,

    // the null group (lang 'de' nullified) must fold and recompute like
    // any other group — never duplicate, never NULL its live extremes
    "q188_agg_view_null_group" ->
      """WITH fin AS (
        |  SELECT CASE WHEN lang = 'de' THEN NULL ELSE lang END AS lang_n,
        |    CASE WHEN doc_id % 4 = 0 THEN n_chars + 7
        |         ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 7 <> 0
        |)
        |SELECT coalesce(lang_n, '-') AS grp, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_n_chars,
        |  CAST(min(n_chars) AS BIGINT) AS min_n_chars,
        |  CAST(max(n_chars) AS BIGINT) AS max_n_chars
        |FROM fin GROUP BY 1""".stripMargin,

    // the string BETWEEN range covers exactly the 'en' rows — and the
    // fixture destroyed every other language's files, so a match PROVES
    // the pushed string filters pruned those dirs from the plan
    "q187_string_skipping" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE lang = 'en'""".stripMargin,

    // the dom×lang box over the z-clustered table: the fixture destroyed
    // every dir either string dimension refutes (and required refuters
    // in EACH dimension alone), so a match proves BOTH dims pruned
    "q189_zstring_skipping" ->
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    'dom' || lpad(CAST(doc_id % 17 AS VARCHAR), 2, '0') AS dom,
        |    lang
        |  FROM documents)
        |WHERE dom BETWEEN 'dom04' AND 'dom11'
        |  AND lang BETWEEN 'de' AND 'en'""".stripMargin,

    // partial compaction is a REWRITE: the oracle is the relational
    // truth of the three waves — a wrong partition-scoped fold corrupts
    // content, and this catches it cell-exactly
    "q190_compact_if_degraded" ->
      """WITH cut AS (SELECT max(doc_id) / 20 AS c FROM documents),
        |fin AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' AND doc_id % 5 = 0 THEN text || ' [u]'
        |         WHEN lang = 'de' AND doc_id <= (SELECT c FROM cut)
        |           THEN text || ' [d]'
        |         ELSE text END AS text,
        |    lang
        |  FROM documents
        |  WHERE NOT (lang = 'en' AND doc_id % 13 = 5)
        |)
        |SELECT doc_id, md5(text) AS text_md5, lang FROM fin""".stripMargin,

    // q190's relational truth, reached by the per-commit POLICY instead
    // of the CALL — the fixture's requires pin that the policy (not a
    // maintenance call) did the folding and spared the healthy delta
    "q191_auto_compact_policy" ->
      """WITH cut AS (SELECT max(doc_id) / 20 AS c FROM documents),
        |fin AS (
        |  SELECT doc_id,
        |    CASE WHEN lang = 'en' AND doc_id % 5 = 0 THEN text || ' [u]'
        |         WHEN lang = 'de' AND doc_id <= (SELECT c FROM cut)
        |           THEN text || ' [d]'
        |         ELSE text END AS text,
        |    lang
        |  FROM documents
        |  WHERE NOT (lang = 'en' AND doc_id % 13 = 5)
        |)
        |SELECT doc_id, md5(text) AS text_md5, lang FROM fin""".stripMargin,

    // the MOR overlay's relational truth: base ranges = the corpus,
    // delta ranges = the %4 upsert wave per partition, posdel count =
    // the %13 wave's live victims (one resolved row per key)
    "q186_stats_delta_meta" ->
      """SELECT lang AS partition, 'data' AS content,
        |  min(doc_id) AS lo, max(doc_id) AS hi
        |FROM documents GROUP BY 1, 2
        |UNION ALL
        |SELECT lang, 'delta', min(doc_id), max(doc_id)
        |FROM documents WHERE doc_id % 4 = 0 GROUP BY 1, 2
        |UNION ALL
        |SELECT '-', 'posdel', count(*), count(*)
        |FROM documents WHERE doc_id % 13 = 5""".stripMargin,

    // same physical-count algebra as q172 (delete-free COW: physical ≡
    // logical), read through the SQL metadata relation; the discarded
    // staged batch must leave no trace in the published counts
    "q179_sql_metadata_tables" ->
      """SELECT lang AS partition,
        |  CAST(1 + max(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dirs,
        |  CAST(count(*) + sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_rows
        |FROM documents GROUP BY 1""".stripMargin,

    // both delete modes must land the identical relational answer
    "q157_sql_update_delete" ->
      """WITH final AS (
        |  SELECT doc_id,
        |    CASE WHEN n_chars % 7 = 0 THEN text || ' [u]' ELSE text END AS text,
        |    n_chars, lang
        |  FROM documents
        |  WHERE NOT (lang = 'fr' OR doc_id % 11 = 0)
        |)
        |SELECT 'cow' AS mode, doc_id, md5(text) AS text_md5, n_chars, lang
        |FROM final
        |UNION ALL
        |SELECT 'mor' AS mode, doc_id, md5(text) AS text_md5, n_chars, lang
        |FROM final""".stripMargin,

    // the abandoned timeline (odd half + %13 delete) must leave no trace;
    // AS OF the rollback target reads the even half unchanged
    "q158_snapshot_rollback" ->
      """SELECT 'final' AS view, doc_id,
        |  md5(CASE WHEN doc_id % 2 = 1 THEN text || ' [alt]' ELSE text END)
        |    AS text_md5,
        |  lang
        |FROM documents
        |UNION ALL
        |SELECT 'asof' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

    // trailing-7-observed-days window via rank self-join; exact medians
    // of odd windows (DuckDB's median interpolates only on even counts)
    "q167_count_anomalies" ->
      """WITH counts AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT event_type, day, n,
        |         row_number() OVER (PARTITION BY event_type ORDER BY day)
        |           AS rn
        |  FROM counts
        |), w AS (
        |  SELECT a.event_type, a.day, a.n, a.rn,
        |         CAST(median(b.n) AS BIGINT) AS med
        |  FROM r a JOIN r b
        |    ON b.event_type = a.event_type AND b.rn BETWEEN a.rn - 6 AND a.rn
        |  GROUP BY 1, 2, 3, 4 HAVING count(*) = 7
        |)
        |SELECT w.event_type, w.day, w.n, w.med,
        |  CAST(median(abs(b.n - w.med)) AS BIGINT) AS mad,
        |  (abs(w.n - w.med) * 100 >
        |     350 * CAST(median(abs(b.n - w.med)) AS BIGINT)) AS is_anomaly
        |FROM w JOIN r b
        |  ON b.event_type = w.event_type AND b.rn BETWEEN w.rn - 6 AND w.rn
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // widen/rename/drop/add reconcile per epoch: even rows predate the
    // DDL (INT n_chars under 'lang', no quality), odd rows follow it
    "q166_schema_lifecycle" ->
      """SELECT doc_id, md5(text) AS text_md5, lang AS language,
        |  CAST(n_chars AS BIGINT) AS n_chars,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars // 100 ELSE NULL END
        |    AS quality
        |FROM documents""".stripMargin,

    // salting must be invisible in the result: plain GROUP BY
    "q163_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin,

    // salted replicated join ≡ the plain equi-join, multiplicity exact
    "q164_salted_join" ->
      """SELECT s_name,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1""".stripMargin,

    // the abandoned timeline (odd half + %11 delete) is gone AND its
    // bytes GC'd; the surviving timeline re-lands the odd half intact
    "q162_orphan_gc" ->
      """SELECT 'final' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents
        |UNION ALL
        |SELECT 'asof' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

    // the same 4 synchronous peels, unrolled; survivors keep their
    // within-subgraph degree
    "q169_kcore" -> {
      val peels = (1 to 4).map { i =>
        s"""a$i AS (
           |  SELECT x AS node FROM sym
           |  JOIN a${i - 1} ax ON ax.node = sym.x
           |  JOIN a${i - 1} ay ON ay.node = sym.y
           |  GROUP BY 1 HAVING count(*) >= 2
           |)""".stripMargin
      }.mkString(", ")
      s"""WITH e0 AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id // 3 AS dst FROM documents
        |), und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e0 WHERE src <> dst
        |), sym AS (
        |  SELECT u AS x, v AS y FROM und
        |  UNION ALL
        |  SELECT v AS x, u AS y FROM und
        |), a0 AS (
        |  SELECT doc_id AS node FROM documents
        |), $peels, fd AS (
        |  SELECT x, count(*) AS d FROM sym
        |  JOIN a4 ax ON ax.node = sym.x
        |  JOIN a4 ay ON ay.node = sym.y
        |  GROUP BY 1
        |)
        |SELECT d.doc_id, (a4.node IS NOT NULL) AS in_core,
        |  CAST(coalesce(fd.d, 0) AS BIGINT) AS core_deg
        |FROM documents d
        |LEFT JOIN a4 ON a4.node = d.doc_id
        |LEFT JOIN fd ON fd.x = d.doc_id""".stripMargin
    },

    // identical degree-ordered orientation: (deg, id)-min endpoint is
    // the wedge center, legs ordered by id, closure against the
    // canonical (u < v) simple edge set
    "q161_triangle_counts" ->
      """WITH e0 AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id // 3 AS dst FROM documents
        |), und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e0 WHERE src <> dst
        |), deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY 1
        |), o AS (
        |  SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v)
        |              THEN und.u ELSE und.v END AS a,
        |         CASE WHEN (du.d, und.u) < (dv.d, und.v)
        |              THEN und.v ELSE und.u END AS b
        |  FROM und
        |  JOIN deg du ON du.node = und.u
        |  JOIN deg dv ON dv.node = und.v
        |), tri AS (
        |  SELECT o1.a AS a, o1.b AS x, o2.b AS y
        |  FROM o o1
        |  JOIN o o2 ON o1.a = o2.a AND o1.b < o2.b
        |  JOIN und ON und.u = o1.b AND und.v = o2.b
        |), members AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT x AS node FROM tri
        |  UNION ALL SELECT y AS node FROM tri
        |), cnt AS (
        |  SELECT node, count(*) AS c FROM members GROUP BY 1
        |)
        |SELECT d.doc_id, CAST(coalesce(cnt.c, 0) AS BIGINT) AS n_triangles
        |FROM documents d LEFT JOIN cnt ON cnt.node = d.doc_id""".stripMargin,

    // per-edge triangle credit re-canonicalized by id; union = du+dv-2-common
    "q165_edge_jaccard" ->
      """WITH e0 AS (
        |  SELECT doc_id AS src, doc_id // 2 AS dst FROM documents
        |  UNION ALL
        |  SELECT doc_id AS src, doc_id // 3 AS dst FROM documents
        |), und AS (
        |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |  FROM e0 WHERE src <> dst
        |), deg AS (
        |  SELECT node, count(*) AS d FROM (
        |    SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY 1
        |), o AS (
        |  SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v)
        |              THEN und.u ELSE und.v END AS a,
        |         CASE WHEN (du.d, und.u) < (dv.d, und.v)
        |              THEN und.v ELSE und.u END AS b
        |  FROM und
        |  JOIN deg du ON du.node = und.u
        |  JOIN deg dv ON dv.node = und.v
        |), tri AS (
        |  SELECT o1.a AS a, o1.b AS x, o2.b AS y
        |  FROM o o1
        |  JOIN o o2 ON o1.a = o2.a AND o1.b < o2.b
        |  JOIN und ON und.u = o1.b AND und.v = o2.b
        |), credits AS (
        |  SELECT u, v, count(*) AS common FROM (
        |    SELECT least(a, x) AS u, greatest(a, x) AS v FROM tri
        |    UNION ALL SELECT least(a, y), greatest(a, y) FROM tri
        |    UNION ALL SELECT x, y FROM tri)
        |  GROUP BY 1, 2
        |)
        |SELECT und.u, und.v,
        |  CAST(coalesce(c.common, 0) AS BIGINT) AS common,
        |  CAST(du.d + dv.d - 2 - coalesce(c.common, 0) AS BIGINT) AS union_size,
        |  CAST(CASE WHEN du.d + dv.d - 2 - coalesce(c.common, 0) > 0
        |       THEN (coalesce(c.common, 0) * 10000)
        |            // (du.d + dv.d - 2 - coalesce(c.common, 0))
        |       ELSE 0 END AS BIGINT) AS jaccard_e4
        |FROM und
        |LEFT JOIN credits c ON c.u = und.u AND c.v = und.v
        |JOIN deg du ON du.node = und.u
        |JOIN deg dv ON dv.node = und.v""".stripMargin,

    // final = post-delete view (expiry must not touch live-referenced
    // dirs); tag = the pinned pre-delete even half (expiry must not
    // vacuum dirs a tagged snapshot still references)
    "q160_snapshot_expiry" ->
      """SELECT 'final' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 13 <> 0
        |UNION ALL
        |SELECT 'tag' AS view, doc_id, md5(text) AS text_md5, lang
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

    // pruned = pre-merge table WHERE source='src1' (both halves — the
    // legacy lang-keyed dirs must not be lost to the new-spec pruning);
    // full = post-merge table; asof = the pre-evolution even half
    "q159_partition_evolution" ->
      """SELECT 'pruned' AS view, doc_id, md5(text) AS text_md5,
        |       lang, source, n_chars
        |FROM documents WHERE source = 'src1'
        |UNION ALL
        |SELECT 'full' AS view, doc_id, md5(text) AS text_md5, lang, source,
        |       CASE WHEN doc_id % 7 = 0 THEN n_chars + 1000 ELSE n_chars END
        |         AS n_chars
        |FROM documents
        |UNION ALL
        |SELECT 'asof' AS view, doc_id, md5(text) AS text_md5,
        |       lang, source, n_chars
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,

    // the closed-form position must equal the literal global row_number
    // over (rank, source) — DuckDB affords the sort, the engine doesn't
    "q154_source_interleave" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (
        |      PARTITION BY source
        |      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 2, 16),
        |        doc_id) AS BIGINT) AS src_rank
        |  FROM documents
        |)
        |SELECT doc_id, source, src_rank,
        |  CAST(row_number() OVER (ORDER BY src_rank, source) - 1 AS BIGINT)
        |    AS gpos
        |FROM r""".stripMargin,

    // same trigram spelling as the q11 oracle; containment from the
    // reference side in exact integer ppm (// on both engines)
    "q153_containment_decon" ->
      s"""WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT doc_id + $PlantOffset,
        |    'quality assurance preamble ' || text
        |  FROM documents WHERE doc_id % 9 = 0
        |), ref AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 9 = 0
        |), ctoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        |  FROM corpus
        |), ctris AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |      END) AS t
        |  FROM ctoks
        |), cex AS (
        |  SELECT doc_id, unnest(t) AS tri FROM ctris
        |), rtoks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        |  FROM ref
        |), rtris AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |      ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |      END) AS t
        |  FROM rtoks
        |), rex AS (
        |  SELECT doc_id AS ref_id, unnest(t) AS tri, len(t) AS n_r FROM rtris
        |), inter AS (
        |  SELECT c.doc_id, r.ref_id,
        |    CAST(any_value(r.n_r) AS BIGINT) AS n_r,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM cex c JOIN rex r ON c.tri = r.tri
        |  GROUP BY 1, 2
        |), scored AS (
        |  SELECT doc_id, inter * 1000000 // n_r AS cont_e6 FROM inter
        |)
        |SELECT doc_id,
        |  CAST(max(cont_e6) AS BIGINT) AS max_cont_e6,
        |  CAST(sum(CASE WHEN cont_e6 >= 800000 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_refs_hit,
        |  max(cont_e6) >= 800000 AS flagged
        |FROM scored GROUP BY doc_id""".stripMargin,

    "q152_user_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY tus, event_id) AS rk
        |  FROM e
        |), p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rk) AS path
        |  FROM r WHERE rk <= 3 GROUP BY user_id
        |)
        |SELECT path, count(*) AS n_users FROM p GROUP BY path""".stripMargin,

    // the q73 KMV spelling under the q130 window explode
    "q146_window_distinct" ->
      """WITH e AS (
        |  SELECT event_type, user_id, epoch_us(ts) AS tus FROM events
        |), x AS (
        |  SELECT unnest(generate_series(
        |      (tus // 1800000000) * 1800000000 - 5400000000,
        |      (tus // 1800000000) * 1800000000, 1800000000)) AS window_start,
        |    event_type, user_id
        |  FROM e
        |), hashed AS (
        |  SELECT DISTINCT window_start, event_type,
        |    ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 13))::BIGINT
        |      AS h
        |  FROM x
        |), ranked AS (
        |  SELECT window_start, event_type, h,
        |    row_number() OVER (PARTITION BY window_start, event_type
        |                       ORDER BY h) AS r
        |  FROM hashed
        |), kmins AS (
        |  SELECT window_start, event_type,
        |    CAST(count(*) AS BIGINT) AS kept, max(h) AS kth
        |  FROM ranked WHERE r <= 16 GROUP BY 1, 2
        |)
        |SELECT window_start, event_type, kept, kth,
        |  CAST(floor(
        |    (CASE WHEN kept < 16 THEN CAST(kept AS DOUBLE)
        |          ELSE CAST(15 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
        |               / CAST(kth AS DOUBLE) END)
        |    * CAST(10000 AS DOUBLE)) AS BIGINT) AS est_e4
        |FROM kmins""".stripMargin,

    // q128's chain with the 24 h window folded into each step's filter
    "q145_funnel_windowed" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |), s1 AS (
        |  SELECT user_id, min(tus) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tus > s1.t1
        |    AND e.tus - s1.t1 <= 86400000000 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.tus) AS t3
        |  FROM e JOIN s2 USING (user_id) JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus > s2.t2
        |    AND e.tus - s1.t1 <= 86400000000 GROUP BY 1
        |)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
        |  count(*) AS n_users, CAST(0 AS BIGINT) AS sum_lag_us FROM s1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', count(*),
        |  coalesce(CAST(sum(t2 - t1) AS BIGINT), 0)
        |FROM s2 JOIN s1 USING (user_id)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', count(*),
        |  coalesce(CAST(sum(t3 - t1) AS BIGINT), 0)
        |FROM s3 JOIN s1 USING (user_id)""".stripMargin,

    // step k = earliest event of its type strictly after step k-1's time;
    // lag sums are exact integer µs; empty steps keep their zero row
    "q128_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
        |), s1 AS (
        |  SELECT user_id, min(tus) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT e.user_id, min(e.tus) AS t2 FROM e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.tus > s1.t1 GROUP BY 1
        |), s3 AS (
        |  SELECT e.user_id, min(e.tus) AS t3 FROM e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.tus > s2.t2 GROUP BY 1
        |)
        |SELECT CAST(1 AS INT) AS step_idx, 'view' AS step,
        |  count(*) AS n_users, CAST(0 AS BIGINT) AS sum_lag_us FROM s1
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click', count(*),
        |  coalesce(CAST(sum(t2 - t1) AS BIGINT), 0)
        |FROM s2 JOIN s1 USING (user_id)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase', count(*),
        |  coalesce(CAST(sum(t3 - t1) AS BIGINT), 0)
        |FROM s3 JOIN s1 USING (user_id)""".stripMargin,

    "q129_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus FROM events
        |), f AS (
        |  SELECT user_id, min(tus) // 604800000000 AS cohort_period
        |  FROM e GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT e.user_id, f.cohort_period,
        |    (e.tus // 604800000000) - f.cohort_period AS period_offset
        |  FROM e JOIN f USING (user_id)
        |)
        |SELECT cohort_period, period_offset, count(*) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin,

    // each event lands in exactly len/hop = 4 overlapping windows
    "q130_hopping" ->
      """WITH e AS (
        |  SELECT epoch_us(ts) AS tus, event_type, value FROM events
        |), x AS (
        |  SELECT unnest(generate_series(
        |      (tus // 1800000000) * 1800000000 - 5400000000,
        |      (tus // 1800000000) * 1800000000, 1800000000)) AS window_start,
        |    event_type, value
        |  FROM e
        |)
        |SELECT window_start, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM x GROUP BY 1, 2""".stripMargin,

    "q125_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q126_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND year(o.o_orderdate) = 1995)
        |GROUP BY c_mktsegment""".stripMargin,

    // same plant; first-occurrence keep via row_number over
    // (doc, line) ordered by position, ordered reassembly hash
    "q124_intradoc_lines" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    text || chr(10) || 'echo line' || chr(10) || text || chr(10)
        |      || 'echo line' || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR)
        |      AS raw
        |  FROM documents
        |), l AS (
        |  SELECT doc_id,
        |    trim(unnest(string_split(raw, chr(10)))) AS line,
        |    CAST(generate_subscripts(string_split(raw, chr(10)), 1)
        |      AS BIGINT) AS pos
        |  FROM p
        |), f AS (
        |  SELECT doc_id, line, pos,
        |    row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |  FROM l WHERE len(line) > 0
        |)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  md5(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY pos))
        |    AS clean_md5
        |FROM f GROUP BY doc_id""".stripMargin,

    // the cluster/append split and the stats pruning are invisible —
    // the answer is the plain full-table aggregate (q110's oracle)
    "q123_clustered_append" ->
      """WITH hi AS (SELECT (max(user_id) * 9) // 10 AS h FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events, hi WHERE user_id > h""".stripMargin,

    // pruned at-rest probe ≡ the direct inequality join (q117 family;
    // count includes the window's own center event)
    "q121_interval_at_rest" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS ts FROM events)
        |SELECT a.event_id AS win_id, count(*) AS n_inside
        |FROM e a JOIN e b
        |  ON b.ts BETWEEN a.ts - 300000000000 AND a.ts + 300000000000
        |GROUP BY a.event_id""".stripMargin,

    // maintained word counts ≡ the one-shot corpus count; the halves
    // and the replay are invisible
    "q122_word_counts_at_rest" ->
      """SELECT w, count(*) AS n
        |FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |      FROM documents)
        |GROUP BY w""".stripMargin,

    // the maintained rollup must equal the one-shot group-by over the
    // whole history — the arrival split and the replay are invisible
    "q120_incremental_rollup" ->
      """SELECT event_type,
        |  CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS hour_bucket,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(max(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    // same plant, same strip order: tags first, entities in the fixed
    // sequence with &amp; last, collapse, trim
    "q119_markup_strip" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    replace(replace(text, 'table', '<span class="x">table</span>'),
        |      'value', '&quot;value&amp;co&quot;') AS raw
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, raw,
        |    trim(regexp_replace(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |        '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM d
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw, '<[^>]*>')) AS BIGINT) AS n_tags,
        |  CAST(len(raw) AS BIGINT) AS n_chars_raw,
        |  CAST(len(clean) AS BIGINT) AS n_chars_clean,
        |  md5(clean) AS clean_md5
        |FROM c""".stripMargin,

    // the oracle states the overlap inequality directly; grid cells and
    // the owner-cell rule are execution strategy, invisible here
    "q118_session_overlap" ->
      """WITH o AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, tus,
        |    CAST(sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seq
        |  FROM o
        |), sess AS (
        |  SELECT user_id, seq, min(tus) AS st, max(tus) AS en
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT a.user_id, count(*) AS n_overlaps
        |FROM sess a JOIN sess b
        |  ON a.st <= b.en AND b.st <= a.en AND a.user_id <> b.user_id
        |GROUP BY a.user_id""".stripMargin,

    // the oracle states the non-equi join directly; the engine's grid
    // cells are an execution strategy, invisible in the result
    "q117_interval_join" ->
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS ts FROM events)
        |SELECT a.event_id,
        |  CAST(count(*) - 1 AS BIGINT) AS n_concurrent
        |FROM e a JOIN e b
        |  ON b.ts BETWEEN a.ts - 300000000000 AND a.ts + 300000000000
        |GROUP BY a.event_id""".stripMargin,

    "q10_lang_id" -> langIdOracleSql,

    "q11_ngram_jaccard" -> oracleSqlQ11,

    // q12/q13 are LSH candidate generators + exact verification: their
    // defined output is exactly the q11 pair set (verified empirically:
    // the generators have recall 1.0 on every SF of this corpus, which is
    // what the band/block parameters are sized for).
    "q12_minhash_lsh" -> ngramJaccardOracle,
    "q13_simhash" -> ngramJaccardOracle,

    "q14_cosine_topk" -> {
      val dotQQ = sqlListDot("qvec", "qvec")
      val dotVV = sqlListDot("vec", "vec")
      val dotQV = sqlListDot("qvec", "vec")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id >= 10),
         |scored AS (
         |  SELECT qid, id,
         |    CASE WHEN sqrt($dotQQ) = 0 OR sqrt($dotVV) = 0 THEN 0.0
         |         ELSE $dotQV / (sqrt($dotQQ) * sqrt($dotVV)) END AS cos
         |  FROM c, q
         |)
         |SELECT qid, id, cos, rank FROM (
         |  SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
         |  FROM scored
         |) WHERE rank <= 5""".stripMargin
    },

    // q14's replay with the label-mismatch predicate applied before the
    // rank window — a negative's rank counts only negatives
    "q99_hard_negatives" -> {
      val dotQQ = sqlListDot("qvec", "qvec")
      val dotVV = sqlListDot("vec", "vec")
      val dotQV = sqlListDot("qvec", "vec")
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id AS id, embedding AS vec, label FROM embeddings
         |      WHERE vec_id >= 10),
         |scored AS (
         |  SELECT qid, id, label,
         |    CASE WHEN sqrt($dotQQ) = 0 OR sqrt($dotVV) = 0 THEN 0.0
         |         ELSE $dotQV / (sqrt($dotQQ) * sqrt($dotVV)) END AS cos
         |  FROM c, q
         |  WHERE label <> qlabel
         |)
         |SELECT qid, id, label, cos, rank FROM (
         |  SELECT qid, id, label, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
         |  FROM scored
         |) WHERE rank <= 5""".stripMargin
    },

    // IVF is deterministic end-to-end (label-means quantizer, total-order
    // probe ranking and top-k), so DuckDB can replay it exactly: per-label
    // element-wise avg centroids, rank buckets per query by centroid
    // cosine (bucket asc tiebreak), probe the top 3, exact cosine top-5
    // inside them. The output cosines come from the ORIGINAL vectors (same
    // fold as q14), so only probe-set choice depends on the centroids.
    "q15_ivf_topk" -> ivfTopkOracle,

    // the on-disk warehouse pipeline must converge to the q05 upsert state
    "q17_warehouse_cdc" -> mergeUpsertOracle,

    // the at-rest IVF reads only probed partitions but must produce
    // EXACTLY the q15 result (same quantizer, probe ranking, tiebreaks)
    "q34_ivf_at_rest" -> ivfTopkOracle,

    "q18_asof_join" ->
      """SELECT l.user_id, l.event_id, l.value, r.event_id AS asof_click_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin,

    "q19_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS tus,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events
        |), s AS (
        |  SELECT user_id, event_id, value,
        |    CAST(sum(CASE WHEN prev IS NULL OR tus - prev > 1800000000
        |                  THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY tus, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        |  FROM o
        |)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  min(event_id) AS first_event
        |FROM s GROUP BY 1, 2""".stripMargin,

    "q20_quantiles" ->
      """WITH r AS (
        |  SELECT event_type, value, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY value, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM events
        |)
        |SELECT event_type, max(cnt) AS n,
        |  max(CASE WHEN rn = CAST(ceil(cnt * 0.5) AS BIGINT) THEN value END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(cnt * 0.9) AS BIGINT) THEN value END) AS p90
        |FROM r GROUP BY event_type""".stripMargin,

    "q21_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q22_set_ops" ->
      """SELECT 'pure' AS tag, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 195
        |  EXCEPT
        |  SELECT user_id FROM events WHERE event_type = 'error' AND value > 195)
        |UNION ALL
        |SELECT 'both' AS tag, user_id FROM (
        |  SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 195
        |  INTERSECT
        |  SELECT user_id FROM events WHERE event_type = 'click' AND value > 195)""".stripMargin,

    "q24_embedding_neardup" -> {
      val dotAA = sqlListDot("a.vec", "a.vec")
      val dotBB = sqlListDot("b.vec", "b.vec")
      val dotAB = sqlListDot("a.vec", "b.vec")
      s"""WITH base AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
         |planted AS (
         |  SELECT id + 1000000 AS id,
         |    list_transform(vec, x -> CAST(x * 2 AS FLOAT)) AS vec
         |  FROM base WHERE id < 25
         |),
         |e AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
         |p AS (
         |  SELECT a.id AS d1, b.id AS d2,
         |    CASE WHEN sqrt($dotAA) = 0 OR sqrt($dotBB) = 0 THEN 0.0
         |         ELSE $dotAB / (sqrt($dotAA) * sqrt($dotBB)) END AS cos
         |  FROM e a JOIN e b ON a.id < b.id
         |)
         |SELECT d1, d2, cos FROM p WHERE cos >= 0.95""".stripMargin
    },

    "q25_window_running" ->
      """SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum,
        |  lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event,
        |  lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq
        |FROM events""".stripMargin,

    "q23_sql_merge" ->
      """WITH tgt AS (
        |  SELECT user_id, event_type, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16'
        |  ) WHERE rn = 1
        |), src AS (
        |  SELECT user_id, event_type, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        |  ) WHERE rn = 1
        |)
        |-- matched src value<50 deletes; matched >=50 updates to the src row;
        |-- unmatched src inserts only when >=50: survivors = src rows >=50
        |-- plus target rows with no src key
        |SELECT user_id, event_type, event_id, value FROM src WHERE value >= 50
        |UNION ALL
        |SELECT t.user_id, t.event_type, t.event_id, t.value FROM tgt t
        |WHERE NOT EXISTS (SELECT 1 FROM src s
        |  WHERE s.user_id = t.user_id AND s.event_type = t.event_type)""".stripMargin,

    "q26_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map(t =>
        s"CAST(sum(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS $t")
        .mkString(",\n  ")
      s"""SELECT user_id,
         |  $cols
         |FROM events GROUP BY user_id""".stripMargin
    },

    "q27_exists_subquery" ->
      """SELECT c.c_custkey, c.c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderstatus = 'F' AND o.o_totalprice < 10000)""".stripMargin,

    "q28_multimodal_frames" ->
      """SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  md5(substring(text, CAST(frame_idx * 64 + 1 AS INT), 64)) AS frame_md5
        |FROM (
        |  SELECT doc_id, text,
        |    unnest(range(0, CAST(length(text) // 64 AS BIGINT), 2)) AS frame_idx
        |  FROM documents
        |  WHERE length(text) // 64 > 0
        |)""".stripMargin,

    "q29_unpivot" ->
      """SELECT metric,
        |  CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  count(*) AS n
        |FROM (
        |  SELECT 'l_quantity' AS metric, l_quantity AS val FROM lineitem
        |  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
        |) GROUP BY metric""".stripMargin,

    "q30_merge_schema_evolution" ->
      """WITH tgt AS (
        |  SELECT user_id, event_type, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16'
        |  ) WHERE rn = 1
        |), src AS (
        |  SELECT user_id, event_type, event_id, value, event_id % 7 AS batch_tag
        |  FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        |  ) WHERE rn = 1
        |)
        |-- src rows update-or-insert (carrying batch_tag); pre-evolution
        |-- target-only rows surface NULL for the evolved column
        |SELECT user_id, event_type, event_id, value, batch_tag FROM src
        |UNION ALL
        |SELECT t.user_id, t.event_type, t.event_id, t.value,
        |  CAST(NULL AS BIGINT) AS batch_tag
        |FROM tgt t
        |WHERE NOT EXISTS (SELECT 1 FROM src s
        |  WHERE s.user_id = t.user_id AND s.event_type = t.event_type)""".stripMargin,

    "q31_lateral_topn" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey
        |  LIMIT 3
        |) t
        |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin,

    "q32_winnow_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)
        |), win AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM g
        |)
        |SELECT doc_id, count(*) AS n_windows,
        |  count(DISTINCT fp) AS n_fp, min(fp) AS min_fp
        |FROM win WHERE wn = 4 GROUP BY doc_id""".stripMargin,

    // survivors: src rows not op-marked 'D' (update or insert), plus target
    // rows whose key no src row touches (a matching 'D' deletes, a matching
    // 'U' replaces); a 'D' on an absent key inserts nothing
    "q33_cdc_delete_pipeline" ->
      """WITH tgt AS (
        |  SELECT user_id, event_type, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16'
        |  ) WHERE rn = 1
        |), src AS (
        |  SELECT user_id, event_type, event_id, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |                                 ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-16'
        |  ) WHERE rn = 1
        |)
        |SELECT user_id, event_type, event_id, value FROM src
        |WHERE event_id % 10 <> 0
        |UNION ALL
        |SELECT t.user_id, t.event_type, t.event_id, t.value FROM tgt t
        |WHERE NOT EXISTS (SELECT 1 FROM src s
        |  WHERE s.user_id = t.user_id AND s.event_type = t.event_type)""".stripMargin,

    "q35_winnow_match" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS h
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)
        |), win AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |    count(*) OVER (PARTITION BY doc_id ORDER BY pos
        |                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wn
        |  FROM g
        |), dfp AS (
        |  SELECT DISTINCT doc_id, fp FROM win WHERE wn = 4
        |), counts AS (
        |  SELECT doc_id, count(*) AS n_fp FROM dfp GROUP BY doc_id
        |), pairs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
        |  FROM dfp a JOIN dfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT d1, d2, shared,
        |  floor(CAST(shared AS DOUBLE) / least(c1.n_fp, c2.n_fp)
        |    * 10000.0 + 0.5) / 10000.0 AS containment
        |FROM pairs
        |JOIN counts c1 ON c1.doc_id = d1
        |JOIN counts c2 ON c2.doc_id = d2
        |WHERE floor(CAST(shared AS DOUBLE) / least(c1.n_fp, c2.n_fp)
        |    * 10000.0 + 0.5) / 10000.0 >= 0.5""".stripMargin,

    // transitive closure of the near-dup pair set via WITH RECURSIVE; the
    // UNION (distinct) bounds the recursion, min(label) per doc = cluster
    "q36_dedup_clusters" ->
      s"""WITH RECURSIVE p AS ($oracleSqlQ11),
         |edges AS (SELECT d1 AS src, d2 AS dst FROM p
         |          UNION ALL SELECT d2, d1 FROM p),
         |reach(id, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
         |)
         |SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id""".stripMargin,

    "q37_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '28'""".stripMargin,

    "q38_tfidf_topterms" ->
      """WITH tf AS (
        |  SELECT doc_id, w, count(*) AS tf FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents
        |  ) GROUP BY doc_id, w
        |), dfreq AS (
        |  SELECT w, count(*) AS df FROM tf GROUP BY w
        |), total AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, tf.w,
        |    floor(tf * ln(CAST(n_docs AS DOUBLE) / df) * 10000.0 + 0.5)
        |      / 10000.0 AS tfidf
        |  FROM tf JOIN dfreq ON tf.w = dfreq.w CROSS JOIN total
        |)
        |SELECT doc_id, w AS term, tfidf, rank FROM (
        |  SELECT doc_id, w, tfidf,
        |    row_number() OVER (PARTITION BY doc_id
        |                       ORDER BY tfidf DESC, w ASC) AS rank
        |  FROM scored
        |) WHERE rank <= 3""".stripMargin,

    "q39_mixture_weights" ->
      """SELECT source, count(*) AS n_sampled, min(doc_id) AS first_id
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN source IN ('src0','src1','src2','src3') THEN '29'
        |       WHEN source IN ('src4','src5','src6','src7') THEN '80'
        |       ELSE 'zz' END
        |GROUP BY source""".stripMargin,

    "q40_embedding_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding AS vec,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
        |  FROM embeddings
        |), qz AS (
        |  SELECT vec_id, vec, absmax,
        |    list_transform(vec, x -> CAST(CASE WHEN absmax = 0 THEN 0
        |      ELSE greatest(-127.0, least(127.0,
        |        floor(CAST(x AS DOUBLE) * 127.0 / absmax + 0.5))) END AS INT)) AS q
        |  FROM e
        |)
        |SELECT vec_id, array_to_string(q, ',') AS q_csv,
        |  floor(absmax * 1000000.0 + 0.5) / 1000000.0 AS absmax_r,
        |  floor(list_sum(list_transform(range(1, len(vec) + 1), i ->
        |    abs(CAST(vec[i] AS DOUBLE) - CAST(q[i] AS DOUBLE) * absmax / 127.0)))
        |    / len(vec) * 1000000.0 + 0.5) / 1000000.0 AS recon_mae
        |FROM qz""".stripMargin,

    "q41_sequence_pack" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    doc_id // 100 AS shard
        |  FROM documents
        |), c AS (
        |  -- CAST: DuckDB widens sum(BIGINT) window to HUGEINT, which the
        |  -- driver's hash canonicalization renders differently — no HUGEINT
        |  -- may escape. greatest(cum-1, 0) floor/trunc-aligns with Spark.
        |  SELECT doc_id, n_tokens, shard,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM d
        |)
        |SELECT shard, (cum_bin) AS bin, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_sum, min(doc_id) AS first_doc
        |FROM (SELECT *, CAST(greatest(cum - 1, 0) // 2048 AS BIGINT) AS cum_bin FROM c)
        |GROUP BY shard, cum_bin""".stripMargin,

    "q42_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(CASE WHEN len(w) < 8 THEN [array_to_string(w, ' ')]
        |      ELSE [w[i]||' '||w[i+1]||' '||w[i+2]||' '||w[i+3]||' '||w[i+4]||' '||w[i+5]||' '||w[i+6]||' '||w[i+7]
        |            for i in range(1, len(w) - 6)]
        |      END)) AS gram
        |  FROM toks
        |), bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 50)
        |SELECT g.doc_id, count(*) AS n_shared_grams
        |FROM g JOIN bench ON g.gram = bench.gram
        |WHERE g.doc_id >= 50
        |GROUP BY g.doc_id""".stripMargin,

    "q43_pii_redaction" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents
        |)
        |SELECT doc_id,
        |  md5(
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\b555-\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
        |  ) AS red_md5,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{3}-\d{2}-\d{4}\b', 0)) AS BIGINT) AS n_ssn,
        |  CAST(len(regexp_extract_all(text,
        |    '\b555-\d{4}\b', 0)) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', 0)) AS BIGINT) AS n_ipv4
        |FROM planted""".stripMargin,

    "q44_segment_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 7 = 0
        |), words AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
        |    generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS ord
        |  FROM base
        |), segs AS (
        |  SELECT doc_id, CAST((ord - 1) // 16 AS BIGINT) AS pos,
        |    string_agg(w, ' ' ORDER BY ord) AS seg
        |  FROM words GROUP BY doc_id, (ord - 1) // 16
        |), marked AS (
        |  SELECT doc_id, pos, seg,
        |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
        |  FROM segs
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_segs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_segs,
        |  md5(coalesce(
        |    string_agg(seg, ' ' ORDER BY pos) FILTER (WHERE rn = 1), '')) AS clean_md5
        |FROM marked GROUP BY doc_id""".stripMargin,

    "q45_repetition_quality" ->
      """WITH wc AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM documents
        |  ) GROUP BY doc_id, w
        |), wa AS (
        |  SELECT doc_id,
        |    CAST(sum(cnt) AS BIGINT) AS n_words,
        |    CAST(count(*) AS BIGINT) AS n_distinct_words,
        |    CAST(max(cnt) AS BIGINT) AS top_word_cnt
        |  FROM wc GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id, w || ' ' || nxt AS bg FROM (
        |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS nxt
        |    FROM (
        |      SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
        |        generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS ord
        |      FROM documents
        |    )
        |  ) WHERE nxt IS NOT NULL
        |), ba AS (
        |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt FROM (
        |    SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg
        |  ) GROUP BY doc_id
        |), fr AS (
        |  SELECT wa.doc_id, n_words,
        |    floor((1 - CAST(n_distinct_words AS DOUBLE) / n_words)
        |      * 10000.0 + 0.5) / 10000.0 AS dup_word_frac,
        |    floor(CAST(top_word_cnt AS DOUBLE) / n_words
        |      * 10000.0 + 0.5) / 10000.0 AS top_word_frac,
        |    floor(CAST(coalesce(top_bigram_cnt, 0) AS DOUBLE) * 2.0 / n_words
        |      * 10000.0 + 0.5) / 10000.0 AS top_bigram_frac
        |  FROM wa LEFT JOIN ba ON wa.doc_id = ba.doc_id
        |)
        |SELECT doc_id, n_words, dup_word_frac, top_word_frac, top_bigram_frac,
        |  CAST(CASE WHEN dup_word_frac > 0.5 OR top_bigram_frac > 0.18
        |       THEN 1 ELSE 0 END AS INT) AS is_repetitive
        |FROM fr""".stripMargin,

    "q46_training_order" ->
      """SELECT doc_id,
        |  substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 2, 16), doc_id)
        |    AS BIGINT) AS pos
        |FROM documents""".stripMargin,

    "q47_incremental_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, text || ' zz yy xx' FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 4
        |), cfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM corpus
        |), ifp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM incoming
        |), ctris AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |    END) AS t
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM corpus)
        |), itris AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
        |    END) AS t
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM incoming)
        |), cex AS (SELECT doc_id, unnest(t) AS tri, len(t) AS n_sh FROM ctris
        |), iex AS (SELECT doc_id, unnest(t) AS tri, len(t) AS n_sh FROM itris
        |), pairs AS (
        |  SELECT i.doc_id AS inc_id, c.doc_id AS corp_id, count(*) AS inter,
        |    any_value(i.n_sh) AS ni, any_value(c.n_sh) AS nc
        |  FROM iex i JOIN cex c ON i.tri = c.tri
        |  GROUP BY 1, 2
        |), near AS (
        |  SELECT inc_id, CAST(count(*) AS BIGINT) AS n_near FROM pairs
        |  WHERE floor(CAST(inter AS DOUBLE) / (ni + nc - inter) * 10000.0 + 0.5)
        |    / 10000.0 >= 0.5
        |  GROUP BY inc_id
        |)
        |SELECT i.doc_id,
        |  CAST(CASE WHEN cfp.fp IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_dup,
        |  CAST(coalesce(n_near, 0) AS BIGINT) AS n_near_dups,
        |  CAST(CASE WHEN cfp.fp IS NULL AND coalesce(n_near, 0) = 0
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM ifp i
        |LEFT JOIN cfp ON i.fp = cfp.fp
        |LEFT JOIN near ON i.doc_id = near.inc_id""".stripMargin,

    "q48_curation_pipeline" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0
        |      THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS text
        |  FROM documents
        |), all_docs AS (
        |  SELECT doc_id, text FROM planted
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM planted WHERE doc_id % 9 = 1
        |), scrubbed AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
        |      '\b555-\d{4}\b', '[PHONE]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS text,
        |    CAST(len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', 0)) AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(text,
        |      '\b\d{3}-\d{2}-\d{4}\b', 0)) AS BIGINT) AS n_ssn,
        |    CAST(len(regexp_extract_all(text,
        |      '\b555-\d{4}\b', 0)) AS BIGINT) AS n_phone,
        |    CAST(len(regexp_extract_all(text,
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', 0)) AS BIGINT) AS n_ipv4
        |  FROM all_docs
        |), dedup AS (
        |  SELECT *, CASE WHEN row_number() OVER (
        |    PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    ORDER BY doc_id) > 1 THEN 1 ELSE 0 END AS exact_dup
        |  FROM scrubbed
        |), wc AS (
        |  SELECT doc_id, w, count(*) AS cnt FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |    FROM scrubbed
        |  ) GROUP BY doc_id, w
        |), wa AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |    CAST(count(*) AS BIGINT) AS n_distinct
        |  FROM wc GROUP BY doc_id
        |), bg AS (
        |  SELECT doc_id, w || ' ' || nxt AS bg FROM (
        |    SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS nxt
        |    FROM (
        |      SELECT doc_id,
        |        unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
        |        generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1) AS ord
        |      FROM scrubbed
        |    )
        |  ) WHERE nxt IS NOT NULL
        |), ba AS (
        |  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS top_bigram_cnt FROM (
        |    SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY doc_id, bg
        |  ) GROUP BY doc_id
        |), flags AS (
        |  SELECT d.doc_id, d.text, d.n_email, d.n_ssn, d.n_phone, d.n_ipv4,
        |    d.exact_dup,
        |    CASE WHEN floor((1 - CAST(n_distinct AS DOUBLE) / n_words)
        |        * 10000.0 + 0.5) / 10000.0 > 0.5
        |      OR floor(CAST(coalesce(top_bigram_cnt, 0) AS DOUBLE) * 2.0
        |        / n_words * 10000.0 + 0.5) / 10000.0 > 0.18
        |      THEN 1 ELSE 0 END AS repetitive,
        |    CASE WHEN n_words < 10 THEN 1 ELSE 0 END AS short,
        |    CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < 'd0'
        |      THEN 0 ELSE 1 END AS sampled_out
        |  FROM dedup d
        |  JOIN wa ON d.doc_id = wa.doc_id
        |  LEFT JOIN ba ON d.doc_id = ba.doc_id
        |)
        |SELECT doc_id, md5(text) AS red_md5,
        |  CAST(n_email + n_ssn + n_phone + n_ipv4 AS BIGINT) AS n_pii,
        |  CAST(exact_dup AS INT) AS exact_dup,
        |  CAST(repetitive AS INT) AS repetitive,
        |  CAST(short AS INT) AS short,
        |  CAST(sampled_out AS INT) AS sampled_out,
        |  CAST(CASE WHEN exact_dup = 0 AND repetitive = 0 AND short = 0
        |       AND sampled_out = 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM flags""".stripMargin,

    "q49_pack_materialize" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    doc_id // 100 AS shard
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, text, n_tokens, shard,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM d
        |)
        |SELECT shard, CAST(greatest(cum - 1, 0) // 2048 AS BIGINT) AS bin,
        |  count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS tok_sum,
        |  md5(string_agg(text, ' <eos> ' ORDER BY doc_id)) AS packed_md5
        |FROM c GROUP BY 1, 2""".stripMargin,

    "q50_source_cap" ->
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS pos FROM (
        |  SELECT doc_id, source, row_number() OVER (
        |    PARTITION BY source
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 2, 16), doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 20""".stripMargin,

    "q51_semantic_dedup" -> semanticDedupOracle,

    "q52_dup_span_coverage" ->
      """WITH base AS (
        |  SELECT doc_id AS id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), sized AS (
        |  SELECT id, CAST(len(w) AS BIGINT) AS n_tokens, w FROM base
        |), occ AS (
        |  SELECT id, CAST(i AS BIGINT) AS s, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM sized, unnest(range(1, len(w) - 6)) AS t(i)
        |  WHERE n_tokens >= 8
        |), dup AS (
        |  SELECT gram FROM occ GROUP BY gram HAVING count(DISTINCT id) >= 2
        |), ival AS (
        |  SELECT id, s, s + 7 AS e FROM occ JOIN dup USING (gram)
        |), u AS (
        |  SELECT id, s, e,
        |    coalesce(max(e) OVER (PARTITION BY id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_e
        |  FROM ival
        |), cov AS (
        |  SELECT id, CAST(sum(greatest(e - greatest(prev_e, s - 1), 0)) AS BIGINT)
        |    AS dup_tokens
        |  FROM u GROUP BY id
        |)
        |SELECT b.id AS doc_id, b.n_tokens,
        |  coalesce(c.dup_tokens, 0) AS dup_tokens,
        |  floor(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / b.n_tokens
        |    * 10000 + 0.5) / 10000 AS dup_frac
        |FROM sized b LEFT JOIN cov c USING (id)""".stripMargin,

    // per-transition ln P quantized to 1e-4 fixed point BEFORE the
    // (exact, order-independent) BIGINT sum — a floating sum's order
    // differs between engines; the quantized-then-integer-sum form is the
    // only portable aggregate of libm outputs
    "q53_bigram_loglik" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), uni AS (
        |  SELECT w1, count(*) AS c1
        |  FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1
        |), vs AS (SELECT count(*) AS v FROM uni),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
        |  FROM toks, unnest(range(1, len(w))) AS t(i)
        |  WHERE len(w) >= 2
        |), bgc AS (SELECT gram, count(*) AS c2 FROM bg GROUP BY gram),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(floor(ln((c2 + 1) / CAST(c1 + v AS DOUBLE))
        |      * 10000 + 0.5) AS BIGINT) AS llq
        |  FROM bg JOIN bgc USING (gram) JOIN uni USING (w1) CROSS JOIN vs
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_transitions,
        |    CAST(sum(llq) AS BIGINT) AS s
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  coalesce(a.n_transitions, 0) AS n_transitions,
        |  CASE WHEN a.s IS NULL THEN 0.0
        |       ELSE floor(CAST(a.s AS DOUBLE) / a.n_transitions + 0.5) / 10000
        |  END AS avg_ll
        |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    "q54_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |)
        |SELECT doc_id, k AS chunk_idx,
        |  CAST(len(w[k*48+1 : k*48+64]) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(w[k*48+1 : k*48+64], ' ')) AS chunk_md5
        |FROM toks, unnest(range(0,
        |  greatest(CAST(ceil((len(w) - 64) / 48.0) AS BIGINT), 0) + 1)) AS t(k)"""
        .stripMargin,

    // same portability rule as q53: per-character c*log2(c) quantized to
    // 1e-4 fixed point, summed exactly as BIGINT; log2 spelled ln(x)/ln(2)
    // with the same constant on both sides (a native log2() could round
    // differently than the product)
    "q55_char_entropy" ->
      """WITH chars AS (
        |  SELECT doc_id, substring(text, i, 1) AS ch
        |  FROM documents, unnest(range(1, length(text) + 1)) AS t(i)
        |), cc AS (
        |  SELECT doc_id, ch, count(*) AS cnt FROM chars GROUP BY doc_id, ch
        |), agg AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars,
        |    CAST(sum(CAST(floor(cnt * (ln(CAST(cnt AS DOUBLE))
        |      * 1.4426950408889634) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
        |  FROM cc GROUP BY doc_id
        |)
        |SELECT doc_id, n_chars,
        |  floor((ln(CAST(n_chars AS DOUBLE)) * 1.4426950408889634
        |    - CAST(sq AS DOUBLE) / 10000 / n_chars) * 10000 + 0.5) / 10000
        |    AS entropy
        |FROM agg""".stripMargin,

    // Spark regexp_replace is global by default; DuckDB needs the 'g' flag.
    // The character class is spelled explicitly ([^a-z0-9\s]) because Java
    // and RE2 Unicode classes differ at the edges (corpus is ASCII; \s
    // agrees on every character it can contain).
    "q56_normalize" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    upper(substring(text, 1, 32)) || ' ' || '** JUNK!! **' || ' '
        |      || substring(text, 33, 1000000) || ' '
        |      || '(c) 2026, Doc-' || CAST(doc_id AS VARCHAR) || '...' AS text
        |  FROM documents
        |), norm AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')) AS n
        |  FROM planted
        |)
        |SELECT doc_id, md5(n) AS norm_md5,
        |  CAST(length(text) AS BIGINT) AS n_raw,
        |  CAST(length(n) AS BIGINT) AS n_norm
        |FROM norm""".stripMargin,

    "q57_edit_similarity" ->
      s"""WITH p AS ($oracleSqlQ11)
         |SELECT d1, d2, jaccard,
         |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |  CASE WHEN greatest(length(a.text), length(b.text)) = 0 THEN 1.0
         |    ELSE floor((1 - CAST(levenshtein(a.text, b.text) AS DOUBLE)
         |      / greatest(length(a.text), length(b.text))) * 10000.0 + 0.5)
         |      / 10000.0 END AS edit_sim
         |FROM p
         |JOIN documents a ON a.doc_id = p.d1
         |JOIN documents b ON b.doc_id = p.d2""".stripMargin,

    // same boundary rule as the Spark side: a chunk starts at 0-based
    // token position i >= 1 iff md5 of the 3-gram at i begins with '0';
    // the window-sum formulation here and the map-side slice formulation
    // in Chunking.cdcChunks must agree token-for-token
    "q58_cdc_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), pos AS (
        |  SELECT doc_id, w, i FROM toks, unnest(range(0, len(w))) AS t(i)
        |), b AS (
        |  SELECT doc_id, i, w[i + 1] AS tok,
        |    CASE WHEN i >= 1 AND i + 3 <= len(w)
        |      AND substr(md5(array_to_string(w[i + 1 : i + 3], ' ')), 1, 1) = '0'
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM pos
        |), seg AS (
        |  SELECT doc_id, i, tok,
        |    CAST(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT)
        |      AS seg_id
        |  FROM b
        |)
        |SELECT doc_id, seg_id, CAST(count(*) AS BIGINT) AS n_seg_tokens,
        |  md5(string_agg(tok, ' ' ORDER BY i)) AS seg_md5
        |FROM seg GROUP BY doc_id, seg_id""".stripMargin,

    "q59_cdc_chunk_dedup" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM planted
        |), pos AS (
        |  SELECT doc_id, w, i FROM toks, unnest(range(0, len(w))) AS t(i)
        |), b AS (
        |  SELECT doc_id, i, w[i + 1] AS tok,
        |    CASE WHEN i >= 1 AND i + 3 <= len(w)
        |      AND substr(md5(array_to_string(w[i + 1 : i + 3], ' ')), 1, 1) = '0'
        |      THEN 1 ELSE 0 END AS bnd
        |  FROM pos
        |), seg AS (
        |  SELECT doc_id, i, tok,
        |    CAST(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT)
        |      AS seg_id
        |  FROM b
        |), chunks AS (
        |  SELECT doc_id, seg_id, CAST(count(*) AS BIGINT) AS n_seg_tokens,
        |    md5(string_agg(tok, ' ' ORDER BY i)) AS seg_md5
        |  FROM seg GROUP BY doc_id, seg_id
        |), ranked AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY seg_md5 ORDER BY doc_id, seg_id) AS rn
        |  FROM chunks
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept_chunks,
        |  CAST(sum(n_seg_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN rn = 1 THEN n_seg_tokens ELSE 0 END) AS BIGINT)
        |    AS n_kept_tokens,
        |  CAST((sum(CASE WHEN rn = 1 THEN n_seg_tokens ELSE 0 END) * 10000
        |        + sum(n_seg_tokens) // 2) // sum(n_seg_tokens) AS BIGINT)
        |    AS kept_frac_e4
        |FROM ranked GROUP BY doc_id""".stripMargin,

    // the normalizer sum z8 is an EXACT BIGINT (1e-8 fixed-point n^T), so
    // the double arithmetic below is a fixed left-associated expression
    // both engines evaluate identically (the q53 portability rule); the
    // 256-bucket cut is the engine's deterministic-sampling idiom
    "q60_temperature_mix" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'mega' ELSE source END AS source
        |  FROM documents
        |), sizes AS (
        |  SELECT source, count(*) AS n FROM docs GROUP BY source
        |), sized AS (
        |  SELECT source, n,
        |    CAST(floor(pow(CAST(n AS DOUBLE), 0.5) * 1e8 + 0.5) AS BIGINT)
        |      AS nw8
        |  FROM sizes
        |), tot AS (
        |  SELECT CAST(sum(nw8) AS BIGINT) AS z8,
        |    CAST(sum(n) AS BIGINT) AS big_n
        |  FROM sized
        |), rates AS (
        |  SELECT source,
        |    CAST(floor(least(CAST(1.0 AS DOUBLE),
        |      CAST(0.3 AS DOUBLE) * big_n * nw8 / z8 / n) * 256) AS INT)
        |      AS cut
        |  FROM sized, tot
        |), cuts AS (
        |  SELECT source, cut,
        |    substr('0123456789abcdef', CAST(floor(cut / 16) AS INT) + 1, 1) ||
        |    substr('0123456789abcdef', CAST(cut % 16 AS INT) + 1, 1) AS cut_hex
        |  FROM rates
        |)
        |SELECT d.doc_id, d.source, CAST(c.cut AS BIGINT) AS cut
        |FROM docs d JOIN cuts c USING (source)
        |WHERE c.cut = 256
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 2) < c.cut_hex"""
        .stripMargin,

    "q61_top_dup_grams" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0
        |), toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM planted
        |), grams AS (
        |  SELECT doc_id, array_to_string(w[i : i + 7], ' ') AS gram
        |  FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
        |  WHERE len(w) >= 8
        |), agg AS (
        |  SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS ndocs,
        |    CAST(count(*) AS BIGINT) AS n_occ
        |  FROM grams GROUP BY gram
        |)
        |SELECT gram, ndocs, n_occ,
        |  CAST(row_number()
        |    OVER (ORDER BY ndocs DESC, n_occ DESC, gram ASC) AS BIGINT)
        |    AS rank
        |FROM agg WHERE ndocs >= 2
        |ORDER BY ndocs DESC, n_occ DESC, gram ASC LIMIT 20""".stripMargin,

    // the oracle uses the flat global row_number the Spark side avoids;
    // bucket/batch math is exact integer division on both sides
    "q62_length_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |), ranked AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(row_number() OVER (ORDER BY n_tokens, doc_id) AS BIGINT)
        |      AS rank
        |  FROM toks
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS big_n FROM ranked
        |)
        |SELECT doc_id, n_tokens, rank,
        |  CAST((rank - 1) * 16 // big_n AS BIGINT) AS bucket,
        |  CAST((rank - 1 - ((rank - 1) * 16 // big_n * big_n + 15) // 16)
        |    // 8 AS BIGINT) AS batch_id
        |FROM ranked, tot""".stripMargin,

    "q63_exact_k_sample" ->
      """SELECT doc_id, source, lang FROM documents
        |ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100"""
        .stripMargin,

    "q67_vocabulary" ->
      """WITH words AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents
        |), wc AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM words GROUP BY word
        |), tot AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM wc
        |), r AS (
        |  SELECT word, cnt,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT)
        |      AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, word ASC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM wc
        |)
        |SELECT word, cnt, rank,
        |  floor(CAST(cum AS DOUBLE) / n * 10000 + 0.5) / 10000 AS coverage
        |FROM r, tot""".stripMargin,

    // keep-one span removal: rn>1 occurrences of a positional 8-gram are
    // cut spans; interval-union then list-comprehension reassembly.
    // array_to_string([]) is NULL in DuckDB (not '') — coalesce before
    // md5 or every fully-removed doc hash-mismatches Spark's md5('')
    "q68_dup_span_removal" ->
      """WITH planted AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 7 = 0
        |), sized AS (
        |  SELECT doc_id AS id, CAST(len(w) AS BIGINT) AS n_tokens, w
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM planted)
        |), occ AS (
        |  SELECT id, CAST(i AS BIGINT) AS s, array_to_string(w[i:i+7], ' ') AS gram
        |  FROM sized, unnest(range(1, len(w) - 6)) AS t(i)
        |  WHERE n_tokens >= 8
        |), ranked AS (
        |  SELECT id, s, row_number() OVER (PARTITION BY gram ORDER BY id, s) AS rn
        |  FROM occ
        |), ival AS (
        |  SELECT id, s, s + 7 AS e FROM ranked WHERE rn > 1
        |), u AS (
        |  SELECT id, s, e,
        |    coalesce(max(e) OVER (PARTITION BY id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_e
        |  FROM ival
        |), seg AS (
        |  SELECT id, greatest(s, prev_e + 1) AS f, e
        |  FROM u WHERE e >= greatest(s, prev_e + 1)
        |), pos AS (
        |  SELECT id, unnest(range(f, e + 1)) AS p FROM seg
        |), cov AS (
        |  SELECT id, CAST(count(*) AS BIGINT) AS removed_tokens, list(p) AS ps
        |  FROM pos GROUP BY id
        |)
        |SELECT b.id AS doc_id, b.n_tokens,
        |  CAST(coalesce(c.removed_tokens, 0) AS BIGINT) AS removed_tokens,
        |  md5(coalesce(array_to_string(
        |    [b.w[i] for i in range(1, len(b.w) + 1)
        |      if NOT coalesce(list_contains(c.ps, i), false)], ' '), ''))
        |    AS clean_md5
        |FROM sized b LEFT JOIN cov c ON b.id = c.id""".stripMargin,

    // the pHash pipeline runs a real image codec DuckDB cannot replicate,
    // so the oracle pins the RESULT: measured separation (planted pairs
    // hamming 0, closest organic pair 4) makes the hamming<=2 pair set
    // exactly the planted copy list — same argument as q12's LSH == exact
    // pair set. A pHash or blocking regression surfaces as missing /
    // spurious pairs against this list.
    "q69_phash_image_dedup" ->
      """SELECT doc_id AS id_a, doc_id + 1000000000000 AS id_b
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,

    // at-rest image lookup: same planted-pair-set argument as q69 —
    // resize-invariant hashes (hamming 0 to the original), closest
    // organic pair beyond the radius, exact verify
    "q82_phash_at_rest" ->
      """SELECT doc_id + 1000000000000 AS arrival_id, doc_id AS corpus_id,
        |  CAST(0 AS INT) AS hamming
        |FROM documents WHERE doc_id % 10 = 0""".stripMargin,

    // per-class add-one bigram NB: every ln quantized to 1e-4 BIGINT
    // before the (exact) sum — the q53 rule — so the argmax compares
    // exact integers; ties break label ASC on both engines
    "q70_nb_classifier" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), uni AS (
        |  SELECT lang AS label, w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT lang, unnest(w) AS w1 FROM toks) GROUP BY label, w1
        |), vs AS (SELECT CAST(count(DISTINCT w1) AS BIGINT) AS v FROM uni),
        |cls AS (
        |  SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM toks GROUP BY label
        |), tots AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_all FROM cls),
        |pri AS (
        |  SELECT label,
        |    CAST(floor(ln(CAST(n_docs AS DOUBLE) / n_all) * 10000 + 0.5)
        |      AS BIGINT) AS lp_q
        |  FROM cls, tots
        |), bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
        |  FROM toks, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2
        |), bgl AS (
        |  SELECT lang AS label, w[i] || ' ' || w[i+1] AS gram,
        |    CAST(count(*) AS BIGINT) AS c2
        |  FROM toks, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2
        |  GROUP BY label, gram
        |), labels AS (SELECT label FROM cls),
        |scoredtr AS (
        |  SELECT b.doc_id, l.label,
        |    CAST(floor(ln((coalesce(g.c2, 0) + 1)
        |      / CAST(coalesce(u.c1, 0) + v AS DOUBLE)) * 10000 + 0.5)
        |      AS BIGINT) AS llq
        |  FROM bg b CROSS JOIN labels l
        |  LEFT JOIN bgl g ON g.label = l.label AND g.gram = b.gram
        |  LEFT JOIN uni u ON u.label = l.label AND u.w1 = b.w1
        |  CROSS JOIN vs
        |), agg AS (
        |  SELECT doc_id, label, CAST(sum(llq) AS BIGINT) AS ll,
        |    CAST(count(*) AS BIGINT) AS n_tr
        |  FROM scoredtr GROUP BY doc_id, label
        |), allsc AS (
        |  SELECT d.doc_id, l.label,
        |    coalesce(a.ll, 0) + p.lp_q AS score_q,
        |    CAST(coalesce(a.n_tr, 0) AS BIGINT) AS n_transitions
        |  FROM (SELECT DISTINCT doc_id FROM toks) d
        |  CROSS JOIN labels l
        |  LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.label = l.label
        |  JOIN pri p ON p.label = l.label
        |), rk AS (
        |  SELECT doc_id, label, n_transitions, score_q,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_q DESC, label ASC) AS r
        |  FROM allsc
        |)
        |SELECT doc_id, label AS pred_label, n_transitions,
        |  CAST(score_q AS BIGINT) AS score_q
        |FROM rk WHERE r = 1""".stripMargin,

    // the Bloom prefilter is exact-by-construction (no false negatives;
    // false positives die in the verify join), so the oracle is the plain
    // fingerprint anti-join decision — q47's exact arm
    "q71_bloom_dedup" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), incoming AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents
        |  WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
        |), cfp AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM corpus
        |), ifp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM incoming
        |)
        |SELECT i.doc_id,
        |  CAST(CASE WHEN cfp.fp IS NOT NULL THEN 1 ELSE 0 END AS INT) AS exact_dup,
        |  CAST(CASE WHEN cfp.fp IS NULL THEN 1 ELSE 0 END AS INT) AS keep
        |FROM ifp i LEFT JOIN cfp ON i.fp = cfp.fp""".stripMargin,

    "q72_kmeans_codebook" -> kmeansOracle,

    "q83_semantic_dedup_kmeans" -> kmeansSemanticOracle,

    "q85_bpe_merges" -> bpeOracle,

    "q86_bpe_encode" -> bpeEncodeOracle,

    "q75_pq_adc_topk" -> pqOracle,

    "q77_ivfpq_at_rest" -> ivfPqOracle,

    // arrival-percentile replay: strictly-smaller counts via a correlated
    // count against the frozen reference half, over the reference size
    "q84_percentile_score" ->
      """WITH cut AS (
        |  SELECT CAST(max(doc_id) // 2 AS BIGINT) AS c FROM documents
        |), ref AS (
        |  SELECT source, n_chars FROM documents, cut WHERE doc_id <= c
        |), arr AS (
        |  SELECT doc_id, source, n_chars FROM documents, cut WHERE doc_id > c
        |), n AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM ref GROUP BY source
        |)
        |SELECT a.doc_id, a.source, a.n_chars,
        |  CAST(floor(
        |    CAST((SELECT count(*) FROM ref r
        |          WHERE r.source = a.source AND r.n_chars < a.n_chars) AS DOUBLE)
        |    / n.n * CAST(10000 AS DOUBLE) + 0.5) AS BIGINT) AS pct_e4
        |FROM arr a JOIN n USING (source)""".stripMargin,

    // percentile replay: the sortless two-level Spark build must equal the
    // flat percent_rank (rank() ties share; n=1 groups pin to 0)
    "q81_source_percentile" ->
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |    rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents
        |)
        |SELECT doc_id, source, n_chars,
        |  CAST(CASE WHEN n = 1 THEN 0
        |       ELSE floor((rk - 1) / CAST(n - 1 AS DOUBLE)
        |                  * CAST(10000 AS DOUBLE) + 0.5)
        |       END AS BIGINT) AS pct_e4
        |FROM r""".stripMargin,

    // ccnet-buckets replay: the q53 LM chain, the q90 integer bucketing,
    // strictly-smaller-bucket rank per source (rank() - 1: ties share),
    // thirds cut on the same e4 percentile
    "q95_ccnet_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), uni AS (
        |  SELECT w1, count(*) AS c1
        |  FROM (SELECT unnest(w) AS w1 FROM toks) GROUP BY w1
        |), vs AS (SELECT count(*) AS v FROM uni),
        |bg AS (
        |  SELECT doc_id, w[i] AS w1, w[i] || ' ' || w[i+1] AS gram
        |  FROM toks, unnest(range(1, len(w))) AS t(i)
        |  WHERE len(w) >= 2
        |), bgc AS (SELECT gram, count(*) AS c2 FROM bg GROUP BY gram),
        |scored AS (
        |  SELECT doc_id,
        |    CAST(floor(ln((c2 + 1) / CAST(c1 + v AS DOUBLE))
        |      * 10000 + 0.5) AS BIGINT) AS llq
        |  FROM bg JOIN bgc USING (gram) JOIN uni USING (w1) CROSS JOIN vs
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_transitions,
        |    CAST(sum(llq) AS BIGINT) AS s
        |  FROM scored GROUP BY doc_id
        |), ll AS (
        |  SELECT d.doc_id, d.source,
        |    CASE WHEN a.s IS NULL THEN 0
        |         ELSE CAST(floor(CAST(a.s AS DOUBLE) / a.n_transitions + 0.5)
        |              AS BIGINT)
        |    END AS ll_e4
        |  FROM documents d LEFT JOIN agg a USING (doc_id)
        |), bkt AS (
        |  SELECT doc_id, source, ll_e4,
        |    CAST(sign(ll_e4) AS BIGINT) * ((abs(ll_e4) >> sh) << sh) AS b
        |  FROM (SELECT *, greatest(0, length(bin(abs(ll_e4))) - 8) AS sh
        |        FROM ll)
        |), pct AS (
        |  SELECT doc_id, source, ll_e4,
        |    CAST(floor(
        |      CAST(rank() OVER (PARTITION BY source ORDER BY b ASC) - 1
        |           AS DOUBLE)
        |      / CAST(count(*) OVER (PARTITION BY source) AS DOUBLE)
        |      * CAST(10000 AS DOUBLE) + 0.5) AS BIGINT) AS pct_e4
        |  FROM bkt
        |)
        |SELECT doc_id, source, ll_e4, pct_e4,
        |  CASE WHEN pct_e4 >= 6667 THEN 'head'
        |       WHEN pct_e4 >= 3333 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM pct""".stripMargin,

    // gopher-rules replay: same tokenization, same e4 stable rounding,
    // same literal-count-by-replace construction, same rule thresholds
    "q94_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), '\s+') AS w,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_words,
        |    CAST(len(ls) AS BIGINT) AS n_lines,
        |    CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0)
        |      AS BIGINT) AS sum_wlen,
        |    CAST(len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
        |      AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(ls, l -> starts_with(l, '•')
        |      OR starts_with(l, '- '))) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(ls, l -> ends_with(l, '…')
        |      OR ends_with(l, '...'))) AS BIGINT) AS n_ellipsis,
        |    CAST((len(text) - len(replace(text, '#', ''))) AS BIGINT)
        |      + CAST((len(text) - len(replace(text, '...', ''))) // 3
        |        AS BIGINT) AS n_symbols,
        |    CAST(len(list_intersect(w,
        |      ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
        |      AS BIGINT) AS stop_hits
        |  FROM base
        |), e4 AS (
        |  SELECT doc_id, n_words, stop_hits,
        |    CASE WHEN n_words = 0 THEN 0 ELSE CAST(floor(
        |      CAST(sum_wlen AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      * 10000.0 + 0.5) AS BIGINT) END AS mean_wlen_e4,
        |    CASE WHEN n_words = 0 THEN 0 ELSE CAST(floor(
        |      CAST(n_symbols AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      * 10000.0 + 0.5) AS BIGINT) END AS sym_ratio_e4,
        |    CASE WHEN n_words = 0 THEN 0 ELSE CAST(floor(
        |      CAST(n_alpha AS DOUBLE) / CAST(n_words AS DOUBLE)
        |      * 10000.0 + 0.5) AS BIGINT) END AS alpha_frac_e4,
        |    CASE WHEN n_lines = 0 THEN 0 ELSE CAST(floor(
        |      CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |      * 10000.0 + 0.5) AS BIGINT) END AS bullet_frac_e4,
        |    CASE WHEN n_lines = 0 THEN 0 ELSE CAST(floor(
        |      CAST(n_ellipsis AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |      * 10000.0 + 0.5) AS BIGINT) END AS ellipsis_frac_e4
        |  FROM sig
        |), bits AS (
        |  SELECT *,
        |    CAST(n_words >= 50 AND n_words <= 100000 AS BIGINT) AS r_word_count,
        |    CAST(mean_wlen_e4 >= 30000 AND mean_wlen_e4 <= 100000 AS BIGINT)
        |      AS r_mean_word_len,
        |    CAST(sym_ratio_e4 <= 1000 AS BIGINT) AS r_symbol_ratio,
        |    CAST(bullet_frac_e4 <= 9000 AS BIGINT) AS r_bullet_lines,
        |    CAST(ellipsis_frac_e4 <= 3000 AS BIGINT) AS r_ellipsis_lines,
        |    CAST(alpha_frac_e4 >= 8000 AS BIGINT) AS r_alpha_words,
        |    CAST(stop_hits >= 2 AS BIGINT) AS r_stop_words
        |  FROM e4
        |)
        |SELECT doc_id, n_words, mean_wlen_e4, sym_ratio_e4, alpha_frac_e4,
        |  bullet_frac_e4, ellipsis_frac_e4, stop_hits,
        |  r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
        |  r_ellipsis_lines, r_alpha_words, r_stop_words,
        |  (7 - r_word_count - r_mean_word_len - r_symbol_ratio
        |     - r_bullet_lines - r_ellipsis_lines - r_alpha_words
        |     - r_stop_words) AS n_rules_failed,
        |  CAST((r_word_count + r_mean_word_len + r_symbol_ratio
        |     + r_bullet_lines + r_ellipsis_lines + r_alpha_words
        |     + r_stop_words) = 7 AS BIGINT) AS pass
        |FROM bits""".stripMargin,

    // blocklist replay: same tokenization, same positional uni/bi-grams,
    // same distinct-sorted hit set (DISTINCT in a subquery — list(DISTINCT
    // ... ORDER BY) support varies), left join preserves clean docs
    "q93_blocklist" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), uni AS (
        |  SELECT doc_id, w[i] AS phrase
        |  FROM base, unnest(range(1, len(w) + 1)) AS t(i)
        |), bi AS (
        |  SELECT doc_id, array_to_string(w[i:i+1], ' ') AS phrase
        |  FROM base, unnest(range(1, len(w))) AS t(i)
        |), grams AS (
        |  SELECT doc_id, phrase FROM uni
        |  UNION ALL
        |  SELECT doc_id, phrase FROM bi
        |), matched AS (
        |  SELECT doc_id, phrase FROM grams
        |  WHERE phrase IN ('dup', 'batch batch')
        |), counts AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits FROM matched
        |  GROUP BY doc_id
        |), terms AS (
        |  SELECT doc_id,
        |    array_to_string(list(phrase ORDER BY phrase), ',') AS hits
        |  FROM (SELECT DISTINCT doc_id, phrase FROM matched) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(c.n_hits, 0) AS n_hits,
        |  coalesce(tm.hits, '') AS hits,
        |  CAST(CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
        |    AS is_blocked
        |FROM documents d
        |LEFT JOIN counts c USING (doc_id)
        |LEFT JOIN terms tm USING (doc_id)""".stripMargin,

    // BM25 replay: identical idf smoothing, identical cast/association
    // order in the double math (the constants are spelled as the SAME
    // IEEE ops Spark executes — (1.2 + 1.0), not 2.2), e6 per-row
    // quantization, BIGINT sum, total order
    "q91_bm25_topk" -> bm25Oracle,

    // the at-rest lookup must reproduce the in-memory ranking exactly —
    // same oracle; any pruning loss would surface as a row mismatch
    "q92_bm25_at_rest" -> bm25Oracle,

    // sketch-percentile replay: identical integer bucketing (binary-
    // string length, never floating log — bucket boundaries can't drift
    // an ulp between engines), strictly-smaller-BUCKET count over the
    // frozen reference half
    "q90_sketch_percentile" -> sketchPercentileOracle,

    // the at-rest model (two commits + replay + fold) must score
    // arrivals exactly like the one-shot fit — same oracle as q90
    "q112_percentile_at_rest" -> sketchPercentileOracle,

    // overlap-matrix replay: same normalized fingerprint, same per-source
    // distinct collapse, same triangular pair join
    "q80_source_overlap" ->
      """WITH planted AS (
        |  SELECT text, source FROM documents
        |  UNION ALL
        |  SELECT text, 'mirror' AS source FROM documents WHERE doc_id % 5 = 0
        |), fps AS (
        |  SELECT DISTINCT source AS src,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM planted
        |)
        |SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.src < b.src
        |GROUP BY 1, 2""".stripMargin,

    // vocab-encode replay: q67's rank construction cut at 16, same
    // UNK mapping, same in-order id join fingerprint
    "q79_vocab_encode" ->
      """WITH words AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |  FROM documents
        |), wc AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY word
        |), vocab AS (
        |  SELECT word,
        |    CAST(row_number() OVER (ORDER BY cnt DESC, word ASC) AS BIGINT) - 1
        |      AS tok_id
        |  FROM wc ORDER BY cnt DESC, word ASC LIMIT 16
        |), toks AS (
        |  SELECT doc_id, i - 1 AS pos, w[i] AS word
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents), unnest(range(1, len(w) + 1)) AS t(i)
        |), mapped AS (
        |  SELECT t.doc_id, t.pos, coalesce(v.tok_id, 16) AS tok_id
        |  FROM toks t LEFT JOIN vocab v USING (word)
        |)
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN tok_id = 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  floor(CAST(sum(CASE WHEN tok_id = 16 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*) * 10000 + 0.5) / 10000 AS oov_rate,
        |  md5(array_to_string(list(CAST(tok_id AS VARCHAR) ORDER BY pos), ' '))
        |    AS ids_md5
        |FROM mapped GROUP BY doc_id""".stripMargin,

    // weighted-priority replay: same md5 uniform, same ln(u)/w priority
    // floored at 1e-6, same (pri DESC, id ASC) k-cut
    "q78_weighted_sample" ->
      """WITH h AS (
        |  SELECT doc_id, n_chars,
        |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h52
        |  FROM documents WHERE n_chars > 0
        |), p AS (
        |  SELECT doc_id, n_chars,
        |    CAST(floor(
        |      ln((h52 + 1) / CAST(4503599627370496 AS DOUBLE))
        |      / CAST(n_chars AS DOUBLE) * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |      AS pri_e6
        |  FROM h
        |)
        |SELECT doc_id, n_chars, pri_e6 FROM p
        |ORDER BY pri_e6 DESC, doc_id ASC LIMIT 50""".stripMargin,

    // count-min replay: same md5 row hashes, counters as plain GROUP BYs,
    // estimate = min over rows, same (est DESC, word ASC) top-20 cut
    "q76_cms_top_words" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |), hashed AS (
        |  SELECT w, r,
        |    ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || w), 1, 8))::BIGINT
        |      % 1024 AS b
        |  FROM toks, unnest(range(0, 4)) AS t(r)
        |), counters AS (
        |  SELECT r, b, count(*) AS c FROM hashed GROUP BY r, b
        |), est AS (
        |  SELECT w, min(c) AS est
        |  FROM (SELECT DISTINCT w, r, b FROM hashed) h
        |  JOIN counters USING (r, b)
        |  GROUP BY w
        |)
        |SELECT w, est FROM est ORDER BY est DESC, w ASC LIMIT 20""".stripMargin,

    // incremental counter maintenance must converge to the whole-corpus
    // CMS counters — commit/replay/fold/replay on the Spark side, one
    // plain grouped count here (depth=4, width=1024, the q76 geometry)
    "q96_cms_at_rest" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        |  FROM documents
        |), hashed AS (
        |  SELECT w, r,
        |    ('0x' || substring(md5(CAST(r AS VARCHAR) || ':' || w), 1, 8))::BIGINT
        |      % 1024 AS b
        |  FROM toks, unnest(range(0, 4)) AS t(r)
        |)
        |SELECT r, b, count(*) AS c FROM hashed GROUP BY r, b""".stripMargin,

    "q97_bpe_chunk_encode" -> bpeChunkEncodeOracle,

    "q98_rrf_fusion" -> rrfOracle,

    "q101_mmr_select" -> mmrOracle,

    // same planted damage; counts via length-difference regexp_replace
    // (code-point semantics both engines), exact integer ratio
    "q102_encoding_damage" ->
      """WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(65533) || chr(7) || 'x'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(233) ELSE '' END
        |    AS text
        |  FROM documents
        |), sig AS (
        |  SELECT doc_id,
        |    CAST(length(text) - length(regexp_replace(text, chr(65533), '', 'g'))
        |      AS BIGINT) AS n_repl,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS BIGINT) AS n_ctrl,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[^\x00-\x7f]', '', 'g')) AS BIGINT) AS n_non_ascii,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM planted
        |)
        |SELECT doc_id, n_repl, n_ctrl, n_non_ascii, n_chars,
        |  (n_chars - n_non_ascii) * 10000 // greatest(n_chars, 1)
        |    AS ascii_ratio_e4,
        |  n_repl > 0 OR n_ctrl > 0 AS damaged
        |FROM sig""".stripMargin,

    // same planted chrome; df counts DISTINCT docs per trimmed non-empty
    // line, removal everywhere at df >= 3, survivors rejoined by chr(10)
    "q103_boilerplate_lines" ->
      s"""WITH planted AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$BoilerBanner'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || '$BoilerFooter'
        |         ELSE '' END ||
        |    CASE WHEN doc_id IN (1, 2) THEN chr(10) || '$BoilerQuote'
        |         ELSE '' END AS text
        |  FROM documents
        |), lns AS (
        |  SELECT doc_id,
        |    unnest(list_filter(list_transform(string_split(text, chr(10)),
        |      x -> trim(x)), x -> x <> '')) AS line,
        |    generate_subscripts(list_filter(list_transform(
        |      string_split(text, chr(10)), x -> trim(x)), x -> x <> ''), 1)
        |      AS ord
        |  FROM planted
        |), linedf AS (
        |  SELECT line, count(DISTINCT doc_id) AS line_docs
        |  FROM lns GROUP BY line
        |)
        |SELECT l.doc_id,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN d.line_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boiler_lines,
        |  md5(coalesce(string_agg(l.line, chr(10) ORDER BY l.ord)
        |    FILTER (WHERE d.line_docs < 3), '')) AS clean_md5
        |FROM lns l JOIN linedf d USING (line)
        |GROUP BY l.doc_id""".stripMargin,

    // exact pair set (the q11 oracle) + the same md5-cut split rule,
    // then the cross-boundary label join replayed verbatim
    "q104_split_leakage" ->
      s"""WITH p AS ($oracleSqlQ11),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '14'
        |           THEN 'valid'
        |         WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '28'
        |           THEN 'test'
        |         ELSE 'train' END AS split
        |  FROM documents
        |)
        |SELECT p.d1, p.d2, p.jaccard,
        |  s1.split AS split1, s2.split AS split2,
        |  s1.split <> s2.split AS leaks
        |FROM p
        |JOIN s s1 ON s1.doc_id = p.d1
        |JOIN s s2 ON s2.doc_id = p.d2""".stripMargin,

    // Lloyd chain replayed (the q72 oracle as a CTE), then the same
    // log-bucket quantization and rank()-1 strictly-below CDF per cluster
    "q105_embedding_outliers" ->
      s"""WITH a AS ($kmeansOracle),
        |b AS (
        |  SELECT vec_id, cluster, dist,
        |    (abs(dist) >> sh) << sh AS dist_b
        |  FROM (SELECT *,
        |          greatest(0, length(bin(abs(dist))) - 8) AS sh
        |        FROM a)
        |), n AS (
        |  SELECT cluster, CAST(count(*) AS BIGINT) AS n
        |  FROM b GROUP BY cluster
        |), r AS (
        |  SELECT vec_id, cluster, dist,
        |    CAST(rank() OVER (PARTITION BY cluster ORDER BY dist_b) - 1
        |      AS BIGINT) AS below
        |  FROM b
        |)
        |SELECT r.vec_id, r.cluster, r.dist,
        |  CASE WHEN n.n = 1 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor(CAST(below AS DOUBLE) / (n.n - 1)
        |         * 10000 + 0.5) AS BIGINT) END AS pct_e4,
        |  CASE WHEN n.n = 1 THEN CAST(0 AS BIGINT)
        |       ELSE CAST(floor(CAST(below AS DOUBLE) / (n.n - 1)
        |         * 10000 + 0.5) AS BIGINT) END >= 9000 AS is_outlier
        |FROM r JOIN n USING (cluster)""".stripMargin,

    // full-recompute closure over corpus ∪ planted arrivals — the
    // incremental fold must land on exactly this
    "q106_incremental_components" ->
      s"""WITH RECURSIVE base AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + $PlantOffset, text FROM documents
         |  WHERE doc_id % 7 = 0
         |), p AS (${oracleSqlQ11From("base")}),
         |edges AS (SELECT d1 AS src, d2 AS dst FROM p
         |          UNION ALL SELECT d2, d1 FROM p),
         |reach(id, lab) AS (
         |  SELECT doc_id, doc_id FROM base
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
         |)
         |SELECT id AS doc_id, min(lab) AS cluster FROM reach GROUP BY id""".stripMargin,

    // same tokenization, same trigram construction, same e4 fixed point
    "q107_source_diversity" ->
      """WITH toks AS (
        |  SELECT source, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), words AS (
        |  SELECT source, unnest(ws) AS w FROM toks
        |), tris AS (
        |  SELECT source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |  FROM (SELECT source, ws, unnest(range(1, len(ws) - 1)) AS i
        |        FROM toks WHERE len(ws) >= 3)
        |), base AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source
        |), ws AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_tokens
        |  FROM words GROUP BY source
        |), ts AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
        |    CAST(count(DISTINCT g) AS BIGINT) AS n_distinct_trigrams
        |  FROM tris GROUP BY source
        |)
        |SELECT b.source, n_docs, n_tokens, n_distinct_tokens,
        |  CAST(floor(CAST(n_distinct_tokens AS DOUBLE) / n_tokens
        |    * 10000.0 + 0.5) AS BIGINT) AS ttr_e4,
        |  COALESCE(n_trigrams, 0) AS n_trigrams,
        |  COALESCE(n_distinct_trigrams, 0) AS n_distinct_trigrams,
        |  CAST(floor(CAST(COALESCE(n_distinct_trigrams, 0) AS DOUBLE)
        |    / GREATEST(COALESCE(n_trigrams, 0), 1)
        |    * 10000.0 + 0.5) AS BIGINT) AS tri_e4
        |FROM base b JOIN ws USING (source) LEFT JOIN ts USING (source)""".stripMargin,

    // survivors = ids equal to their component minimum under the same
    // recursive closure; the merge-delete must land on exactly this set
    "q108_dedup_materialize" ->
      s"""WITH RECURSIVE p AS ($oracleSqlQ11),
         |edges AS (SELECT d1 AS src, d2 AS dst FROM p
         |          UNION ALL SELECT d2, d1 FROM p),
         |reach(id, lab) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
         |), surv AS (
         |  SELECT id FROM (
         |    SELECT id, min(lab) AS cluster FROM reach GROUP BY id
         |  ) WHERE id = cluster
         |)
         |SELECT d.doc_id, md5(d.text) AS text_md5
         |FROM documents d JOIN surv s ON s.id = d.doc_id""".stripMargin,

    // the change feed must be exactly the second half
    "q109_incremental_read" ->
      """WITH cut AS (SELECT max(doc_id) // 2 AS c FROM documents)
        |SELECT doc_id, md5(text) AS text_md5
        |FROM documents, cut WHERE doc_id > c""".stripMargin,

    // the doubly-pruned z-order scan must agree with the full answer
    "q114_zorder_skipping" ->
      """WITH hi AS (SELECT (max(user_id) * 3) // 4 AS hu,
        |                   (max(event_id) * 3) // 4 AS he FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events, hi WHERE user_id > hu AND event_id > he""".stripMargin,

    // the stats-pruned scan must agree with the full-table answer
    "q110_clustered_skipping" ->
      """WITH hi AS (SELECT (max(user_id) * 9) // 10 AS h FROM events)
        |SELECT CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events, hi WHERE user_id > h""".stripMargin,

    // same gram construction, same struct-min top rule (row_number over
    // cnt desc/gram asc), same interval-union coverage, same e4 cap
    "q111_gopher_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
        |  FROM documents
        |), tk AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    CAST(length(ws[i]) AS BIGINT) AS wlen
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
        |        FROM toks)
        |), totals AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(wlen) AS BIGINT) AS total_chars
        |  FROM tk GROUP BY doc_id
        |), occ AS (
        |  SELECT doc_id, n, CAST(i AS BIGINT) AS s,
        |    array_to_string(ws[i:i+n-1], ' ') AS gram
        |  FROM (
        |    SELECT doc_id, ws, n, unnest(range(1, len(ws) - n + 2)) AS i
        |    FROM toks, (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
        |    WHERE len(ws) >= n)
        |), gcnt AS (
        |  SELECT doc_id, n, gram, CAST(count(*) AS BIGINT) AS cnt
        |  FROM occ WHERE n <= 4 GROUP BY doc_id, n, gram
        |), topg AS (
        |  SELECT doc_id, n, cnt * (length(gram) - (n - 1)) AS top_chars
        |  FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, n
        |          ORDER BY cnt DESC, gram ASC) AS r FROM gcnt)
        |  WHERE r = 1
        |), docc AS (
        |  SELECT doc_id, n, s, s + n - 1 AS e
        |  FROM (SELECT *, count(*) OVER (PARTITION BY doc_id, n, gram)
        |          AS reps FROM occ WHERE n >= 5)
        |  WHERE reps >= 2
        |), cov AS (
        |  SELECT doc_id, n, unnest(range(f, e + 1)) AS pos
        |  FROM (
        |    SELECT doc_id, n, e,
        |      greatest(s, coalesce(max(e) OVER (
        |        PARTITION BY doc_id, n ORDER BY s
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1)
        |        AS f
        |    FROM docc
        |  ) WHERE f <= e
        |), dchar AS (
        |  SELECT c.doc_id, c.n, CAST(sum(t.wlen) AS BIGINT) AS dup_chars
        |  FROM cov c JOIN tk t ON t.doc_id = c.doc_id AND t.pos = c.pos
        |  GROUP BY c.doc_id, c.n
        |), tp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN n = 2 THEN top_chars END) AS t2,
        |    sum(CASE WHEN n = 3 THEN top_chars END) AS t3,
        |    sum(CASE WHEN n = 4 THEN top_chars END) AS t4
        |  FROM topg GROUP BY doc_id
        |), dp AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN n = 5 THEN dup_chars END) AS d5,
        |    sum(CASE WHEN n = 6 THEN dup_chars END) AS d6,
        |    sum(CASE WHEN n = 7 THEN dup_chars END) AS d7,
        |    sum(CASE WHEN n = 8 THEN dup_chars END) AS d8,
        |    sum(CASE WHEN n = 9 THEN dup_chars END) AS d9,
        |    sum(CASE WHEN n = 10 THEN dup_chars END) AS d10
        |  FROM dchar GROUP BY doc_id
        |)
        |SELECT t.doc_id AS id, t.n_tokens, t.total_chars,
        |  least(10000, CAST(floor(CAST(coalesce(t2, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS top2_e4,
        |  least(10000, CAST(floor(CAST(coalesce(t3, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS top3_e4,
        |  least(10000, CAST(floor(CAST(coalesce(t4, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS top4_e4,
        |  least(10000, CAST(floor(CAST(coalesce(d5, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS dup5_e4,
        |  least(10000, CAST(floor(CAST(coalesce(d6, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS dup6_e4,
        |  least(10000, CAST(floor(CAST(coalesce(d7, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS dup7_e4,
        |  least(10000, CAST(floor(CAST(coalesce(d8, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS dup8_e4,
        |  least(10000, CAST(floor(CAST(coalesce(d9, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS dup9_e4,
        |  least(10000, CAST(floor(CAST(coalesce(d10, 0) AS DOUBLE)
        |    / greatest(t.total_chars, 1) * 10000.0 + 0.5) AS BIGINT)) AS dup10_e4
        |FROM totals t
        |LEFT JOIN tp ON tp.doc_id = t.doc_id
        |LEFT JOIN dp ON dp.doc_id = t.doc_id""".stripMargin,

    // same plant, same three line rules, same two page rules, same
    // sentence proxy — the whole program is per-line predicates. The
    // kept text coalesces to '': DuckDB's array_to_string over an EMPTY
    // list is NULL (string_agg semantics), and an all-lines-dropped
    // page must hash '' exactly like the Spark side.
    "q113_c4_line_rules" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0
        |         THEN 'please enable javascript before reading this page .'
        |              || chr(10) ELSE '' END ||
        |    array_to_string([array_to_string(w[(i*6+1):(i*6+6)], ' ') ||
        |        CASE WHEN (i + doc_id) % 3 = 0 THEN '' ELSE '.' END
        |      for i in range(0, CAST(ceil(len(w) / 6.0) AS BIGINT))],
        |      chr(10)) ||
        |    CASE WHEN doc_id % 13 = 0
        |         THEN chr(10) || 'this page is only lorem ipsum filler text .'
        |         ELSE '' END ||
        |    CASE WHEN doc_id % 17 = 0
        |         THEN chr(10) || 'var config = { mode: production } ;'
        |         ELSE '' END AS text
        |  FROM ws
        |), lined AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)),
        |      x -> trim(x)), x -> x <> '') AS lines
        |  FROM planted
        |), kept AS (
        |  SELECT doc_id, text, lines,
        |    coalesce(array_to_string(list_filter(lines, l ->
        |      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
        |      AND len(regexp_split_to_array(l, '\s+')) >= 5
        |      AND NOT regexp_matches(lower(l),
        |        '(^|[^a-z])javascript([^a-z]|$)')), chr(10)), '') AS ct,
        |    len(list_filter(lines, l ->
        |      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
        |      AND len(regexp_split_to_array(l, '\s+')) >= 5
        |      AND NOT regexp_matches(lower(l),
        |        '(^|[^a-z])javascript([^a-z]|$)'))) AS nk
        |  FROM lined
        |)
        |SELECT doc_id AS id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(nk AS BIGINT) AS n_kept_lines,
        |  CAST(length(ct) - length(regexp_replace(ct, '[.!?]', '', 'g'))
        |    AS BIGINT) AS n_sentences,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem,
        |  contains(text, '{') AS has_brace,
        |  NOT contains(lower(text), 'lorem ipsum')
        |    AND NOT contains(text, '{')
        |    AND length(ct) - length(regexp_replace(ct, '[.!?]', '', 'g')) >= 3
        |    AS keep,
        |  md5(ct) AS clean_md5
        |FROM kept""".stripMargin,

    // the JSONL round-trip must be lossless vs the parquet originals —
    // the oracle never sees the JSON at all, only documents + the
    // planted quarantine constant
    "q100_jsonl_ingest" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |  CAST(sum(('0x' || substring(md5(text), 1, 8))::BIGINT) AS BIGINT)
        |    AS text_sig
        |FROM documents GROUP BY source
        |UNION ALL
        |SELECT '_quarantine' AS source, CAST(2 AS BIGINT) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_chars, CAST(0 AS BIGINT) AS text_sig""".stripMargin,

    // KMV sketch replay: the k smallest distinct 52-bit md5 hashes per
    // group via a rank window, then the same IEEE estimator arithmetic
    // ((k-1)·2^52 / kth, floored at 1e-4) — bit-identical because every
    // input is an exactly-representable double
    "q73_kmv_distinct" -> kmvOracle,

    // incremental maintenance must converge to the whole-corpus sketch —
    // same oracle as the one-shot aggregate
    "q87_kmv_at_rest" -> kmvOracle,

    "q88_ann_recall" -> annRecallOracle,

    "q89_ivf_nprobe_sweep" -> ivfSweepOracle,

    // DSIR replay: same 16-bit md5 bucket hash, each ln quantized to 1e-4
    // fixed point INDEPENDENTLY (libm drift dies at the quantizer), per-doc
    // weight an exact BIGINT sum of integer quanta — the q53 rules
    "q74_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substring(md5(w[i] || ' ' || w[i+1]), 1, 4))::BIGINT % 256 AS b
        |  FROM toks, unnest(range(1, len(w))) AS t(i)
        |  WHERE len(w) >= 2
        |), tb AS (
        |  SELECT b, count(*) AS tc FROM bg WHERE lang = 'en' GROUP BY b
        |), rb AS (
        |  SELECT b, count(*) AS rc FROM bg GROUP BY b
        |), tot AS (
        |  SELECT (SELECT CAST(sum(tc) AS BIGINT) FROM tb) AS tt,
        |         (SELECT CAST(sum(rc) AS BIGINT) FROM rb) AS rt
        |), scored AS (
        |  SELECT doc_id,
        |    CAST(floor(ln((coalesce(tc, 0) + 1) / CAST(tt + 256 AS DOUBLE))
        |        * 10000 + 0.5) AS BIGINT)
        |    - CAST(floor(ln((coalesce(rc, 0) + 1) / CAST(rt + 256 AS DOUBLE))
        |        * 10000 + 0.5) AS BIGINT) AS lwq
        |  FROM bg LEFT JOIN tb USING (b) LEFT JOIN rb USING (b) CROSS JOIN tot
        |), agg AS (
        |  SELECT doc_id, count(*) AS n_grams, CAST(sum(lwq) AS BIGINT) AS lw
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  coalesce(a.n_grams, 0) AS n_grams,
        |  coalesce(a.lw, 0) AS lw_e4,
        |  CAST(CASE WHEN coalesce(a.lw, 0) > 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM toks t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // exact cross-set jaccard (the q11 construction, arrivals × corpus):
    // the 32×4 banding has deterministic full recall on this corpus's
    // pair jaccards (>= 0.77), and the lookup's exact verify makes the
    // LSH output equal the exact pair set — same argument as q12/q13
    "q66_minhash_at_rest" ->
      """WITH arr AS (
        |  SELECT doc_id + 1000000000000 AS doc_id, 'edited ' || text AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |), ta AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |          for i in range(1, len(w) - 1)] END) AS t
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM arr)
        |), tc AS (
        |  SELECT doc_id, list_distinct(
        |    CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
        |    ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |          for i in range(1, len(w) - 1)] END) AS t
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |        FROM documents)
        |), ea AS (
        |  SELECT doc_id, unnest(t) AS tri, len(t) AS n_sh FROM ta
        |), ec AS (
        |  SELECT doc_id, unnest(t) AS tri, len(t) AS n_sh FROM tc
        |), pairs AS (
        |  SELECT a.doc_id AS d1, c.doc_id AS d2, count(*) AS inter,
        |    any_value(a.n_sh) AS n1, any_value(c.n_sh) AS n2
        |  FROM ea a JOIN ec c ON a.tri = c.tri
        |  GROUP BY 1, 2
        |)
        |SELECT d1, d2,
        |  floor(CAST(inter AS DOUBLE) / (n1 + n2 - inter) * 10000.0 + 0.5)
        |    / 10000.0 AS jaccard
        |FROM pairs
        |WHERE floor(CAST(inter AS DOUBLE) / (n1 + n2 - inter) * 10000.0 + 0.5)
        |    / 10000.0 >= 0.5""".stripMargin,

    "q65_corpus_diff" ->
      """WITH old AS (
        |  SELECT doc_id AS id, md5(text) AS fp_old FROM documents
        |), new_snap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 17 = 0
        |), new_fp AS (
        |  SELECT doc_id AS id, md5(text) AS fp_new FROM new_snap
        |)
        |SELECT COALESCE(o.id, n.id) AS id, fp_old, fp_new,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |       WHEN fp_new IS NULL THEN 'removed'
        |       WHEN fp_old = fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old o FULL OUTER JOIN new_fp n ON o.id = n.id""".stripMargin,

    "q64_corpus_report" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_toks,
        |    n_chars
        |  FROM documents
        |)
        |SELECT lang, source,
        |  CAST(GROUPING(lang) * 2 + GROUPING(source) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  floor(CAST(sum(n_chars) AS DOUBLE) / count(*) * 10000 + 0.5)
        |    / 10000 AS avg_chars
        |FROM d GROUP BY GROUPING SETS ((lang), (source), ())""".stripMargin,

    "q16_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  upper(hex(CAST(substring(text, 1, 4) AS BLOB))) AS magic_hex
        |FROM documents""".stripMargin
  )

  private val mergeUpsertOracle: String =
    """WITH tgt AS (
      |  SELECT user_id, event_type, event_id, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                                 ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts < TIMESTAMP '2024-01-16'
      |  ) WHERE rn = 1
      |), src AS (
      |  SELECT user_id, event_type, event_id, value FROM (
      |    SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |                                 ORDER BY ts DESC, event_id DESC) AS rn
      |    FROM events WHERE ts >= TIMESTAMP '2024-01-16'
      |  ) WHERE rn = 1
      |)
      |SELECT user_id, event_type, event_id, value FROM src
      |UNION ALL
      |SELECT t.user_id, t.event_type, t.event_id, t.value FROM tgt t
      |WHERE NOT EXISTS (SELECT 1 FROM src s
      |  WHERE s.user_id = t.user_id AND s.event_type = t.event_type)""".stripMargin

  /** Shared by q15 (in-memory IVF) and q34 (IVF at rest): both run the same
    * deterministic pipeline — per-label element-wise avg centroids, probe
    * ranking by centroid cosine (bucket asc tiebreak), exact cosine top-5
    * over the probed buckets (id asc tiebreak) — so one DuckDB replay
    * certifies both.
    */
  private lazy val ivfTopkOracle: String = {
    val dotQQc = sqlListDot("p.qvec", "p.qvec")
    val dotCC = sqlListDot("cent.cvec", "cent.cvec")
    val dotQC = sqlListDot("p.qvec", "cent.cvec")
    val dotQQ = sqlListDot("p.qvec", "p.qvec")
    val dotVV = sqlListDot("c.vec", "c.vec")
    val dotQV = sqlListDot("p.qvec", "c.vec")
    s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS id, embedding AS vec, label AS bucket FROM embeddings WHERE vec_id >= 10),
       |cent AS (
       |  SELECT bucket, list(m ORDER BY pos) AS cvec FROM (
       |    SELECT bucket, pos, avg(CAST(vec[pos] AS DOUBLE)) AS m
       |    FROM c, unnest(range(1, len(vec) + 1)) AS t(pos)
       |    GROUP BY bucket, pos
       |  ) GROUP BY bucket
       |), probed AS (
       |  SELECT qid, qvec, bucket FROM (
       |    SELECT p.qid, p.qvec, cent.bucket,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY
       |        CASE WHEN sqrt($dotQQc) = 0 OR sqrt($dotCC) = 0 THEN 0.0
       |             ELSE $dotQC / (sqrt($dotQQc) * sqrt($dotCC)) END DESC,
       |        cent.bucket ASC) AS crank
       |    FROM q p, cent
       |  ) WHERE crank <= 3
       |), scored AS (
       |  SELECT p.qid, c.id,
       |    CASE WHEN sqrt($dotQQ) = 0 OR sqrt($dotVV) = 0 THEN 0.0
       |         ELSE $dotQV / (sqrt($dotQQ) * sqrt($dotVV)) END AS cos
       |  FROM c JOIN probed p ON c.bucket = p.bucket
       |)
       |SELECT qid, id, cos, rank FROM (
       |  SELECT qid, id, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id ASC) AS rank
       |  FROM scored
       |) WHERE rank <= 5""".stripMargin
  }

  /** DuckDB twin of q51: same centroids as [[ivfTopkOracle]] (built from
    * the UNplanted base), nearest-centroid assignment with the identical
    * (cos DESC, bucket ASC) tiebreak, within-cell pairs at the same exact
    * cosine threshold, and components via the q36 recursive-CTE pattern.
    */
  private lazy val semanticDedupOracle: String = {
    val dotVV = sqlListDot("c.vec", "c.vec")
    val dotCC = sqlListDot("cent.cvec", "cent.cvec")
    val dotVC = sqlListDot("c.vec", "cent.cvec")
    val dotAA = sqlListDot("a.vec", "a.vec")
    val dotBB = sqlListDot("b.vec", "b.vec")
    val dotAB = sqlListDot("a.vec", "b.vec")
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id AS id, embedding AS vec, label FROM embeddings
       |), planted AS (
       |  SELECT id + 1000000 AS id,
       |    list_transform(vec, x -> CAST(x * 2 AS FLOAT)) AS vec, label
       |  FROM base WHERE id < 25
       |), corpus AS (
       |  SELECT id, vec FROM base UNION ALL SELECT id, vec FROM planted
       |), cent AS (
       |  SELECT label AS bucket, list(m ORDER BY pos) AS cvec FROM (
       |    SELECT label, pos, avg(CAST(vec[pos] AS DOUBLE)) AS m
       |    FROM base, unnest(range(1, len(vec) + 1)) AS t(pos)
       |    GROUP BY label, pos
       |  ) GROUP BY label
       |), assigned AS (
       |  SELECT id, vec, bucket AS cluster FROM (
       |    SELECT c.id, c.vec, cent.bucket,
       |      row_number() OVER (PARTITION BY c.id ORDER BY
       |        CASE WHEN sqrt($dotVV) = 0 OR sqrt($dotCC) = 0 THEN 0.0
       |             ELSE $dotVC / (sqrt($dotVV) * sqrt($dotCC)) END DESC,
       |        cent.bucket ASC) AS crank
       |    FROM corpus c, cent
       |  ) WHERE crank = 1
       |), pairs AS (
       |  SELECT a.id AS d1, b.id AS d2
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE CASE WHEN sqrt($dotAA) = 0 OR sqrt($dotBB) = 0 THEN 0.0
       |             ELSE $dotAB / (sqrt($dotAA) * sqrt($dotBB)) END >= 0.95
       |), edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |             UNION ALL SELECT d2, d1 FROM pairs),
       |reach(id, lab) AS (
       |  SELECT id, id FROM corpus
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
       |)
       |SELECT a.id, a.cluster, r.rep, (a.id <> r.rep) AS is_dup
       |FROM assigned a
       |JOIN (SELECT id, min(lab) AS rep FROM reach GROUP BY id) r USING (id)"""
      .stripMargin
  }

  /** DuckDB twin of q85 — the BPE merge loop unrolled step by step: same
    * word-frequency base, same adjacent-pair counts, same (cnt DESC,
    * l ASC, r ASC) greedy pick, and the same sentinel-space string
    * `replace` as the re-merge (ANSI non-overlapping left-to-right
    * replace IS greedy BPE application — on both engines).
    */
  /** KMV sketch replay (q73 one-shot aggregate AND q87 at-rest table —
    * incremental maintenance must converge to the whole-corpus sketch):
    * the k smallest distinct 52-bit md5 hashes per group via a rank
    * window, then the same IEEE estimator arithmetic ((k-1)·2^52 / kth,
    * floored at 1e-4) — bit-identical because every input is an
    * exactly-representable double.
    */
  private lazy val kmvOracle: String =
    """WITH hashed AS (
      |  SELECT DISTINCT source,
      |    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h
      |  FROM documents
      |), ranked AS (
      |  SELECT source, h,
      |    row_number() OVER (PARTITION BY source ORDER BY h) AS r
      |  FROM hashed
      |), kmins AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS kept, max(h) AS kth
      |  FROM ranked WHERE r <= 16 GROUP BY source
      |)
      |SELECT source, kept, kth,
      |  CAST(floor(
      |    (CASE WHEN kept < 16 THEN CAST(kept AS DOUBLE)
      |          ELSE CAST(15 AS DOUBLE) * CAST(4503599627370496 AS DOUBLE)
      |               / CAST(kth AS DOUBLE) END)
      |    * CAST(10000 AS DOUBLE)) AS BIGINT) AS est_e4
      |FROM kmins""".stripMargin

  /** Shared q91/q92 replay — one text, two engines-side paths (in-memory
    * fit and at-rest pruned lookup) must both hash-match it.
    */
  private lazy val bm25Oracle: String =
    "WITH " + bm25Ctes + "\n" +
    """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
      |  CAST(sum(contrib_e6) AS BIGINT) AS score_e6
      |FROM hits GROUP BY doc_id
      |ORDER BY score_e6 DESC, doc_id ASC LIMIT 20""".stripMargin

  /** Shared q91/q92/q98 CTE chain: tokenize → postings/stats/norms/globals
    * → per-(doc,term) e6-quantized BM25 contributions for the fixed query.
    */
  private lazy val bm25Ctes: String = {
    val inList = Bm25QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM documents
       |), postings AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2
       |), stats AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY 1
       |), norms AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
       |), g AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(dl) AS BIGINT) AS total_tokens
       |  FROM norms
       |), hits AS (
       |  SELECT p.doc_id,
       |    CAST(floor(
       |      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |          / (CAST(df AS DOUBLE) + 0.5) + 1.0)
       |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
       |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75
       |          * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |             / CAST(total_tokens AS DOUBLE))))
       |      * 1000000.0 + 0.5) AS BIGINT) AS contrib_e6
       |  FROM postings p JOIN stats USING (term) JOIN norms USING (doc_id), g
       |  WHERE term IN ($inList)
       |)""".stripMargin
  }

  /** DuckDB twin of q98 — the q91 BM25 chain and a q14-style exact-cosine
    * ranking for query vector 0, fused with pure-integer RRF arithmetic
    * (`1000000 // (60 + rank)`, exact BIGINT sums — no floats anywhere in
    * the fusion, so both engines agree bit-for-bit).
    */
  private lazy val rrfOracle: String = {
    val dotQQ = sqlListDot("qvec", "qvec")
    val dotVV = sqlListDot("vec", "vec")
    val dotQV = sqlListDot("qvec", "vec")
    "WITH " + bm25Ctes + ",\n" +
    s"""sparse AS (
       |  SELECT doc_id,
       |    row_number() OVER (ORDER BY score_e6 DESC, doc_id ASC) AS rank
       |  FROM (SELECT doc_id, CAST(sum(contrib_e6) AS BIGINT) AS score_e6
       |        FROM hits GROUP BY doc_id
       |        ORDER BY score_e6 DESC, doc_id ASC LIMIT 20)
       |), q AS (
       |  SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0
       |), c AS (
       |  SELECT vec_id AS id, embedding AS vec FROM embeddings
       |  WHERE vec_id >= 10
       |), dscored AS (
       |  SELECT id,
       |    CASE WHEN sqrt($dotQQ) = 0 OR sqrt($dotVV) = 0 THEN 0.0
       |         ELSE $dotQV / (sqrt($dotQQ) * sqrt($dotVV)) END AS cos
       |  FROM c, q
       |), dense AS (
       |  SELECT id AS doc_id, rank FROM (
       |    SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rank
       |    FROM dscored)
       |  WHERE rank <= 20
       |), contribs AS (
       |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM sparse
       |  UNION ALL
       |  SELECT doc_id, 1000000 // (60 + rank) AS c FROM dense
       |), fused AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
       |    CAST(sum(c) AS BIGINT) AS rrf_e6
       |  FROM contribs GROUP BY doc_id
       |)
       |SELECT doc_id, n_lists, rrf_e6, rank FROM (
       |  SELECT doc_id, n_lists, rrf_e6,
       |    row_number() OVER (ORDER BY rrf_e6 DESC, doc_id ASC) AS rank
       |  FROM fused)
       |WHERE rank <= 10""".stripMargin
  }

  private val bpeN = 12

  // If the corpus exhausts mergeable pairs before step i, b_i is empty
  // and its scalar subqueries are NULL — the coalesce pair turns the
  // replace into a no-op (chr(1) never occurs in whitespace-split
  // symbols) instead of NULLing every s_i row, matching Spark's
  // early-stopping bpeTrain.
  private def bpeStepCtes(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, a[j] AS l, a[j + 1] AS r
         |    FROM (SELECT freq, string_split(trim(s), '  ') AS a FROM s${i - 1}),
         |      unnest(range(1, len(a))) AS t(j)
         |  ) GROUP BY l, r
         |), b$i AS MATERIALIZED (
         |  SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
         |), s$i AS MATERIALIZED (
         |  SELECT w, freq,
         |    replace(s,
         |      coalesce(' ' || (SELECT l FROM b$i) || '  ' || (SELECT r FROM b$i) || ' ', chr(1)),
         |      coalesce(' ' || (SELECT l FROM b$i) || (SELECT r FROM b$i) || ' ', '')) AS s
         |  FROM s${i - 1}
         |)""".stripMargin

  // NOTE: bpeChainSql is already margin-stripped — the outer oracles are
  // assembled by plain concatenation (a second stripMargin would eat the
  // leading pipe of chain lines that start with the || operator)
  private lazy val bpeOracle: String = {
    val unions = (1 to bpeN).map(i =>
      s"SELECT $i AS step, l, r, l || r AS merged, cnt FROM b$i")
      .mkString("\nUNION ALL\n")
    "WITH " + bpeChainSql + "\n" + unions
  }

  /** The shared q85/q86 CTE chain text: wc, s0..s12, p/b steps. */
  private lazy val bpeChainSql: String = {
    val steps = (1 to bpeN).map(bpeStepCtes).mkString(",\n")
    s"""wc AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |    FROM documents
       |  ) GROUP BY w
       |), s0 AS MATERIALIZED (
       |  SELECT w, freq,
       |    ' ' || array_to_string([w[i] for i in range(1, len(w) + 1)], '  ')
       |      || ' ' AS s
       |  FROM wc
       |),
       |$steps""".stripMargin
  }

  /** DuckDB twin of q86 — the q85 chain's FINAL word table applied to
    * documents by join, OOV words falling back to character sequences,
    * per-doc in-order reassembly.
    */
  private lazy val bpeEncodeOracle: String =
    "WITH " + bpeChainSql + ",\n" +
    s"""toks AS (
       |  SELECT doc_id, i - 1 AS pos, wa[i] AS word
       |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wa
       |        FROM documents), unnest(range(1, len(wa) + 1)) AS t(i)
       |), enc AS (
       |  SELECT t.doc_id, t.pos,
       |    coalesce(array_to_string(string_split(trim(sf.s), '  '), ' '),
       |      array_to_string([t.word[i] for i in range(1, len(t.word) + 1)], ' '))
       |      AS syms
       |  FROM toks t LEFT JOIN s$bpeN sf ON sf.w = t.word
       |)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(string_split(syms, ' '))) AS BIGINT) AS n_bpe_tokens,
       |  md5(array_to_string(list(syms ORDER BY pos), ' ')) AS toks_md5
       |FROM enc GROUP BY doc_id""".stripMargin

  /** DuckDB twin of q97 — the q58 boundary replay (same CDC rule: a chunk
    * starts at 0-based position i ≥ 1 iff md5 of the 3-gram at i begins
    * with '0') composed with the q86 encode (s12 word table, char-sequence
    * OOV fallback), aggregated per (doc, chunk) with in-order reassembly.
    */
  private lazy val bpeChunkEncodeOracle: String =
    "WITH " + bpeChainSql + ",\n" +
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
       |  FROM documents
       |), pos AS (
       |  SELECT doc_id, w, i FROM toks, unnest(range(0, len(w))) AS t(i)
       |), b AS (
       |  SELECT doc_id, i, w[i + 1] AS tok,
       |    CASE WHEN i >= 1 AND i + 3 <= len(w)
       |      AND substr(md5(array_to_string(w[i + 1 : i + 3], ' ')), 1, 1) = '0'
       |      THEN 1 ELSE 0 END AS bnd
       |  FROM pos
       |), seg AS (
       |  SELECT doc_id, i, tok,
       |    CAST(sum(bnd) OVER (PARTITION BY doc_id ORDER BY i) AS BIGINT)
       |      AS seg_id
       |  FROM b
       |), enc AS (
       |  SELECT g.doc_id, g.seg_id, g.i,
       |    coalesce(array_to_string(string_split(trim(sf.s), '  '), ' '),
       |      array_to_string([g.tok[j] for j in range(1, len(g.tok) + 1)], ' '))
       |      AS syms
       |  FROM seg g LEFT JOIN s$bpeN sf ON sf.w = g.tok
       |)
       |SELECT doc_id, seg_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(string_split(syms, ' '))) AS BIGINT) AS n_bpe_tokens,
       |  md5(array_to_string(list(syms ORDER BY i), ' ')) AS toks_md5
       |FROM enc GROUP BY doc_id, seg_id""".stripMargin

  /** One unrolled MMR greedy step: score the remaining candidates against
    * the already-picked set `p${i-1}` with the exact integer objective
    * (λe6 = 500000), pick the max (score desc, id asc), accumulate.
    */
  private def mmrStepCtes(i: Int): String =
    s"""st$i AS (
       |  SELECT c.id,
       |    CAST(500000 AS BIGINT) * c.rel_q - CAST(500000 AS BIGINT) *
       |      (SELECT max(s.sim_q) FROM simsym s
       |       WHERE s.a = c.id AND s.b IN (SELECT id FROM p${i - 1}))
       |      AS score_q
       |  FROM cand c WHERE c.id NOT IN (SELECT id FROM p${i - 1})
       |), s$i AS (
       |  SELECT id, $i AS mmr_rank, score_q FROM st$i
       |  ORDER BY score_q DESC, id ASC LIMIT 1
       |), p$i AS (
       |  SELECT * FROM p${i - 1} UNION ALL SELECT * FROM s$i
       |)""".stripMargin

  /** DuckDB twin of q101 — candidate top-20 by exact cosine to query 0,
    * N² quantized pairwise sims, then the 5 greedy picks unrolled
    * step-for-step (the bpe-oracle unrolling technique). Every compared
    * quantity is an exact BIGINT, so selection order replays identically.
    */
  private lazy val mmrOracle: String = {
    val dQQ = sqlListDot("qvec", "qvec")
    val dVV = sqlListDot("vec", "vec")
    val dQV = sqlListDot("qvec", "vec")
    val dXX = sqlListDot("x.vec", "x.vec")
    val dYY = sqlListDot("y.vec", "y.vec")
    val dXY = sqlListDot("x.vec", "y.vec")
    val steps = (2 to 5).map(mmrStepCtes).mkString(",\n")
    s"""WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
       |c0 AS (SELECT vec_id AS id, embedding AS vec FROM embeddings
       |       WHERE vec_id >= 10),
       |qscored AS (
       |  SELECT id, vec,
       |    CASE WHEN sqrt($dQQ) = 0 OR sqrt($dVV) = 0 THEN 0.0
       |         ELSE $dQV / (sqrt($dQQ) * sqrt($dVV)) END AS cos
       |  FROM c0, q
       |), cand AS MATERIALIZED (
       |  SELECT id, vec, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS rel_q
       |  FROM (SELECT id, vec, cos,
       |          row_number() OVER (ORDER BY cos DESC, id ASC) AS rnk
       |        FROM qscored)
       |  WHERE rnk <= 20
       |), sims AS MATERIALIZED (
       |  SELECT x.id AS a, y.id AS b,
       |    CAST(floor((CASE WHEN sqrt($dXX) = 0 OR sqrt($dYY) = 0 THEN 0.0
       |      ELSE $dXY / (sqrt($dXX) * sqrt($dYY)) END) * 1000000.0 + 0.5)
       |      AS BIGINT) AS sim_q
       |  FROM cand x, cand y WHERE x.id < y.id
       |), simsym AS (
       |  SELECT a, b, sim_q FROM sims
       |  UNION ALL SELECT b AS a, a AS b, sim_q FROM sims
       |), p1 AS (
       |  SELECT id, 1 AS mmr_rank, CAST(500000 AS BIGINT) * rel_q AS score_q
       |  FROM cand ORDER BY rel_q DESC, id ASC LIMIT 1
       |),
       |$steps
       |SELECT id, mmr_rank, score_q FROM p5""".stripMargin
  }

  /** DuckDB twin of q89 — the q15 probe/scan replay at each nprobe in
    * 1..4, per-nprobe hit counts against exact cosine top-5, means
    * stable-rounded over exact integers.
    */
  private lazy val ivfSweepOracle: String = {
    val dotQQc = sqlListDot("p.qvec", "p.qvec")
    val dotCC = sqlListDot("cent.cvec", "cent.cvec")
    val dotQC = sqlListDot("p.qvec", "cent.cvec")
    val dotQQ = sqlListDot("q.qvec", "q.qvec")
    val dotVV = sqlListDot("c.vec", "c.vec")
    val dotQV = sqlListDot("q.qvec", "c.vec")
    def perN(n: Int): String =
      s"""probed$n AS (
         |  SELECT qid, qvec, bucket FROM ranked WHERE crank <= $n
         |), top$n AS (
         |  SELECT qid, id FROM (
         |    SELECT q.qid, c.id,
         |      row_number() OVER (PARTITION BY q.qid ORDER BY
         |        CASE WHEN sqrt($dotQQ) = 0 OR sqrt($dotVV) = 0 THEN 0.0
         |             ELSE $dotQV / (sqrt($dotQQ) * sqrt($dotVV)) END DESC,
         |        c.id ASC) AS rank
         |    FROM c JOIN probed$n q ON c.bucket = q.bucket
         |  ) WHERE rank <= 5
         |), agg$n AS (
         |  SELECT $n AS nprobe,
         |    CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS hits,
         |    CAST(count(*) AS BIGINT) AS total
         |  FROM exact e
         |  LEFT JOIN top$n a ON a.qid = e.qid AND a.id = e.id
         |)""".stripMargin
    val ns = (1 to 4).map(perN).mkString(",\n")
    val unions = (1 to 4).map(n =>
      s"""SELECT nprobe, hits,
         |  CAST(floor(CAST(hits AS DOUBLE) / total * CAST(10000 AS DOUBLE)
         |    + 0.5) AS BIGINT) AS mean_recall_e4 FROM agg$n""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH q AS (
       |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |  WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS id, embedding AS vec, label AS bucket
       |  FROM embeddings WHERE vec_id >= 10
       |), cent AS (
       |  SELECT bucket, list(m ORDER BY pos) AS cvec FROM (
       |    SELECT bucket, pos, avg(CAST(vec[pos] AS DOUBLE)) AS m
       |    FROM c, unnest(range(1, len(vec) + 1)) AS t(pos)
       |    GROUP BY bucket, pos
       |  ) GROUP BY bucket
       |), ranked AS (
       |  SELECT p.qid, p.qvec, cent.bucket,
       |    row_number() OVER (PARTITION BY p.qid ORDER BY
       |      CASE WHEN sqrt($dotQQc) = 0 OR sqrt($dotCC) = 0 THEN 0.0
       |           ELSE $dotQC / (sqrt($dotQQc) * sqrt($dotCC)) END DESC,
       |      cent.bucket ASC) AS crank
       |  FROM q p, cent
       |), exact AS (
       |  SELECT qid, id FROM (
       |    SELECT q.qid, c.id,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        CASE WHEN sqrt($dotQQ) = 0 OR sqrt($dotVV) = 0 THEN 0.0
       |             ELSE $dotQV / (sqrt($dotQQ) * sqrt($dotVV)) END DESC,
       |        c.id ASC) AS rank
       |    FROM c, q
       |  ) WHERE rank <= 5
       |),
       |$ns
       |$unions""".stripMargin
  }

  /** DuckDB twin of q88 — the q14 exact-cosine top-5 joined against the
    * full q77 IVFADC replay (nested WITH subquery), per-query hit counts
    * stable-rounded. Assembled by concatenation: both parts are already
    * final SQL text.
    */
  private lazy val annRecallOracle: String = {
    val exactSql =
      s"""  SELECT qid, id FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY d ASC, id ASC) AS rank
         |    FROM (
         |      SELECT q.qid, c.id, ${pqSqd("q.qqv", "c.cqv")} AS d
         |      FROM (SELECT vec_id AS id, list_transform(embedding,
         |              x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS cqv
         |            FROM embeddings WHERE vec_id >= 10) c,
         |           (SELECT vec_id AS qid, list_transform(embedding,
         |              x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qqv
         |            FROM embeddings WHERE vec_id < 10) q
         |    )
         |  ) WHERE rank <= 5""".stripMargin
    val dotQQc = sqlListDot("p.qvec", "p.qvec")
    val dotCC = sqlListDot("cent.cvec", "cent.cvec")
    val dotQC = sqlListDot("p.qvec", "cent.cvec")
    val probedSql =
      s""", cq AS (
         |  SELECT vec_id AS qid, embedding AS qvec,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qqv
         |  FROM embeddings WHERE vec_id < 10
         |), cc AS (
         |  SELECT vec_id AS id, embedding AS vec, label AS bucket,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS cqv
         |  FROM embeddings WHERE vec_id >= 10
         |), cent AS (
         |  SELECT bucket, list(m ORDER BY pos) AS cvec FROM (
         |    SELECT bucket, pos, avg(CAST(vec[pos] AS DOUBLE)) AS m
         |    FROM cc, unnest(range(1, len(vec) + 1)) AS t(pos)
         |    GROUP BY bucket, pos
         |  ) GROUP BY bucket
         |), probed AS (
         |  SELECT qid, qqv, bucket FROM (
         |    SELECT p.qid, p.qqv, cent.bucket,
         |      row_number() OVER (PARTITION BY p.qid ORDER BY
         |        CASE WHEN sqrt($dotQQc) = 0 OR sqrt($dotCC) = 0 THEN 0.0
         |             ELSE $dotQC / (sqrt($dotQQc) * sqrt($dotCC)) END DESC,
         |        cent.bucket ASC) AS crank
         |    FROM cq p, cent
         |  ) WHERE crank <= 3
         |), exactp AS (
         |  SELECT qid, id FROM (
         |    SELECT p.qid, c.id,
         |      row_number() OVER (PARTITION BY p.qid
         |        ORDER BY ${pqSqd("p.qqv", "c.cqv")} ASC, c.id ASC) AS rank
         |    FROM probed p JOIN cc c ON c.bucket = p.bucket
         |  ) WHERE rank <= 5
         |)""".stripMargin
    "WITH exact AS (\n" + exactSql + "\n), approx AS (\n  FROM (\n" +
      ivfPqOracle + "\n  )\n)" + probedSql + "\n" +
      """, g AS (
        |  SELECT e.qid,
        |    CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits,
        |    CAST(floor(
        |      CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) * CAST(10000 AS DOUBLE) + 0.5) AS BIGINT) AS recall_e4
        |  FROM exact e LEFT JOIN approx a ON a.qid = e.qid AND a.id = e.id
        |  GROUP BY e.qid
        |), pr AS (
        |  SELECT e.qid,
        |    CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hits_probed,
        |    CAST(floor(
        |      CAST(sum(CASE WHEN a.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
        |      / count(*) * CAST(10000 AS DOUBLE) + 0.5) AS BIGINT)
        |      AS recall_probed_e4
        |  FROM exactp e LEFT JOIN approx a ON a.qid = e.qid AND a.id = e.id
        |  GROUP BY e.qid
        |)
        |SELECT g.qid, g.n_hits, g.recall_e4, pr.n_hits_probed,
        |  pr.recall_probed_e4
        |FROM g JOIN pr USING (qid)""".stripMargin
  }

  /** DuckDB twin of q83 — the kmeansOracle Lloyd chain fit on the
    * UNplanted base, quantized-L2 assignment of the planted corpus to the
    * final codebook, then semanticDedupOracle's per-cell cosine pairs +
    * recursive components verbatim.
    */
  private lazy val kmeansSemanticOracle: String = {
    val k = 8
    val iters = 2
    def sqd(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT id, qv, cid FROM (
         |    SELECT q.id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY ${sqd("q.qv", "c.cvec")} ASC, c.cid ASC) AS r
         |    FROM bqv q CROSS JOIN $cents c
         |  ) WHERE r = 1
         |)""".stripMargin
    def updateCte(assigned: String, prev: String, next: String): String =
      s"""$next AS (
         |  SELECT c.cid, coalesce(n.cvec, c.cvec) AS cvec
         |  FROM $prev c LEFT JOIN (
         |    SELECT cid, list(v ORDER BY pos) AS cvec FROM (
         |      SELECT cid, pos,
         |        CAST(floor(CAST(CAST(sum(qv[pos]) AS BIGINT) AS DOUBLE)
         |          / count(*)) AS BIGINT) AS v
         |      FROM $assigned, unnest(range(1, len(qv) + 1)) AS t(pos)
         |      GROUP BY cid, pos
         |    ) GROUP BY cid
         |  ) n ON c.cid = n.cid
         |)""".stripMargin
    val steps = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + updateCte(s"a$i", s"c${i - 1}", s"c$i")
    }.mkString(",\n")
    val dotAA = sqlListDot("a.vec", "a.vec")
    val dotBB = sqlListDot("b.vec", "b.vec")
    val dotAB = sqlListDot("a.vec", "b.vec")
    s"""WITH RECURSIVE base AS (
       |  SELECT vec_id AS id, embedding AS vec FROM embeddings
       |), planted AS (
       |  SELECT id + 1000000 AS id,
       |    list_transform(vec, x -> CAST(x * 2 AS FLOAT)) AS vec
       |  FROM base WHERE id < 25
       |), corpus AS (
       |  SELECT id, vec FROM base UNION ALL SELECT id, vec FROM planted
       |), bqv AS (
       |  SELECT id, list_transform(vec,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM base
       |), c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
       |    qv AS cvec
       |  FROM (SELECT id, qv FROM bqv ORDER BY id LIMIT $k)
       |),
       |$steps,
       |assigned AS (
       |  SELECT id, vec, cluster FROM (
       |    SELECT c.id, c.vec, ct.cid AS cluster,
       |      row_number() OVER (PARTITION BY c.id ORDER BY
       |        ${sqd("cqv.qv", "ct.cvec")} ASC, ct.cid ASC) AS r
       |    FROM corpus c
       |    JOIN (SELECT id, list_transform(vec,
       |            x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |          FROM corpus) cqv ON cqv.id = c.id
       |    CROSS JOIN c$iters ct
       |  ) WHERE r = 1
       |), pairs AS (
       |  SELECT a.id AS d1, b.id AS d2
       |  FROM assigned a JOIN assigned b
       |    ON a.cluster = b.cluster AND a.id < b.id
       |  WHERE CASE WHEN sqrt($dotAA) = 0 OR sqrt($dotBB) = 0 THEN 0.0
       |             ELSE $dotAB / (sqrt($dotAA) * sqrt($dotBB)) END >= 0.95
       |), edges AS (SELECT d1 AS src, d2 AS dst FROM pairs
       |             UNION ALL SELECT d2, d1 FROM pairs),
       |reach(id, lab) AS (
       |  SELECT id, id FROM corpus
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
       |)
       |SELECT a.id, CAST(a.cluster AS INT) AS cluster, r.rep,
       |  (a.id <> r.rep) AS is_dup
       |FROM assigned a
       |JOIN (SELECT id, min(lab) AS rep FROM reach GROUP BY id) r USING (id)"""
      .stripMargin
  }

  /** DuckDB twin of q72 — Lloyd's k-means unrolled iteration by iteration.
    * Every step is exact integer arithmetic on the same floor(x·10⁴)
    * quantization the Spark side uses, so the replay is bit-exact: same
    * init (k smallest vec_ids, cid = id-order rank), same argmin tiebreak
    * (dist ASC, cid ASC), same floor(sum/count) centroid update, same
    * emptied-cluster carry-forward (LEFT JOIN + coalesce).
    */
  /** Shared by q90 (one-shot fitSketch) and q112 (the at-rest model):
    * the same integer log-bucketing + strictly-smaller CDF replay —
    * equality of the two gates proves the at-rest commit/fold chain
    * reconstructs the one-shot model exactly.
    */
  private val driftOracle: String =
      """WITH docs AS (
        |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v
        |  FROM documents
        |), ms AS (SELECT min(source) AS s FROM documents),
        |bref AS (
        |  SELECT source,
        |    CAST(sign(v) AS BIGINT) * ((abs(v) >> sh) << sh) AS bucket,
        |    count(*) AS ra
        |  FROM (SELECT *, greatest(0, length(bin(abs(v))) - 4) AS sh
        |        FROM docs)
        |  GROUP BY 1, 2
        |), bat0 AS (
        |  SELECT source,
        |    CASE WHEN source = (SELECT s FROM ms) THEN v * 2 ELSE v END AS v
        |  FROM docs WHERE doc_id % 3 = 0
        |), bbat AS (
        |  SELECT source,
        |    CAST(sign(v) AS BIGINT) * ((abs(v) >> sh) << sh) AS bucket,
        |    count(*) AS rb
        |  FROM (SELECT *, greatest(0, length(bin(abs(v))) - 4) AS sh
        |        FROM bat0)
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT source, bucket, coalesce(ra, 0) AS ra, coalesce(rb, 0) AS rb
        |  FROM bref FULL OUTER JOIN bbat USING (source, bucket)
        |), t AS (
        |  SELECT source, sum(ra) AS ta, sum(rb) AS tb,
        |    CAST(count(*) AS BIGINT) AS nb
        |  FROM j GROUP BY 1
        |)
        |SELECT j.source,
        |  CAST(sum(abs((j.ra + 1) * (t.tb + t.nb)
        |              - (j.rb + 1) * (t.ta + t.nb))) AS BIGINT) AS tv_num,
        |  CAST(2 * (max(t.ta) + max(t.nb)) * (max(t.tb) + max(t.nb))
        |    AS BIGINT) AS tv_den,
        |  max(t.nb) AS n_buckets,
        |  4 * CAST(sum(abs((j.ra + 1) * (t.tb + t.nb)
        |                 - (j.rb + 1) * (t.ta + t.nb))) AS BIGINT)
        |    > CAST(2 * (max(t.ta) + max(t.nb)) * (max(t.tb) + max(t.nb))
        |        AS BIGINT) AS drifted
        |FROM j JOIN t USING (source)
        |GROUP BY 1""".stripMargin

  private val sketchPercentileOracle: String =
    """WITH base AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
      |      * 1000000 // n_chars AS density_e6
      |  FROM documents WHERE n_chars > 0
      |), cut AS (
      |  SELECT CAST(max(doc_id) // 2 AS BIGINT) AS c FROM base
      |), bkt AS (
      |  SELECT doc_id, source, density_e6,
      |    CAST(sign(density_e6) AS BIGINT)
      |      * ((abs(density_e6) >> sh) << sh) AS b
      |  FROM (SELECT *,
      |          greatest(0, length(bin(abs(density_e6))) - 8) AS sh
      |        FROM base)
      |), ref AS (
      |  SELECT source, b FROM bkt, cut WHERE doc_id <= c
      |), arr AS (
      |  SELECT doc_id, source, density_e6, b FROM bkt, cut WHERE doc_id > c
      |), n AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM ref GROUP BY source
      |)
      |SELECT a.doc_id, a.source, a.density_e6,
      |  CAST(floor(
      |    CAST((SELECT count(*) FROM ref r
      |          WHERE r.source = a.source AND r.b < a.b) AS DOUBLE)
      |    / n.n * CAST(10000 AS DOUBLE) + 0.5) AS BIGINT) AS pct_e4
      |FROM arr a JOIN n USING (source)""".stripMargin

  private lazy val kmeansOracle: String = {
    val k = 8
    val iters = 3
    def sqd(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT id, qv, cid FROM (
         |    SELECT q.id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY ${sqd("q.qv", "c.cvec")} ASC, c.cid ASC) AS r
         |    FROM qv q CROSS JOIN $cents c
         |  ) WHERE r = 1
         |)""".stripMargin
    def updateCte(assigned: String, prev: String, next: String): String =
      s"""$next AS (
         |  SELECT c.cid, coalesce(n.cvec, c.cvec) AS cvec
         |  FROM $prev c LEFT JOIN (
         |    SELECT cid, list(v ORDER BY pos) AS cvec FROM (
         |      SELECT cid, pos,
         |        CAST(floor(CAST(CAST(sum(qv[pos]) AS BIGINT) AS DOUBLE)
         |          / count(*)) AS BIGINT) AS v
         |      FROM $assigned, unnest(range(1, len(qv) + 1)) AS t(pos)
         |      GROUP BY cid, pos
         |    ) GROUP BY cid
         |  ) n ON c.cid = n.cid
         |)""".stripMargin
    val steps = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + updateCte(s"a$i", s"c${i - 1}", s"c$i")
    }.mkString(",\n")
    s"""WITH qv AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INT) AS cid,
       |    qv AS cvec
       |  FROM (SELECT id, qv FROM qv ORDER BY id LIMIT $k)
       |),
       |$steps
       |SELECT id AS vec_id, CAST(cid AS INT) AS cluster,
       |  CAST(d AS BIGINT) AS dist
       |FROM (
       |  SELECT q.id, c.cid, ${sqd("q.qv", "c.cvec")} AS d,
       |    row_number() OVER (PARTITION BY q.id
       |      ORDER BY ${sqd("q.qv", "c.cvec")} ASC, c.cid ASC) AS r
       |  FROM qv q CROSS JOIN c$iters c
       |) WHERE r = 1""".stripMargin
  }

  /** DuckDB twin of q75 — per-subspace Lloyd (the kmeansOracle chain with
    * subspace `s` as an extra key throughout), then encode + ADC replayed
    * exactly: same init (k smallest corpus ids' subvectors), same argmin
    * tiebreaks, same floor(sum/count) updates, ADC distance = the exact
    * BIGINT sum of per-subspace squared L2 to the coded centroids.
    */
  private val pqM = 4; private val pqDsub = 16; private val pqK = 8
  private val pqIters = 2; private val pqTopk = 5

  private def pqSqd(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** The shared q75/q77 CTE chain: quantized subvectors, per-subspace
    * Lloyd (the kmeansOracle chain with subspace `s` as an extra key
    * throughout) trained on the bounded `id % p == 0` sample
    * (`p = ceil(n/$PqTrainCap)` — the [[PqTrainCap]] rule, replayed here
    * from the corpus count), and the PQ encoding of the FULL corpus —
    * ending with `enc` (id, s, cid) and the final codebook `c<iters>`.
    */
  private lazy val pqChainCtes: String = {
    val (m, dsub, k, iters) = (pqM, pqDsub, pqK, pqIters)
    def assignCte(name: String, cents: String): String =
      s"""$name AS (
         |  SELECT id, s, sv, cid FROM (
         |    SELECT q.id, q.s, q.sv, c.cid,
         |      row_number() OVER (PARTITION BY q.id, q.s
         |        ORDER BY ${pqSqd("q.sv", "c.cvec")} ASC, c.cid ASC) AS r
         |    FROM train q JOIN $cents c ON c.s = q.s
         |  ) WHERE r = 1
         |)""".stripMargin
    def updateCte(assigned: String, prev: String, next: String): String =
      s"""$next AS (
         |  SELECT c.s, c.cid, coalesce(n.cvec, c.cvec) AS cvec
         |  FROM $prev c LEFT JOIN (
         |    SELECT s, cid, list(v ORDER BY pos) AS cvec FROM (
         |      SELECT s, cid, pos,
         |        CAST(floor(CAST(CAST(sum(sv[pos]) AS BIGINT) AS DOUBLE)
         |          / count(*)) AS BIGINT) AS v
         |      FROM $assigned, unnest(range(1, len(sv) + 1)) AS t(pos)
         |      GROUP BY s, cid, pos
         |    ) GROUP BY s, cid
         |  ) n ON c.s = n.s AND c.cid = n.cid
         |)""".stripMargin
    val steps = (1 to iters).map { i =>
      assignCte(s"a$i", s"c${i - 1}") + ",\n" + updateCte(s"a$i", s"c${i - 1}", s"c$i")
    }.mkString(",\n")
    s"""qv AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding,
       |      x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), sub AS (
       |  SELECT id, s, qv[s*$dsub+1 : s*$dsub+$dsub] AS sv
       |  FROM qv, unnest(range(0, $m)) AS t(s) WHERE id >= 10
       |), qsub AS (
       |  SELECT id, s, qv[s*$dsub+1 : s*$dsub+$dsub] AS sv
       |  FROM qv, unnest(range(0, $m)) AS t(s) WHERE id < 10
       |), pr AS (
       |  SELECT (count(*) + ${PqTrainCap - 1}) // $PqTrainCap AS p
       |  FROM qv WHERE id >= 10
       |), train AS (
       |  SELECT * FROM sub
       |  WHERE ((((id % 2147483647) * 48271) % 2147483647) * 48271)
       |          % 2147483647 % (SELECT p FROM pr) = 0
       |), c0 AS (
       |  SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY id) - 1 AS INT) AS cid,
       |    sv AS cvec
       |  FROM train
       |  WHERE id IN (SELECT id FROM (SELECT DISTINCT id FROM train)
       |               ORDER BY id LIMIT $k)
       |),
       |$steps,
       |enc AS (
       |  SELECT id, s, cid FROM (
       |    SELECT q.id, q.s, c.cid,
       |      row_number() OVER (PARTITION BY q.id, q.s
       |        ORDER BY ${pqSqd("q.sv", "c.cvec")} ASC, c.cid ASC) AS r
       |    FROM sub q JOIN c$iters c ON c.s = q.s
       |  ) WHERE r = 1
       |)""".stripMargin
  }

  private lazy val pqOracle: String =
    s"""WITH $pqChainCtes, ad AS (
       |  SELECT q.id AS qid, e.id AS id,
       |    CAST(sum(${pqSqd("q.sv", "c.cvec")}) AS BIGINT) AS adist
       |  FROM qsub q
       |  JOIN enc e ON e.s = q.s
       |  JOIN c$pqIters c ON c.s = e.s AND c.cid = e.cid
       |  GROUP BY q.id, e.id
       |)
       |SELECT qid, id, adist, CAST(r AS INT) AS rank FROM (
       |  SELECT qid, id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, id ASC) AS r
       |  FROM ad
       |) WHERE r <= $pqTopk""".stripMargin

  /** DuckDB twin of q77 — the q15/q34 coarse probe (float label-mean
    * centroids, (cos DESC, bucket ASC) ranking, nprobe=3) restricting the
    * q75 ADC scoring to probed buckets only.
    */
  private lazy val ivfPqOracle: String = {
    val dotQQc = sqlListDot("p.qvec", "p.qvec")
    val dotCC = sqlListDot("cent.cvec", "cent.cvec")
    val dotQC = sqlListDot("p.qvec", "cent.cvec")
    s"""WITH $pqChainCtes, q AS (
       |  SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10
       |), c AS (
       |  SELECT vec_id AS id, embedding AS vec, label AS bucket
       |  FROM embeddings WHERE vec_id >= 10
       |), cent AS (
       |  SELECT bucket, list(m ORDER BY pos) AS cvec FROM (
       |    SELECT bucket, pos, avg(CAST(vec[pos] AS DOUBLE)) AS m
       |    FROM c, unnest(range(1, len(vec) + 1)) AS t(pos)
       |    GROUP BY bucket, pos
       |  ) GROUP BY bucket
       |), probed AS (
       |  SELECT qid, bucket FROM (
       |    SELECT p.qid, cent.bucket,
       |      row_number() OVER (PARTITION BY p.qid ORDER BY
       |        CASE WHEN sqrt($dotQQc) = 0 OR sqrt($dotCC) = 0 THEN 0.0
       |             ELSE $dotQC / (sqrt($dotQQc) * sqrt($dotCC)) END DESC,
       |        cent.bucket ASC) AS crank
       |    FROM q p, cent
       |  ) WHERE crank <= 3
       |), ad AS (
       |  SELECT p.qid, e.id,
       |    CAST(sum(${pqSqd("qs.sv", "ct.cvec")}) AS BIGINT) AS adist
       |  FROM probed p
       |  JOIN c ON c.bucket = p.bucket
       |  JOIN enc e ON e.id = c.id
       |  JOIN qsub qs ON qs.id = p.qid AND qs.s = e.s
       |  JOIN c$pqIters ct ON ct.s = e.s AND ct.cid = e.cid
       |  GROUP BY p.qid, e.id
       |)
       |SELECT qid, id, adist, CAST(r AS INT) AS rank FROM (
       |  SELECT qid, id, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist ASC, id ASC) AS r
       |  FROM ad
       |) WHERE r <= $pqTopk""".stripMargin
  }

  /** In-order double dot product over two float-list columns (bit-identical
    * to Spark's `aggregate(zip_with(...))` left fold — verified).
    */
  private def sqlListDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def ngramJaccardOracle: String = oracleSqlQ11

  private val oracleSqlQ11: String = oracleSqlQ11From("documents")

  /** The exact-pair-set oracle (q11/q12/q13/q36/q104) over an arbitrary
    * relation — q106 runs it over the corpus ∪ planted arrivals union.
    */
  private def oracleSqlQ11From(rel: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
      |  FROM $rel
      |), tris AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
      |      ELSE [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w) - 1)]
      |      END) AS t
      |  FROM toks
      |), ex AS (
      |  SELECT doc_id, unnest(t) AS tri, len(t) AS n_sh FROM tris
      |), pairs AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter,
      |    any_value(a.n_sh) AS n1, any_value(b.n_sh) AS n2
      |  FROM ex a JOIN ex b ON a.tri = b.tri AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT d1, d2,
      |  floor(CAST(inter AS DOUBLE) / (n1 + n2 - inter) * 10000.0 + 0.5)
      |    / 10000.0 AS jaccard
      |FROM pairs
      |WHERE floor(CAST(inter AS DOUBLE) / (n1 + n2 - inter) * 10000.0 + 0.5)
      |    / 10000.0 >= 0.5""".stripMargin

  // The quality/langid oracle SQL is generated from the same stopword
  // tables as the Spark functions so the two can never drift.

  private def sqlTokens = "regexp_split_to_array(trim(text), '\\s+')"

  private def sqlStopHits(words: Seq[String]): String = {
    val arr = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($sqlTokens, w -> list_contains($arr, w)))"
  }

  private def qualityOracleSql: String = {
    val allStops = graft.functions.TextFunctions.stopwords.values.flatten.toSeq
    val hits = sqlStopHits(allStops)
    val nTok = s"len($sqlTokens)"
    val meanWl = s"(CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / $nTok)"
    // floor(x*10^4 + 0.5)/10^4 instead of round(): engine-native round()
    // diverges on exact half boundaries (see TextFunctions.qualityScore)
    s"""SELECT doc_id, floor((
       |  least(CAST(len(text) AS DOUBLE) / 200.0, 1.0) * 0.25
       |  + (CASE WHEN len(text) = 0 THEN 0.0
       |      ELSE CAST(len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / len(text) END) * 0.25
       |  + least((CASE WHEN $nTok = 0 THEN 0.0
       |      ELSE CAST($hits AS DOUBLE) / $nTok END) * 4.0, 1.0) * 0.25
       |  + (CASE WHEN $meanWl >= 3 AND $meanWl <= 10 THEN 1.0 ELSE 0.5 END) * 0.25
       |) * 10000.0 + 0.5) / 10000.0 AS quality
       |FROM documents""".stripMargin
  }

  private def langIdOracleSql: String = {
    val langs = graft.functions.TextFunctions.stopwords.keys.toSeq.sorted
    val hitExprs = langs.map(l =>
      l -> sqlStopHits(graft.functions.TextFunctions.stopwords(l)))
    val maxExpr = hitExprs.map { case (l, _) => s"h_$l" }
      .mkString("greatest(", ", ", ")")
    val hitCols = hitExprs.map { case (l, e) => s"$e AS h_$l" }.mkString(",\n    ")
    val pick = langs.reverse.foldLeft("'und'") { (acc, l) =>
      s"CASE WHEN h_$l = mx THEN '$l' ELSE $acc END"
    }
    val hNames = hitExprs.map { case (l, _) => s"h_$l" }.mkString(", ")
    s"""SELECT lang, guess, count(*) AS n FROM (
       |  SELECT lang, CASE WHEN mx = 0 THEN 'und' ELSE $pick END AS guess FROM (
       |    SELECT lang, $hNames, $maxExpr AS mx FROM (
       |      SELECT lang,
       |    $hitCols
       |      FROM documents))
       |) GROUP BY lang, guess""".stripMargin
  }
}
