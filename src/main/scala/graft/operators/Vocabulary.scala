package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency-ranked vocabulary build — the tokenizer-training prep stage
  * (BPE/WordPiece corpora start from exactly this table): every distinct
  * word with its corpus count, frequency rank, and cumulative token
  * coverage (`coverage(rank) = fraction of all tokens covered by the top
  * `rank` words` — the curve that decides vocabulary size).
  *
  * The global rank (count desc, word asc) is built WITHOUT a global sort,
  * and — unlike a per-value window alone — without a skew cliff on the
  * long tail: real corpora put billions of words in the `cnt = 1` class,
  * so partitioning by count alone would sort the whole tail in one task.
  * Two-level construction:
  *
  *  1. micro-bucket = (cnt, first `bucketChars` chars of word): the
  *     coordination table of distinct (cnt, bucket) pairs is bounded by
  *     |distinct counts| × alphabet^bucketChars; prefix sums over it
  *     (ordered cnt desc, bucket asc) give each micro-bucket's starting
  *     rank and starting token-coverage;
  *  2. `row_number` within one micro-bucket (ordered word asc) finishes
  *     the rank. Prefix bucketing preserves lexicographic order across
  *     buckets (if `prefix(a) < prefix(b)` then `a < b`), so the
  *     composite order equals the flat `ORDER BY cnt DESC, word ASC`
  *     for ANY bucketChars — the parameter trades coordination-table
  *     size against tail parallelism without changing the output.
  *
  * `bucketChars` defaults to 2 (the [[Sampling.stableRank]] rule): at
  * corpus scale the `cnt = 1` tail is billions of unique words over only
  * ~dozens of active leading characters, so a 1-char bucket sorts
  * hundreds of millions of rows in ONE task; each extra prefix char
  * multiplies tail parallelism by the active alphabet (~30-50×).
  *
  * Within a micro-bucket every word has the SAME count, so the running
  * token sum needs no second window: `cum = tok_offset + rn · cnt`.
  * Coverage divides by an exact integer total (1-row broadcast).
  */
object Vocabulary {

  def frequencyRank(
      docs: DataFrame,
      textCol: String,
      bucketChars: Int = 2): DataFrame = {
    require(bucketChars >= 1, "bucketChars must be positive")
    // pinned: coord, tot, and the final join all consume wc — unpinned,
    // each would re-run the corpus tokenize+count (3 scans instead of 1)
    val wc = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("bucket", substring(col("word"), 1, bucketChars))
      .localCheckpoint()
    // bounded coordination table: distinct (cnt, bucket) pairs
    val w = Window.orderBy(col("cnt").desc, col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val coord = wc.groupBy(col("cnt"), col("bucket"))
      .agg(count(lit(1)).as("nw"))
      .withColumn("row_off", coalesce(sum(col("nw")).over(w), lit(0L)))
      .withColumn("tok_off",
        coalesce(sum(col("nw") * col("cnt")).over(w), lit(0L)))
      .select(col("cnt"), col("bucket"), col("row_off"), col("tok_off"))
    val tot = wc.agg(sum(col("cnt")).as("n_total"))
    val inBucket = Window.partitionBy(col("cnt"), col("bucket"))
      .orderBy(col("word").asc)
    wc.join(coord, Seq("cnt", "bucket"))
      .crossJoin(broadcast(tot)) // 1-row total — provably bounded
      .withColumn("rn", row_number().over(inBucket).cast("long"))
      .withColumn("rank", col("row_off") + col("rn"))
      .withColumn("coverage",
        floor((col("tok_off") + col("rn") * col("cnt")).cast("double")
          / col("n_total") * 10000.0 + 0.5) / 10000.0)
      .select(col("word"), col("cnt"), col("rank"), col("coverage"))
  }

  /** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
    * tokenizer TRAINING step between [[frequencyRank]] (vocab sizing) and
    * [[encodeWithVocab]] (apply): learn `nMerges` greedy merges over the
    * word-frequency table. Each step merges the most frequent adjacent
    * symbol pair (ties: left ASC, right ASC by code point — a total
    * order, so the merge sequence is engine-reproducible).
    *
    * The industrial-trainer scale shape (HF/SentencePiece trainers work
    * the same way): ONE corpus scan reduces 100 TB to the (word, freq)
    * table — vocabulary-sized, not corpus-sized — and merge learning is
    * an inherently SEQUENTIAL greedy loop over that bounded table, so it
    * runs driver-side in memory. The collect is bounded by word types —
    * the very same bound [[bpeEncode]]'s model join already assumes; a
    * 32k–50k-merge schedule is a tight in-memory loop (lazy-invalidation
    * priority queue + inverted pair→word index, Sennrich's own
    * `learn_bpe` structure), not 32k sequential Spark jobs of pure
    * scheduler overhead. [[bpeTrainDistributed]] keeps the all-engine
    * twin as the oracle the spec certifies this trainer against.
    *
    * Returns `(step, l, r, merged, cnt)` — the learned merge table, in
    * order. Stops early if no pair remains (every word fully merged).
    */
  /** The trainer's full result: the merge table AND the final
    * word → symbol-sequence table (`w, freq, s` — `s` sentinel-spaced),
    * which IS the tokenizer: encoding a document is a vocabulary join,
    * not a per-token merge replay.
    */
  final case class BpeModel(merges: DataFrame, words: DataFrame)

  def bpeTrain(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): BpeModel = {
    require(nMerges >= 1, "need at least one merge step")
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus scan → (word, freq); the collect is vocabulary-bounded
    // (word types, the bpeEncode model-join bound), not corpus-bounded.
    val wf: Array[(String, Long)] = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .as[(String, Long)].collect()
    val learned = BpeDriver.learn(wf, nMerges)
    BpeModel(
      learned.merges.toDF("step", "l", "r", "merged", "cnt")
        .orderBy(col("step")),
      learned.words.toDF("w", "freq", "s"))
  }

  /** All-engine BPE trainer — one distributed pair-count + top-1 per
    * merge step over the vocabulary table. Semantically identical to
    * [[bpeTrain]] (the spec certifies merge-for-merge equality); kept as
    * the ORACLE TWIN, not the production path: at a real 32k–50k merge
    * schedule this shape is 32k+ sequential Spark jobs over a
    * vocabulary-bounded table — pure scheduler overhead that the
    * driver-side loop avoids.
    *
    * Symbol sequences ride as DOUBLE-SPACE-delimited strings with
    * single sentinel spaces at the ends, so applying a merge is a single
    * non-overlapping left-to-right `replace(' a  b ', ' ab ')` — exactly
    * greedy BPE application, reproducible in any engine with ANSI
    * replace semantics. The double delimiter is load-bearing: with
    * single spaces, adjacent pair occurrences SHARE a delimiter char, so
    * `replace` (which resumes scanning after the consumed match) skips
    * every other occurrence of an even run — 'abab' would merge only its
    * first (a,b). With doubled delimiters, non-overlapping SYMBOL pairs
    * are non-overlapping STRING matches, and overlapping ones ('aaa')
    * still resolve greedily left-to-right.
    */
  def bpeTrainDistributed(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): BpeModel = {
    require(nMerges >= 1, "need at least one merge step")
    val spark = docs.sparkSession
    import spark.implicits._
    // one corpus scan; the result is vocabulary-sized and pinned
    var cur = docs
      .select(explode(split(trim(col(textCol)), "\\s+")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .withColumn("s",
        concat(lit(" "), array_join(split(col("w"), ""), "  "), lit(" ")))
      .select(col("w"), col("freq"), col("s"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = cur
        .withColumn("a", split(trim(col("s")), "  "))
        .filter(size(col("a")) >= 2)
        .select(col("freq"), explode(
          expr("transform(sequence(0, size(a) - 2), " +
            "j -> struct(a[j] as l, a[j + 1] as r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, cnt) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((step, l, r, l + r, cnt))
        cur = cur.withColumn("s",
          expr(s"replace(s, ${sqlStr(s" $l  $r ")}, ${sqlStr(s" $l$r ")})"))
          // pin each step: the table is tiny and the replace chain would
          // otherwise re-evaluate all previous steps per iteration
          .localCheckpoint()
        step += 1
      }
    }
    BpeModel(
      merges.toSeq.toDF("step", "l", "r", "merged", "cnt"),
      cur)
  }

  def bpeMerges(
      docs: DataFrame,
      textCol: String,
      nMerges: Int): DataFrame =
    bpeTrain(docs, textCol, nMerges).merges

  /** Encode documents under a FROZEN BPE model — the apply half of
    * [[bpeTrain]]: each word resolves its final symbol sequence through
    * the word table (the tokenizer IS that table — no per-token merge
    * replay at encode time, the trick subword tokenizers deploy as a
    * "fast" path), and the document's subword stream is reassembled in
    * token order. Out-of-vocabulary words (never seen at train time)
    * fall back to their raw character sequence — BPE's defining no-UNK
    * property, since every character is a base symbol.
    *
    * Output: `(id, n_words, n_bpe_tokens, toks_md5)` — `toks_md5` hashes
    * the space-joined subword stream (the q56 bounded-cell rule).
    *
    * Scale shape: one map-side posexplode, ONE vocabulary-keyed left
    * join (unhinted — vocabulary size is a user outcome), per-doc-local
    * in-order reassembly (the q79 machinery).
    *
    * Retraining per micro-batch would re-segment earlier documents (the
    * frozen-cuts rule), so streaming callers apply merges trained offline;
    * the character fallback means novel stream content never blocks on
    * the model.
    */
  def bpeEncode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: BpeModel): DataFrame =
    bpeEncodeKeyed(docs, Seq(idCol), textCol, model)

  /** [[bpeEncode]] under a COMPOSITE key — the chunk-granularity form
    * (`(doc_id, seg_id)`-keyed) shares this; the single-column public
    * signature delegates here. Same plan shape, the aggregation just
    * groups on every key column.
    */
  private def bpeEncodeKeyed(
      docs: DataFrame,
      idCols: Seq[String],
      textCol: String,
      model: BpeModel): DataFrame = {
    val keys = idCols.map(col)
    val toks = docs.select(keys :+
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")): _*)
    toks
      .join(model.words.select(col("w"), col("s")), Seq("w"), "left")
      .withColumn("syms",
        // normalize the double-space storage form to a single-space
        // subword stream; OOV words fall back to their char sequence
        when(col("s").isNotNull,
          array_join(split(trim(col("s")), "  "), " "))
          .otherwise(array_join(split(col("w"), ""), " ")))
      .groupBy(keys: _*)
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(split(col("syms"), " "))).as("n_bpe_tokens"),
        array_sort(collect_list(struct(col("pos"), col("syms")))).as("seq"))
      .withColumn("toks_md5",
        md5(array_join(
          transform(col("seq"), e => e.getField("syms")), " ")))
      .select(keys ++ Seq(col("n_words"), col("n_bpe_tokens"),
        col("toks_md5")): _*)
  }

  /** Chunk-granularity BPE encode — [[graft.operators.Chunking.cdcChunkText]]
    * composed with the frozen-model encoder, so each CONTENT-DEFINED chunk
    * lands with its own subword stream: the unit q41/q49 packing actually
    * consumes (packing whole documents wastes budget; packing CDC chunks
    * is insertion-robust AND budget-tight). Because CDC boundaries
    * partition the token sequence exactly (every token in exactly one
    * chunk), per-doc sums of `n_words`/`n_bpe_tokens` over chunks equal
    * the document-level [[bpeEncode]] counts — the conservation law the
    * q97 oracle and spec both pin.
    *
    * Output: `(id, seg_id, n_words, n_bpe_tokens, toks_md5)`.
    *
    * Scale shape: chunking is map-side ([[Chunking.cdcChunkText]]); the
    * encode is the [[bpeEncode]] plan keyed by `(id, seg_id)` — one
    * vocabulary-keyed left join, chunk-local reassembly. No new shuffle
    * class versus document-level encode (rows ≈ tokens either way).
    *
    * CDC boundaries depend only on the document's own tokens and the
    * model is frozen, so chunk identity is stable across replays and
    * across batches carrying edited re-crawls of the same document (the
    * CDC shift-invariance property).
    */
  def bpeEncodeChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: BpeModel,
      k: Int = 3,
      boundaryHexPrefix: String = "0"): DataFrame =
    bpeEncodeKeyed(
      Chunking.cdcChunkText(docs, idCol, textCol, k, boundaryHexPrefix),
      Seq(idCol, "seg_id"), "seg_text", model)

  private def sqlStr(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** In-memory greedy BPE learner over the collected (word, freq) table —
    * Sennrich's `learn_bpe` structure: a pair→count map, a pair→words
    * inverted index (only affected words are re-counted per merge), and
    * a lazy-invalidation priority queue (every count change pushes a new
    * entry; pops are discarded until the entry matches the live count).
    * Per merge the work is proportional to the words CONTAINING the
    * merged pair, not the vocabulary — the property that makes a
    * 32k-merge schedule tractable.
    *
    * Semantics mirror [[bpeTrainDistributed]] and the DuckDB oracle
    * exactly: pair counts weight every adjacent occurrence (overlapping
    * included — 'aaa' contributes (a,a) twice), merges apply greedy
    * left-to-right non-overlapping, ties break (cnt DESC, l ASC, r ASC)
    * by CODE POINT (= UTF-8 binary order, what Spark and DuckDB sort;
    * Java's UTF-16 compareTo would disagree above the BMP).
    */
  private[graft] object BpeDriver {
    import scala.collection.mutable

    final case class Learned(
        merges: Seq[(Int, String, String, String, Long)],
        words: Seq[(String, Long, String)])

    /** Code-point lexicographic compare — equals UTF-8 binary order. */
    private def cpCompare(x: String, y: String): Int = {
      var i = 0; var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i); val cy = y.codePointAt(j)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx); j += Character.charCount(cy)
      }
      Integer.compare(x.length - i, y.length - j)
    }

    def learn(wf: Array[(String, Long)], nMerges: Int): Learned = {
      // split matches the engine twin's split(w, '') — per UTF-16 unit;
      // fixtures are BMP text, and the spec gates twin equality
      val words: Array[Array[String]] =
        wf.map(_._1.split("").filter(_.nonEmpty))
      val freqs: Array[Long] = wf.map(_._2)

      val counts = mutable.HashMap.empty[(String, String), Long]
      val index = mutable.HashMap.empty[(String, String), mutable.BitSet]
      // max-heap: cnt DESC, then l ASC, r ASC (smaller string = higher)
      val ord = new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(a._1, b._1)
          if (c != 0) c
          else {
            val cl = cpCompare(b._2, a._2)
            if (cl != 0) cl else cpCompare(b._3, a._3)
          }
        }
      }
      val pq = mutable.PriorityQueue.empty[(Long, String, String)](ord)

      // add (sign=+1) or retract (sign=-1) one word's pair statistics
      def apply(wi: Int, sign: Long): Unit = {
        val syms = words(wi); val f = freqs(wi) * sign
        if (syms.length < 2) return
        val distinct = mutable.HashSet.empty[(String, String)]
        var j = 0
        while (j < syms.length - 1) {
          val p = (syms(j), syms(j + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          distinct += p
          j += 1
        }
        distinct.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c <= 0L) { counts.remove(p); index.remove(p) }
          else {
            pq.enqueue((c, p._1, p._2))
            if (sign > 0) index.getOrElseUpdate(p, mutable.BitSet.empty) += wi
            else index.get(p).foreach(_ -= wi)
          }
        }
      }

      def mergeInWord(syms: Array[String], l: String, r: String): Array[String] = {
        val out = mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2 // greedy left-to-right, non-overlapping
          } else { out += syms(i); i += 1 }
        }
        out.toArray
      }

      var wi = 0
      while (wi < words.length) { apply(wi, 1L); wi += 1 }

      val merges = mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
      var step = 1
      var done = false
      while (step <= nMerges && !done) {
        // pop stale entries until one matches its live count
        var best: (String, String) = null; var bc = 0L
        while (best == null && pq.nonEmpty) {
          val (c, l, r) = pq.dequeue()
          if (counts.getOrElse((l, r), 0L) == c) { best = (l, r); bc = c }
        }
        if (best == null) done = true
        else {
          merges += ((step, best._1, best._2, best._1 + best._2, bc))
          // only words containing the pair are touched (snapshot: apply mutates the index)
          val affected = index.getOrElse(best, mutable.BitSet.empty).toArray
          affected.foreach { w =>
            apply(w, -1L)
            words(w) = mergeInWord(words(w), best._1, best._2)
            apply(w, 1L)
          }
          counts.remove(best); index.remove(best)
          step += 1
        }
      }

      val finalWords = wf.indices.map { i =>
        (wf(i)._1, freqs(i), " " + words(i).mkString("  ") + " ")
      }
      Learned(merges.toSeq, finalWords)
    }
  }

  /** Encode documents under a FROZEN vocabulary — the apply half of the
    * tokenizer-prep pair (what a training job actually does with the
    * [[frequencyRank]] table after cutting it at V): each token maps to
    * `rank − 1` (ids 0..V−1 in frequency order) or to the UNK id `V`,
    * and each document lands with its id-sequence fingerprint and OOV
    * audit — the signal that tells you the vocabulary cut is too tight
    * BEFORE a training run tokenizes 100 TB.
    *
    * Output per document: `(id, n_tokens, n_oov, oov_rate, ids_md5)` —
    * `oov_rate` stable-rounded at 1e-4, `ids_md5` = md5 of the
    * space-joined id sequence in token order (the bounded proxy for the
    * encoded sequence, the q56 rule).
    *
    * Scale shape: one posexplode (map-side), ONE vocabulary-keyed
    * left join (the vocab table is user-cut to V rows but deliberately
    * unhinted — V is a user knob, not a bound we own; AQE dispatches),
    * one per-doc aggregation. The in-order reassembly is
    * `array_sort(collect_list(struct(pos, id)))` — per-doc local.
    *
    * Recutting the vocabulary per micro-batch would re-map ids
    * retroactively — the frozen-cuts rule of the mixture sampler.
    */
  def encodeWithVocab(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame, // word, rank (1-based, dense, ≤ V rows)
      vocabSize: Int): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "word")))
    toks
      .join(vocab.select(col("word"), (col("rank") - 1).as("tok_id")),
        Seq("word"), "left")
      .withColumn("tok_id",
        coalesce(col("tok_id"), lit(vocabSize.toLong))) // UNK = V
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("tok_id") === vocabSize.toLong, 1L).otherwise(0L))
          .as("n_oov"),
        array_sort(collect_list(struct(col("pos"), col("tok_id")))).as("seq"))
      .withColumn("oov_rate",
        floor(col("n_oov").cast("double") / col("n_tokens") * 10000.0 + 0.5)
          / 10000.0)
      .withColumn("ids_md5",
        md5(array_join(
          transform(col("seq"), e => e.getField("tok_id").cast("string")),
          " ")))
      .select(col(idCol), col("n_tokens"), col("n_oov"),
        col("oov_rate"), col("ids_md5"))
  }
}
