package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Overlapping fixed-window document chunking — the context-window prep
  * stage of a training/retrieval pipeline (split every document into
  * `window`-token chunks advancing by `stride`, so consecutive chunks
  * share `window - stride` tokens of context). Distinct from q41/q49
  * packing, which concatenates whole documents INTO a budget; chunking
  * cuts single documents UP, preserving overlap so no training example
  * starts context-blind mid-document.
  *
  * Chunk `k` covers tokens `[k·stride + 1, k·stride + window]` (1-based,
  * truncated at the document end); the chunk count
  * `1 + max(0, ceil((n − window) / stride))` guarantees full coverage —
  * every token is in at least one chunk, and a document no longer than
  * `window` is exactly one chunk.
  *
  * Scale shape: entirely map-side — one `transform` over the word array
  * per document, no shuffle, no state; output rows ~ n_tokens/stride per
  * document. The md5 keys the chunk content so downstream exact-dedup of
  * chunks (the segment-level rule) composes directly.
  */
object Chunking {

  def chunkTokens(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int): DataFrame = {
    require(window >= 1, "window must be positive")
    require(stride >= 1 && stride <= window, "stride in [1, window]")
    docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("ws"))
      .select(col(idCol), posexplode(expr(
        s"""transform(
           |  sequence(0,
           |    greatest(int(ceil((size(ws) - $window) / ${stride}d)), 0)),
           |  k -> slice(ws, k * $stride + 1, $window))""".stripMargin))
        .as(Seq("k", "chunk")))
      .select(col(idCol),
        col("k").cast("long").as("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
  }

  /** Sentence-boundary-aware packing — the fidelity step after
    * [[chunkTokens]]: instead of cutting documents at arbitrary token
    * offsets (which starts training examples mid-sentence), cut ONLY at
    * sentence joints. Sentences (terminal `.`/`!`/`?` runs — the same
    * engine-stable proxy as the C4 rules) pack into `budget`-token
    * chunks under the q41 cumulative-bin rule at sentence granularity:
    * a sentence lands in bin `floor((cum − 1) / budget)` of its
    * document's running token sum, so sentences are NEVER split, bins
    * never exceed `budget` (a single over-budget sentence sits alone in
    * its bin), and assignment is a pure function of the document — no
    * cross-document state, replay-stable.
    *
    * Whitespace is normalized up front (`\s+` → single space, trim) so
    * sentence token counts and reassembled chunk text are canonical; the
    * `chunk_md5` keys the reassembled chunk (sentences joined in order)
    * for downstream chunk-level exact dedup, exactly like
    * [[chunkTokens]]'s.
    *
    * Scale shape: one map-side split/explode per document, ONE window
    * partitioned by doc_id (parallel across documents, no global sort),
    * one doc_id-keyed aggregation. Output rows ≈ n_tokens/budget per
    * document.
    *
    * Streaming output ≡ batch output on the same documents however files
    * split into micro-batches; the per-doc window (not a time window)
    * keeps a streaming use inside `foreachBatch`.
    */
  def sentencePack(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      budget: Long): DataFrame = {
    require(budget >= 1, "budget must be positive")
    import org.apache.spark.sql.expressions.Window
    val sents = docs
      .select(col(idCol),
        posexplode(split(trim(regexp_replace(col(textCol), "\\s+", " ")),
          "[.!?]+")).as(Seq("idx", "sent")))
      .select(col(idCol), col("idx").cast("long").as("idx"),
        trim(col("sent")).as("sent"))
      .filter(length(col("sent")) > 0)
      .withColumn("n_tokens", size(split(col("sent"), "\\s+")).cast("long"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("idx").asc)
    sents
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("chunk",
        // integer `div`, not double `/`+floor: the bin rule stays a pure
        // ring op, exact on the whole long domain (the house discipline —
        // float division is only exact below 2^53)
        expr(s"greatest(cum - 1, 0) div $budget"))
      .groupBy(col(idCol), col("chunk"))
      .agg(
        count(lit(1)).as("n_sentences"),
        sum(col("n_tokens")).as("tok_sum"),
        min(col("idx")).as("first_sent"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("idx"), col("sent")))),
            x => x.getField("sent")), " ")).as("chunk_md5"))
  }

  /** Content-defined chunking (rolling-hash CDC, the rsync/LBFS family):
    * chunk boundaries are placed where the hash of the local `k`-gram
    * matches a pattern, NOT at fixed offsets — so inserting a paragraph
    * shifts only the chunks it touches, and every downstream chunk
    * re-aligns byte-identically. Fixed-window chunking ([[chunkTokens]])
    * invalidates every chunk after an edit; CDC is what makes chunk-level
    * exact dedup robust to insertions, which is why large-corpus dedup
    * systems key on it.
    *
    * Boundary rule: a new chunk starts at token position `i ≥ 1` iff
    * `md5(gram(i..i+k−1))` begins with `boundaryHexPrefix` — one hex char
    * means P(boundary) = 1/16, so mean chunk length ≈ 16 tokens, and the
    * decision at position `i` depends ONLY on the `k` tokens at `i`
    * (content-defined: shift-invariant). md5-hex-prefix is the engine's
    * portable hash idiom (same rule as the samplers), so a SQL oracle
    * replays boundaries exactly.
    *
    * Scale shape: entirely map-side — boundary positions, chunk slicing
    * and chunk hashing are array expressions over one row; no shuffle, no
    * window, no state. Output rows ≈ n_tokens/16 per document.
    */
  def cdcChunks(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      boundaryHexPrefix: String = "0"): DataFrame =
    cdcSegments(docs, idCol, textCol, k, boundaryHexPrefix)
      .select(col(idCol),
        col("seg").cast("long").as("seg_id"),
        size(col("chunk")).cast("long").as("n_seg_tokens"),
        md5(array_join(col("chunk"), " ")).as("seg_md5"))

  /** [[cdcChunks]] keeping the chunk CONTENT, not just its hash —
    * `(id, seg_id, n_seg_tokens, seg_text)` — for stages that transform
    * the chunk text itself (chunk-level BPE encode, chunk embedding prep)
    * rather than dedup on it. Same boundary rule, same map-side shape;
    * `seg_text` is the single-space token join, so re-tokenizing it
    * reproduces the chunk's token sequence exactly.
    */
  def cdcChunkText(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      boundaryHexPrefix: String = "0"): DataFrame =
    cdcSegments(docs, idCol, textCol, k, boundaryHexPrefix)
      .select(col(idCol),
        col("seg").cast("long").as("seg_id"),
        size(col("chunk")).cast("long").as("n_seg_tokens"),
        array_join(col("chunk"), " ").as("seg_text"))

  /** Shared CDC segmentation: `(id, seg, chunk: array<string>)`. */
  private def cdcSegments(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      boundaryHexPrefix: String): DataFrame = {
    require(k >= 1, "k must be positive")
    require(boundaryHexPrefix.nonEmpty && boundaryHexPrefix.matches("[0-9a-f]+"),
      "boundaryHexPrefix must be lowercase hex")
    val p = boundaryHexPrefix
    docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("w"))
      // 0-based boundary positions: i in [1, n-k] where the k-gram at i
      // hash-matches (position 0 excluded — chunk 0 starts there anyway).
      // The sequence() is guarded: Spark's sequence(1, x) DESCENDS for
      // x < 1, so short docs must short-circuit to "no boundaries".
      .withColumn("starts", expr(
        s"""concat(array(0), IF(size(w) <= $k, array(),
           |  filter(transform(sequence(1, size(w) - $k), i ->
           |    IF(substring(md5(concat_ws(' ', slice(w, i + 1, $k))),
           |         1, ${p.length}) = '$p', i, -1)),
           |    x -> x >= 0)))""".stripMargin))
      .select(col(idCol), posexplode(expr(
        """transform(sequence(0, size(starts) - 1), j ->
          |  slice(w, element_at(starts, j + 1) + 1,
          |    IF(j + 2 <= size(starts), element_at(starts, j + 2), size(w))
          |      - element_at(starts, j + 1)))""".stripMargin))
        .as(Seq("seg", "chunk")))
  }

  /** Chunk-level exact dedup over the CDC chunks — the stage CDC chunking
    * exists FOR: because boundaries are content-defined, a re-crawled or
    * lightly edited document re-produces byte-identical chunks for all its
    * unchanged spans, and this operator drops every chunk whose content
    * already occurred earlier in the corpus (global first-occurrence rule,
    * ordered by `(doc_id, seg_id)` — deterministic under any
    * partitioning). Per-document audit: chunk/token counts kept vs total
    * and the kept-token fraction (engine-stable 1e-4 rounding — it is a
    * natural downstream threshold).
    *
    * Scale shape: [[cdcChunks]] is map-side; the first-occurrence rule is
    * ONE content-keyed shuffle (hash agg on `seg_md5`, map-side partial);
    * the winners table (one row per DISTINCT chunk) joins back on the
    * same key — co-partitioned with the agg, no extra exchange. Same
    * shape as segment dedup (q44), with insertion-robust boundaries.
    */
  def cdcChunkDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      boundaryHexPrefix: String = "0"): DataFrame = {
    val chunks = cdcChunks(docs, idCol, textCol, k, boundaryHexPrefix)
    chunkDedupAudit(chunks, idCol,
      chunkFirstOccurrence(chunks, idCol))
  }

  /** Distinct chunk contents with their global first occurrence — the
    * chunk-content INDEX the incremental (streaming) deduper classifies
    * arriving chunks against. Lexicographic min of (doc_id, seg_id) per
    * content — struct min gives exactly that ordering, deterministic
    * under any partitioning. One content-keyed shuffle.
    */
  def chunkFirstOccurrence(chunks: DataFrame, idCol: String): DataFrame =
    chunks
      .groupBy(col("seg_md5"))
      .agg(min(struct(col(idCol).as("d"), col("seg_id").as("s"))).as("f"))
      .select(col("seg_md5"),
        col("f.d").as("first_doc"), col("f.s").as("first_seg"))

  /** Per-document dedup audit of `chunks` against a chunk-content index
    * ([[chunkFirstOccurrence]] — in-batch, or FROZEN from the at-rest
    * corpus for incremental classification): a chunk is kept iff its
    * content is absent from the index (genuinely new) or this (doc, seg)
    * IS the recorded first occurrence (so replaying the corpus through a
    * frozen self-index reproduces the batch decisions exactly). The index
    * join is content-keyed — co-partitioned with the index's own
    * aggregation, never broadcast (the index is corpus-sized).
    */
  def chunkDedupAudit(
      chunks: DataFrame,
      idCol: String,
      index: DataFrame): DataFrame =
    chunks.join(index, Seq("seg_md5"), "left")
      .withColumn("kept",
        col("first_doc").isNull ||
          (col(idCol) === col("first_doc") && col("seg_id") === col("first_seg")))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_chunks"),
        sum(col("n_seg_tokens")).as("n_tokens"),
        sum(when(col("kept"), col("n_seg_tokens")).otherwise(0L))
          .as("n_kept_tokens"))
      // kept fraction in 1e-4 fixed point, computed entirely in the
      // integer ring (round-half-up = +n/2 before the div) — the engine's
      // cross-engine arithmetic rule: no double ever enters, so every
      // engine that can divide integers reproduces the value bit-exactly
      .withColumn("kept_frac_e4",
        expr("(n_kept_tokens * 10000 + n_tokens div 2) div n_tokens"))
}
