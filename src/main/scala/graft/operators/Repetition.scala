package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Repetition-based quality signals (the Gopher/MassiveText repetition
  * rules, Rae et al. 2021 §A1.1): heavily repetitive documents — boiler-
  * plate, keyword stuffing, generation loops — are the single biggest
  * class of low-quality training text that length/stopword heuristics
  * (q09) miss. Per document:
  *
  *  - `dup_word_frac`   — 1 − distinct/total words (Gopher's duplicate
  *    n-gram fraction at n=1)
  *  - `top_word_frac`   — share of the most frequent word
  *  - `top_bigram_frac` — share of words covered by the most frequent
  *    bigram (count·2 / n_words)
  *  - `is_repetitive`   — threshold flag on the ROUNDED fractions, so the
  *    cut is engine-reproducible (a raw-double comparison could flip on
  *    the last ulp between engines)
  *
  * Scale shape: two explode→hash-aggregate passes (words, bigrams), both
  * map-side partial-agg friendly, joined per-doc. Bigrams are built
  * map-side from the word array (`transform` over indices — no self-join,
  * no window over the corpus). All fractions use the engine-stable
  * `floor(x·10⁴ + 0.5)/10⁴` rounding shared with q09/q38.
  */
object Repetition {

  private def stable4(c: org.apache.spark.sql.Column) =
    floor(c * 10000.0 + 0.5) / 10000.0

  def signals(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dupWordMax: Double = 0.5,
      topBigramMax: Double = 0.18): DataFrame = {
    val ws = docs.select(col(idCol), split(trim(col(textCol)), "\\s+").as("ws"))
    val wordStats = ws
      .select(col(idCol), explode(col("ws")).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        max(col("cnt")).as("top_word_cnt"))
    val bigramStats = ws
      .select(col(idCol), explode(
        when(size(col("ws")) < 2, expr("array()").cast("array<string>"))
          .otherwise(expr(
            """transform(sequence(0, size(ws) - 2),
              |  i -> concat(element_at(ws, i + 1), ' ', element_at(ws, i + 2)))"""
              .stripMargin))).as("bg"))
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(max(col("cnt")).as("top_bigram_cnt"))
    wordStats
      .join(bigramStats, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_words"),
        stable4(lit(1.0) - col("n_distinct_words").cast("double") / col("n_words"))
          .as("dup_word_frac"),
        stable4(col("top_word_cnt").cast("double") / col("n_words"))
          .as("top_word_frac"),
        stable4(coalesce(col("top_bigram_cnt"), lit(0L)).cast("double") * 2.0
          / col("n_words")).as("top_bigram_frac"))
      .withColumn("is_repetitive",
        when(col("dup_word_frac") > dupWordMax
          || col("top_bigram_frac") > topBigramMax, 1).otherwise(0))
  }

  /** Character-level Shannon entropy per document (bits/char) — the
    * gibberish/binary-junk signal the word-level rules miss: natural text
    * sits ~4±1 bits/char, base64 blobs and key dumps near log₂(alphabet),
    * single-character spam near 0. Computed as
    * `H = log₂(n) − (Σ c·log₂(c)) / n` over per-character counts `c`.
    *
    * Cross-engine determinism (the q53 rule): each distinct character's
    * `c·log₂(c)` is quantized to 1e-4 fixed point and summed as an exact
    * BIGINT — never an order-dependent floating sum; `log₂(n)` is one
    * libm call per document, rounded away by the final 1e-4 rounding.
    *
    * Scale shape: one explode → two hash aggregations, both map-side
    * partial-agg friendly; per-doc fanout = text length (the same cost
    * any per-character scan pays), alphabet-bounded after the first agg.
    *
    * The aggregation is per document and a document arrives whole in one
    * micro-batch, so a streaming use needs no cross-batch state.
    */
  def charEntropy(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val log2e = 1.4426950408889634 // 1/ln(2): log2(x) = ln(x) * log2e
    def log2(c: org.apache.spark.sql.Column) = log(c) * log2e
    docs
      // native one-pass histogram: fanout = per-doc alphabet, not text
      // length (the per-character explode materialized one row per BYTE
      // of corpus text before the first aggregate), and the per-doc
      // (id, ch) pre-aggregation disappears entirely
      .select(col(idCol),
        explode(graft.functions.CharHist(col(textCol))).as("e"))
      .select(col(idCol), col("e.cnt").as("cnt"))
      .groupBy(col(idCol))
      .agg(
        sum(col("cnt")).as("n_chars"),
        sum(floor(col("cnt") * log2(col("cnt").cast("double")) * 10000.0 + 0.5)
          .cast("long")).as("sq"))
      .select(col(idCol), col("n_chars"),
        stable4(log2(col("n_chars").cast("double"))
          - col("sq").cast("double") / 10000.0 / col("n_chars"))
          .as("entropy"))
  }

  /** The COMPLETE Gopher repetition table (Rae et al. 2021, Table A1) —
    * [[signals]] covers the n=1 rows; this adds the published n-gram
    * family: for n ∈ {2,3,4} the fraction of characters contained in
    * the doc's MOST FREQUENT n-gram (occurrences × gram chars — the
    * paper's accounting; overlapping occurrences can exceed the doc, so
    * the e4 value caps at 10000), and for n ∈ {5..10} the fraction of
    * characters covered by ALL within-doc duplicated n-grams, with
    * overlapping spans UNION-counted (the q52 interval-union rule —
    * double-counting would let one repeated sentence saturate every n).
    * Characters = token characters (whitespace never counts, so the
    * signal is layout-invariant). All fractions land as e4 LONGs under
    * the engine-stable floor(x·10⁴+0.5).
    *
    * Scale shape: positional grams for all 9 n-values are map-side
    * native passes ([[graft.functions.WordShinglesAll]]) tagged with
    * their n and shuffled ONCE keyed (id, n, gram); the top-1 per
    * (id, n) is a struct-min aggregate (never a sort); dup-span unions
    * are per-(id, n) prefix-max windows over only duplicated
    * occurrences; covered positions cut-explode to exactly the covered
    * token count (≤ 6 · n_tokens rows) and join token lengths on
    * (id, pos). Nothing is quadratic in document or corpus size.
    *
    * Every signal is a WITHIN-document property, so the per-(id, n, gram)
    * shuffle is micro-batch-confined under streaming: no model, no
    * cross-batch state.
    */
  def gopherRepetition(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val topNs = Seq(2, 3, 4)
    val dupNs = Seq(5, 6, 7, 8, 9, 10)
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
    val toks = base
      .select(col("id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "w")))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"),
        length(col("w")).cast("long").as("wlen"))
    val totals = toks.groupBy(col("id")).agg(
      count(lit(1)).as("n_tokens"),
      sum(col("wlen")).as("total_chars"))
    def occFor(ns: Seq[Int]): DataFrame = ns.map { n =>
      base.select(col("id"), lit(n).as("n"),
        posexplode(graft.functions.WordShinglesAll(col("text"), n))
          .as(Seq("p", "gram")))
        .select(col("id"), col("n"),
          (col("p") + 1).cast("long").as("start"), col("gram"))
    }.reduce(_ unionByName _)
    // ---- top n-gram char fraction (n = 2..4) ---------------------------
    val topFracs = occFor(topNs)
      .groupBy(col("id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      // top-1 by (cnt desc, gram asc) as a struct-min — no per-doc sort
      .groupBy(col("id"), col("n"))
      .agg(min(struct((-col("cnt")).as("negc"), col("gram"))).as("top"))
      .select(col("id"), col("n"),
        ((-col("top.negc")) *
          (length(col("top.gram")) - (col("n") - 1))).as("top_chars"))
    // ---- duplicated n-gram union coverage (n = 5..10) ------------------
    val occD = occFor(dupNs)
    val dupOcc = occD
      .withColumn("reps",
        count(lit(1)).over(Window.partitionBy(col("id"), col("n"), col("gram"))))
      .filter(col("reps") >= 2)
      .select(col("id"), col("n"), col("start"),
        (col("start") + col("n") - 1).cast("long").as("end"))
    val wPrev = Window.partitionBy(col("id"), col("n")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = dupOcc
      .withColumn("prev_end", coalesce(max(col("end")).over(wPrev), lit(0L)))
      .withColumn("from", greatest(col("start"), col("prev_end") + 1))
      .filter(col("from") <= col("end"))
      // cut-explode: exactly the newly-covered positions, never occurrence
      // fanout (the q68 rule)
      .select(col("id"), col("n"),
        explode(expr("sequence(from, end)")).as("pos"))
    val dupChars = covered
      .join(toks, Seq("id", "pos"))
      .groupBy(col("id"), col("n"))
      .agg(sum(col("wlen")).as("dup_chars"))
    // ---- assemble: fixed-n pivots, one left join each ------------------
    def e4(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      least(lit(10000L), floor(x * 10000.0 + 0.5).cast("long"))
    val topAggs = topNs.map(n =>
      sum(when(col("n") === n, col("top_chars"))).as(s"top${n}_chars"))
    val topPivot = topFracs.groupBy(col("id"))
      .agg(topAggs.head, topAggs.tail: _*)
    val dupAggs = dupNs.map(n =>
      sum(when(col("n") === n, col("dup_chars"))).as(s"dup${n}_chars"))
    val dupPivot = dupChars.groupBy(col("id"))
      .agg(dupAggs.head, dupAggs.tail: _*)
    // greatest(·,1): a zero-char doc (empty text tokenizes to one
    // zero-length token) must read 0 everywhere, not NaN — the q102 rule
    val outCols =
      topNs.map(n => e4(coalesce(col(s"top${n}_chars"), lit(0L)).cast("double")
        / greatest(col("total_chars"), lit(1L))).as(s"top${n}_e4")) ++
      dupNs.map(n => e4(coalesce(col(s"dup${n}_chars"), lit(0L)).cast("double")
        / greatest(col("total_chars"), lit(1L))).as(s"dup${n}_e4"))
    totals
      .join(topPivot, Seq("id"), "left")
      .join(dupPivot, Seq("id"), "left")
      .select(col("id") +: col("n_tokens") +: col("total_chars") +: outCols: _*)
  }

  /** Per-SOURCE lexical diversity — the corpus-level "distinct-n" report
    * mixture planners read next to size stats: a source whose trigram
    * diversity collapses (template farms, rotated spam, SEO chaff) is
    * over-weighted by raw token count and needs down-mixing long before
    * any per-document filter fires ([[signals]] is the per-doc form;
    * this is its corpus marginal). Emits, per source:
    * `(n_docs, n_tokens, n_distinct_tokens, ttr_e4, n_trigrams,
    * n_distinct_trigrams, tri_e4)` — type-token ratio and distinct-
    * trigram ratio in the engine-stable `floor(x·10⁴+0.5)` fixed point.
    *
    * Scale shape: tokens and trigrams are map-side explodes; each
    * distinct count is a two-phase aggregate keyed by (source, gram) —
    * identical grams co-locate, partial counts combine map-side, and no
    * per-source window ever sorts a source's whole token stream. The
    * three aggregates join on source (a source-count-sized table).
    */
  def sourceDiversity(
      docs: DataFrame,
      srcCol: String,
      textCol: String): DataFrame = {
    val toks = docs.select(col(srcCol).as("src"),
      split(trim(col(textCol)), "\\s+").as("ws"))
    val words = toks.select(col("src"), explode(col("ws")).as("w"))
    val tris = toks
      .filter(size(col("ws")) >= 3)
      .select(col("src"), explode(expr(
        "transform(sequence(0, size(ws) - 3), " +
          "i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))")).as("g"))
    val base = docs.groupBy(col(srcCol).as("src"))
      .agg(count(lit(1)).as("n_docs"))
    val wStats = words.groupBy(col("src")).agg(
      count(lit(1)).as("n_tokens"),
      countDistinct(col("w")).as("n_distinct_tokens"))
    val tStats = tris.groupBy(col("src")).agg(
      count(lit(1)).as("n_trigrams"),
      countDistinct(col("g")).as("n_distinct_trigrams"))
    // tStats joins LEFT: a source whose every document is under 3 tokens
    // has no trigram rows, and an inner join would silently drop the
    // whole source from the report — a mixture planner reading it would
    // lose the source entirely. Absent trigram stats read as 0 (the
    // q102/q111 zero-guard convention), never null, never a missing row.
    base.join(wStats, Seq("src"))
      .join(tStats, Seq("src"), "left")
      .withColumn("n_trigrams", coalesce(col("n_trigrams"), lit(0L)))
      .withColumn("n_distinct_trigrams",
        coalesce(col("n_distinct_trigrams"), lit(0L)))
      .withColumn("ttr_e4",
        floor(col("n_distinct_tokens").cast("double")
          / col("n_tokens") * 10000.0 + 0.5).cast("long"))
      .withColumn("tri_e4",
        floor(col("n_distinct_trigrams").cast("double")
          / greatest(col("n_trigrams"), lit(1L)) * 10000.0 + 0.5).cast("long"))
      .select(col("src").as(srcCol), col("n_docs"), col("n_tokens"),
        col("n_distinct_tokens"), col("ttr_e4"), col("n_trigrams"),
        col("n_distinct_trigrams"), col("tri_e4"))
  }
}
