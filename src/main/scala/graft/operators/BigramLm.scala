package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.WordShinglesAll

/** Bigram language-model quality scoring — the CCNet/KenLM stage of a
  * training-data pipeline: fit an n-gram LM on a (reference) corpus, score
  * every document by its average per-transition log-likelihood, and gate /
  * stratify on the score. The reference engine
  * (`/root/reference/spark-job/read.py`) has no text scoring at all; this
  * extends the same train/apply shape as [[TfIdf]].
  *
  * Model: add-one-smoothed bigram conditionals over the corpus vocabulary,
  * `P(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)`. At apply time the two
  * counts resolve independently: an unseen bigram whose w1 WAS in the fit
  * vocabulary scores `1 / (c(w1) + V)` (the add-one conditional out of a
  * seen context), and only a transition whose w1 is itself unseen falls
  * to the uniform floor `1 / V` (both counts zero).
  *
  * Cross-engine determinism: each transition's `ln P` is quantized to
  * 1e-4 fixed-point (`floor(x·10⁴ + 0.5)` — ln() may differ in the last
  * ulp between libms, but a per-row rounded value survives, the q38
  * precedent), and the per-document aggregate is an exact BIGINT sum of
  * those quanta — never an order-dependent floating sum. The final average
  * divides two exact integers (one correctly-rounded IEEE op) and rounds
  * once more.
  *
  * Scale shape: fit = two explode → hash-agg passes (vocabulary-sized
  * tables, never broadcast-hinted — AQE size-dispatches); score = two
  * content-keyed equi-joins of the document transitions (bigram table for
  * c2, unigram table for c1) plus the per-doc aggregation. The only
  * broadcast is the 1-row vocabulary count.
  */
object BigramLm {

  /** Frozen model: `grams` = (gram, c2) and `unigrams` = (w1, c1) — both
    * vocabulary-sized, never broadcast — and the 1-row vocabulary count
    * `vocab` (v). Carrying the unigram table separately is what lets a
    * SEEN-w1 / unseen-bigram transition resolve `c(w1)` at apply time.
    */
  final case class Model(grams: DataFrame, unigrams: DataFrame, vocab: DataFrame)

  /** Fit the smoothed bigram table over a corpus: unigram counts, bigram
    * counts (via the native positional-shingle pass), and the vocabulary
    * size.
    */
  def fit(docs: DataFrame, textCol: String): Model = {
    val uni = docs
      .select(explode(tokens(col(textCol))).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val grams = docs
      .select(explode(WordShinglesAll(col(textCol), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("c2"))
    Model(grams, uni, uni.agg(count(lit(1)).as("v")))
  }

  /** Score documents under a frozen model:
    * `(id, n_transitions, avg_ll)` — one row per document; documents with
    * fewer than two tokens have no transition (`n_transitions = 0`,
    * `avg_ll = 0.0`).
    *
    * Streaming callers score arrivals against a model fit offline (or on
    * a reference corpus): a streaming-global LM would retroactively change
    * already-emitted scores with every batch, and CCNet scores against a
    * REFERENCE-corpus LM, not the corpus being filtered.
    */
  def scoreDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Model): DataFrame = {
    val occ = docs.select(col(idCol),
      explode(WordShinglesAll(col(textCol), 2)).as("gram"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    val scored = occ
      .join(model.grams, Seq("gram"), "left")    // vocabulary-sized: unhinted
      .join(model.unigrams, Seq("w1"), "left")   // c1 resolves for any SEEN w1
      .crossJoin(broadcast(model.vocab))
      .withColumn("llq",
        floor(log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")
          / (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          * 10000.0 + 0.5).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"), sum(col("llq")).as("ll_sum"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"),
        when(col("ll_sum").isNull, lit(0.0))
          .otherwise(
            floor(col("ll_sum").cast("double") / col("n_transitions") + 0.5)
              / 10000.0)
          .as("avg_ll"))
  }
}
