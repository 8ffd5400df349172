package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.functions.WordShinglesAll

/** Naive-Bayes bigram text classifier — the CCNet/fastText-style
  * quality/domain gate of a training-data pipeline: fit per-class bigram
  * statistics on a labeled reference corpus, then score every document
  * under each class and keep the argmax. The reference engine
  * (`/root/reference/spark-job/read.py`) has no text classification; this
  * generalizes [[BigramLm]]'s train/apply machinery from one corpus-wide
  * model to one model per label.
  *
  * Model: per class `c`, add-one-smoothed bigram conditionals
  * `P(w2 | w1, c) = (c_c(w1 w2) + 1) / (c_c(w1) + V)` with V = the GLOBAL
  * fit vocabulary (shared across classes so scores are comparable), plus
  * the class prior `P(c) = n_docs_c / n_docs`. A document's class score is
  * `ln P(c) + Σ ln P(w2|w1,c)` over its transitions; prediction is the
  * max score with the deterministic `label ASC` tiebreak.
  *
  * Cross-engine determinism (the q53 rule): every `ln` is quantized to
  * 1e-4 fixed point (`floor(x·10⁴ + 0.5)` BIGINT) BEFORE summation, so
  * the per-(doc, class) score is an exact integer sum — never an
  * order-dependent floating sum — and the argmax compares exact integers.
  *
  * Scale shape: fit = two explode → hash-agg passes keyed by
  * (label, gram) / (label, w1) — model tables are vocabulary-sized per
  * class, never broadcast-hinted. Score = the per-transition fanout is
  * transitions × |classes| (the label cross join broadcasts only the
  * bounded label list — a model property, like an IVF codebook), two
  * content-keyed equi-joins resolve the counts, and one hash aggregation
  * per (doc, class) feeds a per-doc argmax window. Nothing is quadratic
  * in corpus size; |classes| is the only multiplier.
  */
object NbClassifier {

  /** Frozen model. `grams` = (label, gram, c2); `unigrams` =
    * (label, w1, c1); `priors` = (label, lp_q) with the quantized
    * ln-prior; `labels` = the bounded class list; `vocab` = 1-row global
    * vocabulary size.
    */
  final case class Model(
      grams: DataFrame,
      unigrams: DataFrame,
      priors: DataFrame,
      labels: DataFrame,
      vocab: DataFrame)

  /** Fit per-class counts + priors over a labeled corpus. */
  def fit(docs: DataFrame, labelCol: String, textCol: String): Model = {
    val base = docs.select(col(labelCol).as("label"), col(textCol).as("text"))
    val uni = base
      .select(col("label"), explode(tokens(col("text"))).as("w1"))
      .groupBy(col("label"), col("w1")).agg(count(lit(1)).as("c1"))
    val grams = base
      .select(col("label"), explode(WordShinglesAll(col("text"), 2)).as("gram"))
      .groupBy(col("label"), col("gram")).agg(count(lit(1)).as("c2"))
    // global vocabulary (shared smoothing denominator across classes)
    val vocab = uni.select(col("w1")).distinct()
      .agg(count(lit(1)).as("v"))
    val cls = base.groupBy(col("label")).agg(count(lit(1)).as("n_docs"))
    val tot = cls.agg(sum(col("n_docs")).as("n_all"))
    val priors = cls
      .crossJoin(broadcast(tot)) // 1-row total — provably bounded
      .withColumn("lp_q",
        floor(log(col("n_docs").cast("double") / col("n_all").cast("double"))
          * 10000.0 + 0.5).cast("long"))
      .select(col("label"), col("lp_q"))
    Model(grams, uni, priors, priors.select(col("label")), vocab)
  }

  /** Score documents under a frozen model and keep the argmax class:
    * `(id, pred_label, n_transitions, score_q)` — `score_q` is the exact
    * 1e-4 fixed-point `ln P(c) + Σ ln P(w2|w1,c)` of the WINNING class.
    * A document with fewer than two tokens has no transition and is
    * classified purely by prior (ties break `label ASC`).
    *
    * Streaming callers apply a model fit offline on a labeled reference
    * corpus (the frozen-model rule of the TF-IDF and LM scorers), which
    * makes the language/domain routing decision at ingest.
    */
  def predict(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Model): DataFrame = {
    val occ = docs.select(col(idCol),
      explode(WordShinglesAll(col(textCol), 2)).as("gram"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    // labels are a bounded model property (like an IVF codebook):
    // broadcast is safe by construction; the count tables are
    // vocabulary-sized and stay unhinted
    val perClass = occ
      .crossJoin(broadcast(model.labels))
      .join(model.grams, Seq("label", "gram"), "left")
      .join(model.unigrams, Seq("label", "w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .withColumn("llq",
        floor(log((coalesce(col("c2"), lit(0L)) + lit(1L)).cast("double")
          / (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
          * 10000.0 + 0.5).cast("long"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("llq")).as("ll"), count(lit(1)).as("n_tr"))
    val scored = docs.select(col(idCol))
      .crossJoin(broadcast(model.labels))
      .join(perClass, Seq(idCol, "label"), "left")
      .join(model.priors, Seq("label"))
      .withColumn("score_q", coalesce(col("ll"), lit(0L)) + col("lp_q"))
      .withColumn("n_tr", coalesce(col("n_tr"), lit(0L)))
    val best = Window.partitionBy(col(idCol))
      .orderBy(col("score_q").desc, col("label").asc)
    scored
      .withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .select(col(idCol), col("label").as("pred_label"),
        col("n_tr").as("n_transitions"), col("score_q"))
  }
}
