package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** TF-IDF as a train/apply pair: [[idfModel]] fits the vocabulary-sized
  * IDF table over a corpus (two hash aggregations + a 1-row corpus-count
  * broadcast — no driver collect), [[scoreTopTerms]] ranks a document
  * set's terms under a FROZEN model. Splitting the two is what makes the
  * op streamable: a micro-batch can be scored against the model without
  * seeing the corpus (the train-offline / score-online shape), and batch
  * q38 is exactly `scoreTopTerms(docs, idfModel(docs), 3)`.
  *
  * The model carries RAW `ln(N/df)` doubles; only the per-(doc, term)
  * product is rounded (engine-stable floor(x·10⁴+0.5)/10⁴) because the
  * RANK runs on the rounded value — ln() may differ in the last ulp
  * between libm implementations, and an unrounded ORDER BY could flip
  * near-ties.
  */
object TfIdf {

  /** Term frequencies per (doc, term): one explode + hash aggregation. */
  def termFreq(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("w"))
      .groupBy(col(idCol), col("w"))
      .agg(count(lit(1)).as("tf"))

  /** The IDF table `(w, idf = ln(N/df))`. tf is already distinct per doc,
    * so `count(*)` over [[termFreq]] = document frequency. The table is
    * vocabulary-sized (executor-memory-bound at corpus scale) — callers
    * must NOT broadcast-hint it; the 1-row corpus count stays broadcast.
    */
  def idfModel(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    termFreq(docs, idCol, textCol)
      .groupBy(col("w")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_docs"))))
      .select(col("w"), log(col("n_docs").cast("double") / col("df")).as("idf"))

  /** Top-`k` terms per document under a frozen model:
    * `(id, term, tfidf, rank)`. Terms absent from the model are ignored
    * (an unseen term has no defined IDF — the standard apply-time rule).
    *
    * The model is fit once and never refit per micro-batch: a
    * streaming-global TF-IDF would need stateful vocabulary counts and
    * would change already-emitted scores retroactively, so freezing is
    * both the scalable and the statistically honest choice (scores stay
    * comparable across batches).
    */
  def scoreTopTerms(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame,
      k: Int): DataFrame = {
    val byScore = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("w").asc)
    termFreq(docs, idCol, textCol)
      .join(model, "w") // vocabulary-sized: unhinted, AQE size-dispatches
      .withColumn("tfidf",
        floor(col("tf") * col("idf") * 10000.0 + 0.5) / 10000.0)
      .withColumn("rank", row_number().over(byScore))
      .filter(col("rank") <= k)
      .select(col(idCol), col("w").as("term"), col("tfidf"), col("rank"))
  }
}
