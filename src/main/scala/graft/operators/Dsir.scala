package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.WordShinglesAll

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023,
  * arXiv:2302.03169) — the pretraining-corpus selection stage: estimate
  * how much each raw document "looks like" a curated target corpus using
  * HASHED n-gram bucket distributions, and gate on the per-document log
  * importance weight `ln(p_target(doc) / p_raw(doc))`.
  *
  * The hashing is the whole scale trick: both distributions live in a
  * FIXED number of buckets (`numBuckets`, default 256), so the model is
  * bounded by construction — a broadcastable property like an IVF
  * codebook — no matter how large either corpus is. Fit is one explode →
  * hash-agg pass per corpus (map-side partials, bucket-sized output);
  * scoring is one map-side bucket assignment + a broadcast join against
  * the bucket table + one per-doc aggregation. Nothing vocabulary-sized
  * ever ships.
  *
  * Cross-engine determinism (the q53/q38 rules):
  *  - the bucket hash is the first 4 hex chars of md5(gram) mod
  *    `numBuckets` — md5 is the deterministic "uniform" everywhere else
  *    in this engine (q37);
  *  - EACH of the two `ln`s is quantized to 1e-4 fixed point
  *    independently (`floor(x·10⁴ + 0.5)` — libm last-ulp drift dies at
  *    the quantizer), and the per-gram weight is the exact integer
  *    difference of the two quanta;
  *  - the per-document weight is an exact BIGINT sum of those integers —
  *    never an order-dependent floating sum.
  *
  * Add-one smoothing over buckets: `p(b) = (c[b]+1) / (total+B)` — an
  * empty bucket in either corpus still has positive mass, so every log is
  * finite.
  */
object Dsir {

  /** Frozen model: `buckets` = (b, tc, rc) — ≤ `numBuckets` rows (only
    * observed buckets; unobserved ones resolve to zero counts at apply
    * via the left join) — and 1-row `totals` = (tt, rt) (total target /
    * raw gram occurrences). Both bounded by construction ⇒ broadcast.
    */
  final case class Model(buckets: DataFrame, totals: DataFrame, numBuckets: Int)

  /** Hash a gram into [0, b): first 16 bits of md5, mod b. DuckDB twin:
    * `('0x' || substring(md5(gram), 1, 4))::BIGINT % b`.
    */
  def bucketOf(gram: Column, b: Int): Column =
    conv(substring(md5(gram), 1, 4), 16, 10).cast("long") % b

  // Documents shorter than two tokens carry no positional bigram —
  // WordShinglesAll(_, 2) returns an EMPTY array for them (unlike the
  // dedup-oriented WordShingles, whose <n edge joins the whole text),
  // so the explode drops them naturally and the operator is well-defined
  // on any corpus.
  private def bucketCounts(docs: DataFrame, textCol: String, b: Int): DataFrame =
    docs
      .select(explode(WordShinglesAll(col(textCol), 2)).as("gram"))
      .select(bucketOf(col("gram"), b).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))

  /** Fit bucket distributions for the target (curated) corpus and the raw
    * corpus. One scan + one bucket-keyed hash agg each; the full-outer
    * stitch runs over ≤ 2·numBuckets rows.
    */
  def fit(
      target: DataFrame,
      raw: DataFrame,
      textCol: String,
      numBuckets: Int = 256): Model = {
    require(numBuckets >= 2, "need at least 2 hash buckets")
    // the bucket hash has 16 bits: more buckets than 2^16 would be
    // permanently unreachable while still claiming smoothing mass
    require(numBuckets <= 65536,
      s"numBuckets=$numBuckets exceeds the 16-bit hash range (65536)")
    val tb = bucketCounts(target, textCol, numBuckets).withColumnRenamed("c", "tc")
    val rb = bucketCounts(raw, textCol, numBuckets).withColumnRenamed("c", "rc")
    val buckets = tb.join(rb, Seq("b"), "full_outer")
      .select(col("b"),
        coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
      // the model must be FROZEN: without pinning, every scoring action
      // would re-run both corpus-scan fits (totals' plan nests buckets',
      // so twice each) and a mutated source frame could silently change
      // the model between uses
      .localCheckpoint()
    val totals = buckets.agg(
      sum(col("tc")).as("tt"), sum(col("rc")).as("rt"))
      .localCheckpoint()
    Model(buckets, totals, numBuckets)
  }

  /** Score documents under a frozen model:
    * `(id, n_grams, lw_e4, keep)` — `lw_e4` is the exact fixed-point
    * (1e-4) log importance weight Σ ln(p_t(b)) − ln(p_r(b)) over the
    * document's bigram occurrences; `keep = 1` iff the weight is
    * positive (the document is more target-like than raw-like). A
    * document with no bigram carries zero weight.
    *
    * Fit offline (target corpus vs raw corpus) and applied per
    * micro-batch, this is the "does this look like my curated data" gate
    * made at ingest; the bounded model broadcasts to every batch at no
    * per-batch cost.
    */
  def scoreDocs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: Model): DataFrame = {
    val b = model.numBuckets
    val occ = docs.select(col(idCol),
      explode(WordShinglesAll(col(textCol), 2)).as("gram"))
      .select(col(idCol), bucketOf(col("gram"), b).as("b"))
    val scored = occ
      .join(broadcast(model.buckets), Seq("b"), "left") // ≤ B rows: model property
      .crossJoin(broadcast(model.totals))
      .withColumn("lwq",
        floor(log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double")
            / (col("tt") + lit(b.toLong)).cast("double")) * 10000.0 + 0.5)
          .cast("long")
        - floor(log((coalesce(col("rc"), lit(0L)) + lit(1L)).cast("double")
            / (col("rt") + lit(b.toLong)).cast("double")) * 10000.0 + 0.5)
          .cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"), sum(col("lwq")).as("lw_e4"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("lw_e4"), lit(0L)).as("lw_e4"))
      .withColumn("keep", when(col("lw_e4") > 0L, 1).otherwise(0))
  }
}
