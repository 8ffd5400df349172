package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key percentile normalization — "where does this document sit
  * WITHIN ITS SOURCE" (rank-normalize a quality/length signal per group
  * before a global cut, so a uniformly-low-scoring source still keeps its
  * best documents — the CCNet per-shard stratification move, and the
  * right input to any cross-source quality gate).
  *
  * `pct_e4 = floor(smaller/(n−1)·10⁴ + 0.5)` where `smaller` = rows in
  * the key with a STRICTLY smaller value and n = group size — exactly
  * SQL `percent_rank()` (ties share the percentile, as a normalization
  * should: which duplicate "ranks higher" is meaningless), single-row
  * groups pin to 0. Pure integer/stable-rounded arithmetic,
  * engine-reproducible.
  *
  * Scale shape (the q62/q67 two-level rule, taken one step further): a
  * flat `percent_rank() OVER (PARTITION BY key ORDER BY value)` sorts
  * each key in ONE task — a billion-doc source is a straggler by
  * construction. Here NOTHING row-level is ever sorted: per-(key, value)
  * tie counts (one hash agg, map-side partial), an exclusive prefix sum
  * over the per-key DISTINCT-VALUE table (bounded by distinct values per
  * key, not rows), and a join back. Tie-sharing is what makes this
  * possible — a total-order rank would force a within-tie sort, and a
  * degenerate constant signal would make that tie class the whole key.
  */
object Percentiles {

  /** Frozen per-key distribution summary: `coord` = one row per distinct
    * (key, value) with the exclusive prefix count `pk_off` (rows strictly
    * below) and the tie count `pk_nv`; `sizes` = per-key row counts. Both
    * bounded by DISTINCT VALUES per key, not rows — the compressed form
    * of the whole per-key CDF, and the model a streaming scorer freezes.
    */
  final case class Model(coord: DataFrame, sizes: DataFrame)

  /** Guard: the signal column must already be integral — a silent
    * `cast("long")` of a double score in [0, 1) would truncate every
    * value to 0 and collapse the whole ranking into one tie class.
    * Fractional signals must be explicitly pre-quantized by the caller
    * (e.g. `floor(score · 10⁴)`), which also fixes their tie semantics.
    */
  private def integralValue(df: DataFrame, valueCol: String): Unit = {
    val dt = df.schema(valueCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(dt.typeName),
      s"percentile value column '$valueCol' is ${dt.typeName}; pre-quantize " +
        "fractional signals explicitly (floor(x*10^k)) instead of relying " +
        "on a silent truncating cast")
  }

  def fit(df: DataFrame, keyCol: String, valueCol: String): Model = {
    integralValue(df, valueCol)
    // null keys/values carry no rank information and would otherwise sit
    // at the head of the prefix window, shifting every real value's
    // offset while never matching the equi-join back
    val base = df
      .where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("pk_key"),
        col(valueCol).cast("long").as("pk_v"))
    val ties = base.groupBy(col("pk_key"), col("pk_v"))
      .agg(count(lit(1)).as("pk_nv"))
    // exclusive prefix over the per-key distinct-value table: rows with a
    // strictly smaller value
    val wKey = Window.partitionBy(col("pk_key")).orderBy(col("pk_v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val coord = ties
      .withColumn("pk_off", coalesce(sum(col("pk_nv")).over(wKey), lit(0L)))
      .select(col("pk_key"), col("pk_v"), col("pk_off"), col("pk_nv"))
    val sizes = base.groupBy(col("pk_key")).agg(count(lit(1)).as("pk_n"))
    Model(coord, sizes)
  }

  /** Geometric (significant-bits) bucket of a long value — the sketch
    * quantizer behind [[fitSketch]]: keep the top `bits` significant bits
    * of |v| (sign-mirrored, zero maps to zero). A pure-integer DDSketch-
    * style mapping: bucket width is relative to magnitude, so the bucket
    * VALUE under-states v by a relative error < 2^(1−bits), and the
    * number of distinct buckets is bounded by construction —
    * ≤ 2·(65−bits)·2^(bits−1)+1 over the WHOLE long range (~29k for
    * bits = 8), regardless of how many distinct values the signal takes.
    *
    * Exactness is load-bearing: floor-log2 comes from the binary-string
    * length (`length(bin(|v|)) − 1`), never a floating `log` — both
    * Spark and DuckDB compute the identical integer, so bucket
    * boundaries can't drift by an ulp between engines. Long.MinValue
    * (whose |v| overflows) stays its own bucket via an explicit case.
    */
  def logBucket(v: Column, bits: Int): Column = {
    require(bits >= 2 && bits <= 62, s"bits must be in [2, 62], got $bits")
    val au = abs(v)
    // shift = max(0, floor(log2(|v|)) − bits + 1); length(bin(au)) = e+1
    val shift = greatest(lit(0), length(bin(au)) - lit(bits))
    val mag = call_function("shiftleft",
      call_function("shiftrightunsigned", au, shift), shift)
    when(v === Long.MinValue, lit(Long.MinValue))
      .otherwise(signum(v).cast("long") * mag)
  }

  /** [[fit]]'s bounded twin for CONTINUOUS signals: the frozen model of
    * the exact path is a per-key distinct-VALUE CDF — a real bound only
    * for quantized signals (token counts); for a continuous score
    * (doubles quantized at e6, say) distinct values ≈ rows and the model
    * is corpus-sized. Here every value first collapses to its
    * [[logBucket]], so the coord table is bounded by the bucket count
    * (≤ ~29k rows per key at bits = 8) NO MATTER the signal's
    * cardinality or range, and stays exactly mergeable — bucket tie
    * counts add across batches/shards, which is what the incremental
    * and streaming paths need.
    *
    * Error contract (the DDSketch guarantee, restated for ranks): the
    * bucketing is monotone, so bucket-boundary ranks are EXACT; a query
    * value inside a bucket reads the rank of its bucket's lower
    * boundary — the estimate's value-error is < 2^(1−bits) relative
    * (< 0.8% at bits = 8), and its rank-error is at most the corpus mass
    * of that one bucket. Score arrivals with [[scoreAgainstSketch]]
    * (same `bits` — the model does not carry it).
    */
  def fitSketch(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      bits: Int = 8): Model = {
    integralValue(df, valueCol)
    fit(
      df.withColumn(valueCol, logBucket(col(valueCol).cast("long"), bits)),
      keyCol, valueCol)
  }

  /** [[scoreAgainst]] under a [[fitSketch]] model: arrivals bucket with
    * the SAME `bits`, score against the bucketed corpus CDF, and land
    * with their ORIGINAL value restored (the bucket is a model detail,
    * not an output). The restore join is arrival-batch-sized.
    */
  def scoreAgainstSketch(
      arrivals: DataFrame,
      idCol: String,
      keyCol: String,
      valueCol: String,
      model: Model,
      bits: Int = 8): DataFrame = {
    integralValue(arrivals, valueCol)
    val bucketed = arrivals
      .withColumn(valueCol, logBucket(col(valueCol).cast("long"), bits))
    scoreAgainst(bucketed, idCol, keyCol, valueCol, model)
      .select(col(idCol), col("pct_e4"))
      .join(arrivals.select(col(idCol), col(keyCol), col(valueCol)), Seq(idCol))
      .select(col(idCol), col(keyCol), col(valueCol), col("pct_e4"))
  }

  def perKeyPercentile(
      df: DataFrame,
      keyCol: String,
      valueCol: String,
      idCol: String): DataFrame = {
    val model = fit(df, keyCol, valueCol)
    df.where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol), col(keyCol).as("pk_key"),
        col(valueCol).cast("long").as("pk_v"))
      .join(model.coord, Seq("pk_key", "pk_v"))
      .join(model.sizes, Seq("pk_key"))
      .withColumn("pct_e4",
        when(col("pk_n") === 1L, 0L).otherwise(
          floor(col("pk_off").cast("double")
            / (col("pk_n") - 1L).cast("double") * 10000.0 + 0.5).cast("long")))
      .select(col(idCol), col("pk_key").as(keyCol),
        col("pk_v").as(valueCol), col("pct_e4"))
  }

  /** Score ARRIVALS against a frozen corpus distribution: each arrival's
    * `pct_e4 = floor(smaller/n·10⁴ + 0.5)` where `smaller` = corpus rows
    * in its key strictly below its value and n = corpus key size (the
    * arrival is not a member, so the divisor is n, not n−1). Arrivals
    * whose value falls BETWEEN corpus values resolve via a backward as-of
    * walk over the distinct-value table (the [[TemporalJoins]] union +
    * carry-forward construction on the value axis): coord rows sort
    * before arrivals at equal value, so an exact hit reads its own
    * exclusive prefix and a between-values hit reads prefix + tie count
    * of the largest smaller value. Keys absent from the corpus are
    * dropped (no distribution to score against).
    *
    * The per-key window sorts (distinct corpus values + arrival batch) —
    * batch-bounded on the arrival side and distinct-value-bounded on the
    * model side, never corpus rows.
    *
    * The model is the compressed per-key CDF (distinct-value table +
    * sizes); recomputing it per micro-batch would shift every earlier
    * decision (the frozen-cuts rule).
    */
  def scoreAgainst(
      arrivals: DataFrame,
      idCol: String,
      keyCol: String,
      valueCol: String,
      model: Model): DataFrame = {
    integralValue(arrivals, valueCol)
    val arr = arrivals
      .where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(idCol), col(keyCol).as("pk_key"),
        col(valueCol).cast("long").as("pk_v"), lit(1).as("pk_tag"))
    val coordTagged = model.coord.select(col("pk_key"), col("pk_v"),
      col("pk_off"), col("pk_nv"), lit(0).as("pk_tag"))
    val unioned = coordTagged.unionByName(
      arr.select(col("pk_key"), col("pk_v"), lit(null).cast("long").as("pk_off"),
        lit(null).cast("long").as("pk_nv"), col("pk_tag")))
    val w = Window.partitionBy(col("pk_key"))
      .orderBy(col("pk_v").asc, col("pk_tag").asc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val carried = unioned
      .withColumn("cv", last(when(col("pk_tag") === 0, col("pk_v")), ignoreNulls = true).over(w))
      .withColumn("coff", last(col("pk_off"), ignoreNulls = true).over(w))
      .withColumn("cnv", last(col("pk_nv"), ignoreNulls = true).over(w))
      .filter(col("pk_tag") === 1)
      .withColumn("smaller",
        when(col("cv").isNull, 0L)
          .when(col("cv") === col("pk_v"), col("coff"))
          .otherwise(col("coff") + col("cnv")))
    arr.select(col(idCol), col("pk_key"), col("pk_v"))
      .join(carried.select(col("pk_key"), col("pk_v"), col("smaller")).distinct(),
        Seq("pk_key", "pk_v"))
      .join(model.sizes, Seq("pk_key"))
      .withColumn("pct_e4",
        floor(col("smaller").cast("double") / col("pk_n").cast("double")
          * 10000.0 + 0.5).cast("long"))
      .select(col(idCol), col("pk_key").as(keyCol),
        col("pk_v").as(valueCol), col("pct_e4"))
  }

  // ---- the percentile model AT REST --------------------------------------

  /** Incrementally maintain the [[fitSketch]] model AT REST — the last
    * at-rest structure in the engine to gain a commit path (minhash /
    * IVF / IVFADC / pHash / BM25 / KMV / CMS / cluster tables all have
    * one). Rows are `(bid, pk_key, pk_v, pk_nv)`: each arrival batch
    * MERGEs its own bucket tie counts under its batch id WITHOUT reading
    * anything stored — bucket counts are a pure function of the batch,
    * so a checkpoint replay upserts byte-identical rows (counts are NOT
    * idempotent adds, the CMS lesson — per-batch keying sidesteps the
    * double-count entirely), and the `pct.maxBid` high-water no-ops
    * batch ids at or below the last committed one, which keeps replays
    * safe AFTER [[sketchTableFold]] collapses history.
    *
    * Scale shape: commit cost = one map-side bucket pass over the BATCH
    * plus a merge of ≤ |buckets per key| · |batch keys| rows; nothing
    * corpus-sized is touched, ever. The stored `bits` is an index-format
    * parameter — commits with a different `bits` are rejected loudly
    * (buckets of different widths never merge).
    */
  def sketchTableCommit(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      keyCol: String,
      valueCol: String,
      batchId: Long,
      table: graft.table.WarehouseTable,
      bits: Int = 8): Unit = {
    require(batchId >= 0, s"batchId=$batchId must be >= 0 (negative ids " +
      "are reserved for fold output)")
    integralValue(batch, valueCol)
    if (table.exists) {
      val p = table.properties
      require(p.get("pct.bits").forall(_ == bits.toString),
        s"sketch table was built with pct.bits=${p("pct.bits")} but the " +
          s"commit passed $bits — buckets of different widths never merge")
      if (p.get("pct.maxBid").exists(_.toLong >= batchId)) return // replay
    }
    val partial = batch
      .where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).as("pk_key"),
        logBucket(col(valueCol).cast("long"), bits).as("pk_v"))
      .groupBy(col("pk_key"), col("pk_v"))
      .agg(count(lit(1)).as("pk_nv"))
      .select(lit(batchId).as("bid"), col("pk_key"), col("pk_v"), col("pk_nv"))
    if (!table.exists)
      table.create(partial.schema,
        properties = graft.table.WarehouseTable.tableProperties("COW", "snappy")
          ++ Map("pct.bits" -> bits.toString))
    table.merge(spark, partial, Seq("bid", "pk_key", "pk_v"))
    // property write AFTER the merge: a crash between the two leaves the
    // replay guard unset, and the replayed merge is byte-idempotent anyway
    table.setProperties(Map("pct.maxBid" -> batchId.toString))
  }

  /** Whole-history [[Model]] from the at-rest table: per-batch tie
    * counts sum per (key, bucket), then the same exclusive-prefix
    * construction as [[fit]]. The window runs over the BUCKET-BOUNDED
    * distinct table (≤ ~29k rows per key at bits = 8), never rows.
    * Score arrivals with [[scoreAgainstSketch]] under the table's own
    * `pct.bits`.
    */
  def sketchTableRead(
      spark: org.apache.spark.sql.SparkSession,
      table: graft.table.WarehouseTable): Model = {
    val ties = table.read(spark)
      .groupBy(col("pk_key"), col("pk_v"))
      .agg(sum(col("pk_nv")).as("pk_nv"))
    val wKey = Window.partitionBy(col("pk_key")).orderBy(col("pk_v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val coord = ties
      .withColumn("pk_off", coalesce(sum(col("pk_nv")).over(wKey), lit(0L)))
      .select(col("pk_key"), col("pk_v"), col("pk_off"), col("pk_nv"))
    val sizes = ties.groupBy(col("pk_key")).agg(sum(col("pk_nv")).as("pk_n"))
    Model(coord, sizes)
  }

  /** Collapse per-batch history to one folded row set (bid = −1), the
    * [[graft.operators.Sketches.countersTableFold]] rule: the table
    * stays bucket-bounded no matter how many batches committed, the
    * `pct.maxBid` guard persisted by the last commit keeps pre-fold
    * replays no-ops, and the overwrite is one atomic snapshot commit.
    */
  def sketchTableFold(
      spark: org.apache.spark.sql.SparkSession,
      table: graft.table.WarehouseTable): Unit = {
    require(table.properties.contains("pct.maxBid"),
      "table has no pct.maxBid property — not a percentile sketch table")
    val folded = table.read(spark)
      .groupBy(col("pk_key"), col("pk_v"))
      .agg(sum(col("pk_nv")).as("pk_nv"))
      .select(lit(-1L).as("bid"), col("pk_key"), col("pk_v"), col("pk_nv"))
    table.overwrite(folded)
  }
}
