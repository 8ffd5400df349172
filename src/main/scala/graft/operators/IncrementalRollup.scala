package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

/** Incrementally-maintained rollup table — materialized-view maintenance
  * for additive/mergeable aggregates (the pre-aggregation every recurring
  * dashboard/report query wants at 100 TB: arrivals fold into a per-key
  * aggregate table; readers scan keys, never history).
  *
  * The hard part is EXACTLY-ONCE: unlike every keyed upsert in this
  * engine, "add the batch's counts" is NOT idempotent — a checkpoint
  * replay would double-count. A side ledger table can't fix that (the
  * data commit and the ledger commit are two snapshots; a crash between
  * them re-opens the window). Instead the batch marker lives IN the
  * rollup row: each row carries `last_batch`, and the fold is ONE merge
  * program whose matched-UPDATE is guarded by `target.last_batch <
  * batchId` — the aggregate delta and the marker that suppresses its
  * replay commit in the SAME snapshot, so the exactly-once window is
  * closed by the table's own atomicity (the Iceberg/Flink sink pattern).
  * Micro-batch ids from a streaming checkpoint are monotone, which is all
  * the guard needs; a replayed batch finds every key it touched already
  * marked and leaves it untouched, while keys the crash left unfolded
  * still accept it.
  *
  * Merge functions are the self-mergeable ones (`sum`, `min`, `max` —
  * partial aggregation of the same op) plus `set`, for a value the
  * caller already computed from the stored state; the batch is
  * pre-aggregated to one row per key HERE (never trusted from the
  * caller — duplicate source keys would multiply through the merge's
  * outer join). `count`
  * is `sum` over a `lit(1)` measure; `avg` is a `(sum, count)` pair
  * finished at read time — the classic decomposition.
  *
  * Scale shape: one map-side partial agg over the batch (arrival-bound),
  * then a keyed COW merge that rewrites only the partitions carrying a
  * touched key. The rollup table is key-cardinality-sized, not
  * history-sized — the whole point of maintaining it incrementally.
  */
object IncrementalRollup {

  val BatchCol = "last_batch"

  /** Fold one batch of raw rows into the rollup table (created on first
    * commit). `merges` maps each measure column of `arrivals` to its
    * merge function: `"sum"`, `"min"`, `"max"`, or `"set"` — the
    * batch's value replaces the stored one (the caller computed the
    * post-batch value; it must be a function of the key within the
    * batch). Replay-safe per the class docs: re-committing the same
    * (batch, batchId) is a no-op.
    */
  def commit(
      spark: SparkSession,
      arrivals: DataFrame, // keys ++ measure columns (raw, any multiplicity)
      keys: Seq[String],
      merges: Map[String, String],
      table: graft.table.WarehouseTable,
      batchId: Long): Unit = {
    val (measures, delta) = preAggregate(arrivals, keys, merges)
    mergeDelta(spark, delta, keys, measures,
      c => fold(merges(c), c), c => col(c), table, batchId)
  }

  /** [[commit]] with a REPAIR overlay, fused into the SAME merge program
    * (one snapshot commit instead of two): rows of `repair` name groups
    * whose `repairCols` must be SET to the repair's values instead of
    * merged — the aggregate view's MIN/MAX truth read, whose values
    * must land verbatim (including NULLs for an emptied group).
    * Non-repaired groups merge exactly as [[commit]]; replay safety is
    * unchanged (the fused matched-UPDATE sits behind the same
    * `last_batch < batchId` guard, and a replayed window's repair values
    * are the same truth it already wrote). Fusing keeps the view at one
    * commit, one manifest and one folded file set per window.
    */
  def commitWithRepair(
      spark: SparkSession,
      arrivals: DataFrame,
      keys: Seq[String],
      merges: Map[String, String],
      repair: DataFrame, // keys ++ repairCols (truth values; NULL = clear)
      repairCols: Seq[String],
      table: graft.table.WarehouseTable,
      batchId: Long): Unit = {
    require(repairCols.forall(merges.contains),
      s"repair columns ${repairCols.mkString(", ")} must be measures")
    val (measures, delta) = preAggregate(arrivals, keys, merges)
    // attach the repair overlay: null-safe (group identities), flagged so
    // a repair row whose truth value is legitimately NULL still overrides
    val rep = repair.select(
      (keys.map(col) ++ repairCols.map(c => col(c).as(s"__rep_$c"))): _*)
      .withColumn("__rep", lit(true))
    val joinCond = keys.map(k => col(s"d.$k") <=> col(s"r.$k")).reduce(_ && _)
    val src = delta.alias("d").join(rep.alias("r"), joinCond, "left")
      .select(keys.map(k => col(s"d.$k").as(k)) ++
        measures.map(c => col(s"d.$c").as(c)) ++
        repairCols.map(c => col(s"r.__rep_$c").as(s"__rep_$c")) :+
        coalesce(col("r.__rep"), lit(false)).as("__rep"): _*)
    def orRepair(c: String, otherwise: Column): Column =
      if (repairCols.contains(c))
        when(col("__rep"), col(s"__rep_$c")).otherwise(otherwise)
      else otherwise
    mergeDelta(spark, src, keys, measures,
      c => orRepair(c, fold(merges(c), c)), c => orRepair(c, col(c)),
      table, batchId)
  }

  /** The batch pre-aggregated to one row per key (never trusted from the
    * caller — duplicate source keys would multiply through the merge's
    * outer join), with its sorted measure names.
    */
  private def preAggregate(arrivals: DataFrame, keys: Seq[String],
      merges: Map[String, String]): (Seq[String], DataFrame) = {
    require(merges.nonEmpty, "at least one measure required")
    merges.values.foreach(f => require(Set("sum", "min", "max", "set").contains(f),
      s"unsupported merge function '$f' (sum/min/max/set)"))
    val measures = merges.keys.toSeq.sorted
    def partial(c: String): Column = (merges(c) match {
      case "sum" => sum(col(c))
      case "min" => min(col(c))
      case "max" => max(col(c))
      case "set" => any_value(col(c))
    }).as(c)
    (measures, arrivals
      .groupBy(keys.map(col): _*)
      .agg(partial(measures.head), measures.tail.map(partial): _*))
  }

  /** A measure's matched-row value: the stored `__t_<c>` merged with the
    * batch's `c`. A NULL side is absent, as in SQL's `sum`: a batch whose
    * values are all NULL keeps the stored sum, and a stored NULL takes
    * the batch's.
    */
  private def fold(fn: String, c: String): Column = fn match {
    case "sum" => coalesce(col(s"__t_$c") + col(c), col(s"__t_$c"), col(c))
    case "min" => least(col(s"__t_$c"), col(c))
    case "max" => greatest(col(s"__t_$c"), col(c))
    case "set" => col(c)
  }

  /** The one guarded merge both commits land: matched keys take
    * `matched(c)` only while `last_batch < batchId`, new keys insert
    * `inserted(c)`; both stamp the batch marker.
    */
  private def mergeDelta(
      spark: SparkSession,
      src: DataFrame,
      keys: Seq[String],
      measures: Seq[String],
      matched: String => Column,
      inserted: String => Column,
      table: graft.table.WarehouseTable,
      batchId: Long): Unit = {
    if (!table.exists)
      table.create(
        StructType(src.schema.filter(f => (keys ++ measures).contains(f.name)))
          .add(BatchCol, LongType, nullable = false),
        properties =
          graft.table.WarehouseTable.tableProperties("COW", "snappy"))
    val fresh = col(s"__t_$BatchCol") < lit(batchId)
    // nullSafeKeys: the rollup's keys are GROUP identities — a NULL
    // group is a real group (groupBy put it there) and must FOLD, not
    // re-insert a fresh row every window (ANSI merge equality would)
    table.mergeClauses(spark, src, keys, MergeInto.MergeClauses(
      matched = Seq(MergeInto.UpdateClause(Some(fresh),
        measures.map(c => c -> matched(c)).toMap + (BatchCol -> lit(batchId)))),
      notMatched = Seq(MergeInto.InsertClause(None,
        keys.map(c => c -> col(c)).toMap ++
          measures.map(c => c -> inserted(c)).toMap +
          (BatchCol -> lit(batchId))))),
      nullSafeKeys = true)
  }

  /** The rollup's user-facing read: measures per key, marker dropped. */
  def read(spark: SparkSession,
      table: graft.table.WarehouseTable): DataFrame =
    table.read(spark).drop(BatchCol)
}
