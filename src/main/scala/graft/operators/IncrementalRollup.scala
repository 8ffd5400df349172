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
  * partial aggregation of the same op); the batch is pre-aggregated to
  * one row per key HERE (never trusted from the caller — duplicate
  * source keys would multiply through the merge's outer join). `count`
  * is `sum` over a `lit(1)` measure; `avg` is a `(sum, count)` pair
  * finished at read time — the classic decomposition. The
  * delete-aware aggregate view
  * ([[graft.streaming.StreamingIngest.startAggView]]) keeps one row of
  * measures per key too, but no `last_batch`: its fold already joins the
  * stored rows, so it lands each window as one overwrite that records
  * the source snapshot it applied through, and that position is its
  * replay guard.
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
    * merge function: `"sum"`, `"min"` or `"max"`. Replay-safe per the
    * class docs: re-committing the same (batch, batchId) is a no-op.
    */
  def commit(
      spark: SparkSession,
      arrivals: DataFrame, // keys ++ measure columns (raw, any multiplicity)
      keys: Seq[String],
      merges: Map[String, String],
      table: graft.table.WarehouseTable,
      batchId: Long): Unit = {
    require(merges.nonEmpty, "at least one measure required")
    merges.values.foreach(f => require(Set("sum", "min", "max").contains(f),
      s"unsupported merge function '$f' (sum/min/max)"))
    val measures = merges.keys.toSeq.sorted
    def partial(c: String): Column = (merges(c) match {
      case "sum" => sum(col(c))
      case "min" => min(col(c))
      case "max" => max(col(c))
    }).as(c)
    // the batch pre-aggregated to one row per key (never trusted from the
    // caller — duplicate source keys would multiply through the merge's
    // outer join)
    val delta = arrivals
      .groupBy(keys.map(col): _*)
      .agg(partial(measures.head), measures.tail.map(partial): _*)
    if (!table.exists)
      table.create(
        StructType(delta.schema.fields).add(BatchCol, LongType, nullable = false),
        properties =
          graft.table.WarehouseTable.tableProperties("COW", "snappy"))
    val fresh = col(s"__t_$BatchCol") < lit(batchId)
    // nullSafeKeys: the rollup's keys are GROUP identities — a NULL
    // group is a real group (groupBy put it there) and must FOLD, not
    // re-insert a fresh row every window (ANSI merge equality would)
    table.mergeClauses(spark, delta, keys, MergeInto.MergeClauses(
      matched = Seq(MergeInto.UpdateClause(Some(fresh),
        measures.map(c => c -> fold(merges(c), c)).toMap + (BatchCol -> lit(batchId)))),
      notMatched = Seq(MergeInto.InsertClause(None,
        (keys ++ measures).map(c => c -> col(c)).toMap +
          (BatchCol -> lit(batchId))))),
      nullSafeKeys = true)
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
  }

  /** The rollup's user-facing read: measures per key, marker dropped. */
  def read(spark: SparkSession,
      table: graft.table.WarehouseTable): DataFrame =
    table.read(spark).drop(BatchCol)
}
