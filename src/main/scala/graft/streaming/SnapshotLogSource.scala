package graft.streaming

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.json4s.{DefaultFormats, JString, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.table.WarehouseTable

/** A warehouse table's commit log as a Structured-Streaming source: one
  * row per committed snapshot id, in commit order, read from the table's
  * `_current` pointer alone.
  *
  *  - **offset = `{lineage, snapshotId}`**: a batch covers the snapshots
  *    after its start offset up to and including its end. Snapshot ids
  *    are monotone only within one lineage (a rollback reuses abandoned
  *    ids), so the lineage rides in the offset, and a checkpointed offset
  *    from another lineage is refused when it is deserialized, never
  *    resumed on the new timeline;
  *  - **planning reads `_current` and `_lineage`**, never the `snaps/`
  *    dir: a trigger costs the same at ten retained snapshots as at a
  *    million, and no snapshot JSON is read to plan it;
  *  - **admission control**: `maxFilesPerTrigger` (default 1) is the
  *    number of snapshots a batch may cover, one snapshot file per
  *    commit, so at 1 the log applies commit by commit;
  *  - **AvailableNow** stops at the snapshot that was current when the
  *    trigger started, however many commits land while it drains.
  *
  * Usage: `spark.readStream.format("graft-snapshots").option("path",
  * tableRoot).load()` → rows of (snapshot_id BIGINT). A `foreachBatch`
  * consumer that needs only a batch's end reads it from the checkpoint's
  * offset log with [[SnapshotLogOffset.planned]], without a Spark job.
  */
class SnapshotLogProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-snapshots"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SnapshotLogStream.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null, "graft-snapshots requires option 'path' (the table root)")
    val max = opts.getInt("maxFilesPerTrigger", 1)
    require(max >= 1, s"maxFilesPerTrigger must be at least 1, got $max")
    new SnapshotLogTable(WarehouseTable(path), max)
  }
}

final class SnapshotLogTable(source: WarehouseTable, maxPerBatch: Int)
    extends Table with SupportsRead {
  override def name(): String = s"graft-snapshots:${source.root}"
  override def schema(): StructType = SnapshotLogStream.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = SnapshotLogStream.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new SnapshotLogStream(source, maxPerBatch)
        override def description(): String = s"GraftSnapshotLog(${source.root})"
      }
    }
}

/** A position in one lineage of a table's commit log: every snapshot up
  * to and including `snapshotId` has been delivered.
  */
final case class SnapshotLogOffset(lineage: String, snapshotId: Long) extends Offset {
  override def json(): String =
    JsonMethods.compact(JsonMethods.render(("lineage" -> lineage) ~ ("snapshotId" -> snapshotId)))
}

object SnapshotLogOffset {
  def fromJson(json: String): SnapshotLogOffset = {
    implicit val formats: DefaultFormats.type = DefaultFormats
    val j: JValue = JsonMethods.parse(json)
    (j \ "lineage", j \ "snapshotId") match {
      case (JString(l), id) => SnapshotLogOffset(l, id.extract[Long])
      case _ => throw new IllegalArgumentException(s"not a snapshot-log offset: $json")
    }
  }

  /** The offset log of the query checkpointed at `checkpointDir`. */
  def offsetLog(spark: SparkSession, checkpointDir: String): OffsetSeqLog =
    new OffsetSeqLog(spark, s"$checkpointDir/offsets")

  /** The end offset `log` holds for batch `batchId` of a query whose only
    * source is a snapshot log. Spark writes `offsets/<batchId>` before it
    * runs the batch and reuses it when it replays the batch, so this is
    * the batch's end on a replay too — read without a Spark job.
    */
  def planned(log: OffsetSeqLog, batchId: Long): SnapshotLogOffset =
    log.get(batchId).flatMap(_.offsets.headOption.flatten)
      .map(o => fromJson(o.json))
      .getOrElse(throw new IllegalStateException(
        s"no snapshot-log offset logged for batch $batchId"))
}

final class SnapshotLogStream(table: WarehouseTable, maxPerBatch: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // the snapshot an AvailableNow trigger drains to, fixed when it starts
  @volatile private var stopAt: Option[Long] = None

  private def onLineage(o: SnapshotLogOffset): SnapshotLogOffset = {
    val cur = table.lineageId
    if (o.lineage != cur)
      throw new IllegalStateException(
        s"snapshot-log offset at snapshot ${o.snapshotId} of lineage " +
          s"${o.lineage}, but the table at ${table.root} is now on lineage " +
          s"$cur (a rollback rewrote its timeline and snapshot ids were " +
          "reused) — drop the stream checkpoint to re-seed.")
    o
  }

  /** Before the first commit: snapshot 0 is the one `create` writes. */
  override def initialOffset(): Offset = SnapshotLogOffset(table.lineageId, 0L)

  override def deserializeOffset(json: String): Offset =
    onLineage(SnapshotLogOffset.fromJson(json))

  override def prepareForTriggerAvailableNow(): Unit =
    stopAt = Some(table.currentSnapshotId)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxFiles(maxPerBatch)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method")

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val start = onLineage(startOffset.asInstanceOf[SnapshotLogOffset])
    val cur = table.currentSnapshotId
    val newest = stopAt.fold(cur)(math.min(cur, _))
    val end = limit match {
      case m: ReadMaxFiles => math.min(newest, start.snapshotId + m.maxFiles)
      case _ => newest
    }
    start.copy(snapshotId = math.max(start.snapshotId, end))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[SnapshotLogOffset].snapshotId
    val e = end.asInstanceOf[SnapshotLogOffset].snapshotId
    if (e <= s) Array.empty else Array(SnapshotRange(s + 1, e))
  }

  override def createReaderFactory(): PartitionReaderFactory = SnapshotRangeReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

object SnapshotLogStream {
  val Schema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false)))
}

/** The snapshot ids `first` to `last`, both included. */
final case class SnapshotRange(first: Long, last: Long) extends InputPartition

object SnapshotRangeReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val r = partition.asInstanceOf[SnapshotRange]
      private var id = r.first - 1
      override def next(): Boolean = { id += 1; id <= r.last }
      override def get(): InternalRow = new GenericInternalRow(Array[Any](id))
      override def close(): Unit = ()
    }
}
