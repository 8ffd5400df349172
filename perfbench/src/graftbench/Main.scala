package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkEntry
import graft.config.JobConfig
import graft.pipeline.IngestRunner
import graft.sources.{LocalDirQueue, QueueMessage, QueueSource, S3EventParser}
import graft.streaming.StreamingIngest
import graft.table.WarehouseTable

/** One closed-loop operation of the measured phase. */
final case class Op(
    index: Int, label: String, start: Long, end: Long, ok: Boolean, traced: Boolean,
    counters: Map[String, Double]) {
  def seconds: Double = (end - start) / 1e9
}

/** A workload: set-up, one operation at a time, and its correctness gate. */
trait Workload {
  /** Builds fresh state; repeated so set-up time is a median. */
  def setup(): Unit
  /** Untimed warm-up after the last set-up. */
  def warmup(): Unit
  def hasNext: Boolean
  /** The measured phase runs whole cycles of this many operations, each
    * holding the same kinds of work.
    */
  def cycle: Int = 1
  /** Which of a cycle's kinds of operation `i` is. */
  def slot(i: Int): Int = i % cycle
  /** Untimed, just before operation `i`. */
  def before(i: Int, traced: Boolean): Unit = ()
  /** Runs operation `i`: the timed part. */
  def op(i: Int): Unit
  /** What operation `i` ran, for the run's record. */
  def label(i: Int): String = slot(i).toString
  /** Untimed, just after operation `i`: its counters. */
  def after(i: Int, traced: Boolean): Map[String, Double] = Map.empty
  /** Per-layer facts read once after the measured phase (traced runs). */
  def finalFacts(): Map[String, Double] = Map.empty
  /** Correctness gate: the mismatches against the true expectation, and
    * against a deliberately corrupted one (which must not be empty, or the
    * gate could not tell a wrong output from a right one).
    */
  def check(): Option[(Seq[String], Seq[String])] = None
  def report(): JObject = JObject()
}

/** The queue seam decorated with spans: receive and ack time per poll. */
final class TimedQueue(inner: QueueSource, spans: Spans) extends QueueSource {
  def receive(max: Int): Seq[QueueMessage] = spans("sources.queue.receive")(inner.receive(max))
  def commit(): Unit = spans("sources.queue.ack")(inner.commit())
  def abandon(): Unit = spans("sources.queue.ack")(inner.abandon())
  def ack(receipts: Seq[String]): Unit = spans("sources.queue.ack")(inner.ack(receipts))
}

object Disk {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }

  /** Parquet files under `root` with their sizes. */
  def parquetFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val walk = Files.walk(root)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally walk.close()
    }

  def countSnapshots(root: String): Int = {
    val d = Paths.get(root, "snaps")
    if (!Files.isDirectory(d)) 0
    else {
      val l = Files.list(d)
      try l.iterator().asScala.count(_.getFileName.toString.startsWith("snap-"))
      finally l.close()
    }
  }
}

object IngestWorkload {
  /** The view's merge-on-read table compacts inline on every 8th delta
    * commit: graft's default `compact.delta.threshold`, left unset.
    */
  val CompactEvery = 8
}

/** The reference CDC job: queue poll → parse → CSV scan → dedup → op-aware
  * keyed merge into a table partitioned by `destinationstate`. With `view`,
  * every commit is followed by one `AvailableNow` drain of an aggregate view
  * over the (merge-on-read) table, and an operation is the poll plus that
  * drain: the time a dashboard reader waits for the commit to show.
  */
final class IngestWorkload(
    spark: SparkSession, work: Path, plan: JValue, view: Boolean, spans: Spans)
    extends Workload {
  import IngestWorkload.CompactEvery
  private implicit val formats: Formats = DefaultFormats
  private val land = (plan \ "land").extract[String]
  private val messages = (plan \ "messages").extract[List[JObject]]
  private val perPoll = (plan \ "messages_per_poll").extract[Int]
  private val warmPolls = (plan \ "warmup_polls").extract[Int]
  private var root: Path = _
  private var queue: LocalDirQueue = _
  private var runner: IngestRunner = _
  private var polls = 0
  private var lastFiles = Map.empty[String, Long]
  private var lastSnap, measuredFrom = 0L

  private def table: WarehouseTable = runner.table
  private def viewTable = WarehouseTable(root.resolve("view").toString)
  private def totalPolls = (messages.size - 1) / perPoll

  private def config = JobConfig.fromJson(
    s"""{"spark": {}, "input_config": {
       |  "queue_url": "${root.resolve("queue")}", "poll_interval": "0",
       |  "protocol": "file", "type": "sqs", "format": "csv",
       |  "commit_checkpoint": true, "cdc_op_column": "Op",
       |  "cdc_order_column": "replicadmstimestamp",
       |  "csv_options": {"sep": "\\t", "header": "true", "inferSchema": "true"}},
       | "output_config": {
       |  "catalog_name": "bench", "database": "db", "table_name": "orders",
       |  "type": "unmanaged_iceberg", "mode": "merge",
       |  "merge_keys": "invoiceid,itemid",
       |  "table_type": "${if (view) "MOR" else "COW"}", "compression": "zstd",
       |  "partition": "destinationstate"}}""".stripMargin)

  def setup(): Unit = {
    Disk.deleteTree(work.resolve("ingest"))
    root = work.resolve("ingest")
    queue = new LocalDirQueue(root.resolve("queue").toString)
    messages.foreach { m =>
      queue.send((m \ "name").extract[String],
        S3EventParser.eventJson(land, (m \ "files").extract[List[String]]))
    }
    val timed = new TimedQueue(queue, spans)
    // the base load is one message; every later poll takes `perPoll`
    new IngestRunner(spark, config, timed, root.resolve("table").toString, 1).runOnce()
    runner = new IngestRunner(spark, config, timed, root.resolve("table").toString, perPoll)
    polls = 0
  }

  private def drain(): Unit = {
    val q = spans("streaming.start")(StreamingIngest.startAggView(
      spark, table, viewTable, Seq("destinationstate"), Seq("quantity"),
      root.resolve("ckpt").toString, minMaxCols = Seq("quantity")))
    q.awaitTermination()
  }

  def warmup(): Unit = {
    (1 to warmPolls).foreach { _ => runner.runOnce(); polls += 1; if (view) drain() }
    measuredFrom = table.currentSnapshotId
  }

  def hasNext: Boolean = polls < totalPolls

  /** View runs measure whole compaction cycles, so every run holds the same
    * share of compacting commits.
    */
  override def cycle: Int = if (view) CompactEvery else 1

  private var inputRows, viewSnaps, files = 0

  override def before(i: Int, traced: Boolean): Unit = {
    inputRows = (0 until perPoll).map(k =>
      (messages(1 + polls * perPoll + k) \ "rows").extract[Int]).sum
    if (traced) {
      lastFiles = Disk.parquetFiles(Paths.get(table.root))
      lastSnap = table.currentSnapshotId
      viewSnaps = if (view) Disk.countSnapshots(viewTable.root) else 0
    }
  }

  def op(i: Int): Unit = {
    files = spans("pipeline.poll")(runner.runOnce())
    polls += 1
    if (view) spans("streaming.refresh")(drain())
  }

  override def after(i: Int, traced: Boolean): Map[String, Double] =
    if (!traced) Map("rows" -> inputRows.toDouble)
    else {
      // table facts from disk and the snapshots metadata table
      val now = Disk.parquetFiles(Paths.get(table.root))
      val added = now.keySet -- lastFiles.keySet
      val conf = spark.sparkContext.hadoopConfiguration
      val rowsWritten = added.toSeq.map { f =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f), conf))
        try r.getRecordCount finally r.close()
      }.sum
      val snaps = table.snapshotsMeta(spark).filter(col("snapshot_id") > lastSnap)
        .select("kind").collect().map(_.getString(0))
      Map(
        "rows" -> inputRows.toDouble,
        "files" -> files.toDouble,
        "snapshots" -> snaps.length.toDouble,
        "files_written" -> added.size.toDouble,
        "bytes_written" -> added.toSeq.map(now).sum.toDouble,
        "rows_written" -> rowsWritten.toDouble) ++
        (if (view) Map("useful_windows" ->
          (Disk.countSnapshots(viewTable.root) - viewSnaps).toDouble)
        else Map.empty)
    }

  override def finalFacts(): Map[String, Double] = {
    val live = table.read(spark).count()
    val kinds = table.snapshotsMeta(spark).filter(col("snapshot_id") > measuredFrom)
      .select("kind").collect().map(_.getString(0))
    val compactions = kinds.count(_ == "maintenance")
    Map(
      "table.live_files" -> table.filesMeta(spark).count().toDouble,
      "table.stored_bytes_per_row" -> table.sizeInBytes().toDouble / math.max(1L, live),
      "table.compactions" -> compactions.toDouble / math.max(1, polls - warmPolls),
      "workload.compacting_commit_share" ->
        compactions.toDouble / math.max(1, kinds.length - compactions))
  }

  /** The view's user-facing read must equal a group-by over the table it
    * summarises; the corrupted expectation adds one to a group's sum.
    */
  override def check(): Option[(Seq[String], Seq[String])] = if (!view) None else {
    def rows(df: DataFrame) = df.collect().map(r =>
      r.getString(0) -> (1 to 4).map(j => Option(r.get(j)).map(_.asInstanceOf[Long])).toList).toMap
    val got = rows(StreamingIngest.readAggView(spark, viewTable)
      .select(col("destinationstate"), col("sum_quantity").cast("long"),
        col("n").cast("long"), col("min_quantity").cast("long"),
        col("max_quantity").cast("long")))
    val truth = rows(table.read(spark).groupBy("destinationstate").agg(
      sum(col("quantity").cast("long")), count(lit(1)),
      min(col("quantity").cast("long")), max(col("quantity").cast("long"))))
    def diff(want: Map[String, List[Option[Long]]]) = (got.keySet ++ want.keySet).toSeq.sorted.flatMap { k =>
      if (got.get(k) == want.get(k)) None
      else Some(s"view group $k: view=${got.get(k)} table=${want.get(k)}")
    }
    val (k, v) = truth.minBy(_._1)
    Some((diff(truth), diff(truth + (k -> (v.head.map(_ + 1) :: v.tail)))))
  }

  /** The consumed prefix of the log and the final table, for the fold gate. */
  override def report(): JObject = {
    val out = work.resolve("final_table").toString
    table.read(spark).write.mode("overwrite").parquet(out)
    JObject(
      "committed_messages" -> JInt(messages.size - queue.pendingCount),
      "final_table" -> JString(out))
  }
}

/** Read-only `SparkEntry.queries` over generated tables, through the noop
  * sink, in a seed-shuffled order each pass. The first warm-up pass writes
  * every result for the DuckDB oracle gate.
  */
final class AnalyticsWorkload(
    spark: SparkSession, work: Path, data: String, mix: Seq[String], seed: Long,
    spans: Spans) extends Workload {
  private val queries = mix.map(n => n -> SparkEntry.queries(n))
  private val order = mutable.ArrayBuffer.empty[(String, (SparkSession, String) => DataFrame)]

  /** The `i`th query: each pass runs the mix in its own seeded order. */
  private def at(i: Int) = {
    while (order.size <= i)
      order ++= new scala.util.Random(seed * 7919 + order.size / queries.size).shuffle(queries)
    order(i)
  }

  def setup(): Unit = ()

  /** Two passes: the first writes every result for the oracle gate, the
    * second runs the timed form (noop sink) so the JIT has settled.
    */
  def warmup(): Unit = {
    val out = work.resolve("query_out")
    queries.foreach { case (name, fn) =>
      fn(spark, data).coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
    }
    queries.foreach { case (_, fn) => fn(spark, data).write.format("noop").mode("overwrite").save() }
    val sql = SparkEntry.oracleSql
    Files.writeString(work.resolve("oracle_sql.json"), JsonMethods.compact(JsonMethods.render(
      JObject(mix.map(n => n -> (JString(sql(n)): JValue)).toList))))
  }

  def hasNext: Boolean = true

  /** Runs measure whole passes, so every run times the same query multiset. */
  override def cycle: Int = queries.size

  override def label(i: Int): String = at(i)._1

  override def slot(i: Int): Int = mix.indexOf(at(i)._1)

  def op(i: Int): Unit = {
    val df = spans("analytics.build")(at(i)._2(spark, data))
    spans("analytics.exec")(df.write.format("noop").mode("overwrite").save())
  }

}

object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[${opt("cpus")}]")
      .config("spark.sql.shuffle.partitions", opt("cpus"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionReady = System.currentTimeMillis()

    val spans = new Spans
    val ledger = new Ledger
    // the listeners are registered only around traced operations
    def listen(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(ledger)
        spark.streams.addListener(ledger.streaming)
      } else {
        org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(ledger)
        spark.streams.removeListener(ledger.streaming)
      }
    implicit val formats: Formats = DefaultFormats
    val workload: Workload = opt("workload") match {
      case w @ ("ingest_cow" | "view_refresh") =>
        val plan = JsonMethods.parse(Files.readString(Paths.get(opt("plan"))))
        new IngestWorkload(spark, work, plan, w == "view_refresh", spans)
      case "analytics" =>
        new AnalyticsWorkload(spark, work, opt("data"), opt("queries").split(",").toSeq,
          opt("seed").toLong, spans)
    }
    def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val setupReps = (1 to opt("setup_reps").toInt).map(_ => timed(workload.setup()))
    val warm = timed(workload.warmup())
    // the gate runs after the warm-up, at every cycle boundary and at the end
    val errors, corruptedMissed = mutable.LinkedHashSet.empty[String]
    def gate(at: String): Unit = workload.check().foreach { case (bad, corrupted) =>
      errors ++= bad.map(e => s"$at: $e")
      if (corrupted.isEmpty) corruptedMissed += at
    }
    gate("after warm-up")

    val ops = mutable.ArrayBuffer.empty[Op]
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    // An untraced run measures whole cycles, at least one, until `seconds`
    // have passed. A traced run measures an even number of cycles, at least
    // two, and traces each kind of operation in every other cycle, so its
    // traced and untraced operations hold the same work; trace.overhead
    // compares the two.
    val cycle = workload.cycle
    def finished = i % cycle == 0 && System.nanoTime() >= deadline &&
      (if (trace) i >= 2 * cycle && (i / cycle) % 2 == 0 else i >= cycle)
    while (!finished && workload.hasNext) {
      val traced = trace && (i / cycle + workload.slot(i)) % 2 == 0
      spans.enabled = traced
      spans.op = i
      workload.before(i, traced)
      if (traced) listen(true)
      val gc0 = gcMs
      val start = Clock.now
      val ok =
        try { workload.op(i); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] operation $i failed: $e")
          false
        }
      val end = Clock.now
      val gc = (gcMs - gc0) / 1000.0
      if (traced) {
        listen(false)
        spans.all += Span(i, "op", start, end)
      }
      val counters = if (ok) workload.after(i, traced) else Map.empty[String, Double]
      ops += Op(i, workload.label(i), start, end, ok, traced, counters + ("gc_s" -> gc))
      i += 1
      if (cycle > 1 && i % cycle == 0) gate(s"after operation $i")
    }
    spans.enabled = false

    val layers =
      if (trace) Layers(ops.toSeq, cycle, spans, ledger) ++ workload.finalFacts() else Map.empty
    if (cycle == 1) gate("at the end")
    val report = workload.report()
    if (trace) writeSpans(work.resolve("spans.jsonl"), spans)
    val result = JObject(
      "session_ready_ms" -> JLong(sessionReady),
      "setup_reps_s" -> JArray(setupReps.map(JDouble(_)).toList),
      "warmup_s" -> JDouble(warm),
      "ops" -> JArray(ops.map(o => JObject(
        "label" -> JString(o.label), "s" -> JDouble(o.seconds), "ok" -> JBool(o.ok),
        "traced" -> JBool(o.traced))).toList),
      "errors" -> JArray(errors.toList.map(JString(_))),
      "corruption_missed" -> JArray(corruptedMissed.toList.map(JString(_))),
      "layers" -> JObject(layers.toList.sortBy(_._1).map { case (k, v) => k -> JDouble(v) })
    ) merge report
    Files.writeString(work.resolve("result.json"), JsonMethods.compact(JsonMethods.render(result)))
    spark.stop()
  }

  private def writeSpans(path: Path, spans: Spans): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try spans.all.foreach { s =>
      w.write(s"""{"op":${s.op},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Per-layer metrics of a traced run, each per operation. Counts (jobs,
  * stages, tasks, snapshots, files, windows) are averaged over the first
  * `cycle` traced operations only, one of each kind and a fixed set for a
  * given seed, so they repeat across runs at one seed (task counts only
  * nearly: adaptive execution coalesces shuffle partitions by byte size);
  * times and bytes are averaged over every traced operation.
  */
object Layers {
  def apply(ops: Seq[Op], cycle: Int, spans: Spans, ledger: Ledger): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.ok)
    val first = traced.take(cycle)
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def spanSum(o: Op, name: String) = spans.of(o.index, name).map(_.seconds).sum
    def perSpan(os: Seq[Op], name: String)(f: Span => Double): Double =
      mean(os.flatMap(o => spans.of(o.index, name)).map(f))
    def counter(os: Seq[Op], k: String) = mean(os.map(_.counters.getOrElse(k, 0.0)))
    def opSpan(o: Op) = spans.of(o.index, "op").head
    def tasks(o: Op) = ledger.tasksIn(opSpan(o))
    def jobs(s: Span) = ledger.jobsIn(s).size.toDouble
    def outside(s: Span) = s.seconds - ledger.inJobsSeconds(s)
    val framework = Seq("walCommit", "commitOffsets", "latestOffset", "getBatch", "queryPlanning")
    val inputRows = traced.map(_.counters.getOrElse("rows", 0.0)).sum
    Map(
      "sources.queue.receive_s" -> mean(traced.map(spanSum(_, "sources.queue.receive"))),
      "sources.queue.ack_s" -> mean(traced.map(spanSum(_, "sources.queue.ack"))),
      "sources.files_per_poll" -> counter(traced, "files"),
      "pipeline.poll_s" -> perSpan(traced, "pipeline.poll")(_.seconds),
      "pipeline.poll.jobs" -> perSpan(first, "pipeline.poll")(jobs),
      "pipeline.poll.in_jobs_s" -> perSpan(traced, "pipeline.poll")(ledger.inJobsSeconds),
      "pipeline.poll.outside_jobs_s" -> perSpan(traced, "pipeline.poll")(outside),
      "table.snapshots_per_poll" -> counter(first, "snapshots"),
      "table.files_written_per_poll" -> counter(first, "files_written"),
      "table.bytes_written_per_poll" -> counter(traced, "bytes_written"),
      "table.rows_written_per_input_row" ->
        (if (inputRows == 0) 0.0 else traced.map(_.counters.getOrElse("rows_written", 0.0)).sum / inputRows),
      "streaming.refresh_s" -> perSpan(traced, "streaming.refresh")(_.seconds),
      "streaming.start_s" -> perSpan(traced, "streaming.start")(_.seconds),
      "streaming.windows_per_refresh" -> perSpan(first, "streaming.refresh")(s =>
        ledger.triggersIn(s).size.toDouble),
      "streaming.useful_window_ratio" -> {
        val windows = traced.flatMap(o => spans.of(o.index, "streaming.refresh"))
          .map(ledger.triggersIn(_).size).sum
        if (windows == 0) 0.0 else traced.map(_.counters.getOrElse("useful_windows", 0.0)).sum / windows
      },
      "streaming.add_batch_s" -> perSpan(traced, "streaming.refresh")(s =>
        ledger.triggersIn(s).map(_.durationsMs.getOrElse("addBatch", 0L)).sum / 1000.0),
      "streaming.framework_s" -> perSpan(traced, "streaming.refresh")(s =>
        ledger.triggersIn(s).map(t => framework.map(t.durationsMs.getOrElse(_, 0L)).sum).sum / 1000.0),
      "streaming.refresh.jobs" -> perSpan(first, "streaming.refresh")(jobs),
      "streaming.refresh.outside_jobs_s" -> perSpan(traced, "streaming.refresh")(outside),
      "analytics.build_s" -> perSpan(traced, "analytics.build")(_.seconds),
      "analytics.exec_s" -> perSpan(traced, "analytics.exec")(_.seconds),
      "analytics.query.jobs" -> mean(first.filter(o => spans.of(o.index, "analytics.exec").nonEmpty)
        .map(o => ledger.jobsIn(opSpan(o)).size.toDouble)),
      "analytics.query.outside_jobs_s" -> mean(traced.filter(o => spans.of(o.index, "analytics.exec").nonEmpty)
        .map(o => outside(opSpan(o)))),
      "spark.stages" -> mean(first.map(tasks(_).stages.toDouble)),
      "spark.tasks" -> mean(first.map(tasks(_).tasks.toDouble)),
      "spark.failed_tasks" -> mean(traced.map(tasks(_).failedTasks.toDouble)),
      "spark.executor_run_s" -> mean(traced.map(tasks(_).runMs / 1000.0)),
      "spark.executor_cpu_s" -> mean(traced.map(tasks(_).cpuNs / 1e9)),
      "spark.scheduler_delay_s" -> mean(traced.map(tasks(_).schedulerDelayMs / 1000.0)),
      "spark.shuffle_read_bytes" -> mean(traced.map(tasks(_).shuffleRead.toDouble)),
      "spark.shuffle_write_bytes" -> mean(traced.map(tasks(_).shuffleWrite.toDouble)),
      "spark.spill_bytes" -> mean(traced.map(tasks(_).spill.toDouble)),
      "spark.input_bytes" -> mean(traced.map(tasks(_).input.toDouble)),
      "spark.output_bytes" -> mean(traced.map(tasks(_).output.toDouble)),
      "jvm.gc_s" -> counter(traced, "gc_s"),
      // read once at the end by workloads with a table (Workload.finalFacts)
      "table.compactions" -> 0.0,
      "table.live_files" -> 0.0,
      "table.stored_bytes_per_row" -> 0.0,
      "workload.compacting_commit_share" -> 0.0)
  }
}
