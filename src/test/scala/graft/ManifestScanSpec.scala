package graft

import java.sql.Date
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.table.WarehouseTable

/** Table scans are planned from the manifest: building a read lists no
  * files through Spark, and the rows, file paths and pruned file sets are
  * exactly those of a listed `spark.read.parquet` over the same dirs.
  */
class ManifestScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", StringType),
    StructField("state", StringType)))

  private def frame(sch: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), sch)

  /** The manifest's data and delta dirs of a snapshot. */
  private def manifestDirs(t: WarehouseTable, asOf: Option[Long] = None): Seq[String] =
    t.filesMeta(spark, asOf).filter(col("content") =!= "posdel")
      .select("dir").distinct().collect().map(_.getString(0)).toSeq.sorted

  /** The listed read a table scan used to be: one `spark.read.parquet` per
    * `data/<uuid>` group with that group as the basePath.
    */
  private def listedRead(t: WarehouseTable, sch: StructType, dirs: Seq[String]): DataFrame =
    t.partitionColumn match {
      case None => spark.read.schema(sch).parquet(dirs.map(d => s"${t.root}/$d"): _*)
      case Some(_) =>
        dirs.groupBy(_.split("/").take(2).mkString("/")).toSeq.map { case (b, ds) =>
          spark.read.schema(sch).option("basePath", s"${t.root}/$b")
            .parquet(ds.map(d => s"${t.root}/$d"): _*)
        }.reduce(_ unionByName _)
    }

  private def rows(df: DataFrame, sch: StructType): Seq[String] =
    df.select(sch.fieldNames.toIndexedSeq.map(col): _*).collect()
      .map(_.toSeq.mkString("|")).toSeq.sorted

  /** Files the scans of `df` actually opened (partition pruning included). */
  private def filesRead(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
      .map(_.metrics("numFiles").value).sum
  }

  /** `t.read` against the listed read of the same dirs: schema, rows,
    * input files, and per partition filter the rows and the files opened.
    */
  private def assertListedFidelity(
      t: WarehouseTable, sch: StructType, filters: Seq[org.apache.spark.sql.Column]): Unit = {
    val ours = t.read(spark)
    val listed = listedRead(t, sch, manifestDirs(t))
    val cols = sch.fieldNames.toIndexedSeq.map(col)
    assert(ours.schema == listed.select(cols: _*).schema)
    assert(rows(ours, sch) == rows(listed, sch))
    assert(ours.inputFiles.sorted.toSeq == listed.inputFiles.sorted.toSeq)
    filters.foreach { f =>
      val got = ours.filter(f)
      val want = listed.select(cols: _*).filter(f)
      assert(rows(got, sch) == rows(want, sch), s"rows differ under $f")
      assert(filesRead(got) == filesRead(want), s"pruned file set differs under $f")
    }
  }

  /** Jobs the body starts (through its own thread), made exact by a
    * trailing marker job: listener events arrive in order, so once the
    * marker's start is seen every earlier start has been delivered.
    */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"manifest-scan-${UUID.randomUUID()}"
    val started = new ConcurrentLinkedQueue[Integer]()
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (props.exists(_.getProperty("spark.job.description") == "marker"))
            marked.countDown()
          else started.add(e.jobId)
        }
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "build")
      body
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, TimeUnit.SECONDS), "marker job never reported")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    started.size
  }

  test("building read, read(asOf) and a MOR gross change feed over 45 dirs starts no Spark job") {
    val states = (0 until 45).map(i => f"s$i%02d")
    val t = WarehouseTable(tmpDir("scan_jobs"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") + ("compact.delta.threshold" -> "0"))
    val base = (0 until 180).map(k => Row(k, s"v$k", states(k % 45)))
    t.append(frame(schema, base))
    val baseSnap = t.currentSnapshotId
    val up1 = (0 until 180 by 7).map(k => Row(k, s"u$k", states(k % 45)))
    t.merge(spark, frame(schema, up1), Seq("k"))
    val up2 = (200 until 210).map(k => Row(k, s"n$k", states(k % 45)))
    t.merge(spark, frame(schema, up2), Seq("k"))
    assert(manifestDirs(t, Some(baseSnap)).size >= 40)

    var cur: DataFrame = null
    var old: DataFrame = null
    var feed: DataFrame = null
    val jobs = jobsDuring {
      cur = t.read(spark)
      old = t.read(spark, asOf = Some(baseSnap))
      feed = t.changesSince(spark, baseSnap, netRemovals = false)
    }
    assert(jobs == 0, s"building the reads started $jobs Spark jobs")

    assert(rows(old, schema) ==
      rows(listedRead(t, schema, manifestDirs(t, Some(baseSnap))), schema))
    val model = (base ++ up1 ++ up2).map(r => r.getInt(0) -> r).toMap
    assert(rows(cur, schema) == model.values.map(_.toSeq.mkString("|")).toSeq.sorted)
    val changes = feed.select("k", "v", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val oldV = base.map(r => r.getInt(0) -> r.getString(1)).toMap
    val want =
      up1.map(r => (r.getInt(0), oldV(r.getInt(0)), "delete")).toSet ++
        (up1 ++ up2).map(r => (r.getInt(0), r.getString(1), "insert"))
    assert(changes == want)
  }

  test("string partitions: NULL and values needing escapes read, filter and prune as listed") {
    val t = WarehouseTable(tmpDir("scan_str"))
    t.create(schema, Some("state"))
    val values = Seq(null, "a/b", "x=y", "new york", "50%", "CA", "c:d")
    t.append(frame(schema, values.zipWithIndex.map { case (s, i) => Row(i, s"v$i", s) }))
    t.append(frame(schema, values.zipWithIndex.map { case (s, i) => Row(i + 10, s"w$i", s) }))
    assertListedFidelity(t, schema, Seq(
      col("state") === "a/b", col("state") === "x=y", col("state").isNull,
      col("state").isin("new york", "50%"), col("state") === "c:d"))
    // the manifest-level partition prune and the scan agree
    assert(rows(t.read(spark, partitions = Some(Seq("x=y"))), schema) ==
      Seq("2|v2|x=y", "12|w2|x=y").sorted)
  }

  test("int and date partition columns read, filter and prune as listed") {
    val intSch = StructType(Seq(StructField("k", IntegerType), StructField("n", IntegerType)))
    val ti = WarehouseTable(tmpDir("scan_int"))
    ti.create(intSch, Some("n"))
    ti.append(frame(intSch, (0 until 12).map(k =>
      Row(k, if (k % 4 == 3) null else Integer.valueOf(k % 4 - 1)))))
    assertListedFidelity(ti, intSch,
      Seq(col("n") === -1, col("n").isin(0, 1), col("n").isNull, col("n") > 0))

    val dateSch = StructType(Seq(StructField("k", IntegerType), StructField("d", DateType)))
    val td = WarehouseTable(tmpDir("scan_date"))
    td.create(dateSch, Some("d"))
    val days = Seq(Date.valueOf("2024-01-05"), Date.valueOf("1999-12-31"), null)
    td.append(frame(dateSch, (0 until 9).map(k => Row(k, days(k % 3)))))
    assertListedFidelity(td, dateSch, Seq(
      col("d") === Date.valueOf("2024-01-05"),
      col("d").isin(Date.valueOf("1999-12-31"), Date.valueOf("2000-01-01")),
      col("d") < Date.valueOf("2020-01-01")))
  }

  test("evolved-spec and clustered layouts: legacy dirs keep their own layout") {
    val t = WarehouseTable(tmpDir("scan_evolved"))
    t.create(schema, None)
    t.append(frame(schema, (0 until 6).map(k => Row(k, s"a${k % 2}", s"S${k % 3}"))))
    t.evolvePartition("state")
    t.append(frame(schema, (6 until 12).map(k => Row(k, s"a${k % 2}", s"S${k % 3}"))))
    t.evolvePartition("v")
    t.append(frame(schema, (12 until 18).map(k => Row(k, s"a${k % 2}", s"S${k % 3}"))))
    assert(manifestDirs(t).map(_.split("/").length).distinct.size == 2,
      "expected a flat legacy dir beside partitioned ones")
    assertListedFidelity(t, schema, Seq(
      col("v") === "a1", col("state") === "S2", col("v").isin("a0", "zz")))
    assert(t.read(spark, partitions = Some(Seq("a0"))).filter(col("v") === "a0").count() == 9)

    val c = WarehouseTable(tmpDir("scan_clustered"))
    c.create(schema, Some("state"))
    c.append(frame(schema, (0 until 40).map(k => Row(k, s"v$k", s"S${k % 3}"))))
    c.clusterBase(spark, "k", 4)
    assert(manifestDirs(c).forall(_.split("/").length == 4), "expected bucket-level dirs")
    assertListedFidelity(c, schema, Seq(col("state") === "S1", col("k") < 10))
  }

  test("catalog SQL partition filters and MOR position deletes keep their results") {
    if (spark.conf.getOption("spark.sql.catalog.graftscan").isEmpty) {
      spark.conf.set("spark.sql.catalog.graftscan", "graft.plans.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graftscan.warehouse", tmpDir("scanwh"))
    }
    val wh = spark.conf.get("spark.sql.catalog.graftscan.warehouse")
    spark.sql("DROP TABLE IF EXISTS graftscan.db.esc")
    spark.sql("CREATE TABLE graftscan.db.esc (k INT, v STRING, state STRING) PARTITIONED BY (state)")
    spark.sql(
      """INSERT INTO graftscan.db.esc VALUES (1, 'p', 'a/b'), (2, 'q', 'x=y'),
        |(3, 'r', 'new york'), (4, 's', NULL), (5, 't', 'a/b')""".stripMargin)
    def ks(q: String): Seq[Int] = spark.sql(q).collect().map(_.getInt(0)).toSeq.sorted
    assert(ks("SELECT k FROM graftscan.db.esc WHERE state = 'a/b'") == Seq(1, 5))
    assert(ks("SELECT k FROM graftscan.db.esc WHERE state IN ('x=y', 'new york')") == Seq(2, 3))
    assert(ks("SELECT k FROM graftscan.db.esc WHERE state IS NULL") == Seq(4))
    assertListedFidelity(WarehouseTable(s"$wh/db/esc"),
      StructType(schema.fields.map(_.copy(nullable = true))), Seq(col("state") === "x=y"))

    // position deletes persist the scan's _metadata.file_path spelling:
    // it must be byte-identical to the listed read's, or sidecars written
    // before this change would stop matching
    val m = WarehouseTable(tmpDir("scan_posdel"))
    m.create(schema, Some("state"), WarehouseTable.tableProperties("MOR", "snappy"))
    m.append(frame(schema, Seq(Row(1, "keep", "a/b"), Row(2, "gone", "a/b"),
      Row(3, "gone", "x y"), Row(4, "keep", null), Row(5, "gone", null))))
    assert(m.deleteWhereMor(spark, col("v") === "gone") == 3)
    val posDirs = m.filesMeta(spark).filter(col("content") === "posdel")
      .select("dir").distinct().collect().map(r => s"${m.root}/${r.getString(0)}")
    val erased = spark.read.parquet(posDirs.toIndexedSeq: _*)
      .select("__graft_file").distinct().collect().map(_.getString(0)).toSet
    val listedPaths = listedRead(m, schema, manifestDirs(m))
      .select(col("_metadata.file_path")).distinct().collect().map(_.getString(0)).toSet
    assert(erased.nonEmpty && erased.subsetOf(listedPaths),
      s"sidecar paths $erased not spelled as listed $listedPaths")
    assert(m.read(spark).select("k").collect().map(_.getInt(0)).toSet == Set(1, 4))
    assert(m.read(spark).filter(col("state") === "a/b").select("k").collect()
      .map(_.getInt(0)).toSet == Set(1))
    m.merge(spark, frame(schema, Seq(Row(6, "new", "a/b"))), Seq("k"))
    assert(m.read(spark).select("k").collect().map(_.getInt(0)).toSet == Set(1, 4, 6))
  }

  test("position-delete erasures: the change feed opens only the named files; DELETE counts match a model") {
    val t = WarehouseTable(tmpDir("scan_erasures"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") + ("compact.delta.threshold" -> "0"))
    val states = Seq("CA", "NY", "TX")
    def row(k: Int, v: String) = Row(k, v, states(k % 3))
    // several files per partition dir, so reading only the named files
    // is narrower than reading their dirs
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
    try {
      t.append(frame(schema, (0 until 36).map(k => row(k, s"v$k"))))
      t.merge(spark, frame(schema, (0 until 36 by 5).map(k => row(k, s"u$k"))), Seq("k"))
    } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    var model = (0 until 36).map(k => k -> row(k, s"v$k")).toMap ++
      (0 until 36 by 5).map(k => k -> row(k, s"u$k"))
    def modelRows(rs: Iterable[Row]): Seq[String] = rs.map(_.toSeq.mkString("|")).toSeq.sorted

    // erases base rows and delta winners alike
    val since = t.currentSnapshotId
    val erased = model.values.filter(_.getInt(0) % 7 == 0)
    assert(t.deleteWhereMor(spark, col("k") % 7 === 0) == erased.size)
    model --= erased.map(_.getInt(0))

    val feed = t.changesSince(spark, since)
    val deletes = feed.filter(col("_change_type") === "delete")
    assert(rows(deletes, schema) == modelRows(erased))
    assert(feed.count() == erased.size)

    // the erasure scan opens exactly the files the sidecar names, fewer
    // than their dirs hold
    val posDirs = t.filesMeta(spark).filter(col("content") === "posdel")
      .select("dir").distinct().collect().map(r => s"${t.root}/${r.getString(0)}")
    val named = spark.read.parquet(posDirs.toIndexedSeq: _*)
      .select("__graft_file").distinct().collect().map(_.getString(0)).toSet
    deletes.collect()
    val dataScans = collect(deletes.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.forall(_.toString.contains("/data/")) => s
    }
    assert(dataScans.nonEmpty)
    assert(dataScans.map(_.metrics("numFiles").value).sum == named.size)
    val namedDirs = named.map { f =>
      val p = new java.net.URI(f).getPath
      p.substring(0, p.lastIndexOf('/'))
    }
    val filesInNamedDirs = t.filesMeta(spark).collect()
      .count(r => namedDirs.contains(s"${t.root}/${r.getAs[String]("dir")}"))
    assert(named.size < filesInNamedDirs,
      s"every file of the erased rows' dirs is named: $named")

    // DELETE counts are footer counts and match the model
    val ny = model.values.filter(_.getString(2) == "NY")
    assert(t.deleteRows(spark, col("state") === "NY") == ny.size)
    model = model.filter(_._2.getString(2) != "NY")
    assert(rows(t.read(spark), schema) == modelRows(model.values))
    // a DELETE that removes nothing commits nothing and leaves no dir
    def dataRoots: Set[String] = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "data"))
      try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
    }
    val (snap, roots) = (t.currentSnapshotId, dataRoots)
    assert(t.deleteRows(spark, col("k") === 1000) == 0L)
    assert(t.currentSnapshotId == snap && dataRoots == roots)
  }

  test("graft.table reads its own files only through ManifestScan: no listed spark.read elsewhere") {
    val dir = java.nio.file.Paths.get("src/main/scala/graft/table")
    val sources = {
      val ls = java.nio.file.Files.list(dir)
      try ls.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally ls.close()
    }
    assert(sources.exists(_.getFileName.toString == "WarehouseTable.scala"),
      s"no table sources under ${dir.toAbsolutePath}")
    val offenders = sources.filterNot(_.getFileName.toString == "ManifestScan.scala").flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      Seq("spark.read", ".read.parquet(").filter(text.contains).map(p => s"${f.getFileName}: $p")
    }
    assert(offenders.isEmpty, s"a second read path for table files: ${offenders.mkString(", ")}")
  }

  /** Every code line of the sources in `src/main/scala/graft/<pkg>` as
    * (file, member, code): the member is the 2-space indented def it sits
    * in; comment lines are dropped. `anchor` must be among the files.
    */
  private def codeLines(pkg: String, anchor: String): Seq[(String, String, String)] = {
    val dir = java.nio.file.Paths.get(s"src/main/scala/graft/$pkg")
    val sources = {
      val ls = java.nio.file.Files.list(dir)
      try ls.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally ls.close()
    }
    assert(sources.exists(_.getFileName.toString == anchor),
      s"no $pkg sources under ${dir.toAbsolutePath}")
    val member = """^  (?:(?:private|private\[\w+\]|override|final)\s+)*def\s+(\w+).*""".r
    sources.flatMap { f =>
      var current = ""
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8").split("\n").toSeq.flatMap { l =>
        l match {
          case member(name) => current = name
          case _ =>
        }
        val code = l.trim
        if (code.startsWith("*") || code.startsWith("/*") || code.startsWith("//")) None
        else Some((s"${f.getFileName}", current, code))
      }
    }
  }

  test("graft.table writes snapshots only through commit: one writer of snapshot files and of the pointer") {
    val lines = codeLines("table", "WarehouseTable.scala")
    def callers(call: String): Set[String] = lines.collect {
      case (_, m, code) if code.contains(s"$call(") && !code.contains(s"def $call(") => m
    }.toSet
    assert(callers("writeSnapshot") == Set("commit", "create"))
    assert(callers("atomicWriteCurrent") == Set("create", "commit", "rollback", "publishStaged"))
    // a write whose TARGET is a snapshot name: publishStaged's rename of
    // a landed stage is the only one outside commit's writeSnapshot
    val arg = """((?:[^,()]|\([^()]*\))+)"""
    val targets = Seq(
      s"Files\\.write\\(\\s*$arg,".r -> 1,
      s"createLink\\(\\s*$arg,".r -> 1,
      s"Files\\.move\\(\\s*$arg,\\s*$arg".r -> 2)
    val snapshotWrites = lines.flatMap { case (f, m, code) =>
      targets.flatMap { case (re, g) => re.findAllMatchIn(code).map(_.group(g)) }
        .filter(t => t.contains("snapPath(") || t.contains("stagedPath("))
        .map(t => s"$f:$m -> $t")
    }
    assert(snapshotWrites.exists(_.contains(":publishStaged -> snapPath(")),
      s"the guard no longer sees publishStaged's rename: $snapshotWrites")
    assert(snapshotWrites.forall(_.contains(":publishStaged -> ")),
      s"a snapshot file written outside commit: ${snapshotWrites.mkString(", ")}")
  }

  test("graft.streaming tails a table's commit log only through the snapshot-log source; startAggView writes its view itself") {
    val lines = codeLines("streaming", "StreamingIngest.scala")
    // a file stream over snaps/ names the dir in its path
    val snapsDir = lines.collect {
      case (f, m, code) if code.contains("/snaps") || code.contains("\"snaps\"") => s"$f:$m: $code"
    }
    assert(snapsDir.isEmpty, s"a stream over a table's snaps dir: ${snapsDir.mkString("; ")}")
    assert(lines.exists { case (_, m, code) =>
      m == "tailSnapshotLog" && code.contains("format(\"graft-snapshots\")") })
    val aggView = lines.collect { case (_, "startAggView", code) => code }
    assert(aggView.exists(_.contains("view.overwrite(")), "the guard no longer sees the view write")
    assert(!aggView.exists(_.contains("IncrementalRollup")),
      "startAggView writes the view through IncrementalRollup")
  }

  test("graft.streaming records a consumer's progress only through a WarehouseTable commit") {
    val lines = codeLines("streaming", "StreamingIngest.scala")
    // no file of its own: a cursor beside the table, a marker, a rename
    val ownWrites = lines.collect {
      case (f, m, code) if Seq("Files.write", "Files.move", "writeString", "_applied")
          .exists(code.contains) => s"$f:$m: $code"
    }
    assert(ownWrites.isEmpty, s"graft.streaming writes a file itself: ${ownWrites.mkString("; ")}")
    // the position is read from the consumer table, and each consumer
    // lands it with its window's one write
    assert(lines.exists { case (_, m, code) =>
      m == "tailSnapshotLog" && code.contains("consumer.sourcePosition") })
    for ((consumer, write) <- Seq("startAggView" -> "view.overwrite(",
        "startCdcMirror" -> "mirror.merge(")) {
      val body = lines.collect { case (_, `consumer`, code) => code }
      assert(body.count(_.contains(write)) == 1 &&
        body.count(_.contains("advance = Some(advance)")) == 1,
        s"$consumer no longer lands its window as one $write that carries the position")
    }
    // on the table side only commit sets a snapshot's position
    val setters = codeLines("table", "WarehouseTable.scala").collect {
      case (_, m, code) if code.contains("position = Some(") => m
    }
    assert(setters.toSet == Set("commit"), s"a source position set outside commit: $setters")
  }
}
