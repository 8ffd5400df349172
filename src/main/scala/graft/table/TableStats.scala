package graft.table

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.language.existentials

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.json4s._

/** File-level min/max statistics for warehouse data dirs — the same
  * metadata Iceberg keeps per data file (read.py's engine gets it from
  * Iceberg manifests for free; we harvest it from the parquet FOOTERS of
  * the files we just wrote, so collecting stats costs metadata reads, not
  * a second pass over the data).
  *
  * A dir's entry maps column name → (min, max) over the non-null values of
  * every row group in every file of the dir. Consumers use [[mayMatch]] to
  * skip whole dirs whose range refutes a pushed-down conjunctive filter —
  * at 100 TB this prunes file listings and scans for range-correlated
  * columns (time-ordered ids, monotonically-bucketed keys) the way
  * partition values prune categorical ones.
  *
  * Soundness: min/max cover NON-NULL values only, so only filters that
  * null rows cannot satisfy (=, <, >, <=, >=, IN) participate in pruning;
  * IsNull/IsNotNull never prune. Unsupported types simply yield no stats
  * (⇒ no pruning, never wrong results).
  */
object TableStats {

  /** col -> (min, max) as JSON-representable values (JLong/JDouble/JString). */
  type DirStats = Map[String, (JValue, JValue)]

  // ---- collection ---------------------------------------------------------

  /** Map `f` over `xs` on a bounded thread pool. Footer harvesting is
    * dominated by per-file open latency (Hadoop FS + footer parse ≈ 10 ms
    * each, serial), so a dynamic-partition commit touching hundreds of
    * dirs paid seconds of pure driver wait per commit — measured 2.6 s
    * for a 256-dir minhash delta's null-count guard alone. The reads are
    * independent metadata opens; 16 threads turn the wall cost into
    * max(per-file latency), the same trick the distributed footer
    * harvest uses at manifest scale. Order is preserved; exceptions
    * propagate (first failure rethrows, matching serial semantics).
    */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.size, 16))
      var failed = true
      try {
        val futs = xs.map { x =>
          pool.submit(new java.util.concurrent.Callable[B] {
            def call(): B = f(x)
          })
        }
        val out = futs.map { fut =>
          try fut.get()
          catch { // unwrap so callers see the original failure type
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
        failed = false
        out
      } finally {
        // on failure CANCEL outstanding reads (shutdown() alone lets them
        // keep running after the caller has already thrown)
        if (failed) pool.shutdownNow() else pool.shutdown()
      }
    }

  /** A Configuration whose lazy default-resource load has already run:
    * sharing one instance across [[parMap]] threads is only safe after
    * first use (Configuration's resource loading is not fully
    * thread-safe on first touch). One property read forces it inside the
    * initializer, before any fan-out. It holds only the default
    * resources and nothing sets it, so one instance serves every harvest
    * (loading it costs ~10 ms of XML parsing).
    */
  private lazy val loadedConf: Configuration = {
    val conf = new Configuration()
    conf.get("io.file.buffer.size") // force the lazy resource load here
    conf
  }

  /** A footer reader over `file` configured from `conf`. The one-argument
    * `ParquetFileReader.open` builds its read options from a FRESH Hadoop
    * Configuration, re-parsing the default XML resources on every footer
    * — the bulk of a footer harvest's driver time; options built from
    * the caller's loaded `conf` skip that.
    */
  private def openFooter(conf: Configuration, file: Path): ParquetFileReader =
    ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file.toUri), conf),
      HadoopReadOptions.builder(conf).build())

  /** The parquet files directly under `root/rel` (none when it is absent). */
  private def parquetFiles(root: String, rel: String): List[Path] = {
    val dir = Paths.get(root, rel)
    if (!Files.isDirectory(dir)) Nil
    else {
      val listing = Files.list(dir)
      try listing.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      finally listing.close()
    }
  }

  /** The one footer walk every driver-side harvest folds over: per dir, in
    * order and on the [[parMap]] pool, `read` applied to each of its
    * parquet files while that file's reader is open.
    */
  private def walkFooters[B](root: String, relDirs: Seq[String])(
      read: (Path, ParquetFileReader) => B): Seq[(String, List[B])] = {
    val conf = loadedConf
    parMap(relDirs) { rel =>
      rel -> parquetFiles(root, rel).map { f =>
        val reader = openFooter(conf, f)
        try read(f, reader) finally reader.close()
      }
    }
  }

  /** Harvest per-dir stats from the parquet footers under `root/relDir`. */
  def collect(root: String, relDirs: Seq[String]): Map[String, DirStats] =
    walkFooters(root, relDirs)((_, reader) => fileStats(reader)).flatMap {
      case (rel, perFile) =>
        val merged = perFile.foldLeft(Map.empty[String, (JValue, JValue)])(mergeStats)
        if (merged.isEmpty) None else Some(rel -> merged)
    }.toMap

  /** Footer-recorded null counts summed over `cols` across the dirs'
    * parquet files — footer-priced like [[collect]], no data pages. The
    * post-write pre-commit guard the MOR delta paths use to enforce the
    * Iceberg identifier-field contract (merge keys NOT NULL) with ZERO
    * extra scans: the files were just written, their footers already
    * carry the answer. Unknown statistics count as zero (never a false
    * refusal; Spark-written parquet always records null counts).
    */
  def nullCount(root: String, relDirs: Seq[String], cols: Set[String]): Long =
    walkFooters(root, relDirs) { (_, reader) =>
      reader.getFooter.getBlocks.asScala.iterator.flatMap(_.getColumns.asScala)
        .filter(c => cols.contains(c.getPath.toDotString))
        .map { c =>
          val st = c.getStatistics
          if (st == null || !st.isNumNullsSet) 0L else st.getNumNulls
        }.sum
    }.flatMap(_._2).sum

  /** (files, rows, bytes) per dir — parquet FOOTER record counts plus fs
    * metadata, no data pages read: the material for an Iceberg-style
    * `partitions` metadata table. Cost: one footer open per file, the
    * same bill [[collect]] pays.
    */
  def dirFootprint(root: String, relDirs: Seq[String]): Map[String, (Long, Long, Long)] =
    walkFooters(root, relDirs)((f, reader) => (reader.getRecordCount, Files.size(f))).map {
      case (rel, files) => rel -> ((files.size.toLong, files.map(_._1).sum, files.map(_._2).sum))
    }.toMap

  /** Footer row count summed over the dirs — [[dirFootprint]]'s rows. */
  def rowCount(root: String, relDirs: Seq[String]): Long =
    dirFootprint(root, relDirs).values.map(_._2).sum

  /** Per-FILE (dir, file, rows, bytes) — [[dirFootprint]] at file grain,
    * for the `files` metadata table. Same footer-only bill.
    */
  def fileFootprint(root: String, relDirs: Seq[String]): Seq[(String, String, Long, Long)] =
    walkFooters(root, relDirs) { (f, reader) =>
      (f.getFileName.toString, reader.getRecordCount, Files.size(f))
    }.flatMap { case (rel, files) =>
      files.map { case (name, rows, bytes) => (rel, name, rows, bytes) }
    }

  /** Below this many files the footer walk stays on the driver — a Spark
    * job's scheduling overhead exceeds a handful of footer opens.
    */
  val DistributeThreshold = 256

  /** [[fileFootprint]] computed as a DISTRIBUTED job once the file
    * population crosses [[DistributeThreshold]]: the metadata tables'
    * footprint is bounded by FILE COUNT, not bytes, but at warehouse
    * scale (~10⁶ files for 100 TB) a single-threaded driver footer walk
    * is itself the bottleneck for the runbook queries that matter most
    * there. The driver still LISTS the dirs (O(dirs) fs metadata — the
    * manifests already name them); only the per-file footer opens (the
    * I/O) fan out. Results collect back driver-side — one small tuple
    * per file, the same rows the metadata relation is about to serve.
    */
  def fileFootprintSpark(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      relDirs: Seq[String]): Seq[(String, String, Long, Long)] = {
    val files: Seq[(String, String)] = relDirs.flatMap { rel =>
      parquetFiles(root, rel).map(f => rel -> f.getFileName.toString)
    }
    if (files.size < DistributeThreshold) fileFootprint(root, relDirs)
    else {
      val rootC = root // capture the string, not the table
      val slices = math.min(
        files.size / 64 + 1, spark.sparkContext.defaultParallelism * 4)
      spark.sparkContext.parallelize(files, slices)
        .mapPartitions { it =>
          val conf = new Configuration()
          it.map { case (rel, name) =>
            val f = Paths.get(rootC, rel, name)
            val reader = openFooter(conf, f)
            val rows = try reader.getRecordCount finally reader.close()
            (rel, name, rows, Files.size(f))
          }
        }.collect().toSeq
    }
  }

  /** [[dirFootprint]] through [[fileFootprintSpark]] — distributed above
    * the threshold, driver-side below it; dirs with no files keep their
    * (0, 0, 0) row either way.
    */
  def dirFootprintSpark(
      spark: org.apache.spark.sql.SparkSession,
      root: String,
      relDirs: Seq[String]): Map[String, (Long, Long, Long)] = {
    val byDir = fileFootprintSpark(spark, root, relDirs)
      .groupBy(_._1).view.mapValues { fs =>
        (fs.size.toLong, fs.map(_._3).sum, fs.map(_._4).sum)
      }.toMap
    relDirs.map(rel => rel -> byDir.getOrElse(rel, (0L, 0L, 0L))).toMap
  }

  private def fileStats(reader: ParquetFileReader): Map[String, (JValue, JValue)] =
    reader.getFooter.getBlocks.asScala.foldLeft(Map.empty[String, (JValue, JValue)]) {
      (acc, block) =>
        block.getColumns.asScala.foldLeft(acc) { (a, col) =>
          val name = col.getPath.toDotString
          val st = col.getStatistics
          if (st == null || !st.hasNonNullValue) a
          else toJson(col.getPrimitiveType.getPrimitiveTypeName,
            col.getPrimitiveType.getLogicalTypeAnnotation,
            st.genericGetMin.asInstanceOf[AnyRef],
            st.genericGetMax.asInstanceOf[AnyRef]) match {
            case Some(mm) => mergeStats(a, Map(name -> mm))
            case None => a
          }
        }
    }

  private def toJson(
      t: PrimitiveTypeName,
      logical: org.apache.parquet.schema.LogicalTypeAnnotation,
      min: AnyRef, max: AnyRef): Option[(JValue, JValue)] = (t, min, max) match {
    case (PrimitiveTypeName.INT32, a: Integer, b: Integer) =>
      Some((JLong(a.longValue), JLong(b.longValue)))
    case (PrimitiveTypeName.INT64, a: java.lang.Long, b: java.lang.Long) =>
      Some((JLong(a), JLong(b)))
    case (PrimitiveTypeName.FLOAT, a: java.lang.Float, b: java.lang.Float) =>
      Some((JDouble(a.doubleValue), JDouble(b.doubleValue)))
    case (PrimitiveTypeName.DOUBLE, a: java.lang.Double, b: java.lang.Double) =>
      Some((JDouble(a), JDouble(b)))
    case (PrimitiveTypeName.BINARY, a: Binary, b: Binary)
        if logical == org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
      Some((JString(a.toStringUsingUTF8), JString(b.toStringUsingUTF8)))
    case _ => None
  }

  /** Per-column union of two stat maps (widest [min, max]). */
  def mergeStats(a: Map[String, (JValue, JValue)], b: Map[String, (JValue, JValue)])
      : Map[String, (JValue, JValue)] =
    (a.keySet ++ b.keySet).map { k =>
      (a.get(k), b.get(k)) match {
        case (Some((amin, amax)), Some((bmin, bmax))) =>
          k -> (minOf(amin, bmin), maxOf(amax, bmax))
        case (Some(v), None) => k -> v
        case (None, Some(v)) => k -> v
        case _ => throw new IllegalStateException("unreachable")
      }
    }.toMap

  private def minOf(a: JValue, b: JValue): JValue = if (cmp(a, b) <= 0) a else b
  private def maxOf(a: JValue, b: JValue): JValue = if (cmp(a, b) >= 0) a else b

  /** Do two stored [min, max] ranges intersect? Cross-domain ranges
    * (string vs numeric — a type-evolved column) answer TRUE: the caller
    * is deciding whether a base dir must be arbitrated against a delta,
    * and "unknown" must read as "overlaps" (the conservative side), the
    * same polarity [[mayMatch]] uses.
    */
  private[graft] def rangesOverlap(
      a: (JValue, JValue), b: (JValue, JValue)): Boolean =
    !sameDomain(a._1, b._1) ||
      (cmp(b._1, a._2) <= 0 && cmp(a._1, b._2) <= 0)

  /** Order within one stats domain. Numerics compare as BigDecimal (no
    * double-rounding traps for large longs); strings by UNSIGNED UTF-8
    * BYTES — the order parquet recorded the footer min/max in AND the
    * order Spark's UTF8String comparisons use. Java String.compareTo
    * (UTF-16 code units) diverges for supplementary-plane strings
    * (U+10000+ encode as surrogate pairs 0xD800–0xDFFF, which sort BELOW
    * 0xE000–0xFFFF in UTF-16 but ABOVE them in UTF-8 bytes), and a
    * divergent prune order can unsoundly refute a dir that contains a
    * queried key. One string order everywhere: stats collection (parquet),
    * cluster-cut routing ([[graft.table.WarehouseTable]]'s stringCuts),
    * and pruning here.
    *
    * MIGRATION caveat: stats harvested BEFORE this ordering landed were
    * min/max-MERGED under UTF-16 compareTo, so a legacy dir whose string
    * column holds supplementary-plane values may carry endpoints that are
    * not true extremes under UTF-8 order — pruning against them with
    * utf8Cmp can be unsound in exactly the window the fix closes going
    * forward. Parquet's own footer min/max were always UTF-8-ordered, so
    * re-harvesting (any stats rebuild / compaction / cluster rewrite)
    * heals a legacy dir; tables that never stored supplementary-plane
    * strings (the overwhelming case) were never affected.
    */
  private[graft] def utf8Cmp(x: String, y: String): Int =
    java.util.Arrays.compareUnsigned(
      x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      y.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def cmp(a: JValue, b: JValue): Int = (a, b) match {
    case (JString(x), JString(y)) => utf8Cmp(x, y)
    case _ => num(a).compareTo(num(b))
  }

  private def num(v: JValue): BigDecimal = v match {
    case JLong(x) => BigDecimal(x)
    case JInt(x) => BigDecimal(x)
    case JDouble(x) => BigDecimal(x)
    case JDecimal(x) => x
    case other => throw new IllegalArgumentException(s"not numeric: $other")
  }

  /** Comparable stats value for a filter literal, in the same domain the
    * column's stats were stored in (None ⇒ incomparable ⇒ no pruning).
    */
  private def literal(v: Any): Option[JValue] = v match {
    case x: Int => Some(JLong(x.toLong))
    case x: Long => Some(JLong(x))
    case x: Short => Some(JLong(x.toLong))
    case x: Byte => Some(JLong(x.toLong))
    case x: Float => Some(JDouble(x.toDouble))
    case x: Double => Some(JDouble(x))
    case x: String => Some(JString(x))
    case x: java.math.BigDecimal => Some(JDecimal(BigDecimal(x)))
    case _ => None
  }

  /** Native Scala value of a stored stats endpoint — the inverse of
    * [[literal]]'s domain mapping, for callers that turn a MANIFEST
    * range back into pushable `sources.Filter` literals (the MOR gross
    * feed's old-version prune does this with the fresh delta dirs'
    * merge-key ranges).
    */
  def nativeValue(v: JValue): Option[Any] = v match {
    case JLong(x) => Some(x)
    case JInt(x) => Some(x.toLong)
    case JDouble(x) => Some(x)
    case JString(x) => Some(x)
    case JDecimal(x) => Some(x.bigDecimal)
    case _ => None
  }

  private def sameDomain(a: JValue, b: JValue): Boolean = (a, b) match {
    case (JString(_), JString(_)) => true
    case (JString(_), _) | (_, JString(_)) => false
    case _ => true
  }

  // ---- pruning ------------------------------------------------------------

  /** Can any row of a dir with `stats` satisfy ALL `filters`? Filters the
    * stats cannot refute (unknown column, unsupported shape, incomparable
    * literal) conservatively answer "yes".
    */
  def mayMatch(stats: DirStats, filters: Seq[Filter]): Boolean =
    filters.forall(f => mayMatchOne(stats, f))

  private def range(stats: DirStats, col: String, v: Any): Option[((JValue, JValue), JValue)] =
    for {
      mm <- stats.get(col)
      lit <- literal(v)
      if sameDomain(mm._1, lit)
    } yield (mm, lit)

  private def mayMatchOne(stats: DirStats, f: Filter): Boolean = f match {
    case sources.EqualTo(c, v) =>
      range(stats, c, v).forall { case ((mn, mx), l) => cmp(l, mn) >= 0 && cmp(l, mx) <= 0 }
    case sources.GreaterThan(c, v) =>
      range(stats, c, v).forall { case ((_, mx), l) => cmp(mx, l) > 0 }
    case sources.GreaterThanOrEqual(c, v) =>
      range(stats, c, v).forall { case ((_, mx), l) => cmp(mx, l) >= 0 }
    case sources.LessThan(c, v) =>
      range(stats, c, v).forall { case ((mn, _), l) => cmp(mn, l) < 0 }
    case sources.LessThanOrEqual(c, v) =>
      range(stats, c, v).forall { case ((mn, _), l) => cmp(mn, l) <= 0 }
    case sources.In(c, vs) =>
      vs.isEmpty || vs.exists(v => mayMatchOne(stats, sources.EqualTo(c, v)))
    case sources.And(l, r) => mayMatchOne(stats, l) && mayMatchOne(stats, r)
    case sources.Or(l, r) => mayMatchOne(stats, l) || mayMatchOne(stats, r)
    case _ => true // IsNull/Not/string matchers/unknown: never prune
  }
}
