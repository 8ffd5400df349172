package graft.table

import java.nio.file.{Files, Paths, Path => NioPath}
import java.nio.file.attribute.BasicFileAttributes
import java.time.ZoneId

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionPath, PartitionSpec, PartitioningUtils}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Scans planned from the manifest: a parquet relation over data dirs the
  * manifest already names, built without Spark's file listing.
  *
  * `spark.read.parquet(dirs)` re-globs and re-lists every dir, infers
  * partitions from the paths, and past 32 paths runs a parallel listing
  * JOB with one task per dir — on every read, although a committed dir is
  * immutable and the manifest already lists it. Here the driver lists
  * each dir itself (java.nio; the table layer is local-filesystem only),
  * takes partition values from the dir's own `col=value` segments, and
  * hands both to an [[InMemoryFileIndex]] through a pre-filled
  * [[FileStatusCache]] and a supplied [[PartitionSpec]]: Spark then runs no
  * listing job, no glob or existence check and no partition inference,
  * while the index still prunes by partition filters exactly as a listed
  * one does.
  *
  * The result is what `spark.read.schema(schema).option("basePath", b)
  * .parquet(...)` produced, to the byte:
  *  - partition segments are the `col=value` names below the dir's base
  *    (`base(dir)`, the basePath), parsed leaf-upward as hive discovery
  *    does, unescaped and cast to the declared type; the hive default
  *    name is NULL;
  *  - a dir with no partition segment reads only its own files (nested
  *    non-hive dirs are not descended into by a listed read either);
  *  - file paths are qualified exactly as Spark's listing spells them, so
  *    `_metadata.file_path` — persisted by position-delete sidecars — and
  *    `inputFiles` do not change.
  * Dirs of different layouts (an evolved spec's legacy dirs) cannot share
  * one partition schema, so the result is one frame per layout.
  */
private[table] object ManifestScan {

  /** Frames over the manifest-relative `dirs` of the table at `root`, one
    * per directory layout (empty `dirs` → no frames). Columns of `schema`
    * that a layout carries as partition segments come from the path; the
    * rest are read from the files (absent columns read NULL).
    */
  def frames(
      spark: SparkSession,
      root: String,
      dirs: Seq[String],
      schema: StructType,
      base: String => String): Seq[DataFrame] = {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val zone = ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val leaves = dirs.flatMap { d =>
      val dir = Paths.get(root, d)
      if (!Files.isDirectory(dir))
        throw new java.io.FileNotFoundException(s"data dir $d of $root does not exist")
      val qualified = fs.makeQualified(new Path(s"$root/$d"))
      val baseSegs = d.stripPrefix(base(d)).split("/").filter(_.nonEmpty).toSeq
      listLeaves(fs, dir, qualified, Vector.empty).flatMap { case (leaf, rel, files) =>
        val parts = partitionSegments(baseSegs ++ rel, schema, zone)
        // a partitionless leaf below the listed dir is invisible to a
        // listed read (only the dir's own files are taken)
        if (parts.isEmpty && rel.nonEmpty) None
        else Some(Leaf(qualified, leaf, parts, files))
      }
    }
    leaves.map(_.layout).distinct.map { layout =>
      val ls = leaves.filter(_.layout == layout)
      val partSchema = StructType(ls.head.parts.map(_._1))
      val dataSchema = StructType(schema.fields
        .filterNot(f => layout.contains(f.name)).map(asNullable))
      val spec =
        if (layout.isEmpty) PartitionSpec.emptySpec
        else PartitionSpec(partSchema, ls.map(l =>
          PartitionPath(InternalRow.fromSeq(l.parts.map(_._2)), l.leaf)))
      val roots = ls.map(_.root).distinct
      val listed = ls.groupBy(_.root).map { case (r, xs) => r -> xs.flatMap(_.files).toArray }
      val index = new InMemoryFileIndex(spark, roots, Map.empty, Some(schema),
        new ListedDirs(listed), Some(spec), None)
      spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
        dataSchema, None, new ParquetFileFormat, Map.empty)(spark))
    }
  }

  private final case class Leaf(
      root: Path, leaf: Path, parts: Seq[(StructField, Any)], files: Seq[FileStatus]) {
    def layout: Seq[String] = parts.map(_._1.name)
  }

  /** The manifest's dirs are immutable once committed, so their listing
    * never goes stale: nothing to invalidate, nothing to add.
    */
  private final class ListedDirs(listed: Map[Path, Array[FileStatus]])
      extends FileStatusCache {
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = listed.get(path)
    override def putLeafFiles(path: Path, leafFiles: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = ()
  }

  /** Every dir under `dir` (itself included) that directly holds files,
    * with its path relative to `dir` and its files — skipping the hidden
    * and underscore names Spark's listing skips (`_SUCCESS`, `.crc`,
    * `_temporary`).
    */
  private def listLeaves(
      fs: FileSystem,
      dir: NioPath,
      qualified: Path,
      rel: Vector[String]): Seq[(Path, Vector[String], Seq[FileStatus])] = {
    val entries = {
      val ds = Files.newDirectoryStream(dir)
      try ds.iterator().asScala.toVector finally ds.close()
    }.filterNot(p => hidden(p.getFileName.toString))
      .map(p => p -> Files.readAttributes(p, classOf[BasicFileAttributes]))
    val (subdirs, files) = entries.partition(_._2.isDirectory)
    val blockSize = fs.getDefaultBlockSize(qualified)
    val here = files.map { case (p, a) =>
      new FileStatus(a.size, false, 1, blockSize, a.lastModifiedTime.toMillis,
        localPath(fs, p))
    }
    (if (here.isEmpty) Nil else Seq((qualified, rel, here))) ++
      subdirs.flatMap { case (p, _) =>
        listLeaves(fs, p, localPath(fs, p), rel :+ p.getFileName.toString)
      }
  }

  /** Names a listed scan never reads: `_`/`.` prefixes (a `_col=v`
    * partition dir excepted) and in-flight `._COPYING_` files.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** A listed entry's path as the local filesystem's own listing spells
    * it: the absolute file path qualified against the filesystem URI
    * (`file:///…` in `toUri` form — what `_metadata.file_path` reports).
    */
  private def localPath(fs: FileSystem, p: NioPath): Path =
    fs.makeQualified(new Path(p.toAbsolutePath.toString))

  /** The typed partition values of a leaf whose segments below the base are
    * `segs`: hive discovery's walk from the leaf upward, collecting
    * `col=value` segments until a plain segment follows a collected one.
    * Segments naming no column of `schema` are dropped — a listed read
    * would infer them as extra columns the table's projection drops.
    */
  private def partitionSegments(
      segs: Seq[String], schema: StructType, zone: ZoneId): Seq[(StructField, Any)] = {
    val found = Seq.newBuilder[(StructField, Any)]
    var seen = false
    val it = segs.reverseIterator
    var done = false
    while (!done && it.hasNext) {
      val seg = it.next()
      val eq = seg.indexOf('=')
      if (eq < 0) done = seen
      else {
        seen = true
        val name = ExternalCatalogUtils.unescapePathName(seg.take(eq))
        val raw = seg.drop(eq + 1)
        schema.fields.find(_.name == name)
          .orElse(schema.fields.find(_.name.equalsIgnoreCase(name)))
          .foreach { f =>
            found += StructField(f.name, f.dataType, nullable = true) ->
              PartitioningUtils.castPartValueToDesiredType(f.dataType, raw, zone)
          }
      }
    }
    found.result().reverse
  }

  /** A data column as a file-source relation declares it: nullable all the
    * way down, like `DataSource` makes a user-specified schema.
    */
  private def asNullable(f: StructField): StructField =
    f.copy(dataType = nullableType(f.dataType), nullable = true)

  private def nullableType(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(asNullable))
    case a: ArrayType => ArrayType(nullableType(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullableType(m.keyType), nullableType(m.valueType), valueContainsNull = true)
    case other => other
  }
}
