package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{Dedup, MergeInto}

/** A snapshot-versioned, partition-pruned Parquet table — the engine's
  * stand-in for the reference's Iceberg v2 table
  * (`/root/reference/spark-job/read.py:196-241`), built Iceberg-style but
  * from scratch:
  *
  * Layout (all under `root/`):
  * {{{
  *   _meta.json        schema (Spark DDL), partition column, properties
  *   _current          text file holding the current snapshot id; commits
  *                     replace it via atomic rename (snapshot isolation:
  *                     readers resolve _current once, then read immutable
  *                     snapshot + data files)
  *   snaps/snap-N.json manifest: partitionValue -> list of data dirs
  *   data/<uuid>/      immutable parquet dirs, hive-partitioned when the
  *                     table is partitioned
  * }}}
  *
  * Scale design:
  *  - The manifest maps partition values to files, so `merge` / `read`
  *    prune partitions BEFORE any Spark scan is planned — at 100 TB only
  *    the touched partitions' files are listed or read.
  *  - `merge` is copy-on-write at PARTITION granularity (like Iceberg COW
  *    with partition-level conflict detection): untouched partitions are
  *    carried into the new snapshot by reference, never rewritten.
  *  - Commits are atomic (write-new-files, then atomic pointer swap), so a
  *    crash mid-write leaves the previous snapshot intact — this is what
  *    makes the at-least-once queue replay idempotent end-to-end.
  */
final class WarehouseTable(val root: String) {

  private val NoPart = "__ALL__"
  /** MOR delete-marker column persisted in delta files (never in base). */
  private val TombstoneCol = "__graft_deleted"
  /** Position-delete file columns: the erased row's data-file URI (as
    * Spark's `_metadata.file_path` reports it) + its ordinal in that file
    * (`_metadata.row_index`). Never part of a table schema.
    */
  private val PosFileCol = "__graft_file"
  private val PosIdxCol = "__graft_pos"
  // Spark writes null partition values to this hive dir name; manifest keys
  // must use the same spelling or null-partition rows silently diverge.
  private val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"
  private implicit val formats: Formats = DefaultFormats

  private def rootPath: Path = Paths.get(root)
  private def metaPath: Path = rootPath.resolve("_meta.json")
  private def currentPath: Path = rootPath.resolve("_current")
  private def snapPath(id: Long): Path = rootPath.resolve(s"snaps/snap-$id.json")
  /** Staged (write-audit-publish) snapshots live under a DIFFERENT name:
    * commit-log tailers ([[graft.streaming.StreamingIngest.startCdcMirror]]
    * and friends match `snap-*`) must never wake on unpublished data, and
    * [[publishStaged]] is then a rename + pointer move.
    */
  private def stagedPath(id: Long): Path =
    rootPath.resolve(s"snaps/staged-$id.json")
  /** Read-side resolution: published name first, staged fallback — lets
    * `read(asOf = stagedId)` audit a staged snapshot. Write sites use
    * [[snapPath]]/[[stagedPath]] directly.
    */
  private def snapOrStaged(id: Long): Path = {
    val p = snapPath(id)
    if (Files.exists(p)) p else stagedPath(id)
  }

  // ---- metadata ----------------------------------------------------------

  final case class Meta(
      schemaDdl: String,
      partition: Option[String],
      properties: Map[String, String]) {
    def schema: StructType = StructType.fromDDL(schemaDdl)
  }

  def exists: Boolean = Files.exists(metaPath)

  private def readMeta(): Meta = {
    val j = JsonMethods.parse(readString(metaPath))
    Meta(
      (j \ "schema").extract[String],
      (j \ "partition").extractOpt[String].filter(_.nonEmpty),
      (j \ "properties").extract[Map[String, String]])
  }

  def partitionColumn: Option[String] = readMeta().partition
  def properties: Map[String, String] = readMeta().properties
  def schema: StructType = readMeta().schema

  /** Wall-clock source for commit timestamps — a test seam ONLY (the
    * backwards-clock spec injects a regressive clock to prove the
    * monotone clamp in [[writeSnapshot]]); production never overrides.
    */
  private[graft] var clockMillis: () => Long = () => System.currentTimeMillis()

  /** A snapshot file's commit time: the json "ts" field, else file mtime
    * (snapshots written before the field existed) — the one resolution
    * order both the write-side monotone clamp and [[snapshotAtCounted]]
    * share.
    */
  private def commitTsOf(p: Path): Long =
    commitTsOfJson(JsonMethods.parse(readString(p)), p)

  private def commitTsOfJson(j: org.json4s.JValue, p: Path): Long =
    j \ "ts" match {
      case JLong(t) => t
      case JInt(t) => t.toLong
      case _ => Files.getLastModifiedTime(p).toMillis
    }

  /** Create the table if absent: declared schema + optional partition
    * column + properties — the `writeTo(...).create()` path at
    * read.py:199-228 (COW/MOR props at read.py:208-216).
    */
  def create(
      schema: StructType,
      partition: Option[String] = None,
      properties: Map[String, String] = Map.empty): Unit = {
    require(!exists, s"table already exists at $root")
    partition.foreach { p =>
      require(schema.fieldNames.contains(p),
        s"partition column '$p' not in schema ${schema.fieldNames.mkString(",")}")
    }
    Files.createDirectories(rootPath.resolve("snaps"))
    Files.createDirectories(rootPath.resolve("data"))
    val props = JObject(properties.map { case (k, v) => k -> (JString(v): JValue) }.toList)
    val meta = JObject(
      "schema" -> JString(schema.toDDL),
      "partition" -> JString(partition.getOrElse("")),
      "properties" -> props)
    writeString(metaPath, JsonMethods.compact(JsonMethods.render(meta)))
    writeSnapshot(0L, Manifest(Map.empty, Nil), None, createNew = false)
    atomicWriteCurrent(0L)
  }

  def drop(): Unit = deleteTree(rootPath)

  /** Delete `p` and everything below it, deepest entries first (an absent
    * `p` is a no-op).
    */
  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally walk.close()
    }

  // ---- snapshots ---------------------------------------------------------

  def currentSnapshotId: Long = readString(currentPath).trim.toLong

  /** One MOR delta: a sequence number + its (partition -> dirs) files. */
  final case class Delta(seq: Long, data: Map[String, List[String]])

  /** Snapshot contents: the base files plus ordered MOR deltas, and
    * file-level min/max stats per data dir (see [[TableStats]]).
    * `posDeletes` lists position-delete dirs (Iceberg v2's second delete
    * flavor): each holds (data-file path, row ordinal) rows naming
    * physical rows erased from this snapshot's view — see
    * [[deleteWhereMor]]. `position` is the [[sourcePosition]] the
    * snapshot records.
    */
  final case class Manifest(
      base: Map[String, List[String]],
      deltas: List[Delta],
      stats: Map[String, TableStats.DirStats] = Map.empty,
      posDeletes: List[String] = Nil,
      position: Option[WarehouseTable.SourcePosition] = None) {
    def allPartitions: Set[String] =
      base.keySet ++ deltas.flatMap(_.data.keySet)
    /** Every data dir this snapshot references, base and deltas. */
    def liveDirs: Set[String] =
      (base.values.flatten ++ deltas.flatMap(_.data.values.flatten)).toSet
    /** Drop stats of dirs no longer referenced by this snapshot. */
    def pruneStats: Manifest = {
      val live = liveDirs
      copy(stats = stats.view.filterKeys(live.contains).toMap)
    }
    // The steps writes hand [[commit]]: `add` dirs (stats `st`) unioned
    // into the base per key, as the next MOR delta, in place of partition
    // keys `parts`, or in place of everything; keys or base dirs dropped.
    def addDirs(add: Map[String, List[String]], st: Map[String, TableStats.DirStats]): Manifest =
      copy(base = (base.keySet ++ add.keySet).map(k =>
        k -> (base.getOrElse(k, Nil) ++ add.getOrElse(k, Nil))).toMap, stats = stats ++ st)
    def addDelta(add: Map[String, List[String]], st: Map[String, TableStats.DirStats]): Manifest =
      copy(deltas = deltas :+ Delta(deltas.map(_.seq).maxOption.getOrElse(0L) + 1, add),
        stats = stats ++ st)
    def replaceParts(parts: Set[String], add: Map[String, List[String]],
        st: Map[String, TableStats.DirStats]): Manifest = dropParts(parts).addDirs(add, st)
    def replaceAll(add: Map[String, List[String]], st: Map[String, TableStats.DirStats]): Manifest =
      copy(base = add, deltas = Nil, stats = st, posDeletes = Nil)
    def dropParts(parts: Set[String]): Manifest = copy(base = base -- parts,
      deltas = deltas.map(d => d.copy(data = d.data -- parts)).filter(_.data.nonEmpty)).pruneStats
    def dropDirs(gone: String => Boolean): Manifest =
      copy(base = base.view.mapValues(_.filterNot(gone)).filter(_._2.nonEmpty).toMap).pruneStats
  }

  private def partsToJson(m: Map[String, List[String]]): JValue =
    JObject(m.map { case (k, v) => k -> (JArray(v.map(JString(_))): JValue) }.toList)

  private def partsFromJson(j: JValue): Map[String, List[String]] =
    j.extract[Map[String, List[String]]]

  private def statsToJson(s: Map[String, TableStats.DirStats]): JValue =
    JObject(s.map { case (dir, cols) =>
      dir -> (JObject(cols.map { case (c, (mn, mx)) =>
        c -> (JObject("min" -> mn, "max" -> mx): JValue)
      }.toList): JValue)
    }.toList)

  private def statsFromJson(j: JValue): Map[String, TableStats.DirStats] = j match {
    case JObject(dirs) => dirs.map { case (dir, colsJ) =>
      dir -> (colsJ match {
        case JObject(cols) => cols.map { case (c, mm) =>
          c -> ((mm \ "min", mm \ "max"))
        }.toMap
        case _ => Map.empty[String, (JValue, JValue)]
      })
    }.toMap
    case _ => Map.empty
  }

  /** Read a snapshot. Three on-disk generations are understood:
    *   v1 — flat partition→dirs map;
    *   v2 — inline {base, deltas, stats};
    *   v3 — SPLIT: the snapshot holds a partition→manifest-file pointer
    *        map ("parts"); each `manifests/mf-*.json` fragment carries one
    *        partition's dirs + stats. Commits reuse unchanged fragments by
    *        reference, so per-commit metadata writes scale with TOUCHED
    *        partitions, not table size (Iceberg's manifest-list idea).
    * `onlyParts` restricts fragment loading to the named partitions —
    * partition-pruned reads never open the other fragments.
    */
  private def readManifest(id: Long, onlyParts: Option[Set[String]] = None): Manifest =
    manifestFromJson(JsonMethods.parse(readString(snapOrStaged(id))), onlyParts)

  /** Decode a parsed snapshot JSON — factored from [[readManifest]] so a
    * caller that also needs snapshot-level fields (the commit `kind` in
    * [[changesSince]]'s per-commit walk) parses the file ONCE instead of
    * a second readString+parse per window commit.
    */
  private def manifestFromJson(j: JValue, onlyParts: Option[Set[String]] = None): Manifest = {
    (j \ "parts") match {
      case JObject(parts) => // v3 split format
        // Evolved tables: fragments whose key carries legacy-spec dirs
        // are loaded regardless of the requested values (the per-dir
        // prune in readResolved decides what to plan). A pre-evolution
        // snapshot has no "legacy" field → its keys belong to an older
        // spec, so a pruned read loads everything. Never-evolved tables
        // (history empty) keep the plain key-membership fast path.
        val keep: String => Boolean = onlyParts match {
          case None => _ => true
          case Some(w) =>
            if (partitionHistory(readMeta()).isEmpty) w.contains _
            else (j \ "legacy") match {
              case JArray(ls) =>
                val leg = ls.map(_.extract[String]).toSet
                pv => w.contains(pv) || leg.contains(pv)
              case _ => _ => true
            }
        }
        val wanted = parts.filter { case (pv, _) => keep(pv) }
        val frags = wanted.map { case (pv, pathJ) =>
          val fj = JsonMethods.parse(readString(rootPath.resolve(pathJ.extract[String])))
          val dirs = (fj \ "dirs").extract[List[String]]
          (pv, dirs, statsFromJson(fj \ "stats"))
        }
        val deltas = deltasFromJson(j)
        Manifest(
          frags.map(f => f._1 -> f._2).toMap,
          deltas,
          // delta-dir stats ride at SNAPSHOT level ("dstats"): fragments
          // are keyed by base partition, so filtering m.stats through
          // fragment dirs silently dropped every delta dir's range on
          // serialization — MOR delta dirs could then never stats-prune
          // (read-side key filters, the gross feed's old-version range).
          // Absent on pre-dstats snapshots → conservative, no pruning.
          frags.flatMap(_._3).toMap ++ statsFromJson(j \ "dstats"),
          posDeletesFromJson(j), positionFromJson(j))
      case _ => (j \ "base") match {
        case JNothing => Manifest(partsFromJson(j), Nil) // v1 flat format
        case baseJ =>
          Manifest(partsFromJson(baseJ), deltasFromJson(j), statsFromJson(j \ "stats"),
            posDeletesFromJson(j), positionFromJson(j))
      }
    }
  }

  private def posDeletesFromJson(j: JValue): List[String] = (j \ "posdel") match {
    case JArray(ds) => ds.map(_.extract[String])
    case _ => Nil
  }

  private def positionFromJson(j: JValue): Option[WarehouseTable.SourcePosition] =
    (j \ "applied").extractOpt[WarehouseTable.SourcePosition]

  /** The source position snapshot `id` records: how far the consumer
    * that writes this table (an aggregate view, a CDC mirror) has applied
    * its source's commit log. Only a write's `advance` sets it; every
    * other commit carries its parent's, and a [[rollback]] returns to the
    * position of the snapshot it restores. None before the first advance.
    */
  def sourcePosition(id: Long): Option[WarehouseTable.SourcePosition] =
    positionFromJson(JsonMethods.parse(readString(snapOrStaged(id))))

  private def deltasFromJson(j: JValue): List[Delta] = (j \ "deltas") match {
    case JArray(ds) => ds.map { d =>
      Delta((d \ "seq").extract[Long], partsFromJson(d \ "data"))
    }
    case _ => Nil
  }

  /** The partition→fragment-path pointer map of a v3 snapshot (empty for
    * v1/v2 or snapshot 0).
    */
  private def snapFragmentPaths(id: Long): Map[String, String] = {
    val p = snapOrStaged(id)
    if (!Files.exists(p)) Map.empty
    else JsonMethods.parse(readString(p)) \ "parts" match {
      case JObject(parts) => parts.map { case (pv, v) => pv -> v.extract[String] }.toMap
      case _ => Map.empty
    }
  }

  /** Write snapshot `id` in the v3 split format, reusing the parent
    * snapshot's fragment files for partitions whose dirs+stats did not
    * change (`parent` is its id and manifest, which the commit already
    * read). `createNew` guards the snapshot pointer file against racing
    * commits (fragments carry uuid names and cannot collide). Returns
    * normally exactly when the snapshot file landed.
    */
  private def writeSnapshot(
      id: Long, m: Manifest, parent: Option[(Long, Manifest)], createNew: Boolean,
      kind: String = "data", staged: Boolean = false,
      wapId: Option[String] = None): Unit = {
    // ONE parse of the parent snapshot serves both consumers below: the
    // fragment-reuse pointer map AND the monotone-ts clamp (a second
    // readString+parse of a large manifest per commit is pure waste on
    // the hot write path)
    val prevParsed: Option[(Path, org.json4s.JValue)] = parent.flatMap { case (pid, _) =>
      val pp = snapOrStaged(pid)
      if (Files.exists(pp)) Some((pp, JsonMethods.parse(readString(pp))))
      else None
    }
    val prevPaths: Map[String, String] = prevParsed.map { case (_, j) =>
      j \ "parts" match {
        case JObject(ps) => ps.map { case (pv, v) => pv -> v.extract[String] }.toMap
        case _ => Map.empty[String, String]
      }
    }.getOrElse(Map.empty)
    val prev = parent.map(_._2).filter(_ => prevPaths.nonEmpty)
    val parts = m.base.map { case (pv, dirs) =>
      val stats = m.stats.view.filterKeys(dirs.contains).toMap
      val unchanged = prev.exists(pm =>
        pm.base.get(pv).contains(dirs) &&
          pm.stats.view.filterKeys(dirs.contains).toMap == stats) &&
        prevPaths.contains(pv)
      val path =
        if (unchanged) prevPaths(pv)
        else {
          val rel = s"manifests/mf-${UUID.randomUUID()}.json"
          writeString(rootPath.resolve(rel), JsonMethods.compact(JsonMethods.render(
            JObject("dirs" -> JArray(dirs.map(JString(_))),
              "stats" -> statsToJson(stats)))))
          rel
        }
      pv -> (JString(path): JValue)
    }
    // Evolved tables stamp the snapshot with its LEGACY partition keys —
    // the fragment keys holding ≥1 dir written under a prior spec. A
    // partition-pruned read must still open those fragments (their dirs
    // are planned regardless of the requested values), and the key set
    // is only knowable here, where the full manifest is in hand. Tables
    // that never evolved skip the field entirely — and a pruned read of
    // a PRE-evolution snapshot (no field) conservatively opens all
    // fragments rather than trust keys of an unknown spec.
    val legacyField: List[(String, JValue)] = {
      val meta = readMeta()
      if (partitionHistory(meta).isEmpty) Nil
      else {
        val notCurrent = (d: String) => !dirUnderSpec(meta.partition)(d)
        val keys =
          m.base.collect { case (pv, dirs) if dirs.exists(notCurrent) => pv } ++
          m.deltas.flatMap(_.data.collect {
            case (pv, dirs) if dirs.exists(notCurrent) => pv })
        List("legacy" -> JArray(keys.toList.distinct.map(JString(_))))
      }
    }
    // A staged snapshot records the TIMELINE it was built on: its parent
    // state is carried BY VALUE, so a rollback (which bumps the lineage
    // id and lets new commits reuse the abandoned ids) makes the stage
    // unpublishable — without this stamp, publishStaged(N) after the new
    // timeline re-reaches N−1 would atomically install a manifest built
    // on pre-rollback state, silently dropping every new-timeline commit
    // (the same snapshot-id-reuse hole lineage ids close for consumer positions).
    val stagedField: List[(String, JValue)] =
      (if (staged) List("lineage" -> (JString(lineageId): JValue)) else Nil) ++
        wapId.map(w => "wap-id" -> (JString(w): JValue)).toList
    // delta dirs are not in any base fragment, so their stats must ride
    // in the snapshot itself or be lost (see manifestFromJson's v3 note)
    val dstatsField: List[(String, JValue)] = {
      val deltaDirs = m.deltas.flatMap(_.data.values.flatten).toSet
      val ds = m.stats.view.filterKeys(deltaDirs.contains).toMap
      if (ds.isEmpty) Nil else List("dstats" -> statsToJson(ds))
    }
    // COMMIT TIME, for TIMESTAMP AS OF — clamped to the PARENT snapshot's
    // ts so the sequence is monotone non-decreasing in snapshot id BY
    // CONSTRUCTION, not by trusting the wall clock: an NTP step backwards
    // between two commits (or a slow-clocked second writer host — the
    // parent is read from the SHARED filesystem, so the clamp holds
    // regardless of whose clock stamped it) would otherwise silently
    // break snapshotAt's binary search, which prunes half the candidates
    // on every probe and so resolves a non-monotone sequence to an
    // ARBITRARY wrong snapshot — worse than the old linear scan it
    // replaced. The parent read resolves ts-field-else-mtime, the same
    // order snapshotAtCounted reads, so the clamp also covers the
    // pre-ts-field boundary.
    val commitTs = {
      val now = clockMillis()
      prevParsed
        .map { case (pp, j) => math.max(now, commitTsOfJson(j, pp)) }
        .getOrElse(now)
    }
    val snap = JObject(
      ("parts" -> (JObject(parts.toList): JValue)) ::
      ("ts" -> (JLong(commitTs): JValue)) ::
      // commit kind, stamped by the WRITER: "maintenance" marks
      // resolution-invariant rewrites (delta/posdel folds, compaction,
      // re-clustering, spec migration) whose removed dirs' live rows all
      // re-land in the same commit — [[changesSince]] skips their removal
      // diff EXACTLY (the old delta-dir heuristic misclassified a
      // dropPartitions that swept MOR deltas as maintenance, silently
      // dropping its deletes from the feed). "data" is everything else.
      ("kind" -> (JString(kind): JValue)) ::
      ("deltas" -> (JArray(m.deltas.map(d => JObject(
        "seq" -> JInt(d.seq), "data" -> partsToJson(d.data)))): JValue)) ::
      ("posdel" -> (JArray(m.posDeletes.map(JString(_))): JValue)) ::
      (stagedField ++ dstatsField ++ legacyField ++
        m.position.map(p => "applied" -> Extraction.decompose(p))))
    val bytes = JsonMethods.compact(JsonMethods.render(snap))
      .getBytes(StandardCharsets.UTF_8)
    val p = if (staged) stagedPath(id) else snapPath(id)
    Files.createDirectories(p.getParent)
    // ATOMIC writes, with the scratch file OUTSIDE `snaps/`: the commit-log
    // tailers STREAM that directory, so even a short-lived tmp sibling
    // could be listed and then vanish under the reader. A plain CREATE_NEW
    // write is worse still — it creates the NAME before the bytes land, so
    // any listing-based reader (tailers, GC/expiry, stagedDead's parse of
    // staged-*.json) could observe a truncated JSON mid-write. The hard
    // link appears with its full content or not at all, and the createNew
    // flavor still fails loudly when a racing commit claimed the id.
    val tmp = rootPath.resolve(s"_snapwrite.tmp.${UUID.randomUUID()}")
    Files.write(tmp, bytes)
    try {
      if (createNew)
        try {
          if (WarehouseTable.simulateLinkless)
            throw new UnsupportedOperationException("simulated linkless fs")
          Files.createLink(p, tmp)
        } catch {
          // filesystems without hard-link support (some FUSE/object-store
          // mounts, FAT): CLAIM the id with an O_EXCL sidecar, then
          // ATOMIC_MOVE the bytes in. A plain CREATE_NEW byte write of
          // the snapshot itself would reintroduce the torn-read window
          // this whole path exists to close — a listing-based reader
          // (tailers, expiry, stagedDead's parse) hitting truncated JSON
          // gets a NON-retryable parse exception, unlike the tolerated
          // NoSuchFileException races. The earlier probe-then-move
          // fallback had a SILENT-LOSS hole instead: POSIX rename
          // replaces silently, so two racers that both passed the
          // Files.exists probe both believed they committed while the
          // first mover's snapshot was erased — and no post-move verify
          // can close that (the loser's verify sees its own bytes). The
          // claim file's content is never read (torn content is
          // irrelevant) — only its NAME matters, and O_EXCL name
          // creation is atomic on every filesystem, linkless or not: the
          // loser gets FileAlreadyExistsException and rebases LOUDLY.
          // Claims are dot-prefixed so no snaps/ listing matches them,
          // persist after success (the snap file itself then refuses
          // re-claims), are deleted by rollback alongside their snap
          // (id reuse), and a CRASHED claimant's orphan (claim without
          // snap) is swept by removeOrphanFiles — until then racers on
          // that id fail loudly after the bounded rebase budget, never
          // silently. recordMergeKeys' CAS keeps the hard-link
          // REQUIREMENT (its claim semantics have no equally-atomic
          // fallback).
          case _: UnsupportedOperationException =>
            val claim = claimPath(p)
            Files.write(claim, Array.emptyByteArray,
              java.nio.file.StandardOpenOption.CREATE_NEW)
            try {
              // claim won but the snap already exists (a pre-claim-era
              // file, or claim debris was swept while the snap lived):
              // the id is taken — conflict loudly
              if (Files.exists(p))
                throw new java.nio.file.FileAlreadyExistsException(p.toString)
              // re-verify OUR claim right before the move: a claimant
              // stalled past the GC claim floor may have had its sidecar
              // swept and the id re-claimed — moving now would silently
              // REPLACE the other writer's committed snapshot (POSIX
              // rename). The re-check narrows that window from the whole
              // stall to the instruction gap below; the claim floor
              // (minutes, vs the 30 s tmp floor) makes a stall that
              // outlives BOTH defenses a machine-suspend-class event.
              if (!Files.exists(claim))
                throw new java.nio.file.FileAlreadyExistsException(
                  s"claim for ${p.toString} was swept mid-commit")
              Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
            } catch {
              case e: Throwable =>
                // release the claim on ANY pre-landing failure — a move
                // that throws (transient IO, disk full) would otherwise
                // orphan the claim and wedge this id for EVERY writer
                // until a GC sweep passes the claim floor. The crash
                // case (no finally runs) still relies on
                // removeOrphanFiles.
                Files.deleteIfExists(claim)
                throw e
            }
        }
      else Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } finally {
      // a scratch file left behind is removeOrphanFiles' `.tmp.` debris;
      // failing here would report a landed snapshot as not landed
      try Files.deleteIfExists(tmp)
      catch { case _: java.io.IOException => () }
    }
  }

  /** O_EXCL id-claim sidecar beside a snapshot file (linkless-FS commit
    * path only): dot-prefixed, so `snaps/` listings (snap-/staged-
    * prefixes) and the commit-log text tailer (empty file ⇒ no rows)
    * never observe it.
    */
  private def claimPath(p: Path): Path =
    p.resolveSibling("." + p.getFileName.toString + ".claim")

  private def atomicWriteCurrent(id: Long): Unit = {
    val tmp = rootPath.resolve(s"_current.tmp.${UUID.randomUUID()}")
    writeString(tmp, id.toString)
    Files.move(tmp, currentPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  // ---- read --------------------------------------------------------------

  /** Read the current snapshot, optionally pruned to a set of partition
    * values. Pruning happens on manifest paths — Spark never lists or
    * scans files of other partitions. For MOR tables, read-time
    * arbitration keeps the newest row per merge key across base + deltas
    * (newer delta sequence wins; each delta holds ≤1 row per key).
    */
  /** Total on-disk bytes of a snapshot's data files (base + MOR deltas) —
    * the table-level statistic the CBO needs to auto-broadcast small
    * tables (without it, catalog SQL joins see `defaultSizeInBytes` ≈
    * Long.Max and every join plans as a shuffle). Manifest-bounded work:
    * one filesystem stat walk over the snapshot's data dirs, no data read.
    */
  def sizeInBytes(asOf: Option[Long] = None): Long = {
    val m = readManifest(asOf.getOrElse(currentSnapshotId))
    import scala.jdk.CollectionConverters._
    m.liveDirs.toSeq.map { d =>
      val p = Paths.get(root, d)
      if (!Files.isDirectory(p)) 0L
      else {
        val walk = Files.list(p)
        try walk.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
        finally walk.close()
      }
    }.sum
  }

  def read(
      spark: SparkSession,
      partitions: Option[Seq[Any]] = None,
      dataFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
      asOf: Option[Long] = None): DataFrame =
    readResolved(spark, partitions, dataFilters, asOf, keepPos = false)

  /** [[read]] plus control over the position-identity columns: with
    * `keepPos` the resolved rows carry [[PosFileCol]]/[[PosIdxCol]] —
    * the handle [[deleteWhereMor]] uses to name the physical rows it
    * erases. Position deletes of the snapshot are ALWAYS applied here
    * (after MOR arbitration: erasing the arbitration winner removes the
    * key — an older shadowed version does not resurrect; a LATER upsert
    * of the key does, exactly like equality tombstones).
    */
  private def readResolved(
      spark: SparkSession,
      partitions: Option[Seq[Any]],
      dataFilters: Seq[org.apache.spark.sql.sources.Filter],
      asOf: Option[Long],
      keepPos: Boolean): DataFrame = {
    val meta = readMeta()
    // time travel: snapshots are immutable, so reading an older id is just
    // resolving its manifest instead of the current pointer
    val snapId = asOf.getOrElse(currentSnapshotId)
    require(Files.exists(snapOrStaged(snapId)),
      s"snapshot $snapId does not exist (expired or never created)")
    // partition-pruned reads load only the wanted fragments of a split
    // snapshot — the other partitions' file lists are never even parsed
    val manifest = readManifest(snapId,
      partitions.map(_.map(String.valueOf).toSet))
    // file-stats pruning is sound per-dir on a COW snapshot; with MOR
    // deltas, a pruned base dir could hide a row a delta supersedes, so
    // only filters touching merge-key columns may prune (a dir without a
    // key's range cannot participate in that key's arbitration at all)
    val statFilters =
      if (manifest.deltas.isEmpty) dataFilters
      else {
        val keys = mergeKeys(meta).getOrElse(Nil).toSet
        dataFilters.filter(_.references.forall(keys.contains))
      }
    // bloom sidecars prune equality probes the min/max stats can't (a
    // high-cardinality value scattered across dirs); same filter set as
    // stats pruning, so the MOR key restriction carries over — and a
    // bloom has no false negatives, so the skip is exact
    val bloomPs = bloomParams(meta)
    val bloomCache =
      scala.collection.mutable.Map.empty[(String, String), Option[Array[Long]]]
    val evolved = partitionHistory(meta).nonEmpty
    def prune(m: Map[String, List[String]]): Map[String, List[String]] = {
      val byPartition = partitions match {
        case Some(vals) =>
          val keys = vals.map(String.valueOf).toSet
          if (!evolved) m.view.filterKeys(keys.contains).toMap
          else {
            // mixed-spec layout: a dir written under the CURRENT spec
            // prunes by its manifest key; a legacy-spec dir is always
            // planned — its layout says nothing about the new column
            // (stats pruning below still skips it when the caller's
            // dataFilters bound the new column, since that column was
            // ordinary data when the legacy dir was written)
            m.view.map { case (k, dirs) =>
              k -> (if (keys.contains(k)) dirs
                    else dirs.filterNot(dirUnderSpec(meta.partition)))
            }.filter(_._2.nonEmpty).toMap
          }
        case None => m
      }
      if (statFilters.isEmpty) byPartition
      else byPartition.view.mapValues(_.filter(dir =>
        manifest.stats.get(dir).forall(TableStats.mayMatch(_, statFilters)) &&
          (bloomPs.isEmpty ||
            bloomMayMatch(meta, bloomPs, bloomCache, dir, statFilters))))
        .filter(_._2.nonEmpty).toMap
    }
    // position identity rides along only when something will consume it —
    // the zero-pos-delete read is byte-identical to the pre-posdel plan
    val withPos = keepPos || manifest.posDeletes.nonEmpty
    val baseDf = readParts(spark, meta, prune(manifest.base), withFilePos = withPos)
    val resolved =
      if (manifest.deltas.isEmpty) baseDf
      else {
        val keys = mergeKeys(meta).getOrElse(throw new IllegalStateException(
          "MOR table has deltas but no merge.keys property"))
        // deltas may carry delete tombstones: the newest row per key wins,
        // and a winning tombstone removes the key entirely
        val frames = baseDf
          .withColumn(TombstoneCol, lit(false)).withColumn("__seq", lit(0L)) ::
          manifest.deltas.map(d =>
            readParts(spark, meta, prune(d.data), withTombstone = true,
              withFilePos = withPos)
              .withColumn("__seq", lit(d.seq)))
        val unioned = frames.reduce(_ unionByName _)
        // equal-__seq duplicates (a key appended twice into a MOR base)
        // must arbitrate DETERMINISTICALLY whenever physical positions are
        // in play: position deletes record the winner's (file, pos), and a
        // different winner on a later read would resurrect a deleted key.
        // (file, pos) desc is total over physical rows, so the same row
        // wins on every read — including the delete-time read itself.
        val tiebreak = if (withPos) Seq(PosFileCol, PosIdxCol) else Nil
        Dedup.latestByKey(unioned, keys, orderDesc = "__seq",
            tiebreakDesc = tiebreak)
          .filter(!col(TombstoneCol))
          .drop("__seq", TombstoneCol)
      }
    // position deletes erase named physical rows from the resolved view —
    // an anti join against the (file, pos) set, broadcast-sized in
    // practice (the pos files carry two columns and only deleted rows)
    val afterPos =
      if (manifest.posDeletes.isEmpty) resolved
      else resolved.join(
        posDeleteFrame(spark, manifest.posDeletes), Seq(PosFileCol, PosIdxCol), "left_anti")
    if (keepPos) afterPos else afterPos.drop(PosFileCol, PosIdxCol)
  }

  /** The (file, pos) rows of position-delete sidecar dirs. */
  private def posDeleteFrame(spark: SparkSession, sidecars: Seq[String]): DataFrame = {
    val schema = StructType.fromDDL(s"$PosFileCol STRING, $PosIdxCol BIGINT")
    ManifestScan.frames(spark, root, sidecars.distinct, schema, identity) match {
      case Nil => spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      case scans => scans.reduce(_ unionByName _)
    }
  }

  /** The data files each position-delete sidecar names: one scan per
    * sidecar, tagged with its manifest name, then one distinct collect of
    * the (sidecar, file) pairs — bounded by sidecars × files, never by
    * erasures.
    */
  private def sidecarFiles(spark: SparkSession, sidecars: Seq[String]): Map[String, Set[String]] =
    if (sidecars.isEmpty) Map.empty
    else sidecars.distinct
      .map(sc => posDeleteFrame(spark, Seq(sc)).select(lit(sc).as("__sidecar"), col(PosFileCol)))
      .reduce(_ union _).distinct().collect()
      .groupMap(_.getString(0))(_.getString(1)).view.mapValues(_.toSet).toMap

  /** The manifest-relative data-dir candidates of an absolute file path
    * a position-delete sidecar names. Manifests name dirs relative to
    * the table root (`data/<uuid>[/p]`); `_metadata.file_path` spells
    * the root however Spark resolved it — a symlinked or otherwise
    * non-canonical root (e.g. /tmp vs /private/tmp) makes a prefix
    * strip silently fail. Anchor on the trailing `data/<uuid>`
    * components instead: the layout is self-describing (partition
    * segments are `col=value`, never a bare `data`, so the LAST `data`
    * segment is the table's data root), and a path carrying no such
    * component fails loudly rather than attributing to nothing.
    */
  private def dataDirsOf(f: String): Set[String] = {
    val segs = new java.net.URI(f).getPath.split("/").filter(_.nonEmpty)
    val i = segs.lastIndexOf("data")
    require(i >= 0 && i < segs.length - 1,
      s"position-delete file_path carries no data/<uuid> component: $f")
    // every dir-prefix between data/<uuid> and the file's parent: plain
    // dirs are data/<uuid>, partitioned data/<uuid>/<p>, and CLUSTERED
    // partitioned layouts nest one more level (data/<uuid>/<p>/<bucket>)
    val rel = segs.drop(i).init // last segment is the parquet file itself
    (2 to rel.length).map(n => rel.take(n).mkString("/")).toSet
  }

  /** INCREMENTAL change read — rows in data dirs that joined the table
    * AFTER snapshot `sinceSnapId` (exclusive), up to `asOf` (default
    * current): the consumption primitive an incremental pipeline drives
    * on ("process only what arrived since my last checkpoint"). No
    * per-row bookkeeping exists or is needed — snapshots are immutable
    * and data dirs are content-addressed, so the DIFF OF TWO MANIFESTS'
    * dir sets IS the change set, resolved entirely from metadata before
    * a single file is opened. At 100 TB this is the difference between
    * an arrival-bound nightly pass and re-reading the corpus to find
    * what's new.
    *
    * Exactness contract: APPEND commits and MOR merge deltas contribute
    * exactly their new/upserted rows (tombstoned delta rows are
    * filtered — deletes do not surface as additions). A COW merge
    * REWRITES its touched partitions, so their full post-merge content
    * appears (a documented superset — the same caveat Iceberg's
    * incremental scan carries; run MOR when the feed must be tight).
    */
  def addedSince(
      spark: SparkSession,
      sinceSnapId: Long,
      asOf: Option[Long] = None): DataFrame =
    freshRows(spark, sinceSnapId, asOf)
      .filter(!col(TombstoneCol))
      .drop(TombstoneCol)

  /** Change FEED with deletes — [[addedSince]]'s CDC-complete sibling:
    * every change committed after `sinceSnapId` (exclusive, up to
    * `asOf`), walked ONE COMMIT AT A TIME, labeled `_change_type`
    * `insert` (append / COW content / MOR upsert) or `delete` (a MOR
    * equality tombstone — key columns carry the deleted key, non-key
    * columns NULL — or a POSITION-DELETE erasure, which carries the full
    * erased row) and stamped `_change_ordinal` = the snapshot id that
    * committed it (Iceberg's `_change_ordinal` idea: the commit order a
    * mirror must respect). A downstream mirror applies events per key in
    * ordinal order — latest ordinal wins, and at equal ordinal an insert
    * beats a delete (a merge that revives a key it also tombstoned
    * cannot happen in one delta, so ties only arise across key-disjoint
    * events) — and lands exactly the table's resolved view at `asOf`.
    *
    * Position deletes ARE carried (unlike Iceberg's incremental scan,
    * which documents them away): each `posdel/` sidecar committed in the
    * window is resolved back to the rows it erased. The sidecar names
    * immutable data files, so the erased rows are re-read from EXACTLY
    * the files the sidecar touches and semi-joined against its
    * (file, pos) set — an O(files-touched-by-the-delete) read, never a
    * table scan. This is what keeps a CDC mirror convergent under
    * predicate RTBF: [[graft.pipeline.Forget.forgetWhere]] routes MOR
    * tables through [[deleteWhereMor]], and the feed now carries those
    * erasures as labeled delete rows.
    *
    * COW removals ARE carried for KEYED tables (merge keys recorded): a
    * commit that drops dirs — rewriteRows' DELETE/UPDATE, a COW merge's
    * partition rewrite, overwrite, dropPartitions (including a MOR
    * partition's delta slices, arbitrated before diffing) — emits every
    * removed-dir row whose key did not re-land in the same commit as a
    * labeled delete, so COW predicate RTBF keeps mirrors convergent too.
    * MAINTENANCE commits (writer-stamped: delta/posdel folds, compaction,
    * re-clustering, spec migration — all resolution-invariant) are
    * skipped exactly. Remaining caveat: KEYLESS COW tables only — a
    * rewrite re-emits content and its removals stay silent (no identity
    * to diff on); [[ensureMergeKeys]] closes this for CDC consumers.
    * Cost: a metadata manifest-diff per window commit; data reads
    * touch only fresh dirs, posdel-referenced files, and — for COW
    * rewrite commits — the removed+re-landed dirs the rewrite itself
    * already paid for.
    */
  /** `netRemovals = false` switches rewrite-commit removals from the
    * KEYED NET form (removed rows whose key did not re-land — what a
    * mirror applies) to the GROSS form: EVERY removed-dir row emits as a
    * delete and every fresh-dir row as an insert, with no key anti-join
    * at all. Gross is what incremental AGGREGATE maintenance needs — an
    * unchanged row re-landed by a partition rewrite contributes
    * (−old, +new) = 0, an update contributes the exact difference — and
    * it needs no row identity. Only meaningful on COW tables (a MOR
    * upsert never removes its old version's dir, so its gross feed
    * cannot carry the subtraction); maintenance commits stay skipped
    * (their gross window is identically zero — skipping saves the read).
    */
  def changesSince(
      spark: SparkSession,
      sinceSnapId: Long,
      asOf: Option[Long] = None,
      netRemovals: Boolean = true): DataFrame =
    changesSinceOpt(spark, sinceSnapId, asOf, netRemovals)
      .getOrElse(emptyChangeFrame(spark))

  /** The zero-row frame [[changesSince]] returns for a statically-empty
    * window: current schema + the change-feed label columns. Public so a
    * drain that took [[changesSinceOpt]]'s `None` but still needs a
    * frame (e.g. to create its view's schema on a first-ever window)
    * can build one WITHOUT re-walking the window's manifests.
    */
  def emptyChangeFrame(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StringType, LongType}
    val schema = org.apache.spark.sql.types.StructType(
      readMeta().schema.fields :+
        StructField("_change_type", StringType) :+
        StructField("_change_ordinal", LongType, nullable = false))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** [[changesSince]] with STATIC emptiness made visible: returns `None`
    * exactly when the window carries no change frames at all — no fresh
    * non-maintenance dirs, no new position-delete sidecars, no
    * non-maintenance removals — a fact decided from the walked manifests
    * alone, before any Spark job exists. A drain polling a source whose
    * window is maintenance-only (compaction, posdel folds, re-clustering)
    * can then skip its whole fold: the gross contribution of an empty
    * feed is identically zero, so folding it is a no-op by the fold's own
    * algebra — but a no-op that still costs the view a keyed COW merge
    * (null-key check + write job + manifest churn) per window if actually
    * executed. `None` ⇒ [[changesSince]] would return an empty frame;
    * the converse does NOT hold (a window can emit frames that evaluate
    * to zero rows — e.g. a rewrite whose removals all re-landed), so
    * callers may only use `None` as a sufficient skip signal, never as an
    * emptiness test.
    */
  def changesSinceOpt(
      spark: SparkSession,
      sinceSnapId: Long,
      asOf: Option[Long] = None,
      netRemovals: Boolean = true): Option[DataFrame] = {
    val meta = readMeta()
    val to = asOf.getOrElse(currentSnapshotId)
    require(Files.exists(snapPath(sinceSnapId)),
      s"snapshot $sinceSnapId does not exist (expired or never created)")
    // the anchor manifest seeds three cursors — parse it ONCE (three
    // back-to-back readManifest calls tripled the window-start metadata
    // read on split-format snapshots with many fragments, a real cost
    // per feed poll)
    val anchorM = readManifest(sinceSnapId)
    var seenDirs: Set[String] = anchorM.liveDirs
    var seenPos: Set[String] = anchorM.posDeletes.toSet
    var prevM = anchorM
    val frames = Seq.newBuilder[DataFrame]
    var id = sinceSnapId + 1
    while (id <= to) {
      require(Files.exists(snapPath(id)),
        s"snapshot $id expired — the incremental window since $sinceSnapId " +
          "is no longer replayable commit-by-commit")
      val snapJ = JsonMethods.parse(readString(snapPath(id)))
      val m = manifestFromJson(snapJ)
      val kindStamp: Option[String] = (snapJ \ "kind") match {
        case JString(k) => Some(k)
        case _ => None
      }
      // A writer-stamped MAINTENANCE commit (compact, posdel fold,
      // re-cluster, spec migration) is resolution-invariant: its fresh
      // dirs are the SAME visible rows re-landed. Emitting them would
      // (a) double-count every re-landed row in the gross feed — a
      // compaction on the source would silently corrupt an aggregate
      // view — and (b) push a full-table no-op merge through a keyed
      // mirror per compaction. Skip fresh emission exactly when the
      // writer stamped the kind; unstamped legacy snapshots keep the
      // conservative emit (a keyed mirror absorbs it; the gross feed
      // did not exist before stamping did).
      val stampedMaintenance = kindStamp.contains("maintenance")
      def fresh(x: Map[String, List[String]]): Seq[(String, List[String])] =
        x.view.mapValues(_.filterNot(seenDirs)).filter(_._2.nonEmpty).toSeq
      def grouped(xs: Seq[(String, List[String])]): Map[String, List[String]] =
        xs.groupBy(_._1).view.mapValues(_.flatMap(_._2).toList).toMap
      // the delta portion feeds both maps — computed once per commit
      val freshDelta: Seq[(String, List[String])] =
        if (stampedMaintenance) Nil else m.deltas.flatMap(d => fresh(d.data))
      val freshDirs: Map[String, List[String]] =
        if (stampedMaintenance) Map.empty
        else grouped(fresh(m.base) ++ freshDelta)
      val freshDeltaDirs: Map[String, List[String]] =
        if (stampedMaintenance || netRemovals) Map.empty
        else grouped(freshDelta)
      if (freshDirs.nonEmpty) {
        if (freshDeltaDirs.isEmpty)
          frames += readParts(spark, meta, freshDirs, withTombstone = true)
            .withColumn("_change_type",
              when(col(TombstoneCol), lit("delete")).otherwise(lit("insert")))
            .drop(TombstoneCol)
            .withColumn("_change_ordinal", lit(id))
        else {
          // GROSS feed over a MOR commit's fresh DELTA rows: an upsert
          // appends the new version without removing the old one's dir,
          // so the subtraction the aggregate fold needs is not in any
          // dir diff — recover it through the same keyed arbitration a
          // read performs. Per delta-touched key: +new (non-tombstone
          // fresh rows, below) and −old, where old is the key's RESOLVED
          // pre-commit version (read asOf id−1, key-semi-joined to the
          // commit's touched keys — arbitration across base, earlier
          // deltas and posdels included, so a twice-upserted key
          // subtracts its latest prior version, not its base row).
          // Tombstone rows emit no payload of their own: an equality
          // delete's contribution IS −old (the tombstone row's payload
          // is whatever the deleter wrote, not the victim's values).
          // Cost: one resolved scan per commit, key-pruned by the
          // semi-join — and PARTITION-PRUNED to the delta's own
          // partition values whenever the partition column is itself a
          // merge key (a key tuple then determines its partition, so a
          // prior version of a touched key cannot live in any other
          // partition — writes route rows by value). With that pruning
          // the old-version side is O(touched partitions), not
          // O(source). Without partition-in-keys the read is STATS-
          // pruned instead: the fresh delta dirs' own footer stats give
          // the touched keys' min/max range, and dirs of the id−1
          // snapshot whose key range can't intersect it are skipped —
          // O(key-overlapping dirs) on a key-clustered layout, and only
          // genuinely O(source) when every dir spans the full key range
          // (unclustered random-key writes — the price Iceberg's
          // changelog pays for EVERY MOR pre-image join). A COW
          // source's gross feed stays O(changed bytes) either way.
          val keys = mergeKeys(meta).getOrElse(throw new IllegalArgumentException(
            "gross change feed over MOR deltas needs merge keys for " +
              "old-version arbitration — record them with ensureMergeKeys"))
          frames += readParts(spark, meta, freshDirs, withTombstone = true)
            .filter(!col(TombstoneCol))
            .drop(TombstoneCol)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_change_ordinal", lit(id))
          // no distinct(): a left-semi join's result ignores duplicates
          // on its build side, and a small scan is broadcast at planning
          // time, where a distinct would add an AQE shuffle stage (a job)
          val touched = readParts(spark, meta, freshDeltaDirs,
            withTombstone = true).select(keys.map(col): _*)
          // freshDeltaDirs' keys ARE manifest partition keys (real values
          // or the hive-null sentinel), so they pass through verbatim
          val oldParts: Option[Seq[Any]] =
            if (meta.partition.exists(keys.contains))
              Some(freshDeltaDirs.keys.toSeq)
            else None
          // NON-key-partitioned (or unpartitioned) source: partition
          // pruning can't bound the old-version read, but the commit's
          // OWN manifest already carries per-dir min/max footer stats
          // for the fresh delta dirs — their merged merge-key range IS
          // the touched-key range (tombstones carry non-null keys, so
          // they're covered too). Push it as key-range filters: the
          // id−1 read then stats-prunes every dir whose key range can't
          // intersect the commit's touched keys, bounding the
          // subtraction by KEY LOCALITY instead of corpus size — pure
          // metadata, zero extra jobs, and sound under MOR arbitration
          // because the filters touch only merge-key columns (a dir
          // without a key's range cannot participate in that key's
          // arbitration — the same rule readResolved enforces). Dirs
          // lacking stats (stats.mode=none, non-stat key types) make
          // the range incomplete per key, so that key contributes no
          // filter and the read conservatively widens — the honest
          // fallback, now the exception instead of the rule.
          val oldFilters: Seq[org.apache.spark.sql.sources.Filter] =
            if (oldParts.isDefined) Nil
            else {
              import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
              val deltaDirs = freshDeltaDirs.values.flatten.toSeq
              val merged = deltaDirs.flatMap(m.stats.get)
                .foldLeft(Map.empty[String, (JValue, JValue)])(TableStats.mergeStats)
              keys.flatMap { k =>
                val complete = deltaDirs.forall(d =>
                  m.stats.get(d).exists(_.contains(k)))
                if (!complete) Nil
                else merged.get(k).toSeq.flatMap { case (mn, mx) =>
                  (TableStats.nativeValue(mn), TableStats.nativeValue(mx)) match {
                    case (Some(a), Some(b)) =>
                      Seq(GreaterThanOrEqual(k, a), LessThanOrEqual(k, b))
                    case _ => Nil
                  }
                }
              }
            }
          frames += read(spark, oldParts, dataFilters = oldFilters,
              asOf = Some(id - 1))
            .join(touched, keys, "left_semi")
            .withColumn("_change_type", lit("delete"))
            .withColumn("_change_ordinal", lit(id))
        }
      }
      val newPos = m.posDeletes.filterNot(seenPos)
      if (newPos.nonEmpty)
        frames += erasedRows(spark, meta, newPos)
          .withColumn("_change_type", lit("delete"))
          .withColumn("_change_ordinal", lit(id))
      // COW removals: a commit that DROPS dirs (rewriteRows, COW merge,
      // overwrite, dropPartitions) deletes every removed-dir row whose
      // key did not re-land in the same commit — emit those as labeled
      // deletes so a keyed mirror stays convergent under COW predicate
      // RTBF too, not just MOR's. Skipped for MAINTENANCE commits (delta
      // / posdel folds, compaction, re-clustering: resolution-invariant
      // by construction, and their removed tombstoned keys were already
      // emitted when the tombstone landed) and for KEYLESS tables (no
      // identity to diff on — the documented keyless caveat). Cost is
      // O(removed + re-landed dirs of that commit) — the rewrite itself
      // already paid that.
      val removed = prevM.liveDirs -- m.liveDirs
      // maintenance is the WRITER's explicit stamp — a heuristic can't
      // tell a compact (delta dirs fold away, rows re-land) from a
      // dropPartitions that sweeps a partition's delta dirs (rows are
      // GONE and must be emitted). Read from the snapshot JSON this
      // iteration already parsed for the manifest — a second
      // readString+parse per window commit doubled metadata cost on
      // split-format snapshots. Legacy snapshots without the stamp fall
      // back to the old delta-removal heuristic.
      val maintenance = kindStamp match {
        case Some(k) => k == "maintenance"
        case None =>
          val prevDelta = prevM.deltas.flatMap(_.data.values.flatten).toSet
          removed.exists(prevDelta)
      }
      if (removed.nonEmpty && !maintenance) {
        // the NET form needs a row identity to anti-join re-landed keys;
        // the GROSS form is pure dir algebra and needs none
        val keysOpt = if (netRemovals) mergeKeys(meta) else Some(Nil)
        keysOpt.foreach { keys =>
          // removed dirs may span MOR generations (dropPartitions on a
          // MOR table removes a partition's base AND delta slices;
          // overwrite drops deltas too) — arbitrate among the removed
          // dirs first exactly like a read would: newest delta sequence
          // per key wins, (file, pos) desc breaks equal-seq ties, and a
          // winning tombstone means the key's delete was already emitted
          // when the tombstone landed. A pure-COW removal (base dirs
          // only) skips the arbitration entirely.
          val withPos = prevM.posDeletes.nonEmpty
          val removedBase = prevM.base.values.flatten.filter(removed).toList
          val removedDeltas = prevM.deltas
            .map(d => d.seq -> d.data.values.flatten.filter(removed).toList)
            .filter(_._2.nonEmpty)
          val needArb = removedDeltas.nonEmpty
          require(!needArb || keys.nonEmpty || mergeKeys(meta).nonEmpty,
            "gross removal diff over MOR generations needs merge keys " +
              "for arbitration — record them with ensureMergeKeys")
          val arbKeys = if (keys.nonEmpty) keys else mergeKeys(meta).getOrElse(Nil)
          val usePos = withPos || needArb
          def gen(dirs: List[String], seq: Long): DataFrame =
            readParts(spark, meta, Map(NoPart -> dirs),
              withTombstone = true, withFilePos = usePos)
              .withColumn("__seq", lit(seq))
          val gens =
            (if (removedBase.nonEmpty) List(gen(removedBase, 0L)) else Nil) ++
              removedDeltas.map { case (seq, dirs) => gen(dirs, seq) }
          val unioned = gens.reduce(_ unionByName _)
          val arbitrated =
            if (!needArb) unioned
            else Dedup.latestByKey(unioned, arbKeys, orderDesc = "__seq",
              tiebreakDesc = Seq(PosFileCol, PosIdxCol))
          val removedRaw = arbitrated
            .filter(!col(TombstoneCol)).drop(TombstoneCol, "__seq")
          // rows already position-deleted before this commit were
          // emitted as deletes when their sidecar landed — filter them
          val removedRows =
            if (!withPos) removedRaw.drop(PosFileCol, PosIdxCol)
            else removedRaw.join(posDeleteFrame(spark, prevM.posDeletes),
              Seq(PosFileCol, PosIdxCol), "left_anti")
              .drop(PosFileCol, PosIdxCol)
          val gone =
            if (!netRemovals || freshDirs.isEmpty) removedRows
            else removedRows.join(
              readParts(spark, meta, freshDirs, withTombstone = true)
                .filter(!col(TombstoneCol))
                .select(keys.map(col): _*),
              keys, "left_anti")
          frames += gone
            .withColumn("_change_type", lit("delete"))
            .withColumn("_change_ordinal", lit(id))
        }
      }
      seenDirs ++= m.liveDirs
      seenPos ++= m.posDeletes
      prevM = m
      id += 1
    }
    frames.result() match {
      case Nil => None
      case fs => Some(fs.reduce(_ unionByName _))
    }
  }

  /** The full rows a batch of position-delete sidecars erased, re-read
    * from the immutable data files the sidecars name: one scan over those
    * files' leaf dirs, restricted to exactly those files and semi-joined
    * against the sidecars' (file, pos) rows — an O(files-touched-by-the-
    * delete) read, never a table scan. Driver-side collect: the DISTINCT
    * FILE LIST of the delete batch — bounded by the files the deletion
    * touched (the same order as the sidecar's own size), never the
    * table's file count.
    */
  private def erasedRows(
      spark: SparkSession,
      meta: Meta,
      sidecars: Seq[String],
      onlyDirs: Option[Set[String]] = None): DataFrame = {
    // optional dir restriction (diffSnapshots: only erasures of rows that
    // were VISIBLE at `from` count — a sidecar may also name rows of dirs
    // that arrived after it), attributed via dataDirsOf's trailing-
    // component anchor (see its doc for why a root-prefix strip is wrong)
    val posDf = posDeleteFrame(spark, sidecars)
    val files = posDf.select(PosFileCol).distinct()
      .collect().map(_.getString(0)).toSeq
      .filter(f => onlyDirs.forall(ds => dataDirsOf(f).exists(ds.contains)))
    // erased rows can live in MOR delta files, which physically carry the
    // tombstone marker — a read without it ignores that column (a sidecar
    // never names a tombstone row: the delete predicate ran on the
    // resolved, tombstone-filtered view)
    val leaves = files.map(f => dataDirsOf(f).maxBy(_.length)).distinct.toList
    readParts(spark, meta, Map(NoPart -> leaves), withFilePos = true)
      .filter(col(PosFileCol).isin(files: _*))
      .join(posDf, Seq(PosFileCol, PosIdxCol), "left_semi")
      .drop(PosFileCol, PosIdxCol)
  }

  /** Rows of data dirs present at `asOf` but not at `sinceSnapId`, with
    * the tombstone marker surfaced — the one-shot manifest-diff behind
    * [[addedSince]] ([[changesSince]] walks the window commit-by-commit
    * instead, because its events need ordinals).
    */
  private def freshRows(
      spark: SparkSession,
      sinceSnapId: Long,
      asOf: Option[Long]): DataFrame = {
    val meta = readMeta()
    val to = asOf.getOrElse(currentSnapshotId)
    require(Files.exists(snapPath(sinceSnapId)),
      s"snapshot $sinceSnapId does not exist (expired or never created)")
    val beforeM = readManifest(sinceSnapId)
    val afterM = readManifest(to)
    val seen: Set[String] = beforeM.liveDirs
    def fresh(m: Map[String, List[String]]): Seq[(String, List[String])] =
      m.view.mapValues(_.filterNot(seen)).filter(_._2.nonEmpty).toSeq
    val wanted: Map[String, List[String]] =
      (fresh(afterM.base) ++ afterM.deltas.flatMap(d => fresh(d.data)))
        .groupBy(_._1).view.mapValues(_.flatMap(_._2).toList).toMap
    val raw = readParts(spark, meta, wanted, withTombstone = true,
      withFilePos = afterM.posDeletes.nonEmpty)
    // a fresh row already position-deleted by `asOf` never became visible
    // there — suppress it. (addedSince answers "what rows ARRIVED and
    // still stand"; erasures of pre-`since` rows are not its question.
    // The labeled-delete form, including position-delete erasures, is
    // changesSince.)
    if (afterM.posDeletes.isEmpty) raw
    else raw.join(posDeleteFrame(spark, afterM.posDeletes),
      Seq(PosFileCol, PosIdxCol), "left_anti").drop(PosFileCol, PosIdxCol)
  }

  /** DataFrame over a set of manifest entries (empty → empty frame).
    * `withTombstone` additionally surfaces the MOR delete marker
    * [[TombstoneCol]] (false where files predate tombstones — parquet
    * fills the missing column with null, coalesced here).
    */
  private def readParts(
      spark: SparkSession,
      meta: Meta,
      wanted: Map[String, List[String]],
      withTombstone: Boolean = false,
      withFilePos: Boolean = false): DataFrame = {
    val declared =
      if (withTombstone)
        StructType(meta.schema.fields :+
          org.apache.spark.sql.types.StructField(
            TombstoneCol, org.apache.spark.sql.types.BooleanType))
      else meta.schema
    // column-rename support (Iceberg's field-id indirection, name-based):
    // files written before a rename carry the column under its PRIOR
    // physical name, so the scan schema declares current + all prior
    // names (absent ones read NULL) and one coalesce restores the
    // logical column. Un-renamed tables: renames is empty, schema and
    // projection collapse to the declared fields exactly as before.
    val renames = renameMap(meta)
    val schema = physicalSchema(declared, renames)
    // ONE projection per scan: the logical columns (prior names
    // coalesced), the tombstone defaulted to false, and the position
    // identity — which must be captured AT THE SCAN (the `_metadata`
    // pseudo-column resolves only against a file-source relation, not
    // through a projection)
    def projection(pos: Seq[Column]): Seq[Column] =
      logicalCols(declared, renames).zip(declared.fieldNames).map {
        case (c, n) if n == TombstoneCol => coalesce(c, lit(false)).as(TombstoneCol)
        case (c, _) => c
      } ++ (if (withFilePos) pos else Nil)
    // one relation per directory layout, planned from the manifest's own
    // dir list (see ManifestScan). A partitioned table's partition values
    // live in the `col=value` segment below `data/<uuid>`; an evolved
    // table's legacy dirs keep their own layout (none, or an old spec's
    // column). Explicit declared schema: files predating a schema
    // evolution lack the added columns and read NULL, and column order
    // follows the projection.
    val dirs = wanted.values.flatten.toSeq.distinct
    val base: String => String = meta.partition match {
      case None => identity
      case Some(_) => d => d.split("/").take(2).mkString("/")
    }
    ManifestScan.frames(spark, root, dirs, schema, base) match {
      case Nil =>
        val emptySchema =
          if (withFilePos)
            StructType(schema.fields :+
              org.apache.spark.sql.types.StructField(
                PosFileCol, org.apache.spark.sql.types.StringType) :+
              org.apache.spark.sql.types.StructField(
                PosIdxCol, org.apache.spark.sql.types.LongType))
          else schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
          .select(projection(Seq(col(PosFileCol), col(PosIdxCol))): _*)
      case scans =>
        val pos = Seq(col("_metadata.file_path").as(PosFileCol),
          col("_metadata.row_index").as(PosIdxCol))
        scans.map(_.select(projection(pos): _*)).reduce(_ unionByName _)
    }
  }

  /** logical name -> its prior physical names, newest first (set by
    * [[renameColumn]]; empty for tables never renamed).
    */
  private def renameMap(meta: Meta): Map[String, Seq[String]] =
    meta.properties.collect {
      case (k, v) if k.startsWith("rename.") && v.nonEmpty =>
        k.stripPrefix("rename.") -> v.split(",").toSeq
    }

  /** The scan schema: declared fields plus, per renamed field, its prior
    * physical names at the same (current) type — Spark's parquet reader
    * fills absent columns with NULL and widens present ones, so files of
    * any rename/widen epoch read under this one schema.
    */
  private def physicalSchema(
      declared: StructType, renames: Map[String, Seq[String]]): StructType =
    if (renames.isEmpty) declared
    else StructType(declared.fields.flatMap { f =>
      f +: renames.getOrElse(f.name, Seq.empty).map(p =>
        org.apache.spark.sql.types.StructField(p, f.dataType, nullable = true))
        .toArray
    })

  /** One column per declared field; renamed fields coalesce current-name
    * over prior physical names (exactly one is non-null per file epoch).
    */
  private def logicalCols(
      declared: StructType, renames: Map[String, Seq[String]]): Seq[Column] =
    declared.fields.toIndexedSeq.map { f =>
      renames.get(f.name) match {
        case Some(ps) => coalesce((f.name +: ps).map(col): _*).as(f.name)
        case None     => col(f.name)
      }
    }

  /** Merge keys recorded for MOR arbitration (set on first MOR merge). */
  private def mergeKeys(meta: Meta): Option[Seq[String]] =
    meta.properties.get("merge.keys").filter(_.nonEmpty).map(_.split(",").toSeq)

  /** The recorded merge-key set, if any (the `merge.keys` property). */
  def recordedMergeKeys: Option[Seq[String]] = mergeKeys(readMeta())

  /** Stamp `keys` as the table's row identity WITHOUT merging — what a
    * CDC consumer calls on a COW source before tailing its change feed:
    * [[changesSince]] can only diff a rewrite commit's removals against
    * its re-landed rows when it knows the key columns, and a mirror that
    * tailed a keyless COW table would silently drop every removal.
    *
    * SINGLE-KEYSET INVARIANT (a spec'd table contract, not an accident):
    * one table has ONE row identity for its whole history. Every keyed
    * operation — MOR merges, equality deletes, COW merges, this call —
    * must use the same key set; a different set throws with both sets
    * named. The feed diffs EVERY commit in a window with the one recorded
    * set, so per-commit key history would make older windows' deletes
    * depend on which keyset was live at each commit — a table whose
    * identity changed mid-history should be re-created, not re-keyed.
    */
  def ensureMergeKeys(keys: Seq[String]): Unit = {
    val meta = readMeta()
    val missing = keys.filterNot(meta.schema.fieldNames.contains)
    require(keys.nonEmpty && missing.isEmpty,
      s"merge keys must be non-empty schema columns; unknown: ${missing.mkString(", ")}")
    recordMergeKeys(meta, keys)
  }

  private def recordMergeKeys(meta: Meta, keys: Seq[String]): Unit = {
    def mismatch(existing: Seq[String]): Unit =
      require(existing == keys,
        s"merge keys mismatch: table identity is $existing, this operation " +
          s"used $keys — one table has one row identity for its whole " +
          "history (re-create the table to change it)")
    mergeKeys(meta) match {
      case Some(existing) => mismatch(existing)
      case None =>
        // FIRST keyed operation: claim the keyset via an atomic
        // create-if-absent on a dedicated file before touching
        // _meta.json. Two racing first operations with different key
        // sets would otherwise both observe None and both write —
        // last-writer-wins, and the loser's already-committed delta
        // carries the wrong row identity SILENTLY (atomic writeString
        // fixes torn reads, not lost updates). The claim is a temp
        // write + hard-link into place: link(2) atomically FAILS when
        // the name exists (rename(2) would silently replace it, so a
        // move is not a CAS), and the linked file carries its full
        // content the instant the name appears — losers always read a
        // complete keyset, re-verify, and fail loudly on a different
        // set. _meta.json then mirrors the claim for the normal
        // metadata read path — idempotent, since every writer that
        // reaches it proved it carries THE keyset. HARD-LINK FILESYSTEM
        // REQUIREMENT: unlike writeSnapshot (which degrades to a plain
        // CREATE_NEW byte write where link(2) is unsupported), this CAS
        // has no equally-atomic fallback — a create-if-absent byte write
        // creates the NAME before the bytes land, so a racing loser
        // could read a torn keyset; tables on link-less mounts must
        // serialize their first keyed operation externally.
        val claim = rootPath.resolve("_merge_keys")
        val tmp = rootPath.resolve(s"_merge_keys.tmp.${UUID.randomUUID()}")
        writeString(tmp, keys.mkString(","))
        try Files.createLink(claim, tmp)
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            mismatch(readString(claim).trim.split(",").toSeq)
        }
        finally Files.deleteIfExists(tmp)
        val props = meta.properties + ("merge.keys" -> keys.mkString(","))
        val j = JObject(
          "schema" -> JString(meta.schemaDdl),
          "partition" -> JString(meta.partition.getOrElse("")),
          "properties" -> JObject(props.map { case (k, v) =>
            k -> (JString(v): JValue)
          }.toList))
        writeString(metaPath, JsonMethods.compact(JsonMethods.render(j)))
    }
  }

  // ---- write paths -------------------------------------------------------

  /** Task count for keyed pre-write repartitions: the session's shuffle
    * parallelism — exactly the count a bare repartition(col) resolves to
    * BEFORE AQE coalescing, pinned explicitly so the coalescer cannot
    * fold a small batch's multi-dir write into one serial-writer task.
    * Scale-adaptive by construction (the deployment sets
    * spark.sql.shuffle.partitions / the bench sets it from the CPU
    * count); value→task routing is the same hash either way.
    */
  private def writeTasks(df: DataFrame): Int =
    // tolerant parse: platforms that allow non-integer values here (e.g.
    // "auto" under some AQE managers) must degrade to the context's
    // default parallelism, not fail every write path
    scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt)
      .toOption.filter(_ > 0)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)

  /** Write `df` as a new immutable data dir; returns manifest entries
    * (partitionValue -> dirs) plus per-dir min/max stats harvested from
    * the freshly written parquet footers. The `data/<uuid>` dir is the
    * unit a commit keeps or sweeps, so a partitioned write that produced
    * no partition dir removes it here: no manifest will name it.
    */
  private def writeDataDir(
      df: DataFrame, meta: Meta,
      extraCols: Seq[String] = Nil): (Map[String, List[String]], Map[String, TableStats.DirStats]) = {
    val uuid = UUID.randomUUID().toString
    val rel = s"data/$uuid"
    val dest = s"$root/$rel"
    val aligned = df.select(
      (meta.schema.fields.toIndexedSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ extraCols.map(col)): _*)
    val entries: Map[String, List[String]] = meta.partition match {
      case None =>
        aligned.write
          .option("compression", compressionCodec(meta))
          .parquet(dest)
        Map(NoPart -> List(rel))
      case Some(p) =>
        // Cluster rows by the partition column before a dynamic-partition
        // write: without this, every input task opens a writer per
        // partition value it sees — T tasks × P values tiny files (measured
        // 160 files / 7.5 k rows, and 4-20 s per merge from writer + commit
        // overhead alone). Hash-clustering brings it to one file per
        // partition value and makes the subsequent partition-pruned read
        // list P files, not T×P. Very large partitions can still split:
        // parquet scan splits by maxPartitionBytes on read, and a table
        // that needs multi-file partitions at write time can raise
        // spark.sql.shuffle.partitions (hash on p spreads values across
        // tasks; empty tasks write nothing).
        // EXPLICIT partition count: a bare repartition(col) is an AQE
        // coalescing target, and on a small batch AQE folds the shuffle
        // to ONE task that then opens every partition value's file writer
        // SERIALLY — measured 4.2 s vs 1.9 s for a 256-value minhash
        // delta. A count-carrying repartition is AQE-exempt, so file
        // writers stay spread across the session's shuffle parallelism
        // (value→task routing, and therefore file layout, unchanged).
        aligned.repartition(writeTasks(df), col(p)).write
          .option("compression", compressionCodec(meta))
          .partitionBy(p)
          .parquet(dest)
        // list the hive dirs spark produced
        import scala.jdk.CollectionConverters._
        val listing = Files.list(Paths.get(dest))
        val parts = try listing.iterator().asScala
          .filter(d => Files.isDirectory(d) && d.getFileName.toString.contains("="))
          .map { d =>
            val dirName = d.getFileName.toString
            val value = dirName.substring(dirName.indexOf('=') + 1)
            unescapePartitionValue(value) -> List(s"$rel/$dirName")
          }.toMap
        finally listing.close()
        if (parts.isEmpty) deleteTree(Paths.get(dest))
        parts
    }
    // 'stats.mode=none' (Iceberg's write.metadata.metrics.default=none):
    // index tables whose reads prune ONLY by partition value (minhash
    // bands, range cells — the probe key IS the partition) never consult
    // min/max stats, so harvesting them is a pure per-commit footer-read
    // tax that grows with partition count. Opt out per table.
    val stats =
      if (meta.properties.get("stats.mode").contains("none")) Map.empty[String, TableStats.DirStats]
      else TableStats.collect(root, entries.values.flatten.toSeq)
    (entries, stats)
  }

  private def compressionCodec(meta: Meta): String =
    meta.properties.get("compression") match {
      case Some(c) if c.nonEmpty => c
      case _                     => "snappy"
    }

  /** Align-by-name + cast to the declared schema — the explicit version of
    * the inferred-vs-declared reconciliation the reference leaves to
    * Iceberg's implicit cast (SURVEY.md §1.2).
    */
  def alignToSchema(df: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fields.toIndexedSeq.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    df.select(cols: _*)
  }

  /** A write's change to its parent manifest: a pure step `f` (one of the
    * [[Manifest]] shapes), and what it is decides where it may land.
    * `parent()` is the snapshot an attempt lands on, with its manifest.
    */
  private sealed abstract class Step(val attempts: Int, val f: Manifest => Manifest) {
    def parent(): (Long, Manifest)
  }

  /** An append-shaped step — new dirs, a MOR delta or a position-delete
    * sidecar. The written data does not depend on the parent snapshot,
    * so a lost race only re-derives the manifest against the snapshot
    * then current and retries, up to `attempts` tries (Iceberg's
    * fast-append retry; no data is rewritten).
    */
  private final class Rebase(attempts: Int)(f: Manifest => Manifest) extends Step(attempts, f) {
    def parent(): (Long, Manifest) = { val cur = currentSnapshotId; (cur, readManifest(cur)) }
  }

  /** A rewrite: its content was computed from snapshot `id`, whose
    * manifest is `old`, so it lands on that snapshot or not at all — a
    * lost race is a ConcurrentModificationException, never a silent
    * rebase of stale content.
    */
  private final class OnParent(id: Long, old: Manifest)(f: Manifest => Manifest)
      extends Step(1, f) {
    def parent(): (Long, Manifest) = (id, old)
  }

  /** The retry budget of [[Rebase]] steps, table property
    * `commit.retry.max-attempts` (default 64; at least 1). Worst case for
    * W lockstep racers is W rounds (each round exactly one writer lands —
    * measured in SCALING §10o), so the default sits comfortably above any
    * realistic writer count (the Iceberg `commit.retry.num-retries`
    * knob). Parsed from the write's own `Meta` before it writes any data,
    * so a malformed value refuses every write, contended or not.
    */
  private def retryBudget(meta: Meta): Int = {
    val n = intProperty(meta.properties, "commit.retry.max-attempts", 64)
    require(n >= 1, s"table property commit.retry.max-attempts must be at least 1, got $n")
    n
  }

  /** The one commit path: every write's snapshot file is written here,
    * as `snaps/snap-<parent+1>.json` followed by the pointer move, or
    * under the staged name with no pointer move (`staged`). The file is
    * created CREATE_NEW, so a racing commit on the same id fails loudly;
    * a [[Rebase]] step then retries with jittered backoff, an
    * [[OnParent]] step throws. `written` are the dirs the write created
    * (`data/<uuid>/…` or a `posdel/<uuid>` sidecar) and `check` its
    * validation, run before anything lands. An `advance` records its new
    * source position in the snapshot, and lands only on a parent that
    * records the position it starts from: a parent whose position moved
    * fails it with a ConcurrentModificationException that no step
    * retries. Every other commit carries its parent's position. When
    * the commit does not land — a refused check, a lost race, an
    * exhausted budget, any other throwable before the snapshot file
    * exists — the written dirs are deleted and the exception rethrown.
    * Once the file exists nothing is swept: a commit-log tailer may
    * already have read it. Returns the new snapshot id.
    */
  private def commit(
      written: Iterable[String],
      step: Step,
      maintenance: Boolean = false,
      staged: Boolean = false,
      wapId: Option[String] = None,
      advance: Option[WarehouseTable.Advance] = None,
      check: => Unit = ()): Long = {
    var landed = false
    try {
      check
      var attempt = 0
      var next = 0L
      while (!landed) {
        attempt += 1
        val (parent, old) = step.parent()
        next = parent + 1
        val m = advance.fold(step.f(old)) { a =>
          val at = old.position.getOrElse(WarehouseTable.SourcePosition(a.lineage, 0L))
          if (at != WarehouseTable.SourcePosition(a.lineage, a.from))
            throw new java.util.ConcurrentModificationException(
              s"source position moved to $at while a write applied ${a.lineage} from ${a.from}")
          step.f(old).copy(position = Some(WarehouseTable.SourcePosition(a.lineage, a.to)))
        }
        try {
          val actual = currentSnapshotId
          // a stage never moves the pointer, so it does not race it
          if (!staged && actual != parent)
            throw new java.util.ConcurrentModificationException(
              s"snapshot advanced from $parent to $actual during write; retry")
          writeSnapshot(next, m, Some(parent -> old), createNew = true,
            if (maintenance) "maintenance" else "data", staged, wapId)
          landed = true
        } catch {
          case _: java.util.ConcurrentModificationException |
               _: java.nio.file.FileAlreadyExistsException if attempt < step.attempts =>
            // jittered linear backoff: contention here is other LOCAL
            // committers, and without jitter N lockstep racers can starve
            // one writer through many rounds (seen as a flaky 8-way race
            // under full-suite CPU load)
            Thread.sleep(5L * attempt +
              java.util.concurrent.ThreadLocalRandom.current().nextLong(20L))
        }
      }
      if (!staged) atomicWriteCurrent(next)
      if (WarehouseTable.recordRebase && step.isInstanceOf[Rebase])
        WarehouseTable.rebaseAttempts.add(attempt)
      next
    } catch {
      case e: Throwable if !landed =>
        try sweepUncommitted(written)
        catch { case s: Throwable => e.addSuppressed(s) }
        throw e
    }
  }

  /** An integer table property (`default` when unset); a malformed value
    * is refused by name.
    */
  private def intProperty(props: Map[String, String], key: String, default: Int): Int =
    props.get(key).map { v =>
      try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"table property $key must be an integer, got '$v'")
      }
    }.getOrElse(default)

  /** Append — `mode == 'append'` (read.py:231-233). New snapshot = old
    * manifest + new dirs per partition. Concurrent-writer safe: the new
    * dirs rebase onto whatever snapshot is current at commit time.
    */
  def append(df: DataFrame): Unit = {
    val meta = readMeta()
    val attempts = retryBudget(meta)
    val (added, stats) = writeDataDir(df, meta)
    commit(added.values.flatten, new Rebase(attempts)(_.addDirs(added, stats)))
  }

  /** Overwrite — `mode == 'overwrite'` (read.py:234-236). With
    * `onParent`, `df` was computed from that snapshot, so the overwrite
    * lands on it or not at all: a commit that landed since fails it with
    * a ConcurrentModificationException, and its written dirs are swept.
    * `advance` records the source position `df` reflects (see [[commit]]).
    */
  def overwrite(df: DataFrame, onParent: Option[Long] = None,
      advance: Option[WarehouseTable.Advance] = None): Unit = {
    val meta = readMeta()
    val cur = onParent.getOrElse(currentSnapshotId)
    val old = readManifest(cur)
    val (entries, stats) = writeDataDir(df, meta)
    commit(entries.values.flatten, new OnParent(cur, old)(_.replaceAll(entries, stats)),
      advance = advance)
  }

  /** MERGE upsert — `mode == 'merge'` (read.py:237-239 + mergeSQL.sql).
    *
    * Copy-on-write at partition granularity:
    *  1. affected partitions = source partitions ∪ partitions of target
    *     rows whose key matches a source key (found with a column-pruned
    *     semi-join: only key + partition columns of the target are read);
    *  2. only those partitions are read, merged (left-anti + union — see
    *     [[MergeInto.upsertAll]]) and rewritten;
    *  3. all other partitions carry into the new snapshot untouched.
    *
    * The source must be deduped to ≤1 row per key (caller responsibility,
    * as in mergeSQL.sql:14-21); [[mergeDedup]] composes both steps.
    */
  /** MERGE upsert. `updateCols = None` (the reference's shape) overwrites
    * every non-key column of matched rows; `Some(cols)` updates only those
    * columns, preserving the rest from the target (COW only — a MOR delta
    * carries whole rows, so partial SET lists are rejected there).
    *
    * A source row with a null key is refused with an
    * `IllegalArgumentException` and the table keeps no trace of the
    * attempt. On the COW path the null-key check runs concurrently with
    * the rewrite's write, so when that write itself fails on the bad
    * batch, the write's error may surface instead of the refusal.
    *
    * `advance` records the source position the merge brings the table to
    * (see [[commit]]); only a merge-on-read merge carries one.
    */
  def merge(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      updateCols: Option[Seq[String]] = None,
      deleteWhere: Option[Column] = None,
      evolveSchema: Boolean = false,
      advance: Option[WarehouseTable.Advance] = None): Unit = {
    // MERGE WITH SCHEMA EVOLUTION (the implicit Iceberg widening the
    // reference relies on, SURVEY.md §1.2): source columns absent from the
    // declared schema are ADDed (nullable, metadata-only) before the merge;
    // existing rows surface NULL for them through the explicit-schema read
    // paths, and alignToSchema then carries the batch's values through.
    if (evolveSchema) {
      val existing = schema.fieldNames.map(_.toLowerCase).toSet
      source.schema.fields
        .filterNot(f => existing.contains(f.name.toLowerCase))
        .foreach(f => addColumn(f.name, f.dataType))
    }
    val meta = readMeta()
    val partial = updateCols.exists(cols =>
      meta.schema.fieldNames.exists(c => !keys.contains(c) && !cols.contains(c)))
    val mor = meta.properties.get("write.merge.mode").contains("merge-on-read")
    require(mor || advance.isEmpty, "a source position advances with a merge-on-read merge only")
    if (mor) {
      require(!partial,
        "merge-on-read deltas carry whole rows; partial UPDATE SET lists need COW")
      mergeMor(spark, source, keys, meta, deleteWhere, advance)
    } else deleteWhere match {
      case Some(del) =>
        // CDC deletes over COW run as a merge program: delete-marked
        // matches drop, others update, non-delete unmatched rows insert
        require(updateCols.isEmpty, "deleteWhere with a partial SET list is unsupported")
        val cols = meta.schema.fieldNames.toSeq
        mergeClauses(spark, source, keys, MergeInto.MergeClauses(
          matched = Seq(
            MergeInto.DeleteClause(Some(del)),
            MergeInto.UpdateClause(None,
              cols.filterNot(keys.contains).map(c => c -> col(c)).toMap)),
          notMatched = Seq(MergeInto.InsertClause(
            Some(!coalesce(del, lit(false))),
            cols.map(c => c -> col(c)).toMap))))
      case None =>
        mergeCow(spark, source, keys, meta, if (partial) updateCols else None)
    }
  }

  /** Iceberg's identifier-field contract: merge keys are row IDENTITY
    * and must be NON-NULL. Delta arbitration (a groupBy) would treat all
    * null-keyed rows as ONE identity while the gross feed's and COW
    * matched-key semi-joins (ANSI equality) never match them — there is
    * no consistent null-key semantics, which is exactly why Iceberg
    * forbids nullable identifier fields. Enforced FOOTER-PRICED on the
    * just-written delta dirs (their footers already carry per-column
    * null counts — zero extra scans), as the commit's pre-landing check,
    * so a refusal leaves no manifest trace: [[commit]] sweeps the
    * written dirs before rethrowing.
    */
  private def requireKeysNotNull(
      added: Map[String, List[String]], keys: Seq[String]): Unit = {
    val n = TableStats.nullCount(root, added.values.flatten.toSeq, keys.toSet)
    if (n > 0) throw nullKeyRefusal(keys, s"$n ")
  }

  /** Recursively delete written-but-not-committed dirs — the no-trace
    * half of a write whose commit did not land.
    */
  private def sweepUncommitted(rels: Iterable[String]): Unit =
    // a write owns its whole data/<uuid> dir — the partition dirs the
    // manifest would name AND the job's _SUCCESS marker beside them — so
    // sweep at that level, or a partitioned write leaves its uuid dir
    rels.map(_.split("/").take(2).mkString("/")).toSet
      .foreach((rel: String) => deleteTree(rootPath.resolve(rel)))

  /** `detail` is "<n> " (count + trailing space) or "" when uncounted. */
  private def nullKeyRefusal(keys: Seq[String], detail: String) =
    new IllegalArgumentException(
      s"merge keys ${keys.mkString(", ")} carry ${detail}NULL value(s) — " +
        "identifier fields must be non-null (Iceberg's identifier-field " +
        "contract); filter or coalesce the batch's keys first")

  /** Merge-on-read: the deduped batch is APPENDED as a delta — O(batch)
    * write, no target read at all; arbitration happens at read time
    * (newest delta sequence wins per key). [[compact]] folds deltas back
    * into the base when read amplification grows.
    */
  private def mergeMor(
      spark: SparkSession, source: DataFrame, keys: Seq[String], meta: Meta,
      deleteWhere: Option[Column], advance: Option[WarehouseTable.Advance]): Unit =
    // tombstone flag rides along in the delta file: a delete is an O(batch)
    // append exactly like an upsert, resolved at read/compaction time
    writeDelta(spark, meta, keys, source.withColumn(TombstoneCol,
      coalesce(deleteWhere.getOrElse(lit(false)), lit(false))), advance)

  /** The keyed MOR delta write ([[mergeMor]], [[deleteKeysMor]]): `rows`
    * (tombstone flag included) land as the next delta once their keys
    * are checked non-null, then inline maintenance runs. Concurrent-writer
    * safe: the delta rebases onto the snapshot current at commit time
    * (its sequence number re-derives from that manifest — arbitration
    * picks a total order between racing upserts).
    */
  private def writeDelta(
      spark: SparkSession, meta: Meta, keys: Seq[String], rows: DataFrame,
      advance: Option[WarehouseTable.Advance] = None): Unit = {
    val threshold = deltaThreshold(meta)
    val attempts = retryBudget(meta)
    recordMergeKeys(meta, keys)
    val (added, stats) = writeDataDir(rows, meta, extraCols = Seq(TombstoneCol))
    commit(added.values.flatten, new Rebase(attempts)(_.addDelta(added, stats)),
      advance = advance, check = requireKeysNotNull(added, keys))
    maintainAfterCommit(spark, meta, threshold)(_.deltas.size)
  }

  /** The count threshold of inline compaction, table property
    * `compact.delta.threshold` (0 disables; default 8). The MOR writes
    * read it before they write any data: a malformed value refuses the
    * write, instead of failing it after its commit has landed — a
    * redelivered batch would then fail the same way forever.
    */
  private def deltaThreshold(meta: Meta): Int =
    intProperty(meta.properties, "compact.delta.threshold", 8)

  /** Inline maintenance after a delta or sidecar commit. Read
    * amplification grows linearly with the delta count (every read unions
    * base + all deltas and re-arbitrates) and the sidecar count (one anti
    * join each), so once `pending` of the now-current manifest reaches
    * `threshold` everything folds back into the base — Iceberg's
    * maintenance action, run inline while the batch's context is warm.
    * Below it the stats-driven dial decides.
    */
  private def maintainAfterCommit(spark: SparkSession, meta: Meta, threshold: Int)(
      pending: Manifest => Int): Unit =
    if (threshold > 0 && pending(readManifest(currentSnapshotId)) >= threshold)
      tryCompact(spark)
    else autoCompactIfDegraded(spark, meta)

  /** Inline read-amplification maintenance after a delta/sidecar commit —
    * BEST-EFFORT under concurrency. The triggering operation's own commit
    * is already durable; compaction is a COW rewrite whose plain commit
    * refuses to land if ANY writer advanced the snapshot meanwhile, and
    * under racing MOR writers that refusal is the COMMON case (the
    * 32-writer merge race in `tools/ContentionBench` hits it every run).
    * It must not fail the writer's successful operation: a lost
    * compaction round costs read amplification until the next quiet
    * writer (or an explicit [[compact]] / `CALL graft.system.compact`)
    * folds the deltas — never data. The folded dir a losing compactor
    * already wrote is swept by its commit. Explicit compacts keep their
    * loud single-writer contract.
    */
  private def tryCompact(spark: SparkSession): Unit =
    try compact(spark)
    catch {
      case _: java.util.ConcurrentModificationException |
           _: java.nio.file.FileAlreadyExistsException => ()
    }

  /** AUTO-COMPACT POLICY, the stats-driven twin of the blunt count
    * threshold: when `compact.auto.overlap-threshold` (fraction in
    * (0, 1]) and/or `compact.auto.erasure-threshold` (pending posdel
    * erasures per partition) are set as table properties, every
    * delta/sidecar commit whose count threshold did NOT fire runs
    * [[compactIfDegraded]] inline — folding only the partitions the
    * `.stats` dial marks degraded, so a self-maintaining table prices
    * its upkeep at the degraded partitions' bytes. An unset overlap
    * property defaults to 1.0 (fold only fully-overlapped partitions);
    * an unset erasure property disables that dial. Same BEST-EFFORT
    * concurrency contract as [[tryCompact]]: a racing writer's advance
    * aborts the fold, never the triggering commit. Skipped silently on
    * unpartitioned or spec-evolved tables (the targeted fold is
    * partition-keyed — see [[compactPartitions]]).
    */
  private def autoCompactIfDegraded(spark: SparkSession, meta: Meta): Unit = {
    // LENIENT parsing: this hook runs AFTER the triggering write's commit
    // is durable, so a malformed or out-of-range property value must
    // never surface as the write failing — a thrown NumberFormatException
    // here would abort every subsequent merge on the table even though
    // each one landed. Unparseable or out-of-range values read as
    // "policy not set" ('0' is the natural spelling of disable, matching
    // compact.delta.threshold=0).
    val ov = meta.properties.get("compact.auto.overlap-threshold")
      .flatMap(s => scala.util.Try(s.toDouble).toOption)
      .filter(v => v > 0 && v <= 1)
    val er = meta.properties.get("compact.auto.erasure-threshold")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ > 0)
    if ((ov.nonEmpty || er.nonEmpty) && meta.partition.nonEmpty &&
        partitionHistory(meta).isEmpty)
      try compactIfDegraded(spark, ov.getOrElse(1.0), er.getOrElse(0L))
      catch {
        case _: java.util.ConcurrentModificationException |
             _: java.nio.file.FileAlreadyExistsException => ()
      }
  }

  /** MOR EQUALITY DELETE: drop every row matching one of the given key
    * tuples — an O(batch) delta append of keys + tombstone flag only
    * (Iceberg's equality-delete files): no target read, no full rows from
    * the caller, non-key columns travel as parquet nulls (def-levels only,
    * ~bits per row). Read-time arbitration already does the rest: the
    * newest sequence per key wins and a winning tombstone removes the key.
    * A later upsert of the same key resurrects it, same as row tombstones.
    *
    * The key set must include the partition column (deltas are stored and
    * pruned per partition — a delete that cannot be routed to partitions
    * would be invisible to partition-pruned reads).
    */
  def deleteKeysMor(spark: SparkSession, keyRows: DataFrame, keys: Seq[String]): Unit = {
    val meta = readMeta()
    require(meta.properties.get("write.merge.mode").contains("merge-on-read"),
      "equality deletes are a merge-on-read operation; COW tables use deleteRows")
    meta.partition.foreach(p => require(keys.contains(p),
      s"equality-delete keys must include the partition column $p"))
    val missing = keys.filterNot(keyRows.columns.contains)
    require(missing.isEmpty, s"key columns absent from input: ${missing.mkString(", ")}")
    writeDelta(spark, meta, keys, keyRows.select(keys.map(col): _*).distinct()
      .withColumn(TombstoneCol, lit(true)))
  }

  /** MOR POSITION DELETE — Iceberg v2's second delete flavor: erase the
    * rows matching `cond` by naming their PHYSICAL positions
    * (data-file path + row ordinal, Spark's `_metadata` identity), written
    * as an O(matching-rows) sidecar under `posdel/` — no key columns
    * needed (the equality-delete path requires merge keys; predicates
    * like "quality < 0.1" or "lang = 'xx'" have none), no target rewrite,
    * no compaction first. The predicate is evaluated against the CURRENT
    * RESOLVED view (post-arbitration, post earlier position deletes), so
    * it deletes exactly what a reader sees matching.
    *
    * Semantics mirror equality tombstones: erasing the arbitration winner
    * removes the key (an older shadowed version does NOT resurrect); a
    * LATER upsert of the key resurrects it; [[compact]] and every full
    * COW rewrite fold the erasures physically and clear the sidecars.
    * Time travel composes — the sidecar list is per-snapshot, so reads
    * AS OF a pre-delete snapshot still see the rows. [[changesSince]]
    * CARRIES these erasures (it resolves each window sidecar back to the
    * rows it erased and emits them labeled `delete`) — a CDC mirror
    * replaying the feed stays convergent, unlike Iceberg's incremental
    * scan which documents position deletes away.
    *
    * Returns the number of rows deleted (0 ⇒ no commit).
    */
  def deleteWhereMor(spark: SparkSession, cond: Column): Long = {
    val meta = readMeta()
    // write.delete.mode is the Iceberg property that governs DELETEs
    // specifically (read.py:208-216 sets all three together for MOR)
    require(meta.properties.get("write.delete.mode").contains("merge-on-read"),
      "position deletes are a merge-on-read operation; COW tables use deleteRows")
    val threshold = deltaThreshold(meta)
    val attempts = retryBudget(meta)
    // RE-PLANNING retry: the sidecar names physical rows of the planning
    // snapshot's files, so a concurrent compact/rewrite that dropped any
    // planned dir invalidates the handles mid-flight. The commit's
    // file-identity guard refuses rather than let the sidecar go inert
    // (resurrecting the rows) — but the PREDICATE is re-derivable, so
    // the whole plan simply re-runs against the new current snapshot:
    // O(matching rows) per attempt, and an attempt only fails when
    // maintenance rewrote the table DURING it (the 6-writer torture
    // found the compact-vs-posdel interleaving this loop absorbs).
    var attempt = 0
    while (true) {
      attempt += 1
      val plannedDirs = readManifest(currentSnapshotId).liveDirs
      val rel = s"posdel/${UUID.randomUUID()}"
      readResolved(spark, None, Nil, None, keepPos = true)
        .filter(cond)
        .select(col(PosFileCol), col(PosIdxCol))
        .write.parquet(s"$root/$rel")
      // row count from the freshly written footers — no Spark job
      val n = TableStats.rowCount(root, Seq(rel))
      if (n == 0L) {
        deleteTree(rootPath.resolve(rel))
        return 0L
      }
      // concurrent-writer rebase with a FILE-IDENTITY guard: the sidecar
      // may rebase onto appends/deltas/sidecars (planned dirs all
      // survive) but never silently onto a rewrite/compact that dropped
      // any of them
      try {
        commit(Seq(rel), new Rebase(attempts)(now => {
          if (!plannedDirs.subsetOf(now.liveDirs))
            throw new IllegalStateException(
              "a concurrent rewrite removed files this position-delete was " +
                "planned against — re-run the delete on the current snapshot")
          now.copy(posDeletes = now.posDeletes :+ rel)
        }))
        maintainAfterCommit(spark, meta, threshold)(_.posDeletes.size)
        return n
      } catch {
        // the commit swept the refused sidecar; re-plan (the attempt
        // bound is the livelock guard against maintenance storms)
        case e: IllegalStateException
            if e.getMessage.contains("planned against") && attempt < 5 => ()
      }
    }
    0L // unreachable
  }

  /** Min/max range filters of the source's key columns (one tiny agg on
    * the cached batch), used to stats-prune the target-side matched-key
    * scan. Only types the stats domain can compare participate; null keys
    * never match a target row under SQL equality, so a non-null range is
    * sound.
    */
  private def srcKeyRangeFilters(
      src: DataFrame, keys: Seq[String], meta: Meta): Seq[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    import org.apache.spark.sql.types._
    val statKeys = keys.filter(k => meta.schema(k).dataType match {
      case IntegerType | LongType | ShortType | ByteType | FloatType | DoubleType |
           StringType => true
      case _ => false
    })
    if (statKeys.isEmpty) Nil
    else {
      val aggs = statKeys.flatMap(k =>
        Seq(min(col(k)).as(s"__min_$k"), max(col(k)).as(s"__max_$k")))
      val row = src.agg(aggs.head, aggs.tail: _*).collect().head
      statKeys.flatMap { k =>
        val mn = row.getAs[Any](s"__min_$k")
        val mx = row.getAs[Any](s"__max_$k")
        if (mn == null || mx == null) Nil
        else Seq(GreaterThanOrEqual(k, mn), LessThanOrEqual(k, mx))
      }
    }
  }

  /** General MERGE program (SQL WHEN-clause semantics incl. conditional
    * updates and DELETE branches — see [[MergeInto.MergeClauses]]). Always
    * executes copy-on-write at partition granularity: deltas of a MOR
    * table are compacted first (a delta row cannot express "delete" or
    * "keep-some-columns", so programs beyond plain upsert need the
    * rewrite). Source columns feeding conditions/values beyond the table
    * schema survive — only the schema columns are aligned on write.
    */
  def mergeClauses(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      clauses: MergeInto.MergeClauses,
      nullSafeKeys: Boolean = false): Unit = {
    val meta = readMeta()
    // which partitions can the program WRITE rows into?
    //  - insert clauses: evaluate each clause's value for the partition
    //    column over the source (insert values are source-only by SQL
    //    rules), so computed partition values are covered;
    //  - an UPDATE that assigns the partition column can move a matched
    //    row into ANY partition (its value may reference the target side),
    //    so that rare shape falls back to rewriting all base partitions.
    def writtenParts(src: DataFrame, p: String): Option[Set[String]] = {
      val updatesPartition = (clauses.matched ++ clauses.notMatchedBySource).exists {
        case MergeInto.UpdateClause(_, set) => set.contains(p)
        case _ => false
      }
      // NOT MATCHED BY SOURCE clauses touch target rows in ANY partition —
      // no batch-derived bound exists, rewrite everything
      if (updatesPartition || clauses.notMatchedBySource.nonEmpty) None
      else Some(clauses.notMatched.flatMap { ic =>
        src.select(ic.values(p).cast("string")).distinct()
          .collect().map(r => Option(r.getString(0)).getOrElse(HiveNullPartition))
      }.toSet)
    }
    mergeCowWith(spark, source, keys, meta, alignSource = false, writtenParts,
      (target, src) =>
        MergeInto.applyClauses(target, src, keys, clauses, nullSafeKeys),
      enforceKeyNotNull = !nullSafeKeys)
  }

  /** Copy-on-write merge (partition-pruned rewrite — see class docs). */
  private def mergeCow(
      spark: SparkSession, source: DataFrame, keys: Seq[String], meta: Meta,
      updateCols: Option[Seq[String]]): Unit =
    mergeCowWith(spark, source, keys, meta, alignSource = true,
      // upsert writes exactly the source's own partition values
      (src, p) => Some(src.select(col(p).cast("string")).distinct()
        .collect().map(r => Option(r.getString(0)).getOrElse(HiveNullPartition)).toSet),
      { (target, src) =>
        // partial SET list → per-column arbitration (preserved columns come
        // from the target on matched rows; inserts still take all source cols)
        updateCols match {
          case Some(cols) => MergeInto.upsertColumns(target, src, keys, cols)
          case None       => MergeInto.upsertAll(target, src, keys)
        }
      })

  /** Shared COW machinery: `srcParts(cachedSource, partitionCol)` returns
    * the partition values the program may write (None = unbounded → all
    * base partitions), `upsert(targetSlice, cachedSource)` produces the
    * replacement contents of the affected partitions.
    */
  private def mergeCowWith(
      spark: SparkSession, source: DataFrame, keys: Seq[String], meta: Meta,
      alignSource: Boolean,
      srcPartsFn: (DataFrame, String) => Option[Set[String]],
      upsert: (DataFrame, DataFrame) => DataFrame,
      enforceKeyNotNull: Boolean = true): Unit = {
    // COW merges record their keys too: inert for reads (arbitration
    // only runs over deltas), but [[changesSince]] needs the identity to
    // diff a rewrite commit's removed dirs against its re-landed rows
    recordMergeKeys(meta, keys)
    val (cur, old) = deltaFreeParent(spark)
    val src = (if (alignSource) alignToSchema(source, meta.schema) else source).cache()
    // same identifier-field contract as the MOR delta paths (see
    // requireKeysNotNull); one cheap pass over the CACHED batch. The
    // null-safe group-identity callers (the rollup fold) opt out.
    // OVERLAPPED: the check is independent of partition discovery and of
    // the rewrite's write, so it runs as a CONCURRENT job on the cached
    // batch and is awaited as the commit's pre-landing check — hiding its
    // ~0.1–0.2 s job latency behind work the merge does anyway instead of
    // serializing it in front. The trade, stated honestly: a bad batch
    // now pays a wasted never-committed write (the commit sweeps those
    // dirs before rethrowing the same IllegalArgumentException — the MOR
    // path's no-trace contract); and when the WRITE itself also fails on
    // a bad batch, the write's error may surface instead of the null-key
    // verdict (pre-change, the serial check always won). The refusal is
    // deterministic whenever the write succeeds, which is what the
    // identifier-field spec pins.
    val nullCheckFut: Option[java.util.concurrent.Future[Boolean]] =
      if (enforceKeyNotNull && keys.nonEmpty) {
        val pool = java.util.concurrent.Executors.newSingleThreadExecutor()
        try Some(pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean =
            src.filter(keys.map(col(_).isNull).reduce(_ || _)).isEmpty
        }))
        finally pool.shutdown() // runs the one submitted task, then exits
      } else None
    def awaitCleanKeys(): Unit =
      nullCheckFut.map(WarehouseTable.awaitedNullCheck).foreach { fut =>
        val clean =
          try fut.get()
          catch {
            case x: java.util.concurrent.ExecutionException
                if x.getCause != null => throw x.getCause
          }
        if (!clean) throw nullKeyRefusal(keys, "")
      }
    try {
      // the partitions the program rewrites; None = all of them (an
      // unpartitioned table, or a partition-moving update)
      val affected: Option[Set[String]] = meta.partition.flatMap { p =>
        // 1. partitions the program writes into (null → the hive default
        //    partition name so the keys line up with the manifest's)
        srcPartsFn(src, p).map { sp =>
          // 2. partitions holding targets of matched keys (pruned scan:
          //    parquet reads only keys + partition column, and the
          //    source's key RANGE prunes target dirs via file stats —
          //    an append-mostly table with time-ordered keys reads
          //    only the dirs whose [min,max] overlaps the batch).
          //    SKIPPED entirely when the batch's own partitions already
          //    cover every base partition (nothing left to discover) —
          //    in particular on the first merge into an empty table.
          val matchedParts =
            if (old.base.keySet.subsetOf(sp)) Set.empty[String]
            else {
              val keyRangeFilters = srcKeyRangeFilters(src, keys, meta)
              read(spark, None, keyRangeFilters)
                .select((keys :+ p).map(col): _*)
                .join(broadcastIfSmall(src.select(keys.map(col): _*).distinct()),
                  keys, "left_semi")
                .select(col(p).cast("string")).distinct()
                .collect().map(r => Option(r.getString(0)).getOrElse(HiveNullPartition)).toSet
            }
          (sp ++ matchedParts).filter(old.base.contains)
        }
      }
      // 3. merge only affected partitions
      val merged = upsert(read(spark, affected.map(_.toSeq)), src)
      val (rewritten, stats) = writeDataDir(merged, meta)
      commit(rewritten.values.flatten, new OnParent(cur, old)(m => affected match {
        case None => m.replaceAll(rewritten, stats)
        case Some(a) =>
          // On an evolved table the pruned target read sweeps in EVERY
          // legacy-spec dir (they can't prune by the current spec), so
          // their rows are all re-landed in `rewritten` — carrying the
          // legacy dirs forward would duplicate them. A COW merge on a
          // mixed-spec table therefore also migrates it to the current
          // spec, paying the legacy rewrite once. replaceParts
          // concatenates per key: a migrated legacy row's current-spec
          // value may collide with an untouched key (impossible
          // un-evolved — every src partition value lands in `affected`).
          // Pos-deletes carry: untouched partitions' erasures stay live;
          // refs into rewritten dirs are inert (the dirs left the
          // manifest) and are cleared at the next full rewrite.
          val carried =
            if (partitionHistory(meta).isEmpty) m
            else m.dropDirs(d => !dirUnderSpec(meta.partition)(d))
          carried.replaceParts(a, rewritten, stats)
      }), check = awaitCleanKeys())
    } finally {
      // an unrelated failure mid-merge must not leave the check job
      // running against an unpersisting cache
      nullCheckFut.foreach(_.cancel(true))
      src.unpersist()
    }
  }

  /** Fold MOR deltas AND position-delete sidecars into the base
    * (compaction): one full arbitrated read, one partitioned rewrite,
    * deltas and sidecars cleared.
    */
  def compact(spark: SparkSession): Unit = {
    val meta = readMeta()
    val cur = currentSnapshotId
    val m = readManifest(cur)
    if (m.deltas.nonEmpty || m.posDeletes.nonEmpty) {
      val (entries, stats) = writeDataDir(read(spark), meta)
      commit(entries.values.flatten, new OnParent(cur, m)(_.replaceAll(entries, stats)),
        maintenance = true)
    }
  }

  /** The current snapshot id and its manifest, with MOR deltas left over
    * from a mode switch folded first: the COW rewrites that call this
    * assume a delta-free base. Reads the manifest once when there is
    * nothing to fold.
    */
  @annotation.tailrec
  private def deltaFreeParent(spark: SparkSession): (Long, Manifest) = {
    val cur = currentSnapshotId
    val m = readManifest(cur)
    if (m.deltas.isEmpty) (cur, m)
    else {
      compact(spark)
      deltaFreeParent(spark)
    }
  }

  /** Small-file maintenance for append-heavy COW tables: partitions that
    * accumulated more than `maxDirsPerPartition` data dirs are read and
    * rewritten as one dir each (partition-level, untouched partitions carry
    * by reference — same commit shape as the COW merge). Many tiny dirs
    * cost listing time and per-file open overhead at scan; this bounds
    * read amplification the way [[compact]] bounds MOR's.
    */
  def compactBase(spark: SparkSession, maxDirsPerPartition: Int = 8): Unit = {
    val meta = readMeta()
    // a partition-keyed partial rewrite is ill-defined over a mixed-spec
    // layout (a pruned read of the crowded keys would also sweep in every
    // legacy dir, duplicating the untouched keys' rows on commit)
    require(partitionHistory(meta).isEmpty,
      "compactBase on an evolved table: run rewriteToCurrentSpec first")
    val (cur, old) = deltaFreeParent(spark)
    val crowded = old.base.filter(_._2.size > maxDirsPerPartition).keySet
    if (crowded.nonEmpty) {
      val (rewritten, stats) = writeDataDir(read(spark, Some(crowded.toSeq)), meta)
      commit(rewritten.values.flatten,
        new OnParent(cur, old)(_.replaceParts(crowded, rewritten, stats)), maintenance = true)
    }
  }

  /** PARTITION-SCOPED MOR compaction — [[compact]] restricted to `parts`
    * (manifest partition keys): one arbitrated read of exactly those
    * partitions, one partitioned rewrite, their delta slices cleared;
    * every other partition's base dirs AND delta slices carry by
    * reference, untouched. This is the half of the compaction cost model
    * [[compact]] can't express: on a 100 TB table where one hot
    * partition's delta locality degraded, folding EVERYTHING rewrites
    * the cold 99% for nothing — the fold must be priced at the degraded
    * partitions' bytes, not the table's.
    *
    * Position-delete sidecars: refs into the rewritten dirs are inert
    * (the dirs left the manifest — the same carry argument the COW
    * merge makes); a sidecar whose refs ALL point at departed dirs is
    * dropped in the same commit, so the pending-erasure dial
    * (`.stats`' posdel rows) returns to zero once every referenced
    * partition has folded.
    */
  def compactPartitions(spark: SparkSession, parts: Seq[String]): Unit = {
    val meta = readMeta()
    require(meta.partition.nonEmpty,
      "compactPartitions needs a partitioned table (use compact)")
    // a partition-keyed partial rewrite is ill-defined over a mixed-spec
    // layout — same contract as compactBase
    require(partitionHistory(meta).isEmpty,
      "compactPartitions on an evolved table: run rewriteToCurrentSpec first")
    val cur = currentSnapshotId
    val old = readManifest(cur)
    val target = parts.toSet
    val touched = target.exists(pv =>
      old.deltas.exists(_.data.contains(pv)) || old.base.contains(pv))
    if (!touched) return
    val slice = read(spark, Some(parts)) // arbitrated: deltas + posdels applied
    // A CLUSTERED table's fold rewrites THROUGH the persisted cuts: the
    // overlap dial measures how much of the range-disjoint base a MOR
    // read must arbitrate, and a flat writeDataDir fold would collapse
    // the folded partition to ONE dir — locality destroyed, every later
    // delta trivially overlapping it (frac 1.0), the dial degenerate.
    // Folding through the frozen cuts restores the layout the dial
    // assumes, so nightly compact_if_degraded HEALS clustering instead
    // of erasing it. Unclustered tables keep the flat rewrite.
    val (rewritten, stats) = persistedBucketExpr(meta) match {
      case Some(bucket) => writeBucketedDirs(meta, slice, bucket)
      case None => writeDataDir(slice, meta)
    }
    val refs = sidecarFiles(spark, old.posDeletes)
    commit(rewritten.values.flatten, new OnParent(cur, old)(m => {
      val folded = m.replaceParts(target, rewritten, stats)
      val live = folded.liveDirs
      // a sidecar naming no rows (can't happen — they're only written
      // non-empty) is kept
      folded.copy(posDeletes = m.posDeletes.filter { sc =>
        val files = refs.getOrElse(sc, Set.empty)
        files.isEmpty || files.exists(f => dataDirsOf(f).exists(live.contains))
      })
    }), maintenance = true)
  }

  /** STATS-DRIVEN targeted compaction — the consumer of the `.stats`
    * MOR overlay dial (the rows q186 oracles): a partition is DEGRADED
    * when either
    *
    *  - `overlapThreshold`: the fraction of its base dirs whose
    *    merge-key range intersects at least one of its delta dirs'
    *    ranges reaches the threshold — i.e. the share of the base a MOR
    *    read must arbitrate. On a key-clustered table a LOCAL update
    *    wave overlaps one narrow bucket (healthy, frac → 1/nBuckets); a
    *    SCATTERED wave's delta spans the key domain and overlaps every
    *    bucket (degraded, frac → 1). A partition holding deltas but no
    *    base dirs, or dirs without usable key stats, counts as fully
    *    overlapping — conservative, same polarity as mayMatch. Requires
    *    recorded merge keys (a MOR table with deltas always has them);
    *  - `erasureThreshold` (> 0 to enable): its pending position-delete
    *    erasures reach the threshold — counted per partition by
    *    attributing each sidecar's (file → dir → partition) refs, only
    *    over dirs still live in the manifest (refs into departed dirs
    *    are inert and must not schedule work).
    *
    * Degraded partitions fold via [[compactPartitions]]; untouched
    * partitions stay untouched — byte-for-byte, dir-for-dir. Returns
    * the folded partition keys (empty = nothing degraded). Idempotent:
    * a second call right after sees no deltas/erasures and returns Nil.
    * The table-property twin `compact.delta.threshold` stays the blunt
    * per-commit count dial; this is the SQL-facing maintenance verb a
    * 100 TB operator schedules nightly.
    */
  def compactIfDegraded(
      spark: SparkSession,
      overlapThreshold: Double,
      erasureThreshold: Long): Seq[String] = {
    val meta = readMeta()
    require(meta.partition.nonEmpty,
      "compactIfDegraded needs a partitioned table (use compact)")
    require(overlapThreshold > 0 && overlapThreshold <= 1,
      s"overlapThreshold must be in (0, 1], got $overlapThreshold")
    val m = readManifest(currentSnapshotId)
    if (m.deltas.isEmpty && m.posDeletes.isEmpty) return Nil
    // the overlap column: the PERSISTED cluster column when the table is
    // clustered (the layout the dial heals — and the only column whose
    // base-dir ranges are disjoint by construction), else the first
    // NON-PARTITION merge key. The partition column must never be the
    // dial: hive-partitioned dirs don't store it, so its stats are
    // absent and every partition would read as fully-overlapping —
    // degenerating the policy into fold-every-commit.
    val keyStat: Option[String] =
      meta.properties.get("cluster.col")
        .orElse(meta.properties.get("cluster.cols").map(_.split(",").head))
        .orElse(mergeKeys(meta)
          .flatMap(_.find(k => !meta.partition.contains(k))))
    val deltasByPart: Map[String, List[String]] = m.deltas
      .flatMap(_.data.toSeq).groupBy(_._1)
      .view.mapValues(_.flatMap(_._2).toList).toMap
    val overlapDegraded: Set[String] = keyStat match {
      case None => Set.empty
      case Some(key) => deltasByPart.collect { case (pv, ddirs) =>
        val deltaRanges = ddirs.map(d => m.stats.get(d).flatMap(_.get(key)))
        val baseDirs = m.base.getOrElse(pv, Nil)
        val frac =
          if (baseDirs.isEmpty || deltaRanges.exists(_.isEmpty)) 1.0
          else {
            val dr = deltaRanges.flatten
            baseDirs.count { bd =>
              m.stats.get(bd).flatMap(_.get(key)) match {
                case Some(br) => dr.exists(TableStats.rangesOverlap(br, _))
                case None => true
              }
            }.toDouble / baseDirs.size
          }
        pv -> frac
      }.collect { case (pv, f) if f >= overlapThreshold => pv }.toSet
    }
    val erasureDegraded: Set[String] =
      if (erasureThreshold <= 0 || m.posDeletes.isEmpty) Set.empty
      else {
        val dirToPart: Map[String, String] =
          (m.base.toSeq ++ m.deltas.flatMap(_.data.toSeq))
            .flatMap { case (pv, ds) => ds.map(_ -> pv) }.toMap
        posDeleteFrame(spark, m.posDeletes)
          .groupBy(col(PosFileCol)).count().collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
          .flatMap { case (f, n) =>
            dataDirsOf(f).collectFirst {
              case d if dirToPart.contains(d) => dirToPart(d) -> n
            }
          }
          .groupBy(_._1).view.mapValues(_.map(_._2).sum)
          .collect { case (pv, n) if n >= erasureThreshold => pv }.toSet
      }
    val degraded = (overlapDegraded ++ erasureDegraded).toSeq.sorted
    if (degraded.nonEmpty) compactPartitions(spark, degraded)
    degraded
  }

  /** SORT-CLUSTERED base rewrite — linear Z-ordering for DATA SKIPPING:
    * rewrite the base into `nBuckets` RANGE-DISJOINT data dirs on
    * `clusterCol`, so the dir-level min/max stats prune reads by a
    * column that is NOT the partition key. Without clustering, every
    * dir's [min, max] on a high-cardinality column spans nearly the full
    * domain and `mayMatch` can never exclude anything; after it, a
    * point/range predicate reads ~matching/nBuckets of the data. This is
    * the layout decision that makes stats pruning WORK — harvesting
    * stats was free, making them selective costs one clustered rewrite.
    *
    * Bucket cuts are equi-depth quantiles — EXACT (`approxQuantile` at
    * relativeError 0) under the [[numericCuts]] scale bound, sampled
    * above it — so skew cannot starve buckets; ties collapse
    * (duplicate cuts dedup) and nulls ride the first bucket. The rewrite
    * is ONE pass: rows bucket map-side via the cut when-chain and a
    * single dynamic-partition write lands one dir per non-empty bucket —
    * not a per-bucket rescan. On a PARTITIONED table the clustering nests
    * WITHIN each partition (one dynamic write keyed (partition, bucket);
    * the bucket level is renamed to a non-hive name so basePath
    * discovery sees only the real partition column) — partition pruning
    * and stats pruning then compose multiplicatively.
    */
  def clusterBase(
      spark: SparkSession,
      clusterCol: String,
      nBuckets: Int): Unit = {
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets=$nBuckets out of range [2, 1024]")
    val meta = readMeta()
    require(!meta.partition.contains(clusterCol),
      "clusterCol IS the partition column - partitioning already clusters it")
    require(meta.schema.fieldNames.contains(clusterCol),
      s"cluster column '$clusterCol' not in schema")
    val (cur, old) = deltaFreeParent(spark)
    val slice = read(spark)
    // the cuts ARE the layout: persisting them lets clusterAppend route
    // later arrivals into the same ranges without re-deriving (and
    // therefore without rewriting) anything
    val cuts: Seq[Any] =
      if (meta.schema(clusterCol).dataType ==
          org.apache.spark.sql.types.StringType) {
        val strs = stringCuts(slice, clusterCol, nBuckets - 1)
        // cuts are arbitrary strings — URL-encode each so the persisted
        // comma-joined property round-trips commas/newlines in keys
        setProperties(Map(
          "cluster.kind" -> "srange",
          "cluster.col" -> clusterCol,
          "cluster.cuts" -> strs.map(c =>
            java.net.URLEncoder.encode(c, "UTF-8")).mkString(",")))
        strs
      } else {
        val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
        val nums = numericCuts(slice, clusterCol, probs, baseRowCount(old))
        setProperties(Map(
          "cluster.kind" -> "range",
          "cluster.col" -> clusterCol,
          "cluster.cuts" -> nums.mkString(",")))
        nums
      }
    val (entries, stats) = writeBucketedDirs(meta, slice,
      rangeBucketExpr(clusterCol, cuts), nBuckets = nBuckets)
    // re-clustering re-lands every live row — resolution-invariant
    commit(entries.values.flatten, new OnParent(cur, old)(_.replaceAll(entries, stats)),
      maintenance = true)
  }

  /** Footer-priced row count of a snapshot's base dirs — metadata only,
    * for scale dispatch (no scan).
    */
  private def baseRowCount(m: Manifest): Long =
    TableStats.rowCount(root, m.base.values.flatten.toSeq)

  /** Equi-depth quantile cuts for a NUMERIC cluster column. EXACT
    * (approxQuantile at relativeError 0) while the base's footer-counted
    * rows stay under `spark.graft.cluster.exactQuantileMaxRows`
    * (default 10^7) — small rewrites keep byte-identical layouts. Above
    * the bound ε=0 is a driver hazard: the GK summaries stop compressing
    * and grow with the data, so a 100 TB column's exact-quantile pass
    * ships data-sized summaries to the driver. There the cuts come from
    * a bottom-k-by-hash sample ([[stringCuts]]' one-pass move — no
    * count-then-sample double scan; (nCuts+1)·4096 rows,
    * TakeOrderedAndProject-bounded), quantiled exactly. The hash seeds
    * on monotonically_increasing_id, so the SAMPLE (not the layout
    * contract) varies with partition layout and scheduling — any cut
    * set yields range-disjoint buckets, and the cuts are frozen in the
    * table properties at cluster time either way. The layout
    * contract (range disjointness, frozen persisted cuts) is identical
    * either way; only balance degrades, by sampling error — the
    * RangePartitioner trade the string path already documents.
    */
  private def numericCuts(
      slice: DataFrame, cc: String, probs: Array[Double],
      baseRows: Long): Seq[Double] = {
    val maxExact = slice.sparkSession.conf
      .get("spark.graft.cluster.exactQuantileMaxRows", "10000000").toLong
    val vals = slice.na.drop(Seq(cc))
    val src =
      if (baseRows <= maxExact) vals
      else vals
        .withColumn("__h", xxhash64(col(cc), monotonically_increasing_id()))
        .orderBy(col("__h")).limit((probs.length + 1) * 4096)
        .drop("__h")
    src.stat.approxQuantile(cc, probs, 0.0).distinct.sorted.toSeq
  }

  /** Sample-derived equi-depth cut points for a STRING column — STRING
    * keys (domain, lang, url prefix: the natural cluster keys of a text
    * corpus) have no approxQuantile. The sample sorts in UTF-8 BYTE
    * order (Spark compares UTF8String bytes, not Java UTF-16 code
    * units — a Java-sorted cut list would mis-route supplementary-plane
    * keys). Sample-derived equi-depth is the RangePartitioner move: the
    * layout contract is range DISJOINTNESS (what pruning needs);
    * balance is best-effort. `nCuts` cut points split into nCuts+1
    * ranges.
    */
  private def stringCuts(
      slice: DataFrame, cc: String, nCuts: Int): Seq[String] = {
    val vals = slice.na.drop(Seq(cc)).select(col(cc).cast("string"))
    // ONE pass, not count-then-sample: a fraction sample needs the row
    // count first (a full extra scan of the column per clustering call).
    // Bottom-k by a per-row hash IS a uniform k-sample that needs no n —
    // rank rows by xxhash64(value, row-id) (the id term keeps duplicate
    // values independently rankable, so a heavy key's mass is
    // represented, which equi-depth needs) and take the k smallest.
    // Plans as TakeOrderedAndProject: per-partition top-k heaps + one
    // driver merge — never a full sort, driver memory bounded by k.
    val k = (nCuts + 1) * 256
    val utf8Ord: Ordering[String] = (a: String, b: String) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
    val sampled = vals
      .withColumn("__h", xxhash64(col(cc), monotonically_increasing_id()))
      .orderBy(col("__h")).limit(k)
      .select(col(cc))
      .collect().map(_.getString(0)).sorted(utf8Ord)
    require(sampled.nonEmpty,
      s"cluster column '$cc' has no non-null values to cut on")
    (1 to nCuts)
      .map(i => sampled(math.min(i * sampled.length / (nCuts + 1),
        sampled.length - 1)))
      .distinct.sorted(utf8Ord)
  }

  /** Bucket id for a value under frozen equi-depth cuts (nulls → 0);
    * cuts are numeric OR string literals — Spark's `<=` compares each in
    * its own domain (strings by UTF8 bytes, matching the cut sort).
    */
  private def rangeBucketExpr(clusterCol: String, cuts: Seq[Any]): Column = {
    val c = col(clusterCol)
    cuts.zipWithIndex.foldRight(lit(cuts.length): Column) {
      case ((cut, i), rest) =>
        when(if (i == 0) c.isNull || c <= lit(cut) else c <= lit(cut),
          lit(i)).otherwise(rest)
    }
  }

  /** APPEND arrivals INTO the clustered layout — the incremental half of
    * [[clusterBase]]/[[clusterBaseZ]]: a plain append would land one
    * wide-min/max dir that no stats filter ever prunes, and skipping
    * would decay with every batch until the next full rewrite. Instead
    * the arrival batch is routed through the PERSISTED cuts (frozen at
    * cluster time — the layout contract, like every other at-rest
    * structure's parameters) and written as bucket-split dirs appended
    * to the manifest: each new dir spans one bucket's value range, so
    * its stats stay as narrow as the base's and pruned scans keep their
    * selectivity with zero base rewrite. Periodic re-clustering (which
    * also refreshes the cuts against drifted data) folds the
    * accumulated per-batch dirs back into one dir per bucket — the
    * OPTIMIZE cadence, now amortized instead of mandatory per batch.
    *
    * `batchId` makes the append REPLAY-IDEMPOTENT for streaming
    * callers: the batch's dirs are written under a `abatch-<id>-`
    * tagged path, and the commit first drops any manifest entries (and
    * their stats) carrying the same tag — so a checkpoint replay
    * REPLACES its own earlier dirs instead of duplicating rows, no
    * matter where a previous attempt crashed (dirs written but not
    * committed are simply unreferenced; committed dirs are swapped out
    * in the same snapshot that adds the rewrite). Appends are keyed at
    * DIR granularity by the batch id — the same move the CMS counter
    * table makes with its `bid` row key.
    */
  def clusterAppend(
      spark: SparkSession, df: DataFrame,
      batchId: Option[Long] = None): Unit = {
    val meta = readMeta()
    val bucket = persistedBucketExpr(meta).getOrElse(
      throw new IllegalArgumentException(
        s"table at $root has no persisted clustering (run clusterBase/clusterBaseZ first)"))
    val cur = currentSnapshotId
    val old = readManifest(cur)
    val tag = batchId.map(b => s"abatch-$b")
    val (added, stats) = writeBucketedDirs(meta, df, bucket, tag)
    // batch-keyed replay: this batch's previous dirs (if any) leave the
    // manifest in the SAME commit that lands the rewrite
    val stale: String => Boolean = tag match {
      case Some(t) => _.startsWith(s"data/$t-")
      case None => _ => false
    }
    commit(added.values.flatten,
      new OnParent(cur, old)(_.dropDirs(stale).addDirs(added, stats)))
  }

  // ---- bloom file-skipping index ----------------------------------------

  /** Per-dir BLOOM membership index for point lookups on a NON-clustered,
    * high-cardinality column — the skip an equality probe needs when
    * min/max stats can't help (a content hash, a doc id scattered across
    * every dir: each dir's [min, max] spans the whole domain, so stats
    * prune nothing, yet any single value lives in only a few dirs). The
    * same metadata move as Iceberg's puffin bloom sidecars.
    *
    * One distributed pass builds a fixed-geometry bitset per data dir
    * ([[graft.functions.BloomBits]] — map-side partials, OR-merge) over
    * `xxhash64(column)`; the ≤ dirs × m/8-byte results land as sidecar
    * files under `root/bloom/` (bounded metadata, like manifests — the
    * collect is dir-count-sized, never row-sized). A dir with no
    * non-null values gets the all-zero bitset — every probe on it prunes.
    *
    * INCREMENTAL by construction: only dirs missing a sidecar are read
    * (arrival dirs from appends/commits pick up blooms on the next
    * refresh call; until then they are conservatively kept). Re-running
    * is a no-op; geometry persists as table properties and a rebuild
    * under different geometry must drop the sidecar dir first.
    *
    * Soundness at read time: a Bloom filter has NO false negatives, so
    * [[read]]'s dir skip can never drop a matching row; false positives
    * only cost a read. Only `EqualTo`/`In` (and their And/Or closures)
    * consult the index, and only under the same MOR key restriction as
    * stats pruning.
    *
    * @return number of dirs indexed by this call
    */
  def buildBloomIndex(
      spark: SparkSession,
      column: String,
      mBits: Int = 1 << 16,
      k: Int = 7): Int = {
    val meta = readMeta()
    require(meta.schema.fieldNames.contains(column),
      s"bloom column '$column' not in schema")
    require(!meta.partition.contains(column),
      "bloom on the partition column is redundant - partition pruning already keys it")
    meta.properties.get(s"bloom.$column").foreach { p =>
      require(p == s"$mBits,$k",
        s"bloom index for '$column' was built with geometry $p but this " +
          s"call passed $mBits,$k — drop root/bloom first to rebuild")
    }
    val missing = readManifest(currentSnapshotId).liveDirs.toList
      .filterNot(d => Files.exists(bloomFile(column, d)))
    if (missing.nonEmpty) {
      // the declared schema, renames coalesced: a dir written before the
      // column was added reads it NULL, one written before a rename reads
      // its prior physical name
      val perDir = missing.map { rel =>
        readParts(spark, meta, Map(NoPart -> List(rel)))
          .where(col(column).isNotNull)
          .select(lit(rel).as("__dir"), xxhash64(col(column)).as("__h"))
      }.reduce(_ unionByName _)
      val built = perDir.groupBy(col("__dir"))
        .agg(graft.functions.BloomBits(col("__h"), mBits, k).as("bits"))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
      Files.createDirectories(bloomDir(column))
      missing.foreach { rel =>
        // a dir with zero non-null values drops out of the aggregation:
        // its bloom is all zeros, which (correctly) prunes every probe
        val bytes = built.getOrElse(rel, new Array[Byte](mBits / 8))
        Files.write(bloomFile(column, rel), bytes)
      }
    }
    setProperties(Map(s"bloom.$column" -> s"$mBits,$k"))
    missing.size
  }

  private def bloomDir(column: String): Path = {
    val enc = column.replaceAll("[^A-Za-z0-9._-]", "_") + "-" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(column.getBytes(StandardCharsets.UTF_8))
        .take(4).map("%02x".format(_)).mkString
    rootPath.resolve("bloom").resolve(enc)
  }

  private def bloomFile(column: String, relDir: String): Path =
    bloomDir(column).resolve(
      java.security.MessageDigest.getInstance("MD5")
        .digest(relDir.getBytes(StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString + ".bits")

  /** Bloom-indexed columns and their (mBits, k) geometry. */
  private def bloomParams(meta: Meta): Map[String, (Int, Int)] =
    meta.properties.collect {
      case (key, v) if key.startsWith("bloom.") =>
        val parts = v.split(",")
        key.stripPrefix("bloom.") -> ((parts(0).toInt, parts(1).toInt))
    }

  /** Driver-side hash of a filter literal — the SAME xxhash64 (seed 42)
    * the build pass computed executor-side, via the identical catalyst
    * hash function, so probe and build cannot drift.
    */
  private def bloomHash(v: Any, dt: DataType): Long = {
    val internal =
      org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToCatalyst(v)
    org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(internal, dt, 42L)
  }

  /** Can `relDir` hold a row satisfying ALL `filters`, per its bloom
    * sidecars? Missing sidecar / non-equality shapes answer "yes".
    */
  private def bloomMayMatch(
      meta: Meta,
      params: Map[String, (Int, Int)],
      cache: scala.collection.mutable.Map[(String, String), Option[Array[Long]]],
      relDir: String,
      filters: Seq[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources
    def bits(c: String): Option[Array[Long]] =
      cache.getOrElseUpdate((c, relDir), {
        val f = bloomFile(c, relDir)
        if (Files.exists(f))
          Some(graft.functions.BloomBits.fromBytes(Files.readAllBytes(f)))
        else None
      })
    def one(f: sources.Filter): Boolean = f match {
      case sources.EqualTo(c, v) if v != null && params.contains(c) &&
          meta.schema.fieldNames.contains(c) =>
        bits(c).forall { b =>
          val (m, kk) = params(c)
          graft.functions.BloomBits.mayContain(
            b, m, kk, bloomHash(v, meta.schema(c).dataType))
        }
      case sources.In(c, vs) if params.contains(c) =>
        vs.isEmpty || vs.exists(v => one(sources.EqualTo(c, v)))
      case sources.And(l, r) => one(l) && one(r)
      case sources.Or(l, r) => one(l) || one(r)
      case _ => true
    }
    filters.forall(one)
  }

  /** Interleave per-column level codes into a z-value: bit b of column k
    * lands at position `b·nCols + k`.
    */
  private def zInterleave(codes: Seq[Column], bitsPerCol: Int, nCols: Int): Column =
    (0 until bitsPerCol).flatMap(b => codes.zipWithIndex.map {
      case (code, k) =>
        shiftleft(shiftright(code, b).bitwiseAND(lit(1)), b * nCols + k)
    }).reduce((a, c) => a.bitwiseOR(c))

  /** Multi-column Z-ORDER clustering — where [[clusterBase]]'s linear
    * range clustering serves ONE predicate column, bit-interleaving
    * serves several: each cluster column rank-normalizes to a
    * 2^bitsPerCol-level code via EXACT equi-depth cuts, the codes'
    * bits interleave into a z-value, and the base rewrites into
    * `nBuckets` z-RANGE dirs. A z-contiguous dir covers a small
    * hyper-rectangle of the original space, so dir min/max stats are
    * narrow on EVERY clustered column at once — a predicate on any of
    * them prunes (the spec proves both columns prune on the same
    * layout; single-column clustering provably can't). Equi-depth
    * level cuts make the z-space near-uniform, so equi-width z-bucket
    * cuts give balanced dirs without a second quantile pass.
    */
  def clusterBaseZ(
      spark: SparkSession,
      clusterCols: Seq[String],
      bitsPerCol: Int = 4,
      nBuckets: Int = 16): Unit = {
    require(clusterCols.size >= 2,
      "z-ordering needs >= 2 columns (use clusterBase for one)")
    require(bitsPerCol >= 1 && bitsPerCol <= 8,
      s"bitsPerCol=$bitsPerCol out of range [1, 8]")
    require(nBuckets >= 2 && nBuckets <= 1024,
      s"nBuckets=$nBuckets out of range [2, 1024]")
    val meta = readMeta()
    require(meta.partition.forall(p => !clusterCols.contains(p)),
      "a cluster column IS the partition column - partitioning already clusters it")
    clusterCols.foreach(cc => require(meta.schema.fieldNames.contains(cc),
      s"cluster column '$cc' not in schema"))
    val (cur, curM) = deltaFreeParent(spark)
    val slice = read(spark)
    val levels = 1 << bitsPerCol
    val probs = (1 until levels).map(_.toDouble / levels).toArray
    // per-column level codes via equi-depth cuts (nulls -> level 0;
    // exact under the scale bound, sampled above — see numericCuts);
    // STRING columns cut via the sampled UTF-8-ordered path
    // (domain × lang z-layouts are the text-corpus shape)
    val zBaseRows = baseRowCount(curM)
    val colCuts: Seq[(String, Seq[Any])] = clusterCols.map { cc =>
      if (meta.schema(cc).dataType == org.apache.spark.sql.types.StringType)
        cc -> stringCuts(slice, cc, levels - 1)
      else cc -> numericCuts(slice, cc, probs, zBaseRows)
    }
    val codes = colCuts.map { case (cc, cuts) => rangeBucketExpr(cc, cuts) }
    val z = zInterleave(codes, bitsPerCol, clusterCols.size)
    val zSpan = 1 << (bitsPerCol * clusterCols.size)
    // ceil, not floor: a floor cut with nBuckets not dividing zSpan
    // emits bucket ids past nBuckets-1 (e.g. span 64 / 10 -> id 10),
    // breaking the nBuckets dir-count contract callers reason with
    val per = math.max(1, (zSpan + nBuckets - 1) / nBuckets)
    // persist the layout so clusterAppend can route arrivals (see
    // clusterBase — same contract, z flavor)
    setProperties(Map(
      "cluster.kind" -> "z",
      "cluster.cols" -> clusterCols.mkString(","),
      "cluster.bits" -> bitsPerCol.toString,
      "cluster.per" -> per.toString) ++
      colCuts.map { case (cc, cuts) =>
        // string cuts URL-encode (arbitrary keys round-trip the
        // comma-joined property); numeric cuts persist as before
        s"cluster.cuts.$cc" -> (
          if (meta.schema(cc).dataType ==
              org.apache.spark.sql.types.StringType)
            cuts.map(c =>
              java.net.URLEncoder.encode(c.toString, "UTF-8")).mkString(",")
          else cuts.mkString(",")) })
    val (entries, stats) = writeBucketedDirs(meta, slice, (z / per).cast("int"),
      nBuckets = nBuckets)
    commit(entries.values.flatten, new OnParent(cur, curM)(_.replaceAll(entries, stats)),
      maintenance = true)
  }

  /** Shared rewrite core of [[clusterBase]]/[[clusterBaseZ]]: one
    * dynamic-partition write of `slice` keyed by `bucket`, then a commit
    * referencing the bucket dirs with freshly harvested per-dir stats.
    */
  /** The bucket-routing expression a table's PERSISTED clustering
    * properties define (frozen cuts — see [[clusterBase]]/
    * [[clusterBaseZ]]), or None for an unclustered table. Shared by
    * [[clusterAppend]] (arrivals keep the layout) and
    * [[compactPartitions]] (a targeted fold RESTORES the layout — see
    * there for why folding through the cuts matters).
    */
  private def persistedBucketExpr(meta: Meta): Option[Column] =
    meta.properties.get("cluster.kind").map {
      case "range" =>
        val cc = meta.properties("cluster.col")
        val cuts = meta.properties("cluster.cuts")
          .split(",").filter(_.nonEmpty).map(_.toDouble).toSeq
        rangeBucketExpr(cc, cuts)
      case "srange" =>
        val cc = meta.properties("cluster.col")
        val cuts = meta.properties("cluster.cuts")
          .split(",").filter(_.nonEmpty)
          .map(java.net.URLDecoder.decode(_, "UTF-8")).toSeq
        rangeBucketExpr(cc, cuts)
      case "z" =>
        val cols = meta.properties("cluster.cols").split(",").toSeq
        val bits = meta.properties("cluster.bits").toInt
        val per = meta.properties("cluster.per").toLong
        val codes = cols.map { cc =>
          val raw = meta.properties(s"cluster.cuts.$cc")
            .split(",").filter(_.nonEmpty)
          // the SCHEMA says how each column's cuts were persisted —
          // string cuts URL-encoded, numeric plain (see clusterBaseZ)
          val cuts: Seq[Any] =
            if (meta.schema(cc).dataType ==
                org.apache.spark.sql.types.StringType)
              raw.map(java.net.URLDecoder.decode(_, "UTF-8")).toSeq
            else raw.map(_.toDouble).toSeq
          rangeBucketExpr(cc, cuts)
        }
        (zInterleave(codes, bits, cols.size) / per).cast("int")
      case other => throw new IllegalArgumentException(
        s"table at $root has unknown cluster.kind '$other'")
    }

  private def writeBucketedDirs(
      meta: Meta,
      slice: DataFrame,
      bucket: Column,
      tag: Option[String] = None,
      nBuckets: Int = 0): (Map[String, List[String]], Map[String, TableStats.DirStats]) = {
    import scala.jdk.CollectionConverters._
    val uuid = UUID.randomUUID().toString
    val rel = tag match {
      case Some(t) => s"data/$t-$uuid"
      case None => s"data/$uuid"
    }
    val aligned = slice.select(
      meta.schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType).as(f.name)) :+ bucket.as("__bucket"): _*)
    // WRITE PARALLELISM within buckets: repartition(__bucket) alone hashes
    // each bucket into ONE shuffle partition → one task writes the whole
    // bucket as one file. Fine for a small rewrite; at warehouse scale a
    // multi-GB bucket then writes SERIALLY and lands as a single giant
    // file. Salt the shuffle so a bucket spreads across up to
    // `cluster.files.per.bucket` tasks (default: spread the cluster's
    // parallelism across the buckets, floor 1 — small local rewrites keep
    // today's one-file layout). Per-DIR stats merge across files, so
    // pruning selectivity is unchanged; only rewrite parallelism and max
    // file size improve. Appends (nBuckets = 0 — batch-sized) skip the
    // salt entirely — including under an explicit cluster.files.per.bucket
    // table property, which tunes CLUSTER rewrites only (an append is not
    // a bucket rewrite; salting it would change append file layout for no
    // pruning gain).
    val filesPerBucket =
      if (nBuckets <= 0) 1
      else meta.properties.get("cluster.files.per.bucket").map(_.toInt)
        .getOrElse(math.max(1, math.min(64,
          slice.sparkSession.sparkContext.defaultParallelism / nBuckets)))
    val saltCols: Seq[Column] =
      if (filesPerBucket <= 1) Nil
      else Seq(pmod(hash(meta.schema.fieldNames.map(col).toIndexedSeq: _*),
        lit(filesPerBucket)))
    def bucketDirs(parentDir: Path): List[String] = {
      val listing = Files.list(parentDir)
      try listing.iterator().asScala
        .filter(d => Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("__bucket="))
        .map(_.getFileName.toString).toList
      finally listing.close()
    }
    val entries: Map[String, List[String]] = meta.partition match {
      case None =>
        aligned.repartition(writeTasks(slice), col("__bucket") +: saltCols: _*)
          .write
          .option("compression", compressionCodec(meta))
          .partitionBy("__bucket")
          .parquet(s"$root/$rel")
        Map(NoPart -> bucketDirs(Paths.get(s"$root/$rel"))
          .map(b => s"$rel/$b"))
      case Some(p) =>
        // partitioned: one dynamic write keyed (partition, bucket), then
        // the __bucket=N level RENAMES to bN — a non-hive name, so
        // basePath partition discovery sees only the real partition
        // column and the bucket level stays a plain data dir
        aligned.repartition(writeTasks(slice),
            col(p) +: col("__bucket") +: saltCols: _*)
          .write
          .option("compression", compressionCodec(meta))
          .partitionBy(p, "__bucket")
          .parquet(s"$root/$rel")
        val top = Files.list(Paths.get(s"$root/$rel"))
        val partDirs =
          try top.iterator().asScala
            .filter(d => Files.isDirectory(d) &&
              d.getFileName.toString.contains("=")).toList
          finally top.close()
        partDirs.map { pd =>
          val dirName = pd.getFileName.toString
          val value = unescapePartitionValue(
            dirName.substring(dirName.indexOf('=') + 1))
          val renamed = bucketDirs(pd).map { b =>
            val clean = "b" + b.substring("__bucket=".length)
            Files.move(pd.resolve(b), pd.resolve(clean))
            s"$rel/$dirName/$clean"
          }
          value -> renamed
        }.toMap
    }
    val dirs = entries.values.flatten.toSeq
    (entries, TableStats.collect(root, dirs))
  }

  /** DELETE FROM: remove rows matching `cond`. Dir-level surgery, not a
    * table rewrite — `pruneFilters` (a conservative Filter rendering of
    * the condition) selects the data dirs that MAY hold matching rows via
    * partition values and file stats; only those dirs are read, filtered
    * and rewritten, every other dir carries into the new snapshot by
    * reference. A partition-predicate delete therefore touches exactly the
    * matching partitions (and writes nothing back when all their rows go).
    * Returns the number of rows removed (pre/post footer counts of the
    * rewritten dirs — the single audit number RTBF receipts use; a
    * conservative-prune no-op commits nothing and returns 0).
    */
  def deleteRows(
      spark: SparkSession,
      cond: Column,
      pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Long =
    rewriteRows(spark, pruneFilters, countRemoved = true) { slice =>
      slice.filter(!coalesce(cond, lit(false)))
    }

  /** UPDATE: assign `set` columns on rows matching `cond` (None = all).
    * Same dir-level pruning as [[deleteRows]]; an update that changes the
    * partition column moves rows — the dynamic-partition write files them
    * under their new value and the manifest entries follow.
    */
  def updateRows(
      spark: SparkSession,
      set: Map[String, Column],
      cond: Option[Column],
      pruneFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil): Unit = {
    val meta = readMeta()
    val bad = set.keySet.filterNot(meta.schema.fieldNames.contains)
    require(bad.isEmpty, s"UPDATE SET of unknown columns: ${bad.mkString(", ")}")
    rewriteRows(spark, pruneFilters) { slice =>
      val hit = cond.map(c => coalesce(c, lit(false))).getOrElse(lit(true))
      slice.select(meta.schema.fields.toIndexedSeq.map { f =>
        if (set.contains(f.name))
          when(hit, set(f.name).cast(f.dataType)).otherwise(col(f.name))
            .cast(f.dataType).as(f.name)
        else col(f.name)
      }: _*)
    }
  }

  /** Shared dir-surgery machinery for DELETE/UPDATE: rewrite only the dirs
    * that may hold affected rows, carry the rest.
    */
  private def rewriteRows(
      spark: SparkSession,
      pruneFilters: Seq[org.apache.spark.sql.sources.Filter],
      countRemoved: Boolean = false)(
      transform: DataFrame => DataFrame): Long = {
    val meta = readMeta()
    // MOR deltas fold first: dir surgery below assumes COW semantics
    val (cur, old) = deltaFreeParent(spark)
    // partition-value restriction from equality/IN filters on the col
    val partVals: Option[Set[String]] = meta.partition.flatMap { p =>
      pruneFilters.collectFirst {
        case org.apache.spark.sql.sources.EqualTo(`p`, v) => Set(String.valueOf(v))
        case org.apache.spark.sql.sources.In(`p`, vs) if !vs.contains(null) =>
          vs.map(String.valueOf).toSet
      }
    }
    val toRewrite = old.base.map { case (pv, dirs) =>
      pv -> (if (partVals.exists(!_.contains(pv))) Nil
        else dirs.filter(dir =>
          old.stats.get(dir).forall(TableStats.mayMatch(_, pruneFilters))))
    }.filter(_._2.nonEmpty)
    if (toRewrite.isEmpty) 0L
    else {
      // rewritten dirs get NEW file identities, so any position delete
      // against the old files must be applied NOW or its rows resurrect
      val raw = readParts(spark, meta, toRewrite,
        withFilePos = old.posDeletes.nonEmpty)
      val slice =
        if (old.posDeletes.isEmpty) raw
        else raw.join(posDeleteFrame(spark, old.posDeletes),
          Seq(PosFileCol, PosIdxCol), "left_anti").drop(PosFileCol, PosIdxCol)
      // removed-row audit (DELETE asks for it, UPDATE never changes the
      // count): `before` is one predicate-free extra scan over only the
      // stats-pruned dirs; `after` is a parquet footer count of the
      // freshly written files — no second predicate evaluation anywhere
      val before = if (countRemoved) slice.count() else 0L
      val (entries, stats) = writeDataDir(transform(slice), meta)
      val newDirs = entries.values.flatten.toSeq
      val after = if (countRemoved) TableStats.rowCount(root, newDirs) else 0L
      if (countRemoved && before == after) {
        // nothing actually removed (stats pruning was conservative):
        // drop the rewritten twins instead of committing a churn snapshot
        sweepUncommitted(newDirs)
        0L
      } else {
        val gone = toRewrite.values.flatten.toSet
        commit(newDirs, new OnParent(cur, old)(_.dropDirs(gone).addDirs(entries, stats)))
        before - after
      }
    }
  }

  /** Schema evolution: append a nullable column to the declared schema.
    * Metadata-only — existing parquet files simply lack the column and
    * every read path goes through an explicit schema (or align-select), so
    * old rows surface NULL without any rewrite, exactly Iceberg's
    * add-column semantics.
    */
  def addColumn(name: String, dataType: DataType): Unit = {
    val meta = readMeta()
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists")
    require(!droppedCols(meta).exists(_.equalsIgnoreCase(name)) &&
        !renameMap(meta).values.flatten.exists(_.equalsIgnoreCase(name)),
      s"'$name' is a retired name whose bytes may survive in old files")
    val newSchema = StructType(meta.schema.fields :+
      org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
    writeMeta(meta.copy(schemaDdl = newSchema.toDDL))
  }

  /** Schema evolution: WIDEN a column's type (INT→LONG, FLOAT→DOUBLE,
    * INT/LONG→DOUBLE). Metadata-only: Spark 4's parquet readers perform
    * widening promotions when the requested schema is wider than the file
    * schema, so existing files read back promoted without a rewrite —
    * Iceberg's `ALTER COLUMN ... TYPE` semantics. Narrowing or unrelated
    * changes are rejected loudly.
    */
  def widenColumn(name: String, newType: DataType): Unit = {
    import org.apache.spark.sql.types._
    val meta = readMeta()
    val field = meta.schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
    val ok = (field.dataType, newType) match {
      case (a, b) if a == b => true
      case (ByteType | ShortType | IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | LongType, DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
    require(ok,
      s"only widening changes are supported: ${field.dataType.catalogString} -> ${newType.catalogString}")
    require(!meta.partition.exists(_.equalsIgnoreCase(name)),
      "cannot change the partition column's type")
    val newSchema = StructType(meta.schema.fields.map(f =>
      if (f.name.equalsIgnoreCase(name)) f.copy(dataType = newType) else f))
    writeMeta(meta.copy(schemaDdl = newSchema.toDDL))
  }

  /** Schema evolution: RENAME a column, metadata-only — Iceberg resolves
    * renames by field id; this engine resolves them by recording the
    * prior PHYSICAL names (`rename.<current>` property, newest first)
    * and coalescing at scan (see [[readParts]]). Chained renames extend
    * the list. Columns whose name carries layout or identity meaning —
    * the partition spec (current or prior), merge keys, the frozen
    * cluster column — are refused: their name is baked into dir paths,
    * delta files, or persisted cuts, and a metadata rename would orphan
    * it. Stats/bloom sidecars keyed by the old name go conservatively
    * inert (they can no longer prune, never wrongly).
    */
  def renameColumn(oldName: String, newName: String): Unit = {
    val meta = readMeta()
    require(meta.schema.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column $newName already exists")
    val renames = renameMap(meta)
    require(!renames.values.flatten.exists(_.equalsIgnoreCase(newName)) &&
        !droppedCols(meta).exists(_.equalsIgnoreCase(newName)),
      s"'$newName' is a retired name whose bytes may survive in old files")
    require(!meta.partition.contains(oldName) &&
        !partitionHistory(meta).contains(oldName),
      "cannot rename a partition column (current or prior spec) - its name is in dir paths")
    require(!mergeKeys(meta).exists(_.contains(oldName)),
      "cannot rename a merge key")
    require(!meta.properties.get("cluster.col").contains(oldName) &&
        !meta.properties.get("cluster.cols").exists(
          _.split(",").contains(oldName)),
      "cannot rename a frozen cluster column (range or z layout)")
    val priors = oldName +: renames.getOrElse(oldName, Seq.empty)
    val newSchema = StructType(meta.schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    writeMeta(meta.copy(
      schemaDdl = newSchema.toDDL,
      properties = meta.properties - s"rename.$oldName" +
        (s"rename.$newName" -> priors.mkString(","))))
  }

  /** Schema evolution: DROP a column, metadata-only — the declared
    * schema shrinks and every read path scans through an explicit
    * schema, so old files' bytes for the column are simply never read
    * (Iceberg drop-column semantics; the bytes are reclaimed as files
    * rewrite naturally). Same identity guards as [[renameColumn]].
    */
  def dropColumn(name: String): Unit = {
    val meta = readMeta()
    require(meta.schema.fieldNames.contains(name), s"no such column: $name")
    require(meta.schema.fields.length > 1, "cannot drop the last column")
    require(!meta.partition.contains(name) &&
        !partitionHistory(meta).contains(name),
      "cannot drop a partition column (current or prior spec)")
    require(!mergeKeys(meta).exists(_.contains(name)),
      "cannot drop a merge key")
    require(!meta.properties.get("cluster.col").contains(name) &&
        !meta.properties.get("cluster.cols").exists(
          _.split(",").contains(name)),
      "cannot drop a frozen cluster column (range or z layout)")
    val newSchema = StructType(meta.schema.fields.filterNot(_.name == name))
    // the dropped name (and any prior physical names that still hold its
    // bytes) is retired FOREVER: re-adding it would resurrect old files'
    // bytes through the explicit-schema scan (Iceberg prevents this with
    // field ids; this engine prevents it by refusing the name)
    val retired = (droppedCols(meta) ++ (name +: renameMap(meta)
      .getOrElse(name, Seq.empty))).distinct
    writeMeta(meta.copy(
      schemaDdl = newSchema.toDDL,
      properties = meta.properties - s"rename.$name" +
        ("dropped.cols" -> retired.mkString(","))))
  }

  private def droppedCols(meta: Meta): Seq[String] =
    meta.properties.get("dropped.cols").filter(_.nonEmpty)
      .map(_.split(",").toSeq).getOrElse(Nil)

  /** Update table properties (set wins, null/absent keys unchanged). */
  def setProperties(props: Map[String, String]): Unit = {
    val meta = readMeta()
    writeMeta(meta.copy(properties = meta.properties ++ props))
  }

  private def writeMeta(meta: Meta): Unit = {
    val props = JObject(meta.properties.map { case (k, v) =>
      k -> (JString(v): JValue)
    }.toList)
    writeString(metaPath, JsonMethods.compact(JsonMethods.render(JObject(
      "schema" -> JString(meta.schemaDdl),
      "partition" -> JString(meta.partition.getOrElse("")),
      "properties" -> props))))
  }

  /** Ids of on-disk `<prefix><id>.json` files under `snaps/`, sorted —
    * the single listing every snapshot/staged walk shares (atomic-write
    * scratch files never match: they carry a `.tmp.` suffix).
    */
  private def listSnapIds(prefix: String): Seq[Long] = {
    import scala.jdk.CollectionConverters._
    val d = rootPath.resolve("snaps")
    if (!Files.isDirectory(d)) Nil
    else {
      val l = Files.list(d)
      try l.iterator().asScala.map(_.getFileName.toString)
        .collect { case s if s.startsWith(prefix) && s.endsWith(".json") =>
          s.stripPrefix(prefix).stripSuffix(".json").toLong
        }.toList.sorted
      finally l.close()
    }
  }

  /** Newest snapshot committed at or before `tsMillis` (TIMESTAMP AS OF).
    * Commit times come from the snapshot json ("ts"); snapshots written
    * before that field existed fall back to file modification time.
    */
  def snapshotAt(tsMillis: Long): Option[Long] = snapshotAtCounted(tsMillis)._1

  /** [[snapshotAt]] plus the number of snapshot manifests parsed —
    * the unit-tested O(log commits) contract. Commit ts is monotone
    * non-decreasing in snapshot id BY CONSTRUCTION — [[writeSnapshot]]
    * clamps every commit's ts to at least its parent's, reading the
    * parent from the shared filesystem, so the invariant survives NTP
    * steps backwards AND multi-host writers with skewed clocks (the
    * backwards-clock spec injects a regressive clock and probes every
    * boundary). The resolution therefore BINARY SEARCHES the sorted id
    * list instead of parsing every newer manifest newest-first — a
    * `TIMESTAMP AS OF` far in the past on a 10^4-commit table paid 10^4
    * full-manifest parses for one lookup.
    */
  private[graft] def snapshotAtCounted(tsMillis: Long): (Option[Long], Int) = {
    val ids = listSnapIds("snap-").toIndexedSeq
    var parses = 0
    def commitTime(id: Long): Long = {
      parses += 1
      commitTsOf(snapPath(id))
    }
    var lo = 0
    var hi = ids.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (commitTime(ids(mid)) <= tsMillis) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    (if (ans >= 0) Some(ids(ans)) else None, parses)
  }

  /** ROLLBACK to an existing earlier snapshot — Iceberg's
    * `rollback_to_snapshot`: the current pointer moves BACK to `snapId`
    * and the now-orphaned later snapshot files are removed so the next
    * commit can reclaim their ids (commits are CREATE_NEW-guarded
    * against exactly those files). Data dirs and posdel sidecars the
    * orphaned commits wrote stay on disk as unreferenced garbage —
    * [[expireSnapshots]]/vacuum territory, same as Iceberg. Metadata
    * only: no data is read or written, so rolling back a replayed
    * ingest is O(commits undone) filesystem ops.
    */
  def rollback(snapId: Long): Unit = {
    val cur = currentSnapshotId
    require(snapId <= cur, s"cannot roll forward to $snapId (current $cur)")
    if (snapId < cur) {
      require(Files.exists(snapPath(snapId)),
        s"snapshot $snapId does not exist (expired or never created)")
      atomicWriteCurrent(snapId)
      ((snapId + 1) to cur).foreach { i =>
        Files.deleteIfExists(snapPath(i))
        // linkless-FS claim sidecars must go WITH their snaps — a
        // surviving claim would refuse the reclaimed id forever
        Files.deleteIfExists(claimPath(snapPath(i)))
      }
      // the abandoned ids become reclaimable, so post-rollback commits
      // REUSE them — a consumer's recorded source position (a CDC
      // mirror's or an aggregate view's, see sourcePosition) would
      // silently treat the new timeline as continuous with the old one.
      // Bumping the lineage id makes every such position fail LOUDLY
      // instead (the Iceberg random-snapshot-id argument, paid once per
      // rollback instead of per commit). A rollback of the consumer
      // itself returns its position with its content.
      writeString(lineagePath, UUID.randomUUID().toString)
    }
  }

  private def lineagePath: Path = rootPath.resolve("_lineage")

  /** Identifies the table's commit TIMELINE: constant ("root") until the
    * first [[rollback]], then a fresh uuid per rollback. Snapshot ids are
    * only monotone WITHIN one lineage — a consumer's recorded
    * [[WarehouseTable.SourcePosition]] carries the lineage beside the
    * snapshot id, and the consumer refuses to resume on a mismatch (see
    * [[graft.streaming.StreamingIngest.startCdcMirror]]).
    */
  def lineageId: String =
    if (Files.exists(lineagePath)) readString(lineagePath).trim else "root"

  /** Prior partition specs, oldest first (empty segment = unpartitioned);
    * the CURRENT spec is `Meta.partition` and is not listed here. Empty
    * for a table whose spec never changed — every fast path keys off
    * that emptiness, so un-evolved tables pay nothing for this feature.
    */
  private def partitionHistory(meta: Meta): Seq[String] =
    meta.properties.get("partition.history")
      .map(_.split(",", -1).toSeq).getOrElse(Nil)

  /** Does `dir`'s hive path place it under the CURRENT spec? The data
    * layout is self-describing — `data/<uuid>/<col>=<value>` — so the
    * spec a dir was written under is readable from its path alone, with
    * no per-file metadata. (An unpartitioned-spec dir is `data/<uuid>`
    * with files directly inside: ≤ 2 segments.)
    */
  private def dirUnderSpec(spec: Option[String])(dir: String): Boolean = {
    val segs = dir.split("/")
    spec match {
      case None    => segs.length <= 2
      case Some(c) => segs.length > 2 && segs(2).startsWith(c + "=")
    }
  }

  /** PARTITION-SPEC EVOLUTION — Iceberg's signature no-rewrite layout
    * change (`ALTER TABLE ... REPLACE PARTITION FIELD`): the table's
    * partition column changes for FUTURE writes while every existing
    * data file stays exactly where it is. At 100 TB this is the whole
    * point — re-keying a landing table from `lang` to `source` must not
    * cost a corpus rewrite.
    *
    * Read semantics afterwards: dirs written under the current spec
    * prune by manifest partition value as always; legacy-spec dirs are
    * always planned (their layout says nothing about the new column) but
    * still prune by their per-dir min/max STATS on the new column — the
    * new partition column was an ordinary data column when they were
    * written, so footer stats for it exist. Old snapshots time-travel
    * unchanged. The one-time metadata cost is a single re-commit that
    * stamps the legacy partition-key set into the snapshot (fragment
    * pruning must know which fragment keys carry legacy dirs without
    * opening them).
    *
    * Spec drop (partitioned → unpartitioned) is rejected: legacy hive
    * dirs would need per-dir basePath treatment the unpartitioned read
    * branch doesn't do; [[rewriteToCurrentSpec]] is the migration path.
    */
  def evolvePartition(newCol: String): Unit = {
    val meta = readMeta()
    require(meta.schema.fieldNames.contains(newCol),
      s"partition column '$newCol' not in schema ${meta.schema.fieldNames.mkString(",")}")
    require(!meta.partition.contains(newCol),
      s"'$newCol' is already the partition spec")
    val hist = partitionHistory(meta) :+ meta.partition.getOrElse("")
    writeMeta(meta.copy(
      partition = Some(newCol),
      properties = meta.properties + ("partition.history" -> hist.mkString(","))))
    // re-commit the unchanged manifest so the new snapshot records its
    // legacy key set under the NEW spec (fragment files are all reused —
    // this writes one snapshot json, no data)
    val cur = currentSnapshotId
    commit(Nil, new OnParent(cur, readManifest(cur))(identity))
  }

  /** Physically migrate every legacy-spec dir to the current spec — one
    * full read + partitioned rewrite (Iceberg's `rewrite_data_files`
    * after an evolution). The explicit, pay-once exit from mixed-spec
    * layout; until it runs, reads stay correct but legacy dirs prune
    * only by stats. No-op when the layout is already uniform.
    */
  def rewriteToCurrentSpec(spark: SparkSession): Unit = {
    val meta = readMeta()
    val cur = currentSnapshotId
    val m = readManifest(cur)
    if (m.deltas.nonEmpty || m.posDeletes.nonEmpty ||
        !m.liveDirs.forall(dirUnderSpec(meta.partition))) {
      val (entries, stats) = writeDataDir(read(spark), meta)
      commit(entries.values.flatten, new OnParent(cur, m)(_.replaceAll(entries, stats)),
        maintenance = true)
    }
  }

  /** ORPHAN-FILE GC — Iceberg's `remove_orphan_files`: physically delete
    * every data dir, posdel dir, and manifest fragment referenced by NO
    * existing snapshot. Orphans are the debris of [[rollback]] (the
    * abandoned timeline's writes), of writers that crashed between
    * writing their dirs and landing their snapshot, of discarded stages,
    * and of [[rewriteRows]]' discarded no-op twins on older layouts. A
    * commit that does not land sweeps its own dirs; only a crash leaves
    * them behind. [[expireSnapshots]] can't touch them —
    * it reclaims only what EXPIRED snapshots referenced, and runs only
    * when something expires. Metadata-bounded: one manifest walk over all
    * live snapshots builds the live set, one directory listing diffs it;
    * no data is read. Returns the number of dirs/files removed.
    *
    * `olderThanMs` is the SAFETY WINDOW (Iceberg's `older_than`, default
    * 3 days there and here): an unreferenced path YOUNGER than the cutoff
    * is indistinguishable from a commit in flight — dirs written by
    * [[writeDataDir]] whose CREATE_NEW snapshot hasn't landed yet — so GC
    * racing a live writer would delete its data. Only paths last modified
    * more than `olderThanMs` ago are eligible; pass 0 ONLY when no writer
    * can be active (single-writer maintenance windows, tests).
    */
  def removeOrphanFiles(olderThanMs: Long = 3L * 24 * 3600 * 1000): Int = {
    val cutoff = System.currentTimeMillis() - olderThanMs
    def oldEnough(p: Path): Boolean =
      Files.getLastModifiedTime(p).toMillis <= cutoff
    import scala.jdk.CollectionConverters._
    val ids = listSnapIds("snap-")
    var removed = 0
    // LIVE staged (unpublished) snapshots' references are pinned — a
    // pending audit's bytes must survive GC. DEAD stages (shadowed by a
    // published id, or staged on a rolled-back timeline) pin nothing:
    // they can never publish, so treating their references as live would
    // make pre-rollback debris immortal for as long as the forgotten
    // stage sits on disk. Their jsons are themselves debris no other
    // sweep touches — reclaim them here (same age guard as data: a
    // too-young file might be a stage mid-write).
    deadStagedSnapshots.map(stagedPath).filter(oldEnough).foreach { p =>
      Files.deleteIfExists(p)
      removed += 1
    }
    val withStaged = ids ++ stagedSnapshots.filterNot(ids.toSet)
    val liveFragments = withStaged.flatMap(snapFragmentPaths(_).values).toSet
    val manifests = withStaged.map(readManifest(_))
    val liveDataRoots = manifests.flatMap(_.liveDirs.map(_.split("/").take(2).mkString("/"))).toSet
    val livePosDel = manifests.flatMap(_.posDeletes).toSet
    def sweepDirs(sub: String, live: Set[String]): Unit = {
      val d = rootPath.resolve(sub)
      if (Files.isDirectory(d)) {
        val l = Files.list(d)
        val dead =
          try l.iterator().asScala.toList
            .filterNot(p => live.contains(s"$sub/${p.getFileName}"))
            .filter(oldEnough)
          finally l.close()
        dead.foreach { p =>
          deleteTree(p)
          removed += 1
        }
      }
    }
    sweepDirs("data", liveDataRoots)
    sweepDirs("posdel", livePosDel)
    val mfDir = rootPath.resolve("manifests")
    if (Files.isDirectory(mfDir)) {
      val l = Files.list(mfDir)
      try l.iterator().asScala.toList
        .filterNot(p => liveFragments.contains(s"manifests/${p.getFileName}"))
        .filter(oldEnough)
        .foreach { p => Files.deleteIfExists(p); removed += 1 }
      finally l.close()
    }
    // scratch files of CRASHED atomic writes (snapshot/_meta/_current
    // temps carry ".tmp." in the name). Live ones exist for
    // microseconds, but the caller's olderThanMs does NOT shield them:
    // removeOrphanFiles(0) — what the gates and procedures run in
    // single-writer maintenance windows — would sweep a CONCURRENT
    // writer's in-flight _snapwrite/_current tmp, and the resulting
    // NoSuchFileException inside writeSnapshot/createLink is not a
    // retryable commit race. A small hard floor (seconds) closes that
    // window regardless of olderThanMs; crashed debris is by definition
    // older than any floor worth having.
    val tmpFloorCutoff = math.min(cutoff, System.currentTimeMillis() - 30_000L)
    val rl = Files.list(rootPath)
    try rl.iterator().asScala.toList
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.contains(".tmp."))
      .filter(p => Files.getLastModifiedTime(p).toMillis <= tmpFloorCutoff)
      .foreach { p => Files.deleteIfExists(p); removed += 1 }
    finally rl.close()
    // ORPHAN linkless-FS claims: a claimant that crashed between O_EXCL
    // claim and ATOMIC_MOVE leaves a claim sidecar without its snap,
    // which refuses that id to every later writer (loudly, after the
    // bounded rebase budget). Sweep claims whose snap never landed —
    // behind a MINUTES-scale floor of their own, not the 30 s tmp floor:
    // sweeping a merely-STALLED claimant (GC pause, NFS hiccup) lets
    // another writer take the id, and the stalled claimant's later move
    // would silently replace it. The pre-move claim re-check in
    // writeSnapshot is the second defense; together they require a
    // machine-suspend-class stall (> claim floor) AND losing the
    // re-check race to corrupt, vs a bare 30 s pause before. Claims
    // WITH their snap are load-bearing (they block re-claims of a
    // committed id) and are never touched here.
    val claimFloorCutoff =
      math.min(cutoff, System.currentTimeMillis() - 600_000L)
    val snapsDir = rootPath.resolve("snaps")
    if (Files.isDirectory(snapsDir)) {
      val sl = Files.list(snapsDir)
      try sl.iterator().asScala.toList
        .filter { p =>
          val n = p.getFileName.toString
          n.startsWith(".") && n.endsWith(".claim") &&
            !Files.exists(p.resolveSibling(
              n.stripPrefix(".").stripSuffix(".claim")))
        }
        .filter(p => Files.getLastModifiedTime(p).toMillis <= claimFloorCutoff)
        .foreach { p => Files.deleteIfExists(p); removed += 1 }
      finally sl.close()
    }
    removed
  }

  /** Expire old snapshots and physically remove everything only they
    * reference: snapshot files, manifest fragments, and whole data dirs.
    * Keeps the newest `keepLast` snapshots (the current one always
    * survives). Time travel to an expired id fails loudly afterwards —
    * the trade every snapshot-versioned store makes between history depth
    * and storage.
    */
  /** TTL at partition granularity — drop whole partitions from the
    * manifest WITHOUT touching a data file: the retention primitive a
    * date-partitioned landing table runs nightly ("expire everything
    * older than 90 days"). Pure metadata: the new snapshot simply stops
    * referencing the dropped partitions' dirs (and their delta slices and
    * stats); the bytes are reclaimed later by [[expireSnapshots]] once no
    * live snapshot references them — deletion cost is O(partitions
    * dropped), not O(data), and time travel to pre-drop snapshots still
    * works until they expire. Returns the number of partitions removed.
    */
  def dropPartitions(values: Seq[Any]): Int = {
    val meta = readMeta()
    require(meta.partition.nonEmpty,
      "dropPartitions needs a partitioned table")
    // metadata TTL is only exact when EVERY matching row lives under a
    // dir keyed by the dropped value — legacy-spec dirs aren't (Iceberg
    // likewise refuses a metadata delete that doesn't align to file
    // boundaries); deleteRows/forgetWhere is the row-exact path
    require(partitionHistory(meta).isEmpty,
      "dropPartitions on an evolved table: legacy dirs are not keyed by " +
        "the current spec — use deleteRows or rewriteToCurrentSpec first")
    val keys = values.map(String.valueOf).toSet
    val cur = currentSnapshotId
    val old = readManifest(cur)
    commit(Nil, new OnParent(cur, old)(_.dropParts(keys)))
    old.allPartitions.count(keys.contains)
  }

  // ---- named snapshot tags ----------------------------------------------

  /** TAG the current (or a given) snapshot with a durable name — corpus
    * releases ("v1.0-train", "dedup-baseline") that survive ongoing
    * ingestion: [[expireSnapshots]] never expires a tagged snapshot, and
    * [[readTag]] resolves the name to an immutable time-travel read.
    * Tags are table properties (`tag.<name>` → snapshot id), so they ride
    * the same metadata the rest of the contract machinery uses.
    */
  def tagSnapshot(name: String, snapId: Option[Long] = None): Unit = {
    require(name.nonEmpty && !name.contains("."),
      s"tag name '$name' must be non-empty and dot-free")
    val id = snapId.getOrElse(currentSnapshotId)
    require(Files.exists(snapPath(id)), s"snapshot $id does not exist")
    setProperties(Map(s"tag.$name" -> id.toString))
  }

  /** All tags: name → snapshot id. */
  def tags: Map[String, Long] = readMeta().properties.collect {
    case (k, v) if k.startsWith("tag.") => k.stripPrefix("tag.") -> v.toLong
  }

  /** Time-travel read of a tagged snapshot. */
  def readTag(spark: SparkSession, name: String): DataFrame = {
    val id = tags.getOrElse(name,
      throw new IllegalArgumentException(s"no tag named '$name'"))
    read(spark, asOf = Some(id))
  }

  /** KEYED SNAPSHOT DIFF — "what changed between release v1.0 and v1.1",
    * the question every corpus-versioning pipeline asks of its tagged
    * snapshots, answered WITHOUT reading either corpus: data dirs are
    * immutable and content-addressed, so a dir PRESENT IN BOTH manifests
    * is byte-identical and its keys cannot differ — only the symmetric
    * dir difference is ever read (plus the rows position-delete sidecars
    * new in the window erased from shared dirs). At 100 TB a
    * release-to-release diff costs O(changed bytes), not O(corpus).
    *
    * Emits `diff_type` = `added` (key visible at `to` only), `removed`
    * (visible at `from` only), `changed` (both, different non-key
    * payload — an erase + re-append of the key lands here); keys whose
    * rows re-landed byte-identical are suppressed. Non-key columns carry
    * the `to` version for added/changed and the `from` version for
    * removed. Requires a row identity ([[ensureMergeKeys]] or any keyed
    * merge) and DELTA-FREE snapshots on both ends (MOR arbitration is
    * per-read; [[compact]] first) — position deletes are fine on either
    * side.
    *
    * SCHEMA EVOLUTION between `from` and `to` composes: both sides read
    * through the CURRENT schema (renamed columns coalesce their prior
    * physical names out of pre-rename files, exactly like any other
    * read), so `keys` and the output always use CURRENT names. Dropped
    * columns are not resurrected — a `removed` row's `from` payload
    * carries the current columns only, and a row whose ONLY in-window
    * change was in a since-dropped column reads identical on both sides
    * and is suppressed (the current schema is the diff's universe — the
    * same contract as reading either snapshot directly). Columns added
    * in-window read as NULL from pre-add files, so an otherwise-unchanged
    * row does not become `changed` by the ADD alone (NULL <=> NULL).
    */
  def diffSnapshots(
      spark: SparkSession,
      fromId: Long,
      toId: Long,
      keys: Seq[String]): DataFrame = {
    val meta = readMeta()
    require(keys.nonEmpty && keys.forall(meta.schema.fieldNames.contains),
      s"diff keys must be schema columns, got ${keys.mkString(",")}")
    Seq(fromId, toId).foreach(id => require(Files.exists(snapPath(id)),
      s"snapshot $id does not exist (expired or never created)"))
    val mA = readManifest(fromId)
    val mB = readManifest(toId)
    require(mA.deltas.isEmpty && mB.deltas.isEmpty,
      "diffSnapshots needs delta-free snapshots (MOR deltas arbitrate " +
        "per read) — compact() before tagging releases")
    val dirsA = mA.base.values.flatten.toSet
    val dirsB = mB.base.values.flatten.toSet
    val onlyA = (dirsA -- dirsB).toList
    val onlyB = (dirsB -- dirsA).toList
    // rows visible at a snapshot within a dir set: tombstone-free reads
    // (no deltas by contract) minus that snapshot's position-deletes
    def visible(dirs: List[String], m: Manifest): DataFrame = {
      val withPos = m.posDeletes.nonEmpty
      val raw = readParts(spark, meta, Map(NoPart -> dirs),
        withFilePos = withPos)
      if (!withPos) raw
      else raw.join(posDeleteFrame(spark, m.posDeletes), Seq(PosFileCol, PosIdxCol),
        "left_anti").drop(PosFileCol, PosIdxCol)
    }
    // the A side additionally carries rows of SHARED dirs that sidecars
    // new in the window erased — visible at `from`, gone at `to`, yet in
    // dirs the manifest diff alone would never open
    val newPos = mB.posDeletes.filterNot(mA.posDeletes.toSet)
    val aSide = {
      val fromOnly = visible(onlyA, mA)
      if (newPos.isEmpty) fromOnly
      else fromOnly.unionByName(
        erasedRows(spark, meta, newPos, onlyDirs = Some(dirsA & dirsB)))
    }
    val bSide = visible(onlyB, mB)
    val nonKeys = meta.schema.fieldNames.toSeq.filterNot(keys.contains)
    def packed(df: DataFrame, as: String): DataFrame =
      df.select((keys.map(col) :+
        struct(nonKeys.map(col): _*).as(as)): _*)
    val j = packed(aSide, "__a").join(packed(bSide, "__b"), keys, "full_outer")
    val diffType =
      when(col("__a").isNull, lit("added"))
        .when(col("__b").isNull, lit("removed"))
        .otherwise(lit("changed"))
    j.filter(col("__a").isNull || col("__b").isNull ||
        !(col("__a") <=> col("__b"))) // identical re-lands are not changes
      .withColumn("diff_type", diffType)
      .select((col("diff_type") +: keys.map(col)) ++ nonKeys.map(c =>
        when(col("diff_type") === "removed", col("__a").getField(c))
          .otherwise(col("__b").getField(c)).as(c)): _*)
  }

  /** PARTITIONS METADATA TABLE — Iceberg's `SELECT * FROM t.partitions`:
    * one row per partition value of the (or an `asOf`) snapshot with its
    * dir/file/row/byte footprint, computed from MANIFESTS + PARQUET
    * FOOTERS + filesystem metadata only — no data pages read, no
    * distributed job (the answer is manifest-sized; shipping it through
    * executors would cost more than computing it). Row counts are
    * PHYSICAL, exactly like Iceberg's `record_count`: MOR delta rows
    * count as written and position-deleted rows are not subtracted —
    * the sidecar row count rides in `n_pos_deletes` at table grain
    * (sidecars name files, not partitions). Unpartitioned tables emit
    * one row with partition = null.
    */
  def partitionsMeta(
      spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val m = readManifest(asOf.getOrElse(currentSnapshotId))
    val byPart: Map[String, List[String]] =
      (m.base.toSeq ++ m.deltas.flatMap(_.data.toSeq))
        .groupBy(_._1).view.mapValues(_.flatMap(_._2).toList).toMap
    // footer harvest distributes once the file population is large —
    // metadata-priced stays the contract (bounded by file count, never
    // bytes), but the BILL is paid across the cluster, not by one
    // driver thread walking 10⁶ footers
    val foot = TableStats.dirFootprintSpark(spark, root,
      byPart.values.flatten.toSeq.distinct)
    val posRows =
      if (m.posDeletes.isEmpty) 0L
      else TableStats.dirFootprintSpark(spark, root, m.posDeletes)
        .values.map(_._2).sum
    val rows = byPart.toSeq.map { case (pv, dirs) =>
      val fs = dirs.map(d => foot.getOrElse(d, (0L, 0L, 0L)))
      Row(if (pv == NoPart) null else pv,
        dirs.size.toLong, fs.map(_._1).sum, fs.map(_._2).sum,
        fs.map(_._3).sum, posRows)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), WarehouseTable.PartitionsMetaSchema)
  }

  /** SNAPSHOTS METADATA TABLE — Iceberg's `SELECT * FROM t.snapshots`:
    * one row per LIVE snapshot with its commit time, writer-stamped kind
    * (`data`/`maintenance`; null for pre-stamp snapshots), current flag
    * and the table's lineage. Metadata-only: one JSON parse per
    * snapshot, one driver-local frame — history is expiry-bounded, so
    * the answer is always small.
    */
  def snapshotsMeta(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val cur = currentSnapshotId
    val lin = lineageId
    val ids = listSnapIds("snap-")
    val rows = ids.map { id =>
      val j = JsonMethods.parse(readString(snapPath(id)))
      val ts = commitTsOfJson(j, snapPath(id))
      val kind = j \ "kind" match { case JString(k) => k; case _ => null }
      Row(id, ts, kind, id == cur, lin)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      WarehouseTable.SnapshotsMetaSchema)
  }

  /** FILES METADATA TABLE — Iceberg's `t.files` at graft's dir grain:
    * one row per parquet file of the (or an `asOf`) snapshot with its
    * partition, dir, content kind (`data`/`delta`/`posdel`), footer row
    * count and bytes. Footer + fs metadata only, no data pages.
    */
  def filesMeta(spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val m = readManifest(asOf.getOrElse(currentSnapshotId))
    def fileRows(byPart: Seq[(String, String)], content: String) = {
      val dirToPart = byPart.groupBy(_._2).view.mapValues(_.head._1).toMap
      // distributed above the file-count threshold — see partitionsMeta
      TableStats.fileFootprintSpark(spark, root, byPart.map(_._2).distinct).map {
        case (dir, file, rows, bytes) =>
          val pv = dirToPart(dir)
          Row(if (pv == NoPart) null else pv, dir, file, content, rows, bytes)
      }
    }
    val base = fileRows(
      m.base.toSeq.flatMap { case (pv, ds) => ds.map(pv -> _) }, "data")
    val deltas = fileRows(
      m.deltas.flatMap(_.data.toSeq).flatMap { case (pv, ds) => ds.map(pv -> _) },
      "delta")
    val pos = fileRows(m.posDeletes.map((NoPart, _)), "posdel")
    spark.createDataFrame(
      spark.sparkContext.parallelize(base ++ deltas ++ pos, 1),
      WarehouseTable.FilesMetaSchema)
  }

  /** TAGS METADATA TABLE — `t.tags`: (tag, snapshot_id). */
  def tagsMeta(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val rows = tags.toSeq.sortBy(_._1).map { case (n, id) => Row(n, id) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      WarehouseTable.TagsMetaSchema)
  }

  /** STAGED METADATA TABLE — `t.staged`: pending and dead WAP stages,
    * (snapshot_id, wap_id, live, lineage, dead_reason). The SQL-visible
    * face of [[stagedSnapshots]] / [[deadStagedSnapshots]] — how an
    * audit session lists what awaits publish and what GC will sweep.
    * `dead_reason` names WHY a dead stage can never publish — `shadowed`
    * (a regular commit claimed its id) or `abandoned-timeline` (staged
    * before a rollback) — so the post-mortem after a failed audit
    * session is one SQL query, not a spelunk through staged-*.json;
    * `lineage` is the timeline the stage was built on (compare against
    * `.snapshots`' current lineage).
    */
  def stagedMeta(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    val live = stagedSnapshots.toSet
    // a stage discarded between the listing and this parse simply drops
    // out of the relation (it no longer exists — same answer a fresh
    // listing would give)
    val rows = stagedIdsRaw.flatMap { id =>
      stagedJson(id).map { j =>
        val wap = (j \ "wap-id") match { case JString(w) => w; case _ => null }
        val lin = (j \ "lineage") match { case JString(l) => l; case _ => "root" }
        val reason =
          if (live.contains(id)) null
          else if (Files.exists(snapPath(id))) "shadowed"
          else "abandoned-timeline"
        Row(id, wap, live.contains(id), lin, reason)
      }
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      WarehouseTable.StagedMetaSchema)
  }

  /** STATS METADATA TABLE — `t.stats`: one row per (data dir, column)
    * with the dir's min/max range as strings, straight from the manifest
    * (no file I/O at all — the ranges were harvested at write time).
    * This is the SQL face of the data-skipping layout: "did my cluster
    * rewrite actually produce narrow, disjoint ranges on the sort
    * column?" is one GROUP BY away instead of a manifest spelunk —
    * the layout audit that decides whether a 100 TB table needs
    * re-clustering. Values render in their stats domain (longs and
    * doubles via toString, strings verbatim); `content` distinguishes
    * base dirs from MOR delta dirs (whose stats ride the snapshot's
    * dstats field) — the delta rows are the 100 TB operator's
    * delta-locality dial: widening per-commit delta key ranges on a
    * clustered table mean MOR reads are losing their prune, i.e. the
    * signal that schedules compaction.
    *
    * Position-delete sidecars surface beside them as `content =
    * 'posdel'` rows, one per sidecar, with `column_name = '__erasures'`
    * and min = max = the sidecar's erasure-row count (a degenerate
    * range, so `SUM(CAST(max_value AS BIGINT))` is the pending-erasure
    * total). Counts come from the sidecars' parquet FOOTERS via the
    * same distributed harvest `partitionsMeta` uses — bounded by
    * sidecar count, never data bytes, so the relation stays
    * metadata-priced (and pure-manifest when no posdels exist).
    */
  def statsMeta(spark: SparkSession, asOf: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val m = readManifest(asOf.getOrElse(currentSnapshotId))
    val deltaDirs = m.deltas.flatMap(_.data.values.flatten).toSet
    val dirToPart: Map[String, String] =
      (m.base.toSeq ++ m.deltas.flatMap(_.data.toSeq))
        .flatMap { case (pv, dirs) => dirs.map(_ -> pv) }.toMap
    val rows = m.stats.toSeq.flatMap { case (dir, cols) =>
      cols.toSeq.map { case (c, (mn, mx)) =>
        val pv = dirToPart.getOrElse(dir, NoPart)
        Row(if (pv == NoPart) null else pv, dir,
          if (deltaDirs.contains(dir)) "delta" else "data", c,
          TableStats.nativeValue(mn).map(String.valueOf).orNull,
          TableStats.nativeValue(mx).map(String.valueOf).orNull)
      }
    }
    val posRows =
      if (m.posDeletes.isEmpty) Nil
      else {
        val foot = TableStats.dirFootprintSpark(spark, root, m.posDeletes)
        m.posDeletes.map { sc =>
          val n = foot.get(sc).map(_._2).getOrElse(0L).toString
          Row(null, sc, "posdel", "__erasures", n, n)
        }
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows ++ posRows, 1),
      WarehouseTable.StatsMetaSchema)
  }

  def expireSnapshots(keepLast: Int = 5): Unit = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    import scala.jdk.CollectionConverters._
    val cur = currentSnapshotId
    val ids = listSnapIds("snap-")
    // tagged snapshots are pinned releases — never expired
    val tagged = tags.values.toSet
    val (expired, kept) = ids.partition(id =>
      id < cur - keepLast + 1 && id != cur && !tagged.contains(id))
    if (expired.nonEmpty) {
      // LIVE staged snapshots are never expired (they're newer than
      // current by construction) and their references stay live; DEAD
      // ones (shadowed / rolled-back-timeline) pin nothing
      val keptAll = kept ++ stagedSnapshots.filterNot(kept.toSet)
      val liveFragments = keptAll.flatMap(snapFragmentPaths(_).values).toSet
      val keptManifests = keptAll.map(readManifest(_))
      val liveDataRoots =
        keptManifests.flatMap(_.liveDirs.map(_.split("/").take(2).mkString("/"))).toSet
      val livePosDel = keptManifests.flatMap(_.posDeletes).toSet
      expired.foreach(id => Files.deleteIfExists(snapPath(id)))
      // CONCURRENT-COMMIT GUARD: the live sets above are a point-in-time
      // view; a writer that committed WHILE we were reading manifests
      // references dirs that view calls dead, and sweeping them would
      // corrupt its freshly committed snapshot. Re-list immediately
      // before sweeping and union in every snapshot (and live stage)
      // that appeared since — the unguarded window shrinks from the
      // whole expiry duration to the instants between this re-list and
      // each delete. Expiry remains a maintenance-window operation for
      // FULL safety (the same contract removeOrphanFiles states via its
      // age guard); this makes a violated window overwhelmingly
      // survivable instead of silently destructive.
      val seen = (keptAll ++ expired).toSet
      val newIds = (listSnapIds("snap-") ++ stagedSnapshots).distinct
        .filterNot(seen.contains)
      val newManifests = newIds.flatMap(id =>
        try Some(readManifest(id))
        catch { case _: java.nio.file.NoSuchFileException => None })
      val liveFragments2 =
        liveFragments ++ newIds.flatMap(snapFragmentPaths(_).values)
      val liveDataRoots2 = liveDataRoots ++
        newManifests.flatMap(_.liveDirs.map(_.split("/").take(2).mkString("/")))
      val livePosDel2 = livePosDel ++ newManifests.flatMap(_.posDeletes)
      val posDir = rootPath.resolve("posdel")
      if (Files.isDirectory(posDir)) {
        val l = Files.list(posDir)
        val dead =
          try l.iterator().asScala.toList
            .filterNot(p => livePosDel2.contains(s"posdel/${p.getFileName}"))
          finally l.close()
        dead.foreach(deleteTree)
      }
      val mfDir = rootPath.resolve("manifests")
      if (Files.isDirectory(mfDir)) {
        val l = Files.list(mfDir)
        try l.iterator().asScala.toList
          .filterNot(p => liveFragments2.contains(s"manifests/${p.getFileName}"))
          .foreach(Files.deleteIfExists)
        finally l.close()
      }
      val dataDir = rootPath.resolve("data")
      if (Files.isDirectory(dataDir)) {
        val l = Files.list(dataDir)
        val dead =
          try l.iterator().asScala.toList
            .filterNot(p => liveDataRoots2.contains(s"data/${p.getFileName}"))
          finally l.close()
        dead.foreach(deleteTree)
      }
    }
  }

  // ---- write-audit-publish (staged commits) -------------------------------

  /** WRITE-AUDIT-PUBLISH, stage 1 of Iceberg's `spark.wap` pattern: land
    * `df` as a real snapshot WITHOUT advancing the reader pointer. The
    * staged snapshot is invisible to [[read]] but fully time-travelable
    * (`read(asOf = stagedId)`) — exactly what an audit job needs: run
    * the quality gates against the WOULD-BE table state, then
    * [[publishStaged]] (one atomic pointer move, no data touched) or
    * [[discardStaged]] (the bytes become orphan-GC debris). Returns the
    * staged snapshot id.
    *
    * The staged snapshot lives under `snaps/staged-<id>.json`, NOT the
    * published name — commit-log tailers (the CDC mirror, the aggregate
    * view) match `snap-*` and therefore never wake on unpublished data,
    * and publish is a rename (CREATE-semantics move: a regular commit
    * that claimed the id first makes the publish fail loudly) plus the
    * pointer move. Orphan GC and snapshot expiry treat staged manifests'
    * references as LIVE, so a pending audit's bytes survive maintenance;
    * an abandoned stage must be [[discardStaged]]-ed to free them.
    */
  def stageAppend(df: DataFrame, wapId: Option[String] = None): Long = {
    val meta = readMeta()
    val cur = currentSnapshotId
    // ONE live stage at a time: a staged snapshot carries its parent's
    // state BY VALUE at id parent+1, so a second stage on the same parent
    // would collide on the id — and could only ever publish after the
    // first was discarded anyway. Refuse BEFORE writing data (no orphan
    // debris from a doomed stage); the CREATE_NEW snapshot write below
    // remains the race-proof backstop for two stages starting together.
    if (Files.exists(stagedPath(cur + 1))) {
      // a concurrent discard between exists() and the parse must read as
      // "the name is free", not surface as a raw NoSuchFileException
      val dead =
        try stagedDead(cur + 1)
        catch { case _: java.nio.file.NoSuchFileException => true }
      if (!dead)
        throw new IllegalStateException(
          s"a staged snapshot already holds id ${cur + 1}" +
            stagedWapId(cur + 1).fold("")(w => s" (WAP id '$w')") +
            " — publish or discard it before staging another batch on " +
            "this table state")
      // a DEAD stage (rolled-back timeline) still occupies the name and
      // would fail the CREATE_NEW write below — it is unpublishable
      // debris, so sweep it and stage fresh. The sweep must be ATOMIC
      // w.r.t. re-creation: two racers that both observed the dead stage
      // could otherwise interleave so the loser's deleteIfExists removes
      // the winner's freshly created LIVE staged json and both sessions
      // end up holding the same id. Files.move claims the dead json
      // exactly once — the loser's move throws NoSuchFileException and
      // the CREATE_NEW write below then fails loudly against the
      // winner's fresh stage, which is the correct story.
      val debris = rootPath.resolve(s"_stagedead.tmp.${UUID.randomUUID()}")
      try {
        Files.move(stagedPath(cur + 1), debris)
        Files.deleteIfExists(debris)
        // the dead stage's linkless-FS claim goes with it — the winner
        // of the move owns the name and must free it for its own
        // CREATE_NEW re-stage below
        Files.deleteIfExists(claimPath(stagedPath(cur + 1)))
      } catch {
        case _: java.nio.file.NoSuchFileException => () // a racer swept it
      }
      ()
    }
    val old = readManifest(cur)
    val (added, stats) = writeDataDir(df, meta)
    // pointer NOT advanced — that is the point
    commit(added.values.flatten, new OnParent(cur, old)(_.addDirs(added, stats)),
      staged = true, wapId = wapId)
  }

  /** The caller-supplied WAP id a staged snapshot was written under
    * (Iceberg's `spark.wap.id` shape) — how a SQL session that staged a
    * write through the session conf finds ITS stage among
    * [[stagedSnapshots]] without threading the numeric id out-of-band.
    */
  /** The staged json, or None when a concurrent discard/GC removed it
    * between a listing and this read — every staged-* consumer must
    * treat "vanished" as "not live", never surface the raw
    * NoSuchFileException of a race it is documented to tolerate.
    */
  private def stagedJson(sid: Long): Option[JValue] =
    try Some(JsonMethods.parse(readString(stagedPath(sid))))
    catch { case _: java.nio.file.NoSuchFileException => None }

  def stagedWapId(sid: Long): Option[String] =
    stagedJson(sid).map(_ \ "wap-id").collect { case JString(w) => w }

  /** Resolve a WAP id to its LIVE staged snapshot — the lookup behind
    * `CALL graft.system.publish_changes(tbl, wap_id)` (Iceberg's
    * `publish_changes` shape): a SQL session that staged a write through
    * the `spark.graft.wap.id` conf publishes by the STRING it chose, not
    * a numeric id it never saw. Dead stages (shadowed / rolled-back
    * timeline) are excluded — publishing one is always wrong, and the
    * resolver refusing to see it gives the same actionable story as
    * [[publishStaged]]. Two live stages under one WAP id is a caller
    * bug (re-used id without publishing/discarding) and fails loudly
    * rather than guessing.
    */
  def stagedSnapshotFor(wapId: String): Option[Long] =
    stagedSnapshots.filter(stagedWapId(_).contains(wapId)) match {
      case Seq() => None
      case Seq(one) => Some(one)
      case many => throw new IllegalStateException(
        s"WAP id '$wapId' names ${many.size} live staged snapshots " +
          s"(${many.mkString(", ")}) — publish or discard the earlier " +
          "stage before re-using the id")
    }

  /** The timeline a staged snapshot was built on ("root" for stages
    * written before the stamp existed — same default as [[lineageId]],
    * so never-rolled-back tables accept them and rolled-back tables
    * refuse them, which is exactly the safe direction).
    */
  private def stagedLineage(sid: Long): String =
    stagedJson(sid).map(_ \ "lineage") match {
      case Some(JString(l)) => l
      case _ => "root"
    }

  /** Publish a staged snapshot: rename to the published name + one atomic
    * pointer move. Refuses — each with an actionable message — when
    * (a) a regular commit claimed the id while the stage was pending
    * (the stage is dead: its parent state was superseded),
    * (b) the stage predates a [[rollback]] (its parent belongs to an
    * abandoned timeline — publishing would atomically install
    * pre-rollback state and silently drop the new timeline's commits), or
    * (c) the table advanced past the stage's parent — the staged
    * manifest carried its parent's state BY VALUE, so fast-forwarding
    * over interleaved commits would drop them.
    */
  def publishStaged(stagedId: Long): Unit = {
    require(Files.exists(stagedPath(stagedId)),
      s"staged snapshot $stagedId does not exist (discarded, published, " +
        "or never staged)")
    require(!Files.exists(snapPath(stagedId)),
      s"a regular commit claimed snapshot id $stagedId while the stage " +
        "was pending — the staged snapshot is dead (its parent state was " +
        s"superseded); discardStaged($stagedId) and re-stage on the " +
        "current state")
    val lin = stagedLineage(stagedId)
    require(lin == lineageId,
      s"staged snapshot $stagedId was built on timeline $lin but the " +
        s"table was rolled back since (now on timeline $lineageId) — " +
        "its parent state is abandoned; discardStaged and re-stage")
    val cur = currentSnapshotId
    require(cur == stagedId - 1,
      s"staged snapshot $stagedId was built on parent ${stagedId - 1} but " +
        s"the table is now at $cur — re-stage on the current state")
    Files.move(stagedPath(stagedId), snapPath(stagedId))
    // the staged name is now free — release its linkless-FS claim (if
    // any) WITH it, or re-staging this id after a later rollback would
    // refuse forever; the published snap file itself refuses snap-id
    // re-claims, so nothing is unprotected
    Files.deleteIfExists(claimPath(stagedPath(stagedId)))
    atomicWriteCurrent(stagedId)
  }

  /** Drop a staged snapshot without publishing: the audit said no. The
    * data dirs it alone referenced become [[removeOrphanFiles]] debris.
    */
  def discardStaged(stagedId: Long): Unit = {
    Files.deleteIfExists(stagedPath(stagedId))
    // release the linkless-FS claim with the stage — the documented
    // remediation ("discardStaged and re-stage") re-derives the SAME id,
    // and a surviving claim would wedge it until a GC sweep
    Files.deleteIfExists(claimPath(stagedPath(stagedId)))
    ()
  }

  /** Every staged-*.json on disk, dead or alive. */
  private def stagedIdsRaw: Seq[Long] = listSnapIds("staged-")

  /** Is a staged snapshot DEAD — unpublishable forever? Two ways to die:
    * a regular commit claimed its id (shadowed), or a rollback abandoned
    * the timeline it was built on. Dead stages stop pinning bytes (GC and
    * expiry ignore their references) and their jsons are swept by
    * [[removeOrphanFiles]].
    */
  private def stagedDead(sid: Long): Boolean =
    Files.exists(snapPath(sid)) || (stagedJson(sid) match {
      case None => true // concurrently discarded — certainly not live
      case Some(j) => (j \ "lineage" match {
        case JString(l) => l
        case _ => "root"
      }) != lineageId
    })

  /** Ids of LIVE pending staged snapshots (usually zero or one) — stages
    * a commit raced to the id, or that a rollback orphaned, are excluded;
    * [[deadStagedSnapshots]] reports those for maintenance visibility.
    */
  def stagedSnapshots: Seq[Long] = stagedIdsRaw.filterNot(stagedDead)

  /** Unpublishable staged snapshots still on disk (shadowed by a regular
    * commit, or staged on a rolled-back timeline) — debris awaiting
    * [[removeOrphanFiles]], surfaced so a forgotten stage is visible
    * instead of silently immortal.
    */
  def deadStagedSnapshots: Seq[Long] = stagedIdsRaw.filter(stagedDead)

  /** Dedup-then-merge, the full reference write path (mergeSQL.sql:14-43):
    * window top-1 per key by `orderDesc`, then upsert.
    */
  def mergeDedup(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      orderDesc: String,
      tiebreakDesc: Seq[String] = Nil): Unit =
    merge(spark, Dedup.latestByKey(source, keys, orderDesc, tiebreakDesc), keys)

  /** Broadcast-hint the frame only when its estimated size is under the
    * session's autoBroadcastJoinThreshold; otherwise return it unhinted so
    * the semi-join plans as a shuffle join (a huge merge batch must not be
    * hinted into a driver-OOM broadcast). The source is cached by the
    * caller, so the optimized plan carries real InMemoryRelation stats once
    * materialized; before materialization the estimate is the conservative
    * child-plan product, which simply falls back to the shuffle join.
    */
  private def broadcastIfSmall(df: DataFrame): DataFrame = {
    val threshold = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    val estimated = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && estimated <= threshold) broadcast(df) else df
  }

  // ---- io helpers --------------------------------------------------------

  private def readString(p: Path): String =
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  /** Atomic in-place file write: content lands in a same-dir temp file
    * and MOVES into place, so a concurrent reader sees either the old or
    * the new content — never a truncated/empty file. Load-bearing for
    * `_meta.json` under multi-writer commits (the first MOR merge writes
    * `merge.keys` while its 7 racing siblings are mid-readMeta — a plain
    * truncate-and-write hands them end-of-input).
    */
  private def writeString(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(s"${p.getFileName}.tmp.${UUID.randomUUID()}")
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Hive dir-name unescaping: %XX sequences only. URLDecoder is NOT
    * correct here — it also turns '+' into a space, which hive escaping
    * never produces.
    */
  private def unescapePartitionValue(v: String): String =
    java.net.URLDecoder.decode(v.replace("+", "%2B"), "UTF-8")
}

object WarehouseTable {
  def apply(root: String): WarehouseTable = new WarehouseTable(root)

  /** A consumer table's place in a source table's commit log: the
    * source's [[WarehouseTable.lineageId]] and the last source snapshot
    * the consumer applied ([[WarehouseTable.sourcePosition]]).
    */
  final case class SourcePosition(lineage: String, snapshotId: Long)

  /** A write that applies source snapshots `from` (exclusive) to `to` of
    * source `lineage`: it lands only on a parent whose recorded position
    * is `from` on that lineage (none recorded counts as 0), and records
    * `to`.
    */
  final case class Advance(lineage: String, from: Long, to: Long)

  // Metadata-table schemas — shared between the builders above and the
  // catalog's lazy metadata relations (which must answer schema() without
  // paying the metadata walk).
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}
  val SnapshotsMetaSchema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("committed_at_ms", LongType, nullable = false),
    StructField("kind", StringType),
    StructField("is_current", BooleanType, nullable = false),
    StructField("lineage", StringType, nullable = false)))
  val PartitionsMetaSchema: StructType = StructType(Seq(
    StructField("partition", StringType),
    StructField("n_dirs", LongType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("n_pos_deletes", LongType, nullable = false)))
  val FilesMetaSchema: StructType = StructType(Seq(
    StructField("partition", StringType),
    StructField("dir", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("n_rows", LongType, nullable = false),
    StructField("n_bytes", LongType, nullable = false)))
  val TagsMetaSchema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)))
  val StagedMetaSchema: StructType = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("wap_id", StringType),
    StructField("live", BooleanType, nullable = false),
    StructField("lineage", StringType, nullable = false),
    StructField("dead_reason", StringType)))

  val StatsMetaSchema: StructType = StructType(Seq(
    StructField("partition", StringType),
    StructField("dir", StringType, nullable = false),
    StructField("content", StringType, nullable = false),
    StructField("column_name", StringType, nullable = false),
    StructField("min_value", StringType),
    StructField("max_value", StringType)))

  /** Opt-in rebase-attempt recorder behind the contention harness
    * (`graft.tools.ContentionBench`, SCALING §10o): when enabled, every
    * commit of a rebasing step records how many attempts it took, so
    * the "jitter prevents starvation" claim is measured, not asserted.
    * One volatile read per commit when off; measurement-only — no
    * correctness path reads it.
    */
  @volatile private[table] var recordRebase = false

  /** Test seam forcing the linkless-filesystem commit fallback (the
    * O_EXCL claim path in writeSnapshot) — `Files.createLink` cannot be
    * made to throw UnsupportedOperationException on a capable local fs,
    * so the specs flip this instead. Production never sets it.
    */
  @volatile private[graft] var simulateLinkless = false

  /** Test seam over the COW merge's overlapped null-key check: the future
    * the merge awaits before committing passes through this. Specs swap
    * in a future whose `get` is interrupted or cancelled — outcomes a
    * real check job cannot be steered into — to pin the no-trace sweep.
    * Production never sets it.
    */
  @volatile private[graft] var awaitedNullCheck
      : java.util.concurrent.Future[Boolean] => java.util.concurrent.Future[Boolean] =
    identity
  private[table] val rebaseAttempts =
    new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
  def rebaseRecording(on: Boolean): Unit = {
    recordRebase = on
    if (on) rebaseAttempts.clear()
  }
  def drainRebaseAttempts(): Seq[Int] = {
    import scala.jdk.CollectionConverters._
    val out = rebaseAttempts.iterator().asScala.map(_.intValue).toList
    rebaseAttempts.clear()
    out
  }

  /** COW/MOR property sets as the reference composes them
    * (read.py:208-216).
    */
  def tableProperties(tableType: String, compression: String): Map[String, String] = {
    val base = Map("format-version" -> "2", "compression" -> compression)
    if (tableType.equalsIgnoreCase("MOR"))
      base ++ Map(
        "write.delete.mode" -> "merge-on-read",
        "write.update.mode" -> "merge-on-read",
        "write.merge.mode" -> "merge-on-read")
    else
      base ++ Map(
        "write.delete.mode" -> "copy-on-write",
        "write.update.mode" -> "copy-on-write",
        "write.merge.mode" -> "copy-on-write")
  }
}
