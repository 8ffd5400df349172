package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.table.WarehouseTable

class WarehouseTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", IntegerType, nullable = false),
    StructField("v", StringType),
    StructField("state", StringType)))

  private def df(rows: (Int, String, String)*) = {
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2, r._3))),
      schema)
  }

  test("create / exists / read empty / properties round-trip") {
    val t = WarehouseTable(tmpDir("wh"))
    assert(!t.exists)
    t.create(schema, Some("state"), WarehouseTable.tableProperties("COW", "zstd"))
    assert(t.exists)
    assert(t.partitionColumn.contains("state"))
    assert(t.properties("format-version") == "2")
    assert(t.properties("write.merge.mode") == "copy-on-write")
    assert(t.read(spark).count() == 0)
    assert(t.read(spark).schema.fieldNames.toSeq == Seq("k", "v", "state"))
  }

  test("append accumulates; overwrite replaces; snapshots advance") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, None, Map.empty)
    t.append(df((1, "a", "CA")))
    t.append(df((2, "b", "NY")))
    assert(t.read(spark).count() == 2)
    assert(t.currentSnapshotId == 2)
    t.overwrite(df((3, "c", "TX")))
    assert(t.read(spark).collect().map(_.getInt(0)).toSeq == Seq(3))
  }

  test("merge upserts: matched rows replaced, unmatched kept, new inserted") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    t.merge(spark, df((2, "B2", "NY"), (3, "c", "TX")), Seq("k"))
    val out = t.read(spark).collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((1, "a", "CA"), (2, "B2", "NY"), (3, "c", "TX")))
  }

  test("merge is idempotent (at-least-once replay safety)") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val batch = df((2, "B2", "NY"), (3, "c", "TX"))
    t.merge(spark, batch, Seq("k"))
    val snap1 = t.read(spark).collect().toSet
    t.merge(spark, batch, Seq("k")) // replay the same batch
    assert(t.read(spark).collect().toSet == snap1)
  }

  test("merge rewrites only affected partitions (partition-level COW)") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY"), (4, "d", "WA")))
    val before = t.currentSnapshotId
    t.merge(spark, df((2, "B2", "NY")), Seq("k"))
    assert(t.currentSnapshotId == before + 1)
    // WA and CA partitions must have survived by reference: same rows
    val out = t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a"), (2, "B2"), (4, "d")))
  }

  test("merge moves a row whose partition value changes (no ghost copy)") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA")))
    // key 1 moves CA -> NY; the CA copy must be rewritten away
    t.merge(spark, df((1, "a2", "NY")), Seq("k"))
    val out = t.read(spark).collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq((1, "a2", "NY")))
  }

  test("merge handles null partition values (hive default partition)") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", null), (2, "b", "NY")))
    // update the null-partition row and insert another null-partition row
    t.merge(spark, df((1, "a2", null), (3, "c", null)), Seq("k"))
    val out = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((1, "a2", null), (2, "b", "NY"), (3, "c", null)))
  }

  test("merge with a partial UPDATE SET list preserves non-listed columns") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "keepme", "CA"), (2, "b", "NY")))
    // only `state` is updated; v must survive on the matched row
    t.merge(spark, df((1, "IGNORED", "TX"), (3, "new", "TX")), Seq("k"),
      updateCols = Some(Seq("state")))
    val out = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    assert(out == Set((1, "keepme", "TX"), (2, "b", "NY"), (3, "new", "TX")))
  }

  test("MOR merge: deltas append without target rewrite, reads arbitrate") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), WarehouseTable.tableProperties("MOR", "snappy"))
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val snapAfterBase = t.currentSnapshotId
    t.merge(spark, df((2, "B2", "NY"), (3, "c", "TX")), Seq("k"))
    t.merge(spark, df((3, "C3", "TX")), Seq("k"))
    // reads see latest-per-key across base + both deltas
    val out = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a"), (2, "B2"), (3, "C3")))
    assert(t.currentSnapshotId == snapAfterBase + 2)

    // compaction folds deltas into the base; contents unchanged
    t.compact(spark)
    assert(t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet == out)
    // and a subsequent read has no arbitration work left (single base)
    t.merge(spark, df((4, "d", "CA")), Seq("k"))
    assert(t.read(spark).count() == 4)
  }

  test("compactIfDegraded folds only stats-degraded partitions; idempotent; erasure dial triggers independently") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh_cid"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "1000")) // never auto-fold
    // both partitions span keys 0..79 so the GLOBAL cluster cuts give
    // each partition 4 range-disjoint base dirs on k
    val expected = scala.collection.mutable.Map[(Int, String), String]()
    val base = (0 until 80).flatMap { i =>
      expected((i, "CA")) = s"ca$i"; expected((i, "NY")) = s"ny$i"
      Seq((i, s"ca$i", "CA"), (i, s"ny$i", "NY"))
    }
    t.append(df(base: _*))
    t.clusterBase(spark, "k", 4)
    def baseDirs(p: String): Set[String] = t.statsMeta(spark)
      .filter(col("content") === "data" && col("partition") === p &&
        col("column_name") === "k")
      .select("dir").collect().map(_.getString(0)).toSet
    def deltaCount(p: String): Long = t.statsMeta(spark)
      .filter(col("content") === "delta" && col("partition") === p).count()
    val nyBase = baseDirs("NY")
    // SCATTERED wave in CA — every 10th key spans the whole domain, so
    // the delta's k-range overlaps all 4 CA base dirs (frac = 1.0)
    (0 until 80 by 10).foreach(i => expected((i, "CA")) = s"u$i")
    t.merge(spark, df((0 until 80 by 10).map(i => (i, s"u$i", "CA")): _*),
      Seq("k", "state"))
    // NARROW wave in NY — keys 0..9 sit in the lowest bucket (frac 0.25)
    (0 until 10).foreach(i => expected((i, "NY")) = s"w$i")
    t.merge(spark, df((0 until 10).map(i => (i, s"w$i", "NY")): _*),
      Seq("k", "state"))
    def contents = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(2)) -> r.getString(1)).toMap
    assert(contents == expected.toMap)
    // threshold 0.5: CA (1.0) degraded, NY (0.25) healthy
    assert(t.compactIfDegraded(spark, overlapThreshold = 0.5,
      erasureThreshold = 0L) == Seq("CA"))
    assert(contents == expected.toMap, "targeted fold changed content")
    assert(baseDirs("NY") == nyBase,
      "healthy partition's base dirs changed under a targeted fold")
    assert(deltaCount("NY") > 0, "healthy partition lost its delta slice")
    assert(deltaCount("CA") == 0, "degraded partition kept deltas")
    // the fold RESTORED the clustered layout (rewrote through the frozen
    // cuts), so the overlap dial keeps meaning: a fresh NARROW CA wave
    // overlaps one restored bucket and stays healthy
    assert(baseDirs("CA").size > 1,
      "fold collapsed the clustered partition to a flat dir")
    (0 until 10).foreach(i => expected((i, "CA")) = s"x$i")
    t.merge(spark, df((0 until 10).map(i => (i, s"x$i", "CA")): _*),
      Seq("k", "state"))
    assert(t.compactIfDegraded(spark, 0.5, 0L).isEmpty,
      "a narrow wave on the RESTORED layout must not re-trigger")
    assert(contents == expected.toMap)
    // fold CA's leftover narrow delta away so the erasure phase below
    // starts clean, then: idempotent — nothing degraded, nothing folds
    t.compactPartitions(spark, Seq("CA"))
    assert(t.compactIfDegraded(spark, 0.5, 0L).isEmpty)
    // ERASURE dial, independently: a posdel wave in NY (overlap frac
    // still 0.25 — only the erasure bound can schedule it)
    val erased = t.deleteWhereMor(spark,
      col("state") === "NY" && col("k") % 7 === 3)
    assert(erased == 11)
    (0 until 80).filter(_ % 7 == 3).foreach(i => expected.remove((i, "NY")))
    assert(contents == expected.toMap)
    assert(t.compactIfDegraded(spark, overlapThreshold = 0.5,
      erasureThreshold = 1L) == Seq("NY"))
    assert(contents == expected.toMap, "erasure-driven fold changed content")
    assert(t.statsMeta(spark).filter(col("content") === "posdel").count() == 0,
      "folded partition's sidecar survived — the erasure dial must zero")
    assert(t.compactIfDegraded(spark, 0.5, 1L).isEmpty)
    // contract refusals
    val unpart = WarehouseTable(tmpDir("wh_cid_u"))
    unpart.create(schema, None, WarehouseTable.tableProperties("MOR", "snappy"))
    intercept[IllegalArgumentException](unpart.compactIfDegraded(spark, 0.5, 1L))
    intercept[IllegalArgumentException](t.compactIfDegraded(spark, 0.0, 1L))
  }

  test("compact.auto.overlap-threshold: a scattered wave self-folds inline; narrow waves and other partitions stay") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh_cid_auto"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0") + // count dial off — policy only
        ("compact.auto.overlap-threshold" -> "0.5"))
    val expected = scala.collection.mutable.Map[(Int, String), String]()
    val base = (0 until 80).flatMap { i =>
      expected((i, "CA")) = s"ca$i"; expected((i, "NY")) = s"ny$i"
      Seq((i, s"ca$i", "CA"), (i, s"ny$i", "NY"))
    }
    t.append(df(base: _*))
    t.clusterBase(spark, "k", 4)
    def deltaCount(p: String): Long = t.statsMeta(spark)
      .filter(col("content") === "delta" && col("partition") === p).count()
    def contents = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(2)) -> r.getString(1)).toMap
    // a NARROW NY wave commits and STAYS a delta — the policy must not
    // fold healthy partitions. Merge keys PARTITION-COLUMN-FIRST on
    // purpose: the dial must key on the persisted cluster column, never
    // mergeKeys.head — hive-partitioned dirs store no 'state' column, so
    // a 'state'-keyed dial would read every range as absent → frac 1.0 →
    // fold-every-commit
    (0 until 10).foreach(i => expected((i, "NY")) = s"w$i")
    t.merge(spark, df((0 until 10).map(i => (i, s"w$i", "NY")): _*),
      Seq("state", "k"))
    assert(deltaCount("NY") > 0, "policy folded a healthy partition")
    // a SCATTERED CA wave self-folds INLINE — no explicit maintenance call
    // (same partition-first key order: merge keys are a table identity)
    (0 until 80 by 10).foreach(i => expected((i, "CA")) = s"u$i")
    t.merge(spark, df((0 until 80 by 10).map(i => (i, s"u$i", "CA")): _*),
      Seq("state", "k"))
    assert(deltaCount("CA") == 0,
      "the auto policy did not fold the degraded partition inline")
    assert(deltaCount("NY") > 0,
      "the auto fold swept the healthy partition's delta along")
    assert(contents == expected.toMap)
    // erasure dial as policy: sidecar commits self-fold their partition
    val t2 = WarehouseTable(tmpDir("wh_cid_auto2"))
    t2.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0") +
        ("compact.auto.erasure-threshold" -> "1"))
    t2.append(df((1, "a", "CA"), (2, "b", "CA"), (3, "c", "NY")))
    assert(t2.deleteWhereMor(spark, col("state") === "CA" && col("k") === 1) == 1)
    assert(t2.statsMeta(spark)
      .filter(col("content") === "posdel").count() == 0,
      "the erasure policy left the sidecar pending")
    assert(t2.read(spark).collect().map(_.getInt(0)).toSet == Set(2, 3))
  }

  test("MOR auto-compacts when deltas cross the table's threshold") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy")
        + ("compact.delta.threshold" -> "2"))
    t.append(df((1, "a", "CA")))
    t.merge(spark, df((1, "a1", "CA")), Seq("k"))       // delta 1 (< threshold)
    t.merge(spark, df((2, "b", "NY")), Seq("k"))        // delta 2 → auto-compact
    // the fold leaves a delta-free snapshot with arbitrated contents
    val out = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(out == Set((1, "a1"), (2, "b")))
    // observable: another merge does NOT trigger the "fold leftover
    // deltas first" path — snapshot advances exactly once per write now
    val snap = t.currentSnapshotId
    t.merge(spark, df((3, "c", "TX")), Seq("k"))
    assert(t.currentSnapshotId == snap + 1)
  }

  test("compactBase folds a crowded partition into one dir") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    (1 to 5).foreach(i => t.append(df((i, s"v$i", "CA"))))
    t.append(df((99, "ny", "NY")))
    val before = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    t.compactBase(spark, maxDirsPerPartition = 3)
    assert(t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet == before)
    // CA collapsed to one dir; NY (1 dir ≤ threshold) untouched. The
    // split snapshot stores dirs in per-partition fragment files — read
    // them through the snapshot's pointer map.
    import scala.jdk.CollectionConverters._
    val snap = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      s"${t.root}/snaps/snap-${t.currentSnapshotId}.json")))
    val frags = """manifests/mf-[0-9a-f-]+\.json""".r.findAllIn(snap).toSeq
      .map(f => new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"${t.root}/$f"))))
    val caDirs = frags.flatMap("""data/[0-9a-f-]+/state=CA""".r.findAllIn(_)).toSet
    assert(caDirs.size == 1)
  }

  test("split snapshots reuse unchanged partition fragments across commits") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    t.merge(spark, df((1, "a2", "CA")), Seq("k")) // touches CA only
    def partPointer(snapId: Long, pv: String): String = {
      val s = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"${t.root}/snaps/snap-$snapId.json")))
      raw""""$pv":"(manifests/[^"]+)"""".r.findFirstMatchIn(s)
        .getOrElse(fail(s"no fragment pointer for $pv in snap $snapId")).group(1)
    }
    // NY untouched → same fragment file by reference; CA rewritten → new one
    assert(partPointer(1, "NY") == partPointer(2, "NY"))
    assert(partPointer(1, "CA") != partPointer(2, "CA"))
    // contents still correct
    assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a2"), (2, "b")))
  }

  test("MOR deletes are tombstones: O(batch) append, resolved at read") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), WarehouseTable.tableProperties("MOR", "snappy"))
    t.append(df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "TX")))
    val baseSnap = t.currentSnapshotId
    // CDC batch: op column drives deletes — row 2 deleted, row 3 updated
    val batch = df((2, "DEAD", "NY"), (3, "c2", "TX"))
    t.merge(spark, batch, Seq("k"), deleteWhere = Some(col("v") === "DEAD"))
    assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a"), (3, "c2")))
    // the delete was a delta append — base untouched (one commit, no rewrite)
    assert(t.currentSnapshotId == baseSnap + 1)
    // a later upsert resurrects the key (tombstone superseded by seq order)
    t.merge(spark, df((2, "back", "NY")), Seq("k"))
    assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a"), (2, "back"), (3, "c2")))
    // compaction folds tombstones away; contents stable
    t.compact(spark)
    assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a"), (2, "back"), (3, "c2")))
  }

  test("COW deleteWhere removes matched rows and blocks delete-op inserts") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    // 2 deleted; 3 is a delete-op with no match → NOT inserted; 4 inserts
    val batch = df((2, "DEAD", "NY"), (3, "DEAD", "TX"), (4, "d", "TX"))
    t.merge(spark, batch, Seq("k"), deleteWhere = Some(col("v") === "DEAD"))
    assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a"), (4, "d")))
  }

  test("MOR rejects inconsistent merge keys across merges") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, None, WarehouseTable.tableProperties("MOR", "snappy"))
    t.merge(spark, df((1, "a", "CA")), Seq("k"))
    val e = intercept[IllegalArgumentException] {
      t.merge(spark, df((1, "b", "CA")), Seq("k", "state"))
    }
    assert(e.getMessage.contains("merge keys"))
  }

  test("MOR equality delete: keys-only tombstone delta, no target read") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh_eqdel"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.merge(spark, df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "CA")), Seq("k", "state"))
    val nDeltasBefore = t.read(spark).count() // force a read; 3 rows live
    assert(nDeltasBefore == 3)
    // delete by KEY TUPLES only — no value columns supplied
    import spark.implicits._
    val delKeys = Seq((1, "CA"), (3, "CA")).toDF("k", "state")
    t.deleteKeysMor(spark, delKeys, Seq("k", "state"))
    val left = t.read(spark).select("k", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(left == Set((2, "b")))
    // a later upsert of a deleted key resurrects it (newest seq wins)
    t.merge(spark, df((1, "a2", "CA")), Seq("k", "state"))
    assert(t.read(spark).filter(col("k") === 1).select("v").head().getString(0) == "a2")
    // guard rails: partition column must be among the keys
    intercept[IllegalArgumentException] {
      t.deleteKeysMor(spark, Seq(Tuple1(2)).toDF("k"), Seq("k"))
    }
  }

  test("MOR position delete: predicate erase without key columns; winner semantics, compaction folds, time travel") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh_posdel"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.append(df((1, "a", "CA"), (2, "bad", "NY"), (3, "bad", "CA"), (4, "d", "NY")))
    val preDelete = t.currentSnapshotId
    // delete by VALUE predicate — no key columns involved anywhere
    assert(t.deleteWhereMor(spark, col("v") === "bad") == 2)
    def ks = t.read(spark).collect().map(_.getInt(0)).toSet
    assert(ks == Set(1, 4))
    // the erased rows never surface in the incremental feed either
    assert(t.addedSince(spark, 0L).collect().map(_.getInt(0)).toSet == Set(1, 4))
    // time travel: the pre-delete snapshot still sees all rows
    assert(t.read(spark, asOf = Some(preDelete)).count() == 4)
    // a zero-match predicate commits nothing
    val sBefore = t.currentSnapshotId
    assert(t.deleteWhereMor(spark, col("v") === "nope") == 0)
    assert(t.currentSnapshotId == sBefore)
    // erasing the ARBITRATION WINNER removes the key — the older base
    // version it shadowed does not resurrect
    t.merge(spark, df((1, "newer", "CA")), Seq("k", "state"))
    assert(t.deleteWhereMor(spark, col("v") === "newer") == 1)
    assert(ks == Set(4))
    // a LATER upsert of the key resurrects it, same as equality tombstones
    t.merge(spark, df((1, "back", "CA")), Seq("k", "state"))
    assert(ks == Set(1, 4))
    // compaction folds the erasures physically and clears the sidecars
    t.compact(spark)
    assert(ks == Set(1, 4))
    // a fresh sidecar cycle after compaction stays exact
    assert(t.deleteWhereMor(spark, col("k") === 4) == 1)
    assert(ks == Set(1))
    // expiry reclaims sidecars no kept snapshot references
    t.compact(spark)
    t.expireSnapshots(keepLast = 1)
    val posDir = java.nio.file.Paths.get(t.root, "posdel")
    assert(!java.nio.file.Files.isDirectory(posDir) ||
      !java.nio.file.Files.list(posDir).findAny().isPresent)
    assert(ks == Set(1))
    // COW tables route predicate deletes through deleteRows instead
    val c = WarehouseTable(tmpDir("wh_posdel_cow"))
    c.create(schema, None, Map.empty)
    intercept[IllegalArgumentException] {
      c.deleteWhereMor(spark, col("k") === 1)
    }
  }

  test("addedSince: append-only exact, windowed by asOf; MOR upserts surface, tombstones don't") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("inc"))
    t.create(schema, None, Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val s1 = t.currentSnapshotId
    t.append(df((3, "c", "TX")))
    val s2 = t.currentSnapshotId
    t.append(df((4, "d", "WA")))
    def ks(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.getInt(0)).toSet
    assert(ks(t.addedSince(spark, s1)) == Set(3, 4))
    assert(ks(t.addedSince(spark, s2)) == Set(4))
    assert(ks(t.addedSince(spark, s1, asOf = Some(s2))) == Set(3))
    assert(ks(t.addedSince(spark, t.currentSnapshotId)) == Set())
    // MOR: the change feed is the delta content — upserts surface once,
    // a delete tombstone is NOT an addition
    val m = WarehouseTable(tmpDir("incmor"))
    m.create(schema, None, WarehouseTable.tableProperties("MOR", "snappy"))
    m.append(df((1, "a", "CA"), (2, "b", "NY")))
    val m1 = m.currentSnapshotId
    m.merge(spark, df((2, "DEAD", "NY"), (3, "new", "TX")), Seq("k"),
      deleteWhere = Some(col("v") === "DEAD"))
    assert(m.addedSince(spark, m1).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet == Set((3, "new")))
  }

  test("changesSince: inserts and MOR tombstone deletes labeled; mirror apply reconstructs the table") {
    import org.apache.spark.sql.functions.col
    val m = WarehouseTable(tmpDir("feed"))
    m.create(schema, None, WarehouseTable.tableProperties("MOR", "snappy"))
    m.append(df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "TX")))
    val s1 = m.currentSnapshotId
    // delete 2, update 3, insert 4 — one CDC batch
    m.merge(spark, df((2, "DEAD", "NY"), (3, "c2", "TX"), (4, "d", "WA")),
      Seq("k"), deleteWhere = Some(col("v") === "DEAD"))
    val feed = m.changesSince(spark, s1)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(3))).toSet
    assert(feed == Set((2, "DEAD", "delete"), (3, "c2", "insert"),
      (4, "d", "insert")))
    // a mirror applying the feed keyed on k reconstructs the table
    val base = Map(1 -> "a", 2 -> "b", 3 -> "c")
    val applied = feed.foldLeft(base) {
      case (acc, (k, _, "delete")) => acc - k
      case (acc, (k, v, _)) => acc.updated(k, v)
    }
    val now = m.read(spark).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(applied == now)
  }

  test("rollback restores an earlier snapshot; replayed commits reclaim the freed ids") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("rb"))
    t.create(schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val s1 = t.currentSnapshotId
    // a replayed-ingest shape: merge + position delete on top of s1
    t.merge(spark, df((3, "c", "TX"), (1, "a2", "CA")), Seq("k"))
    t.deleteWhereMor(spark, col("k") === 2)
    assert(t.currentSnapshotId == s1 + 2)
    t.rollback(s1)
    assert(t.currentSnapshotId == s1)
    assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet
      == Set((1, "a"), (2, "b")))
    // the freed ids are reusable: the same replay commits cleanly again
    t.merge(spark, df((3, "c", "TX"), (1, "a2", "CA")), Seq("k"))
    assert(t.currentSnapshotId == s1 + 1)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
    // rolling forward is refused; rolling back to the current id is a no-op
    intercept[IllegalArgumentException] { t.rollback(s1 + 5) }
    t.rollback(t.currentSnapshotId)
    assert(t.currentSnapshotId == s1 + 1)
  }

  test("renameColumn/dropColumn: metadata-only, both file epochs reconcile, retired names refused") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("ddl"))
    t.create(schema, Some("state"), Map.empty) // (k, v, state) part by state
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val filesBefore = t.read(spark).inputFiles.toSet
    t.renameColumn("v", "val")
    assert(t.read(spark).inputFiles.toSet == filesBefore) // metadata-only
    t.append(df((3, "c", "CA")).withColumnRenamed("v", "val"))
    // old epoch ('v' files) and new epoch ('val' files) both read as 'val'
    assert(t.read(spark).select("k", "val").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // chained rename keeps every prior physical name readable
    t.renameColumn("val", "value")
    assert(t.read(spark).select("k", "value").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a"), (2, "b"), (3, "c")))
    // retired names are refused everywhere (zombie-byte protection)
    intercept[IllegalArgumentException] { t.renameColumn("value", "v") }
    intercept[IllegalArgumentException] {
      t.addColumn("val", org.apache.spark.sql.types.StringType)
    }
    // identity guards
    intercept[IllegalArgumentException] { t.renameColumn("state", "st") }
    intercept[IllegalArgumentException] { t.dropColumn("state") }
    // drop: schema shrinks, old bytes unread, name retired for good
    t.dropColumn("value")
    assert(t.read(spark).schema.fieldNames.toSeq == Seq("k", "state"))
    assert(t.read(spark).count() == 3)
    intercept[IllegalArgumentException] {
      t.addColumn("value", org.apache.spark.sql.types.StringType)
    }
    // rename interacts with position deletes: erased-row resolution
    // coalesces prior names too (MOR + posdel on a renamed table)
    val m = WarehouseTable(tmpDir("ddl_mor"))
    m.create(schema, None, WarehouseTable.tableProperties("MOR", "snappy") +
      ("compact.delta.threshold" -> "1000"))
    m.merge(spark, df((1, "a", "CA"), (2, "b", "NY")), Seq("k"))
    m.renameColumn("v", "val")
    assert(m.deleteWhereMor(spark, col("val") === "a") == 1)
    assert(m.read(spark).select("k").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("removeOrphanFiles reclaims rollback debris, never touches live dirs, no-ops when healthy") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = tmpDir("gc")
    val t = WarehouseTable(root)
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val s1 = t.currentSnapshotId
    def dataRoots: Set[String] = {
      val l = Files.list(Paths.get(root, "data"))
      try l.iterator().asScala.map(_.getFileName.toString).toSet
      finally l.close()
    }
    // a healthy table GCs nothing
    assert(t.removeOrphanFiles(olderThanMs = 0) == 0)
    val liveBefore = dataRoots
    // abandoned timeline: two commits, then rollback -> their dirs orphan
    t.append(df((3, "c", "TX")))
    t.append(df((4, "d", "WA")))
    assert(dataRoots.size == liveBefore.size + 2)
    val s1Lineage = t.lineageId
    t.rollback(s1)
    assert(t.lineageId != s1Lineage) // rollback rewrote the timeline
    // the DEFAULT grace window shields freshly-written unreferenced paths
    // (indistinguishable from a commit in flight) — nothing is deleted
    assert(t.removeOrphanFiles() == 0)
    assert(dataRoots.size == liveBefore.size + 2)
    // explicit no-writer window: debris goes, live dirs untouched
    assert(t.removeOrphanFiles(olderThanMs = 0) > 0)
    assert(dataRoots == liveBefore)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(1, 2))
    // the table keeps working after GC (ids reclaimed, reads exact)
    t.append(df((5, "e", "OR")))
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(1, 2, 5))
    assert(t.removeOrphanFiles(olderThanMs = 0) == 0)
  }

  test("changesSince carries position-delete erasures; ordinal-ordered mirror apply converges") {
    import org.apache.spark.sql.functions.col
    val m = WarehouseTable(tmpDir("feed_pos"))
    m.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    m.append(df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "TX"), (4, "d", "NY")))
    val s1 = m.currentSnapshotId
    // commit 1: upsert 2 (so its winner lives in a DELTA file) + insert 5
    m.merge(spark, df((2, "b2", "NY"), (5, "e", "CA")), Seq("k"))
    // commit 2: predicate position-delete erases NY rows — base row 4 AND
    // the delta winner of 2 (the fresh-row case that used to diverge)
    assert(m.deleteWhereMor(spark, col("state") === "NY") == 2)
    // commit 3: revive 4 — insert after delete, higher ordinal must win
    m.merge(spark, df((4, "d2", "TX")), Seq("k"))
    val feed = m.changesSince(spark, s1).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(3), r.getLong(4)))
    // erasures surface as labeled deletes CARRYING the erased row, at the
    // sidecar's commit ordinal
    assert(feed.toSet.contains((4, "d", "delete", s1 + 2)))
    assert(feed.toSet.contains((2, "b2", "delete", s1 + 2)))
    // keyed mirror apply in ordinal order (insert upserts, delete deletes)
    val applied = feed.sortBy(e => (e._4, e._3 == "insert"))
      .foldLeft(Map(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d")) {
        case (acc, (k, _, "delete", _)) => acc - k
        case (acc, (k, v, _, _)) => acc.updated(k, v)
      }
    val now = m.read(spark).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(now == Map(1 -> "a", 3 -> "c", 5 -> "e", 4 -> "d2"))
    assert(applied == now)
    // partition column restored on erased rows (they carry the full row)
    val delStates = m.changesSince(spark, s1)
      .filter(col("_change_type") === "delete")
      .collect().map(_.getString(2)).toSet
    assert(delStates == Set("NY"))
  }

  test("changesSince on COW: rewrite removals emit keyed deletes; folds and keyless tables stay silent") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("feed_cow"))
    t.create(schema, Some("state"), WarehouseTable.tableProperties("COW", "snappy"))
    t.merge(spark, df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "CA")), Seq("k"))
    val s1 = t.currentSnapshotId
    // COW merge: k=2 updated (partition rewrite) — no false deletes
    t.merge(spark, df((2, "b2", "NY"), (4, "d", "WA")), Seq("k"))
    // predicate delete: dir rewrite, k=1 removed
    t.deleteRows(spark, col("k") === 1)
    // TTL: the NY partition dropped wholesale (metadata-only removal)
    t.dropPartitions(Seq("NY"))
    val feed = t.changesSince(spark, s1).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Int]("k"),
        r.getAs[Long]("_change_ordinal")))
    val dels = feed.filter(_._1 == "delete").map(e => (e._2, e._3)).toSet
    assert(dels == Set((1, s1 + 2), (2, s1 + 3)))
    // no false delete for the updated key at the merge ordinal
    assert(!feed.exists(e => e._1 == "delete" && e._3 == s1 + 1))
    // mirror apply converges to the final view
    val mirror0 = t.read(spark, asOf = Some(s1))
      .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
      .withColumn("_change_ordinal", org.apache.spark.sql.functions.lit(s1))
    val applied = graft.operators.Dedup.latestByKey(
      mirror0.unionByName(t.changesSince(spark, s1))
        .withColumn("__ord2", org.apache.spark.sql.functions.expr(
          "_change_ordinal * 2 + IF(_change_type = 'insert', 1, 0)")),
      Seq("k"), orderDesc = "__ord2")
      .filter(col("_change_type") =!= "delete")
      .select("k", "v").collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(applied == t.read(spark).select("k", "v").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet)
    // a MOR delta fold is maintenance: resolution-invariant, so it may
    // re-emit content as inserts (the documented superset) but must
    // NEVER manufacture deletes out of the folded-away shadowed rows
    val m = WarehouseTable(tmpDir("feed_fold"))
    m.create(schema, None, WarehouseTable.tableProperties("MOR", "snappy") +
      ("compact.delta.threshold" -> "1000"))
    m.merge(spark, df((1, "a", "CA")), Seq("k"))
    m.merge(spark, df((1, "a2", "CA")), Seq("k"))
    val preFold = m.currentSnapshotId
    m.compact(spark)
    assert(!m.changesSince(spark, preFold).collect()
      .exists(_.getAs[String]("_change_type") == "delete"))
    // keyless COW: removals stay silent (documented caveat), no throw
    val u = WarehouseTable(tmpDir("feed_keyless"))
    u.create(schema, None, WarehouseTable.tableProperties("COW", "snappy"))
    u.append(df((1, "a", "CA"), (2, "b", "NY")))
    val us = u.currentSnapshotId
    u.deleteRows(spark, col("k") === 1)
    assert(!u.changesSince(spark, us).collect()
      .exists(_.getAs[String]("_change_type") == "delete"))
    // ...until a row identity is stamped (what startCdcMirror does at
    // start): the SAME window re-read now diffs the rewrite commit and
    // the removal flows — no mirrored table can stay keyless
    u.ensureMergeKeys(Seq("k"))
    val lateDels = u.changesSince(spark, us).collect()
      .filter(_.getAs[String]("_change_type") == "delete")
      .map(_.getAs[Int]("k")).toSet
    assert(lateDels == Set(1))
    // stamping a DIFFERENT identity afterwards refuses
    intercept[IllegalArgumentException](u.ensureMergeKeys(Seq("v")))
    intercept[IllegalArgumentException](u.ensureMergeKeys(Seq("nope")))
  }

  test("concurrent writers: racing appends, MOR upserts and a guarded posdel all rebase exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("multiw"))
    t.create(schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    // 8 racing appends: every batch lands exactly once, ids stay dense
    Await.result(Future.sequence((1 to 8).map(i =>
      Future(t.append(df((i, s"v$i", "CA")))))), 180.seconds)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == (1 to 8).toSet)
    assert(t.currentSnapshotId == 8)
    // 8 racing upserts of ONE key: arbitration picks a single total
    // order — exactly one row survives, and it is one of the racers
    Await.result(Future.sequence((1 to 8).map(i =>
      Future(t.merge(spark, df((100, s"r$i", "CA")), Seq("k"))))), 180.seconds)
    val winners = t.read(spark).filter(col("k") === 100)
      .collect().map(_.getString(1))
    assert(winners.length == 1 && winners.head.startsWith("r"))
    assert(t.currentSnapshotId == 16)
    // a position delete races an append: both land (the appended dirs
    // survive, so the file-identity guard passes)
    val fut = Future(t.append(df((200, "late", "CA"))))
    assert(t.deleteWhereMor(spark, col("k") === 1) == 1)
    Await.result(fut, 180.seconds)
    val ks = t.read(spark).collect().map(_.getInt(0)).toSet
    assert(!ks.contains(1) && ks.contains(200))
  }

  test("model-based torture: 80 seeded random ops (upsert/delete/posdel/stage/rollback/maintenance) track an in-memory model exactly") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    // Every committed state the table can reach must equal a trivial
    // key->value map. One fixed seed => deterministic replay of exactly
    // this op sequence; the value of the test is the INTERLEAVINGS
    // (posdel after rollback, expiry under pending stage, compaction
    // between delete flavors, a mid-run rename) that no hand-written
    // scenario spec covers.
    val rnd = new scala.util.Random(20260816L)
    val t = WarehouseTable(tmpDir("torture"))
    val sch = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("p", StringType),
      StructField("v", StringType)))
    t.create(sch, Some("p"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0")) // explicit compaction only
    t.ensureMergeKeys(Seq("k", "p"))
    def pOf(k: Int) = s"p${k % 3}"
    var vname = "v" // tracks the mid-run rename
    // batches are written under the CURRENT value-column name — after the
    // op-40 rename a real writer uses the new name (the engine-API merge
    // aligns by name, so a stale-named batch would null the column; the
    // SQL INSERT path refuses it at analysis — both contracts documented)
    def df(kvs: Seq[(Int, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(kvs.map { case (k, v) =>
        Row(k, pOf(k), v)
      }, 2), StructType(sch.fields.init :+ StructField(vname, StringType)))
    val model = scala.collection.mutable.Map.empty[Int, String]
    val history = scala.collection.mutable.Map.empty[Long, Map[Int, String]]
    var fresh = 1000 // append-only key source (appends must not collide)
    def snap(): Unit = history(t.currentSnapshotId) = model.toMap
    snap()
    def check(): Unit = {
      val got = t.read(spark).select(col("k"), col(vname))
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      assert(got == model.toMap, s"diverged from model (op state: $got vs $model)")
    }
    (1 to 80).foreach { op =>
      if (op == 40) { // one mid-run metadata-only rename of the value column
        t.renameColumn(vname, "w"); vname = "w"
      }
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => // keyed upsert batch
          val kvs = (1 to 1 + rnd.nextInt(20))
            .map(_ => rnd.nextInt(200) -> s"v$op-${rnd.nextInt(1000)}")
            .groupBy(_._1).map(_._2.last).toSeq // one value per key per batch
          t.merge(spark, df(kvs), Seq("k", "p"))
          model ++= kvs
        case 3 => // equality delete of random keys (absent keys no-op)
          val ks = (1 to 1 + rnd.nextInt(10)).map(_ => rnd.nextInt(200)).distinct
          t.deleteKeysMor(spark, df(ks.map(_ -> "x")).select("k", "p"), Seq("k", "p"))
          model --= ks
        case 4 => // position delete by predicate over the resolved view
          val r = rnd.nextInt(7)
          t.deleteWhereMor(spark, col("k") % 7 === r)
          model --= model.keys.filter(_ % 7 == r).toSeq
        case 5 => // append of fresh keys (never collides with live keys)
          val kvs = (1 to 1 + rnd.nextInt(5)).map { _ =>
            fresh += 1; fresh -> s"a$op"
          }
          t.append(df(kvs))
          model ++= kvs
        case 6 => // WAP stage; publish or discard immediately
          val kvs = Seq({ fresh += 1; fresh -> s"s$op" })
          val sid = t.stageAppend(df(kvs), Some(s"wap$op"))
          if (rnd.nextBoolean()) { t.publishStaged(sid); model ++= kvs }
          else t.discardStaged(sid)
        case 7 => // rollback to a random still-live snapshot
          val ids = t.snapshotsMeta(spark).select("snapshot_id")
            .collect().map(_.getLong(0)).sorted
          val target = ids(rnd.nextInt(ids.length))
          t.rollback(target)
          model.clear(); model ++= history(target)
        case 8 => // maintenance: fold deltas/posdels or reclaim history
          rnd.nextInt(3) match {
            case 0 => t.compact(spark)
            case 1 => t.expireSnapshots(keepLast = 3)
            case 2 => t.removeOrphanFiles(olderThanMs = 0); ()
          }
        case 9 => // re-upsert an existing key (update shape)
          model.keys.toSeq.sorted.headOption.foreach { k =>
            t.merge(spark, df(Seq(k -> s"u$op")), Seq("k", "p"))
            model(k) = s"u$op"
          }
      }
      // every path records (snapshot id -> model): maintenance commits
      // advance the id too, and a later rollback may target them
      snap()
      check()
    }
    assert(model.nonEmpty, "seed produced a degenerate (empty) run")
  }

  test("racing MOR merges across the auto-compact threshold: inline compaction is best-effort, no writer dies") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.functions.col
    // threshold 2 forces MANY concurrent merges to attempt the inline
    // COW compaction simultaneously — before tryCompact, the losers'
    // plain commits threw ConcurrentModificationException out of a
    // successfully-committed merge (found by the 32-writer harness)
    val t = WarehouseTable(tmpDir("multic"))
    t.create(schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "2"))
    Await.result(Future.sequence((1 to 8).map(i =>
      Future(t.merge(spark, df((i, s"v$i", "CA")), Seq("k"))))), 180.seconds)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == (1 to 8).toSet)
    // whatever mix of merges and successful compactions landed, a quiet
    // explicit compact still folds to a clean base and keeps the rows
    t.compact(spark)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == (1 to 8).toSet)
  }

  test("concurrent model-based torture: 6 racing writers interleave keyed merges, both delete flavors, WAP and compaction; read ≡ merged model after quiescence") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    // The single-threaded torture proves STATE transitions; this one
    // proves the COMMIT PROTOCOL — every rebasable write path (MOR
    // upsert, equality delete, posdel, append, stage) races 5 peers,
    // and best-effort/single-writer paths (publish, compact) must fail
    // with their DOCUMENTED refusals, never corrupt. Writers own
    // DISJOINT key ranges, so the final table state is the union of
    // per-writer models regardless of interleave; the interleavings
    // themselves are the test (this harness shape caught tryCompact).
    // Rollback and expiry/GC-at-zero-grace are excluded from the racing
    // phase BY CONTRACT (single-writer maintenance windows, documented
    // at rollback/expireSnapshots/removeOrphanFiles) and run after
    // quiescence instead.
    val nWriters = 6
    val opsPer = 12
    val t = WarehouseTable(tmpDir("ctorture"))
    val sch = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("v", StringType)))
    t.create(sch, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.ensureMergeKeys(Seq("k"))
    def df(kvs: Seq[(Int, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        kvs.map { case (k, v) => Row(k, v) }, 2), sch)
    def writer(w: Int): Map[Int, String] = {
      val rnd = new scala.util.Random(20260816L + w)
      val lo = w * 1000 // this writer's exclusive key range [lo, lo+999]
      val model = scala.collection.mutable.Map.empty[Int, String]
      var fresh = lo + 500
      (1 to opsPer).foreach { op =>
        rnd.nextInt(8) match {
          case 0 | 1 | 2 => // keyed upsert batch within the range
            val kvs = (1 to 1 + rnd.nextInt(12))
              .map(_ => lo + rnd.nextInt(200) -> s"v$w-$op-${rnd.nextInt(1000)}")
              .groupBy(_._1).map(_._2.last).toSeq
            t.merge(spark, df(kvs), Seq("k"))
            model ++= kvs
          case 3 => // equality delete of own keys (absent keys no-op)
            val ks = (1 to 1 + rnd.nextInt(6)).map(_ => lo + rnd.nextInt(200)).distinct
            t.deleteKeysMor(spark, df(ks.map(_ -> "x")).select("k"), Seq("k"))
            model --= ks
          case 4 => // position delete by predicate over OWN range only
            val r = rnd.nextInt(7)
            t.deleteWhereMor(spark,
              col("k") >= lo && col("k") < lo + 1000 && col("k") % 7 === r)
            model --= model.keys.filter(_ % 7 == r).toSeq
          case 5 => // append of fresh own keys
            val kvs = (1 to 1 + rnd.nextInt(4)).map { _ =>
              fresh += 1; fresh -> s"a$w-$op"
            }
            t.append(df(kvs))
            model ++= kvs
          case 6 => // WAP under contention: stage may refuse (a peer's
            // stage holds the id), publish may refuse (a commit claimed
            // the id / parent advanced) — both are the documented loud
            // paths; only a SUCCESSFUL publish reaches the model
            val kvs = Seq({ fresh += 1; fresh -> s"s$w-$op" })
            try {
              val sid = t.stageAppend(df(kvs), Some(s"wap$w-$op"))
              try { t.publishStaged(sid); model ++= kvs }
              catch {
                case _: IllegalArgumentException | _: IllegalStateException =>
                  t.discardStaged(sid)
              }
            } catch { case _: IllegalStateException => () }
          case 7 => // compaction is resolution-invariant; under a commit
            // race it refuses loudly (single-writer contract) — either
            // outcome leaves every model untouched
            try t.compact(spark)
            catch {
              case _: java.util.ConcurrentModificationException => ()
              case _: java.nio.file.FileAlreadyExistsException => ()
            }
        }
      }
      model.toMap
    }
    val models = Await.result(
      Future.sequence((0 until nWriters).map(w => Future(writer(w)))),
      600.seconds)
    val want = models.reduce(_ ++ _) // ranges disjoint: plain union
    def got(): Map[Int, String] = t.read(spark)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got() == want, "post-quiescence read diverged from the merged model")
    // leftover live stages from publish-refused WAP ops pin bytes until
    // discarded — sweep them, then the maintenance window runs clean
    t.stagedSnapshots.foreach(t.discardStaged)
    t.compact(spark)
    assert(got() == want)
    t.expireSnapshots(keepLast = 2)
    t.removeOrphanFiles(olderThanMs = 0)
    assert(got() == want, "maintenance window changed visible state")
    assert(want.nonEmpty, "seed produced a degenerate (empty) run")
  }

  test("overlapping-key torture: racing writers merge the SAME keys; every key converges to some writer's final action (last-committer-wins)") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.Row
    // The disjoint-range torture above proves the commit protocol; this
    // one proves the CONFLICT contract. All writers share ONE key range,
    // so every window is a true write-write conflict. The engine's
    // documented resolution is last-committer-wins: a rebased merge
    // lands with a delta seq above everything it rebased onto, so the
    // global winner for a key is the LAST COMMIT that touched it — and
    // since each writer is sequential, that commit carries the touching
    // writer's FINAL action on the key. The checkable contract:
    //   present with v  ⟹ v is some writer's final write of k
    //   absent          ⟹ some writer's final action on k was a delete
    //   and if NO writer's final action was a delete, k MUST be present.
    // Any interleave satisfies it; a torn/merged row, a resurrected
    // overwritten value, or a lost delete violates it.
    val nWriters = 4
    val opsPer = 10
    val keySpan = 100 // shared by ALL writers — every key contends
    val t = WarehouseTable(tmpDir("otorture"))
    val sch = StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("v", StringType)))
    t.create(sch, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.ensureMergeKeys(Seq("k"))
    def df(kvs: Seq[(Int, String)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        kvs.map { case (k, v) => Row(k, v) }, 2), sch)
    // per-writer: the writer's FINAL action per key —
    // Some(v) = last wrote v, None = last deleted
    def writer(w: Int): Map[Int, Option[String]] = {
      val rnd = new scala.util.Random(20260817L + w)
      val fin = scala.collection.mutable.Map.empty[Int, Option[String]]
      (1 to opsPer).foreach { op =>
        if (rnd.nextInt(4) < 3) { // shared-key upsert batch
          val kvs = (1 to 1 + rnd.nextInt(10))
            .map(_ => rnd.nextInt(keySpan) -> s"w$w-$op-${rnd.nextInt(1000)}")
            .groupBy(_._1).map(_._2.last).toSeq
          t.merge(spark, df(kvs), Seq("k"))
          kvs.foreach { case (k, v) => fin(k) = Some(v) }
        } else { // equality delete of shared keys
          val ks = (1 to 1 + rnd.nextInt(5))
            .map(_ => rnd.nextInt(keySpan)).distinct
          t.deleteKeysMor(spark, df(ks.map(_ -> "x")).select("k"), Seq("k"))
          ks.foreach(k => fin(k) = None)
        }
      }
      fin.toMap
    }
    val finals = Await.result(
      Future.sequence((0 until nWriters).map(w => Future(writer(w)))),
      600.seconds)
    def got(): Map[Int, String] = t.read(spark)
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val state = got()
    assert(state == got(), "two post-quiescence reads diverged")
    val touched = finals.flatMap(_.keys).toSet
    assert(state.keySet.subsetOf(touched), "read surfaced an unwritten key")
    touched.foreach { k =>
      val cands = finals.flatMap(_.get(k)) // writers with a final action on k
      state.get(k) match {
        case Some(v) => assert(cands.contains(Some(v)),
          s"key $k holds '$v', which is NO writer's final action " +
            s"(candidates: $cands) — a stale overwritten value resurfaced")
        case None => assert(cands.contains(None),
          s"key $k is absent but no racing writer's final action was a " +
            s"delete (candidates: $cands) — a write was lost")
      }
    }
    // resolution-invariant maintenance must not re-arbitrate winners
    t.compact(spark)
    assert(got() == state, "compaction changed conflict winners")
    assert(touched.size > keySpan / 2, "seed produced a degenerate run")
  }

  test("merge keys are identifier fields: NULL keys refuse loudly on every merge path, leaving no trace") {
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(
      StructField("k", IntegerType, nullable = true),
      StructField("v", StringType)))
    def df(rows: (Integer, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (k, v) => Row(k, v) }, 2), sch)
    def dataDirs(t: WarehouseTable): Set[String] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(t.root, "data")
      if (!java.nio.file.Files.isDirectory(d)) Set.empty
      else {
        val l = java.nio.file.Files.list(d)
        try l.iterator().asScala.map(_.getFileName.toString).toSet
        finally l.close()
      }
    }
    // MOR: delta-path refusal is footer-priced and pre-commit
    val m = WarehouseTable(tmpDir("nullkey_mor"))
    m.create(sch, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    m.merge(spark, df((1, "a"), (2, "b")), Seq("k"))
    val snap = m.currentSnapshotId
    val dirs = dataDirs(m)
    val e1 = intercept[IllegalArgumentException] {
      m.merge(spark, df((3, "c"), (null, "boom")), Seq("k"))
    }
    assert(e1.getMessage.contains("identifier"))
    assert(m.currentSnapshotId == snap, "refused merge moved the snapshot")
    assert(dataDirs(m) == dirs, "refused merge left orphan delta dirs")
    val e2 = intercept[IllegalArgumentException] {
      m.deleteKeysMor(spark, df((null, "x")).select("k"), Seq("k"))
    }
    assert(e2.getMessage.contains("identifier"))
    assert(m.currentSnapshotId == snap && dataDirs(m) == dirs)
    assert(m.read(spark).collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet == Set((1, "a"), (2, "b")))
    // COW: same contract, guarded on the cached batch pre-write
    val c = WarehouseTable(tmpDir("nullkey_cow"))
    c.create(sch, None, Map.empty)
    c.merge(spark, df((1, "a")), Seq("k"))
    val cSnap = c.currentSnapshotId
    val cDirs = dataDirs(c)
    intercept[IllegalArgumentException] {
      c.merge(spark, df((null, "boom")), Seq("k"))
    }
    assert(c.currentSnapshotId == cSnap)
    assert(dataDirs(c) == cDirs, "refused merge left orphan rewrite dirs")
    assert(c.read(spark).collect().map(r => (r.getInt(0), r.getString(1)))
      .toSet == Set((1, "a")))
  }

  test("COW merge: an interrupted or cancelled null-key wait sweeps the written dirs and rethrows") {
    import java.util.concurrent.{CancellationException, Future, TimeUnit}
    import scala.jdk.CollectionConverters._
    def dataDirs(t: WarehouseTable): Set[String] = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "data"))
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    // the awaited future fails in `get` itself (not through an
    // ExecutionException); the real check job is cancelled alongside
    def failing(e: () => Throwable): Future[Boolean] => Future[Boolean] = real => {
      real.cancel(true)
      new Future[Boolean] {
        def cancel(interrupt: Boolean): Boolean = false
        def isCancelled: Boolean = false
        def isDone: Boolean = false
        def get(): Boolean = throw e()
        def get(timeout: Long, unit: TimeUnit): Boolean = throw e()
      }
    }
    for ((partition, tag) <- Seq(None -> "flat", Some("state") -> "part")) {
      val t = WarehouseTable(tmpDir(s"nullwait_$tag"))
      t.create(schema, partition, Map.empty)
      t.merge(spark, df((1, "a", "CA"), (2, "b", "NY")), Seq("k"))
      val snap = t.currentSnapshotId
      val dirs = dataDirs(t)
      try {
        WarehouseTable.awaitedNullCheck = failing(() => new InterruptedException("awaiting"))
        intercept[InterruptedException] {
          t.merge(spark, df((1, "z", "CA"), (3, "c", "TX")), Seq("k"))
        }
        assert(t.currentSnapshotId == snap, "interrupted merge moved the snapshot")
        assert(dataDirs(t) == dirs, "interrupted merge left uncommitted data dirs")
        WarehouseTable.awaitedNullCheck = failing(() => new CancellationException())
        intercept[CancellationException] {
          t.merge(spark, df((1, "z", "CA"), (3, "c", "TX")), Seq("k"))
        }
        assert(t.currentSnapshotId == snap, "cancelled merge moved the snapshot")
        assert(dataDirs(t) == dirs, "cancelled merge left uncommitted data dirs")
      } finally WarehouseTable.awaitedNullCheck = identity
      t.merge(spark, df((1, "z", "CA"), (3, "c", "TX")), Seq("k"))
      assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        Set((1, "z"), (2, "b"), (3, "c")))
    }
  }

  test("a COW merge that loses the commit race sweeps its rewrite; the racer's commit stands") {
    import java.util.concurrent.{Future, TimeUnit}
    import scala.jdk.CollectionConverters._
    def dataRoots(t: WarehouseTable): Set[String] = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "data"))
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    for ((partition, tag) <- Seq(None -> "flat", Some("state") -> "part")) {
      val t = WarehouseTable(tmpDir(s"lostrace_$tag"))
      t.create(schema, partition, Map.empty)
      t.merge(spark, df((1, "a", "CA"), (2, "b", "NY")), Seq("k"))
      val snap = t.currentSnapshotId
      val before = dataRoots(t)
      // the awaited null-key check first lands a racing append, then
      // passes: the merge's commit finds the snapshot advanced
      val racing: Future[Boolean] => Future[Boolean] = _ => new Future[Boolean] {
        def cancel(interrupt: Boolean): Boolean = false
        def isCancelled: Boolean = false
        def isDone: Boolean = true
        def get(): Boolean = { t.append(df((9, "r", "TX"))); true }
        def get(timeout: Long, unit: TimeUnit): Boolean = get()
      }
      try {
        WarehouseTable.awaitedNullCheck = racing
        intercept[java.util.ConcurrentModificationException] {
          t.merge(spark, df((1, "z", "CA"), (3, "c", "TX")), Seq("k"))
        }
      } finally WarehouseTable.awaitedNullCheck = identity
      assert(t.currentSnapshotId == snap + 1, "the racer's snapshot is not current")
      assert(t.read(spark).collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        Set((1, "a"), (2, "b"), (9, "r")))
      val racer = t.filesMeta(spark).collect()
        .map(_.getAs[String]("dir").split("/")(1)).toSet -- before
      assert(racer.size == 1, s"the racer's dirs: $racer")
      assert(dataRoots(t) == before ++ racer,
        s"the losing merge left dirs: ${dataRoots(t) -- before -- racer}")
    }
  }

  test("an empty write to a partitioned table leaves no data dir, whether its commit lands or not") {
    import scala.jdk.CollectionConverters._
    val t = WarehouseTable(tmpDir("emptypart"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "a", "CA")))
    def dataRoots: Set[String] = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(t.root, "data"))
      try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
    }
    val before = dataRoots
    val snap = t.currentSnapshotId
    t.append(df())
    assert(dataRoots == before, s"the empty append left ${dataRoots -- before}")
    t.overwrite(df())
    assert(t.currentSnapshotId == snap + 2 && t.read(spark).count() == 0)
    assert(dataRoots == before, s"the empty overwrite left ${dataRoots -- before}")
    // refused: its parent is no longer current
    intercept[java.util.ConcurrentModificationException](t.overwrite(df(), onParent = Some(snap)))
    assert(dataRoots == before, s"the refused empty overwrite left ${dataRoots -- before}")
  }

  test("TIMESTAMP AS OF resolution binary-searches the id range: O(log n) manifest parses on a 100-commit table") {
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(StructField("id", LongType, nullable = false)))
    val t = WarehouseTable(tmpDir("tsbin") + "/t")
    t.create(sch, None, Map.empty)
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L)), 1), sch)
    (1 to 100).foreach(_ => t.append(one))
    // ground truth straight from the raw snapshot files (commits can
    // share a millisecond — compute the expected winner, don't assume
    // distinct timestamps)
    val snapDir = java.nio.file.Paths.get(t.root, "snaps")
    val tsRe = """"ts":(\d+)""".r
    val byId: Seq[(Long, Long)] = {
      val l = java.nio.file.Files.list(snapDir)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
            val id = s.stripPrefix("snap-").stripSuffix(".json").toLong
            val ts = tsRe.findFirstMatchIn(java.nio.file.Files.readString(
              snapDir.resolve(s))).get.group(1).toLong
            (id, ts)
          }.toSeq.sortBy(_._1)
      } finally l.close()
    }
    assert(byId.size >= 100)
    def expected(ts: Long): Option[Long] =
      byId.filter(_._2 <= ts).map(_._1).maxOption
    val maxParses = 2 * (64 - java.lang.Long.numberOfLeadingZeros(byId.size)) + 2
    // probe far past, far future, and every decile
    val probes = Seq(byId.head._2 - 1, byId.last._2 + 1) ++
      (0 until 10).map(i => byId(i * byId.size / 10)._2)
    probes.foreach { ts =>
      val (gotId, parses) = t.snapshotAtCounted(ts)
      assert(gotId == expected(ts), s"AS OF $ts resolved $gotId, " +
        s"expected ${expected(ts)}")
      assert(parses <= maxParses,
        s"AS OF $ts parsed $parses manifests on a ${byId.size}-commit " +
          s"table — the binary search is not O(log n)")
    }
  }

  test("commit timestamps stay monotone under a backwards-stepping clock; TIMESTAMP AS OF stays exact") {
    import org.apache.spark.sql.Row
    val sch = StructType(Seq(StructField("id", LongType, nullable = false)))
    val t = WarehouseTable(tmpDir("tsmono") + "/t")
    // inject a wall clock that steps BACKWARDS between commits (an NTP
    // correction mid-ingest) — the clamp in writeSnapshot must keep the
    // persisted ts sequence monotone anyway, or the binary-searched
    // TIMESTAMP AS OF silently resolves to a wrong snapshot
    var now = 1_000_000L
    t.clockMillis = () => now
    t.create(sch, None, Map.empty)
    val one = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L)), 1), sch)
    (1 to 30).foreach { i =>
      t.append(one)
      now += (if (i % 3 == 0) -1500L else +1000L) // every 3rd step regresses
    }
    val snapDir = java.nio.file.Paths.get(t.root, "snaps")
    val tsRe = """"ts":(\d+)""".r
    val byId: Seq[(Long, Long)] = {
      val l = java.nio.file.Files.list(snapDir)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala.map(_.getFileName.toString)
          .collect { case s if s.startsWith("snap-") && s.endsWith(".json") =>
            (s.stripPrefix("snap-").stripSuffix(".json").toLong,
              tsRe.findFirstMatchIn(java.nio.file.Files.readString(
                snapDir.resolve(s))).get.group(1).toLong)
          }.toSeq.sortBy(_._1)
      } finally l.close()
    }
    assert(byId.size == 31)
    // the sequence IS monotone non-decreasing…
    byId.sliding(2).foreach { case Seq((i1, t1), (i2, t2)) =>
      assert(t1 <= t2, s"ts regressed between snap $i1 ($t1) and $i2 ($t2)")
    }
    // …and the clamp actually ENGAGED (regressed wall clocks landed as
    // repeats of the parent ts, not as raw backwards stamps)
    assert(byId.sliding(2).exists { case Seq((_, t1), (_, t2)) => t1 == t2 },
      "no commit hit the clamp — the regressive clock never engaged it")
    def expected(ts: Long): Option[Long] =
      byId.filter(_._2 <= ts).map(_._1).maxOption
    // probe every boundary: each commit's ts and the instants around it
    (byId.flatMap { case (_, ts) => Seq(ts - 1, ts, ts + 1) } ++
      Seq(byId.head._2 - 10, byId.last._2 + 10)).foreach { ts =>
      val (got, _) = t.snapshotAtCounted(ts)
      assert(got == expected(ts),
        s"AS OF $ts resolved $got, expected ${expected(ts)}")
    }
  }

  test("linkless-fs commit fallback: O_EXCL claim makes a lost race loud, never a silent replace") {
    import java.nio.file.{Files, Paths}
    WarehouseTable.simulateLinkless = true
    try {
      val t = WarehouseTable(tmpDir("linkless") + "/t")
      t.create(schema, None, Map("commit.retry.max-attempts" -> "3"))
      t.append(df((1, "a", "CA")))
      assert(t.read(spark).count() == 1)
      val snaps = Paths.get(t.root, "snaps")
      // the claim sidecar landed beside the committed snap
      assert(Files.exists(snaps.resolve(".snap-1.json.claim")),
        "claim sidecar missing after a linkless commit")
      // a RACING claimant that claimed the next id but hasn't moved its
      // bytes yet (or crashed): the old probe-then-move fallback would
      // let a second writer pass the exists-probe and silently REPLACE —
      // the claim makes the loser fail LOUDLY after the bounded budget
      val staleClaim = snaps.resolve(".snap-2.json.claim")
      Files.write(staleClaim, Array.emptyByteArray,
        java.nio.file.StandardOpenOption.CREATE_NEW)
      def dataRoots: Set[String] = {
        import scala.jdk.CollectionConverters._
        val l = Files.list(Paths.get(t.root, "data"))
        try l.iterator().asScala.map(_.getFileName.toString).toSet finally l.close()
      }
      val rootsBefore = dataRoots
      intercept[java.nio.file.FileAlreadyExistsException](
        t.append(df((2, "b", "NY"))))
      // the refused append swept its own data/<uuid>
      assert(dataRoots == rootsBefore, "the refused append left its data dir")
      // nothing was lost or replaced
      assert(t.currentSnapshotId == 1)
      assert(t.read(spark).count() == 1)
      // the orphan claim (no snap behind it) is GC debris: backdate past
      // the claim floor (minutes — a merely-stalled claimant must NOT be
      // swept) and sweep; the COMMITTED id's claim must survive
      Files.setLastModifiedTime(staleClaim,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 700_000L))
      assert(t.removeOrphanFiles(olderThanMs = 0) >= 1)
      assert(!Files.exists(staleClaim))
      assert(Files.exists(snaps.resolve(".snap-1.json.claim")),
        "GC must not sweep the claim of a committed snapshot")
      t.append(df((2, "b", "NY")))
      assert(t.read(spark).count() == 2)
      // rollback releases the claim WITH the snap so the id reclaims
      t.rollback(1)
      assert(!Files.exists(snaps.resolve(".snap-2.json.claim")))
      t.append(df((3, "c", "TX")))
      assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(1, 3))
    } finally WarehouseTable.simulateLinkless = false
  }

  test("linkless-fs commit fallback: racing appends all land exactly once") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    WarehouseTable.simulateLinkless = true
    try {
      val t = WarehouseTable(tmpDir("linklessrace") + "/t")
      t.create(schema, None, WarehouseTable.tableProperties("COW", "snappy"))
      Await.result(Future.sequence((0 until 4).map(i =>
        Future(t.append(df((i, s"v$i", "CA")))))), 120.seconds)
      assert(t.currentSnapshotId == 4)
      assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(0, 1, 2, 3),
        "a racing linkless append was silently lost")
    } finally WarehouseTable.simulateLinkless = false
  }

  test("write-audit-publish: staged snapshots invisible to readers, feed and GC; publish races refuse") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wap"))
    t.create(schema, None, WarehouseTable.tableProperties("COW", "snappy"))
    t.append(df((1, "a", "CA"), (2, "b", "NY")))
    val base = t.currentSnapshotId
    val staged = t.stageAppend(df((3, "c", "TX")))
    // invisible to main reads AND to the change feed's window walk
    assert(t.currentSnapshotId == base)
    assert(t.read(spark).count() == 2)
    assert(t.changesSince(spark, base).count() == 0)
    assert(t.stagedSnapshots == Seq(staged))
    // audit-readable via time travel
    assert(t.read(spark, asOf = Some(staged)).count() == 3)
    // GC treats the pending stage's bytes as LIVE even with no grace
    assert(t.removeOrphanFiles(olderThanMs = 0) == 0)
    assert(t.read(spark, asOf = Some(staged)).count() == 3)
    // an interleaved commit claims the id -> publish refuses loudly
    t.append(df((4, "d", "WA")))
    val err = intercept[IllegalArgumentException](t.publishStaged(staged))
    assert(err.getMessage.contains("re-stage"))
    t.discardStaged(staged)
    assert(t.stagedSnapshots.isEmpty)
    // discarded bytes are reclaimable now
    assert(t.removeOrphanFiles(olderThanMs = 0) > 0)
    // the clean path: stage on the current state, publish, one pointer move
    val good = t.stageAppend(df((5, "e", "OR")))
    t.publishStaged(good)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(1, 2, 4, 5))
    // and the published commit flows through the feed like any other
    assert(t.changesSince(spark, base).filter(col("k") === 5).count() == 1)
  }

  test("staged snapshots die on rollback and on id races: publish refuses, GC reclaims the json") {
    val t = WarehouseTable(tmpDir("wapdead"))
    t.create(schema, None, WarehouseTable.tableProperties("COW", "snappy"))
    t.append(df((1, "a", "CA")))
    t.append(df((2, "b", "NY")))
    val s1 = 1L

    // the snapshot-id-reuse hole: stage on id 2, roll back to id 1, let
    // new commits re-reach id 2 — cur == stagedId−1 again, but the staged
    // manifest carries PRE-ROLLBACK state by value; publishing it would
    // silently drop the new timeline's commits. The lineage stamp refuses.
    val staged = t.stageAppend(df((3, "c", "TX")))
    assert(staged == 3L)
    t.rollback(s1)
    t.append(df((9, "z", "WA"))) // reclaims id 2: cur == staged − 1 again
    assert(t.currentSnapshotId == staged - 1)
    val err = intercept[IllegalArgumentException](t.publishStaged(staged))
    assert(err.getMessage.contains("rolled back"))
    // the dead stage is reported, no longer listed as pending, pins no
    // bytes, and its json itself is GC debris
    assert(t.deadStagedSnapshots == Seq(staged))
    assert(t.stagedSnapshots.isEmpty)
    // .staged names the why: this stage died to a rollback, not a race
    val sm = t.stagedMeta(spark).collect()
    assert(sm.length == 1 && sm.head.getLong(0) == staged &&
      !sm.head.getBoolean(2) &&
      sm.head.getString(4) == "abandoned-timeline")
    assert(t.removeOrphanFiles(olderThanMs = 0) > 0)
    assert(t.deadStagedSnapshots.isEmpty)
    assert(t.read(spark).collect().map(_.getInt(0)).toSet == Set(1, 9))

    // id race: a regular commit claims the staged id -> actionable
    // refusal naming the race (not a raw filesystem error), json swept
    val s2 = t.stageAppend(df((4, "d", "OR")))
    t.append(df((5, "e", "CA")))
    val err2 = intercept[IllegalArgumentException](t.publishStaged(s2))
    assert(err2.getMessage.contains("regular commit claimed"))
    assert(t.deadStagedSnapshots == Seq(s2) && t.stagedSnapshots.isEmpty)
    assert(t.removeOrphanFiles(olderThanMs = 0) > 0)
    val err3 = intercept[IllegalArgumentException](t.publishStaged(s2))
    assert(err3.getMessage.contains("does not exist"))
  }

  test("diffSnapshots: added/removed/changed between tags; identical re-lands suppressed; deltas refuse") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("reldiff"))
    t.create(schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.ensureMergeKeys(Seq("k"))
    t.append(df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "TX"), (4, "d", "WA")))
    t.tagSnapshot("v1")
    // v1.1: add 5; forget 2; update 3 (posdel erase + re-append);
    // re-land 4 byte-identical (an overwrite-style churn) — NOT a change
    t.append(df((5, "e", "OR")))
    assert(t.deleteWhereMor(spark, col("k") === 2) == 1)
    assert(t.deleteWhereMor(spark, col("k") === 3) == 1)
    assert(t.deleteWhereMor(spark, col("k") === 4) == 1)
    t.append(df((3, "c2", "TX"), (4, "d", "WA")))
    t.tagSnapshot("v2")
    val d = t.diffSnapshots(spark, t.tags("v1"), t.tags("v2"), Seq("k"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(d == Set(("added", 5, "e"), ("removed", 2, "b"), ("changed", 3, "c2")))
    // changed rows carry the `to` payload, removed the `from` payload ✓ above
    // a delta-bearing snapshot refuses (arbitration is per-read)
    t.merge(spark, df((6, "f", "CA")), Seq("k"))
    val err = intercept[IllegalArgumentException] {
      t.diffSnapshots(spark, t.tags("v1"), t.currentSnapshotId, Seq("k"))
    }
    assert(err.getMessage.contains("delta-free"))
  }

  test("partitionsMeta: physical per-partition footprint from footers; MOR deltas and posdels counted") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("pmeta"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.append(df((1, "a", "CA"), (2, "b", "CA"), (3, "c", "NY")))
    t.merge(spark, df((2, "b2", "CA")), Seq("k")) // delta row: physical +1
    assert(t.deleteWhereMor(spark, col("k") === 3) == 1) // posdel: NOT subtracted
    val rows = t.partitionsMeta(spark).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(5))))
      .toMap
    assert(rows("CA") == ((2L, 3L, 1L))) // base dir + delta dir, 2+1 physical rows
    assert(rows("NY") == ((1L, 1L, 1L))) // posdel'd row still counted physically
    // unpartitioned: one row with a null partition
    val u = WarehouseTable(tmpDir("pmeta_u"))
    u.create(schema, None, Map.empty)
    u.append(df((1, "a", "CA"), (2, "b", "NY")))
    val ur = u.partitionsMeta(spark).collect()
    assert(ur.length == 1 && ur.head.isNullAt(0) && ur.head.getLong(3) == 2L)
  }

  test("changesSince: dropPartitions sweeping MOR deltas feeds arbitrated deletes; compact stays maintenance") {
    import org.apache.spark.sql.functions.col
    // deltas never fold (threshold 0): the dropped partition's live rows
    // exist ONLY in delta dirs — the exact shape the old delta-removal
    // heuristic misclassified as maintenance, silently dropping deletes
    val t = WarehouseTable(tmpDir("feed_dropmor"))
    t.create(schema, Some("state"),
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.merge(spark, df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "NY")), Seq("k"))
    t.merge(spark, df((2, "b2", "NY")), Seq("k")) // stale generation for k=2
    val s0 = t.currentSnapshotId
    // equality-tombstone k=3: its delete is emitted AT THIS ordinal
    t.merge(spark, df((3, "DEAD", "NY")), Seq("k"),
      deleteWhere = Some(col("v") === "DEAD"))
    val sTomb = t.currentSnapshotId
    assert(t.dropPartitions(Seq("NY")) == 1)
    val sDrop = t.currentSnapshotId
    val feed = t.changesSince(spark, s0).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Int]("k"),
        r.getAs[String]("v"), r.getAs[Long]("_change_ordinal")))
    val dels = feed.filter(_._1 == "delete")
    // k=3's delete came from the tombstone commit, NOT the drop; k=2's
    // delete comes from the drop, exactly once, carrying the LATEST
    // arbitrated version (b2) — the stale (k=2, b) generation never leaks
    assert(dels.map(d => (d._2, d._4)).toSet == Set((3, sTomb), (2, sDrop)))
    assert(dels.filter(_._2 == 2).map(_._3).toSeq == Seq("b2"))
    // untouched-partition key never appears as a delete
    assert(!dels.exists(_._2 == 1))
    // a real fold on the surviving data is maintenance: no deletes
    t.compact(spark)
    assert(!t.changesSince(spark, sDrop).collect()
      .exists(_.getAs[String]("_change_type") == "delete"))
    // ... and its re-landed rows never surface either, in EITHER feed
    // mode — a compaction's gross window is identically zero (emitting
    // the re-land would double-count every row in an aggregate view)
    assert(t.changesSince(spark, sDrop).isEmpty)
    assert(t.changesSince(spark, sDrop, netRemovals = false).isEmpty)
  }

  test("gross feed over MOR: upserts emit −resolved-old beside +new; equality deletes carry the victim") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("feed_grossmor"))
    t.create(schema, None,
      WarehouseTable.tableProperties("MOR", "snappy") +
        ("compact.delta.threshold" -> "0"))
    t.merge(spark, df((1, "a", "CA"), (2, "b", "NY")), Seq("k"))
    val s0 = t.currentSnapshotId
    t.merge(spark, df((1, "a2", "CA")), Seq("k")) // update k=1
    val s1 = t.currentSnapshotId
    t.merge(spark, df((1, "a3", "CA"), (3, "c", "TX")), Seq("k")) // again + new key
    val s2 = t.currentSnapshotId
    t.merge(spark, df((2, "DEAD", "NY")), Seq("k"),
      deleteWhere = Some(col("v") === "DEAD")) // equality delete k=2
    val s3 = t.currentSnapshotId
    val feed = t.changesSince(spark, s0, netRemovals = false).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Int]("k"),
        r.getAs[String]("v"), r.getAs[Long]("_change_ordinal")))
    // per-commit signed pairs: the SECOND update subtracts the latest
    // prior version (a2), never the base row; the delete's payload is
    // the victim's resolved row (a2→a3 chain leaves k=2 at "b"), never
    // the tombstone's own row ("DEAD")
    assert(feed.toSet == Set(
      ("insert", 1, "a2", s1), ("delete", 1, "a", s1),
      ("insert", 1, "a3", s2), ("delete", 1, "a2", s2),
      ("insert", 3, "c", s2),
      ("delete", 2, "b", s3)))
    // signed fold equals the state diff: net per key +latest −original
    val signed = feed.groupBy(_._2).view.mapValues(_.map {
      case ("insert", _, _, _) => 1L
      case _ => -1L
    }.sum).toMap
    assert(signed == Map(1 -> 0L, 2 -> -1L, 3 -> 1L))
    // the NET keyed form is untouched by the gross path: upsert commits
    // emit fresh rows only (the mirror's merge does the subtraction)
    val net = t.changesSince(spark, s0).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Int]("k"),
        r.getAs[String]("v")))
    assert(net.count(_._1 == "insert") == 3 && net.count(_._1 == "delete") == 1)
  }

  test("clusterBase: range-disjoint dirs make stats pruning selective; contents unchanged") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("clust"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("payload", StringType)))
    t.create(sch, None, Map.empty)
    // 4 appends of interleaved ranges: every dir's [min,max] spans the
    // whole domain, so stats can prune NOTHING before clustering
    val rnd = new scala.util.Random(7)
    (0 until 4).foreach { _ =>
      val rows = rnd.shuffle((1 to 1000).toList).take(250)
        .map(i => Row(i, s"p$i"))
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), sch))
    }
    val before = t.read(spark).collect().map(_.getInt(0)).sorted.toSeq
    val filt = Seq(org.apache.spark.sql.sources.GreaterThan("id", 900))
    val filesBefore = t.read(spark, dataFilters = filt).inputFiles.length
    t.clusterBase(spark, "id", 4)
    val after = t.read(spark).collect().map(_.getInt(0)).sorted.toSeq
    assert(after == before) // clustering is a layout change, not a data change
    val filesAfter = t.read(spark, dataFilters = filt).inputFiles.length
    assert(filesAfter < filesBefore,
      s"stats pruning should read fewer files after clustering " +
        s"($filesAfter vs $filesBefore)")
    // pruned read returns exactly the matching rows' superset semantics:
    // the FILTERED result is identical either way
    val got = t.read(spark, dataFilters = filt)
      .filter(org.apache.spark.sql.functions.col("id") > 900)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == before.filter(_ > 900))
  }

  test("clusterBase on a STRING column: sampled UTF-8-ordered cuts, selective pruning, appends route through frozen cuts") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("sclust"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("skey", StringType)))
    t.create(sch, None, Map.empty)
    def key(i: Int) = f"dom-$i%04d.example"
    // interleaved appends: every dir spans the whole string domain
    val rnd = new scala.util.Random(11)
    val all = rnd.shuffle((1 to 800).toList)
    all.grouped(200).foreach { ids =>
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => Row(i, key(i))), 2), sch))
    }
    val before = t.read(spark).collect().map(_.getInt(0)).sorted.toSeq
    val filt = Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("skey", key(1)),
      org.apache.spark.sql.sources.LessThanOrEqual("skey", key(100)))
    val filesBefore = t.read(spark, dataFilters = filt).inputFiles.length
    t.clusterBase(spark, "skey", 8)
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == before,
      "string clustering changed the data")
    val filesAfter = t.read(spark, dataFilters = filt).inputFiles.length
    assert(filesAfter < filesBefore,
      s"string stats pruning should plan fewer files after clustering " +
        s"($filesAfter vs $filesBefore)")
    val got = t.read(spark, dataFilters = filt)
      .filter(org.apache.spark.sql.functions.col("skey")
        .between(key(1), key(100)))
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (1 to 100).toSeq)
    // arrivals route through the FROZEN string cuts: pruning stays
    // selective with no base rewrite, and the appended keys read back
    t.clusterAppend(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(
        (801 to 1000).map(i => Row(i, key(i))), 2), sch))
    val allFiles = t.read(spark).inputFiles.length
    val prunedFiles = t.read(spark, dataFilters = filt).inputFiles.length
    assert(prunedFiles < allFiles,
      s"pruning decayed after clusterAppend ($prunedFiles vs $allFiles)")
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 1000).toSeq)
    // a comma-bearing key survives the persisted-cuts round trip (cuts
    // are URL-encoded in the table property)
    val t2 = WarehouseTable(tmpDir("sclust2"))
    t2.create(sch, None, Map.empty)
    t2.append(spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1 to 100).map(i => Row(i, f"k,$i%03d")), 2), sch))
    t2.clusterBase(spark, "skey", 4)
    t2.clusterAppend(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(101, "k,zzz")), 1), sch))
    assert(t2.read(spark).count() == 101)
  }

  test("clusterBaseZ with a STRING column: one z layout prunes numeric AND string ranges; z columns refuse rename/drop") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("zsclust"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", IntegerType, nullable = false),
      StructField("skey", StringType)))
    t.create(sch, None, Map.empty)
    def key(i: Int) = f"dom-$i%04d"
    // x and skey are independent permutations: only a z layout can
    // serve range predicates on both at once
    val rows = (1 to 1000).map(i =>
      Row(i, (i * 7919) % 1000 + 1, key((i * 104729) % 1000 + 1)))
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), sch))
    val before = t.read(spark).collect().map(_.getInt(0)).sorted.toSeq
    t.clusterBaseZ(spark, Seq("x", "skey"), bitsPerCol = 4, nBuckets = 16)
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == before,
      "z clustering changed the data")
    val all = t.read(spark).inputFiles.length
    val fx = Seq(org.apache.spark.sql.sources.GreaterThan("x", 900))
    val fs = Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("skey", key(900)))
    assert(t.read(spark, dataFilters = fx).inputFiles.length < all,
      "numeric z column did not prune")
    assert(t.read(spark, dataFilters = fs).inputFiles.length < all,
      "string z column did not prune")
    // arrivals route through the frozen cuts (string cuts URL-decode)
    t.clusterAppend(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1001 to 1100).map(i => Row(i, (i * 7919) % 1000 + 1,
          key((i * 104729) % 1000 + 1))), 2), sch))
    assert(t.read(spark).count() == 1100)
    assert(t.read(spark, dataFilters = fs).inputFiles.length <
      t.read(spark).inputFiles.length, "pruning decayed after clusterAppend")
    // the z layout's columns are frozen — rename/drop must refuse (the
    // persisted cuts reference them by name)
    val e1 = intercept[IllegalArgumentException] {
      t.renameColumn("skey", "skey2")
    }
    assert(e1.getMessage.contains("cluster"))
    val e2 = intercept[IllegalArgumentException] { t.dropColumn("x") }
    assert(e2.getMessage.contains("cluster"))
  }

  test("clusterBaseZ: one layout prunes on BOTH clustered columns; contents unchanged") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("zord"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", IntegerType),
      StructField("y", IntegerType)))
    t.create(sch, None, Map.empty)
    // x and y are independent permutations of 1..2000: neither column is
    // correlated with the other, so single-column clustering could only
    // ever serve one of the two predicates below
    val rows = (1 to 2000).map(i =>
      Row(i, (i * 7919) % 2000 + 1, (i * 104729) % 2000 + 1))
    rows.grouped(500).foreach { chunk =>
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(chunk.toSeq, 2), sch))
    }
    val before = t.read(spark).collect().map(_.getInt(0)).sorted.toSeq
    val fx = Seq(org.apache.spark.sql.sources.GreaterThan("x", 1800))
    val fy = Seq(org.apache.spark.sql.sources.GreaterThan("y", 1800))
    val (fxBefore, fyBefore) = (
      t.read(spark, dataFilters = fx).inputFiles.length,
      t.read(spark, dataFilters = fy).inputFiles.length)
    t.clusterBaseZ(spark, Seq("x", "y"), bitsPerCol = 3, nBuckets = 16)
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == before)
    val all = t.read(spark).inputFiles.length
    val (fxAfter, fyAfter) = (
      t.read(spark, dataFilters = fx).inputFiles.length,
      t.read(spark, dataFilters = fy).inputFiles.length)
    assert(fxAfter < all && fyAfter < all,
      s"both columns should prune ($fxAfter, $fyAfter of $all files)")
    assert(fxAfter < fxBefore && fyAfter < fyBefore)
    // pruned reads stay exact
    val gx = t.read(spark, dataFilters = fx)
      .filter(org.apache.spark.sql.functions.col("x") > 1800)
      .collect().map(_.getInt(0)).toSet
    assert(gx == rows.filter(_.getInt(1) > 1800).map(_.getInt(0)).toSet)
    val gy = t.read(spark, dataFilters = fy)
      .filter(org.apache.spark.sql.functions.col("y") > 1800)
      .collect().map(_.getInt(0)).toSet
    assert(gy == rows.filter(_.getInt(2) > 1800).map(_.getInt(0)).toSet)
  }

  test("clusterBaseZ: bucket count honors nBuckets when it does not divide the z span") {
    import org.apache.spark.sql.Row
    import scala.jdk.CollectionConverters._
    // bitsPerCol=3, 2 cols -> zSpan=64; nBuckets=10 does not divide it.
    // A floor cut (per=6) would emit bucket id 10 — an 11th dir — and
    // break dir-count reasoning; the ceil cut keeps ids in [0, 10)
    val t = WarehouseTable(tmpDir("zceil"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", IntegerType),
      StructField("y", IntegerType)))
    t.create(sch, None, Map.empty)
    val rows = (1 to 1000).map(i =>
      Row(i, (i * 7919) % 1000 + 1, (i * 104729) % 1000 + 1))
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), sch))
    val before = t.read(spark).collect().map(_.getInt(0)).sorted.toSeq
    t.clusterBaseZ(spark, Seq("x", "y"), bitsPerCol = 3, nBuckets = 10)
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == before)
    val dataDirs = {
      val root = java.nio.file.Paths.get(t.root, "data")
      val l = java.nio.file.Files.list(root)
      try l.iterator().asScala.filter(java.nio.file.Files.isDirectory(_))
        .flatMap { d =>
          val l2 = java.nio.file.Files.list(d)
          try l2.iterator().asScala
            .filter(p => p.getFileName.toString.startsWith("__bucket="))
            .map(_.getFileName.toString).toList.iterator
          finally l2.close()
        }.toList
      finally l.close()
    }
    assert(dataDirs.nonEmpty && dataDirs.distinct.size <= 10,
      s"expected <= 10 bucket dirs, saw ${dataDirs.distinct.sorted}")
  }

  test("IncrementalRollup.commit: folds sum/min/max; replayed and stale batches are per-key no-ops") {
    import spark.implicits._
    import graft.operators.IncrementalRollup
    val table = WarehouseTable(tmpDir("rollup") + "/agg")
    val keys = Seq("k")
    val merges = Map("n" -> "sum", "mx" -> "max", "mn" -> "min")
    def commit(rows: Seq[(String, Long, Long, Long)], id: Long): Unit =
      IncrementalRollup.commit(spark,
        rows.toDF("k", "n", "mx", "mn"), keys, merges, table, id)
    def state(): Map[String, (Long, Long, Long)] =
      IncrementalRollup.read(spark, table)
        .select("k", "n", "mx", "mn")
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // raw multiplicity in one batch pre-aggregates before the fold
    commit(Seq(("a", 1L, 5L, 5L), ("a", 1L, 3L, 3L), ("b", 1L, 7L, 7L)), 1L)
    assert(state() == Map("a" -> ((2L, 5L, 3L)), "b" -> ((1L, 7L, 7L))))
    commit(Seq(("a", 1L, 9L, 9L), ("c", 1L, 2L, 2L)), 2L)
    val after2 = Map("a" -> ((3L, 9L, 3L)), "b" -> ((1L, 7L, 7L)),
      "c" -> ((1L, 2L, 2L)))
    assert(state() == after2)
    // checkpoint replay: same batch, same id — every touched key is
    // already marked, the non-idempotent fold must not re-apply
    commit(Seq(("a", 1L, 9L, 9L), ("c", 1L, 2L, 2L)), 2L)
    assert(state() == after2)
    // stale replay (restart from an older checkpoint): batch 1 again —
    // keys marked at or past id 1 all skip
    commit(Seq(("a", 1L, 5L, 5L), ("a", 1L, 3L, 3L), ("b", 1L, 7L, 7L)), 1L)
    assert(state() == after2)
  }

  test("clusterBase: sampled cuts (over the exact-quantile scale bound) keep reads exact and pruning selective") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("clsample"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("payload", StringType)))
    t.create(sch, None, Map.empty)
    val rows = scala.util.Random.shuffle((1 to 2000).toList)
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(i => Row(i, s"p$i")), 4), sch))
    // force the sampled path: every footer-counted base row is "over"
    // the bound — the 100 TB dispatch, exercised at spec scale
    spark.conf.set("spark.graft.cluster.exactQuantileMaxRows", "0")
    try t.clusterBase(spark, "id", 4)
    finally spark.conf.unset("spark.graft.cluster.exactQuantileMaxRows")
    // content is EXACTLY the pre-cluster table (the rewrite moved rows,
    // never changed them)
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 2000))
    // the layout still prunes: a top-range stats-filtered read plans
    // strictly fewer files than the full scan and agrees with it
    val full = t.read(spark).filter(org.apache.spark.sql.functions.col("id") > 1800)
      .collect().map(_.getInt(0)).toSet
    val pruned = t.read(spark,
      dataFilters = Seq(org.apache.spark.sql.sources.GreaterThan("id", 1800)))
    val prunedFiles = pruned.inputFiles.length
    val allFiles = t.read(spark).inputFiles.length
    assert(prunedFiles < allFiles,
      s"sampled cuts produced an unprunable layout ($prunedFiles/$allFiles)")
    assert(pruned.filter(org.apache.spark.sql.functions.col("id") > 1800).collect()
      .map(_.getInt(0)).toSet == full)
  }

  test("clusterAppend: arrivals route through frozen cuts; pruning stays selective with no base rewrite") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("clapp"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("payload", StringType)))
    t.create(sch, None, Map.empty)
    val rnd = new scala.util.Random(11)
    val first = rnd.shuffle((1 to 1000).toList).take(500)
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(first.map(i => Row(i, s"p$i")), 2), sch))
    t.clusterBase(spark, "id", 4)
    val baseDirs = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
      try l.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
      finally l.close()
    }
    // a second interleaved wave lands via clusterAppend — full domain
    // again, so an unsplit append dir would never prune
    val second = (1 to 1000).filterNot(first.contains)
    t.clusterAppend(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(
        rnd.shuffle(second.toList).map(i => Row(i, s"p$i")), 2), sch))
    // the base's files survive byte-identical — append never rewrites
    val afterDirs = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
      try l.iterator().asScala.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
      finally l.close()
    }
    assert(baseDirs.subsetOf(afterDirs))
    // contents = both waves exactly
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 1000).toSeq)
    // pruned scan reads fewer files than the table holds, and the
    // filtered answer is exact — arrivals' dirs prune like the base's
    val filt = Seq(org.apache.spark.sql.sources.GreaterThan("id", 900))
    val allFiles = t.read(spark).inputFiles.length
    val prunedFiles = t.read(spark, dataFilters = filt).inputFiles.length
    assert(prunedFiles < allFiles,
      s"expected pruning after clusterAppend ($prunedFiles vs $allFiles)")
    assert(t.read(spark, dataFilters = filt)
      .filter(org.apache.spark.sql.functions.col("id") > 900)
      .collect().map(_.getInt(0)).sorted.toSeq == (901 to 1000).toSeq)
    // an unclustered table refuses clusterAppend
    val plain = WarehouseTable(tmpDir("clapp_plain"))
    plain.create(sch, None, Map.empty)
    intercept[IllegalArgumentException] {
      plain.clusterAppend(spark, spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(1, "x")), 1), sch))
    }
  }

  test("snapshot tags pin releases through expiry; dropPartitions is metadata-only TTL") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("tags"))
    val sch = StructType(Seq(
      StructField("day", StringType, nullable = false),
      StructField("v", IntegerType)))
    t.create(sch, Some("day"), Map.empty)
    def rows(day: String, vs: Seq[Int]) = spark.createDataFrame(
      spark.sparkContext.parallelize(vs.map(v => Row(day, v)), 1), sch)
    t.append(rows("d1", Seq(1, 2)))
    t.tagSnapshot("v1-release")
    val taggedId = t.currentSnapshotId
    (1 to 8).foreach(i => t.append(rows(s"d$i", Seq(i * 10))))
    // expiry keeps the tagged snapshot alive alongside the recent window
    t.expireSnapshots(keepLast = 2)
    assert(t.tags == Map("v1-release" -> taggedId))
    assert(t.readTag(spark, "v1-release").collect().map(_.getInt(1)).sorted
      .toSeq == Seq(1, 2))
    // an untagged old snapshot IS gone
    intercept[IllegalArgumentException] {
      t.read(spark, asOf = Some(taggedId + 1))
    }
    // TTL: drop two day-partitions without touching a data file
    val filesBefore = t.read(spark).inputFiles.toSet
    val preDrop = t.currentSnapshotId
    assert(t.dropPartitions(Seq("d1", "d2")) == 2)
    val after = t.read(spark)
    assert(after.filter(col("day").isin("d1", "d2")).isEmpty)
    assert(after.count() > 0)
    assert(after.inputFiles.toSet.subsetOf(filesBefore)) // no rewrite
    // time travel to the pre-drop snapshot still sees the dropped days
    // (2 rows from the tagged append + 1 from the loop's d1 wave)
    assert(t.read(spark, asOf = Some(preDrop))
      .filter(col("day") === "d1").count() == 3)
    // dropping an absent partition is a no-op count
    assert(t.dropPartitions(Seq("nope")) == 0)
    // tags on unpartitioned-table guard
    val plain = WarehouseTable(tmpDir("tags_plain"))
    plain.create(StructType(Seq(StructField("x", IntegerType))), None, Map.empty)
    intercept[IllegalArgumentException] { plain.dropPartitions(Seq("a")) }
  }

  test("partition-spec evolution: metadata-only, mixed-spec reads exact, merge migrates, guards hold") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = WarehouseTable(tmpDir("evo"))
    t.create(schema, Some("state"), Map.empty)
    t.append(df((1, "x", "CA"), (2, "y", "NY"), (3, "x", "CA")))
    val snapA = t.currentSnapshotId
    val filesBefore = t.read(spark).inputFiles.toSet
    // evolution is metadata-only: same data files afterwards
    t.evolvePartition("v")
    assert(t.partitionColumn.contains("v"))
    assert(t.read(spark).inputFiles.toSet == filesBefore)
    t.append(df((4, "x", "TX"), (5, "z", "WA")))
    // full read sees both specs' rows
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3, 4, 5))
    // pruned read on the NEW spec: new-spec dirs prune by key, legacy
    // dirs are always planned (k 1,2,3) — exactly the swept-in superset
    val pruned = t.read(spark, Some(Seq("x"))).collect().map(_.getInt(0)).sorted.toSeq
    assert(pruned == Seq(1, 2, 3, 4))
    assert(!pruned.contains(5)) // new-spec dir v=z DID prune
    // time travel across the evolution is untouched
    assert(t.read(spark, asOf = Some(snapA)).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2, 3))
    // COW merge on the mixed layout: updates a key living in a legacy dir,
    // migrates the swept-in legacy dirs, and leaves no ghost copy
    t.merge(spark, df((2, "y2", "NY"), (6, "w", "OR")), Seq("k"))
    val merged = t.read(spark)
    assert(merged.count() == 6)
    assert(merged.filter(col("k") === 2).collect().map(_.getString(1)).toSeq == Seq("y2"))
    // partial-rewrite maintenance refuses on an evolved table
    intercept[IllegalArgumentException] { t.dropPartitions(Seq("x")) }
    intercept[IllegalArgumentException] { t.compactBase(spark) }
    // explicit migration: uniform layout afterwards, contents unchanged,
    // and new-spec pruning is now exact (nothing legacy to sweep in)
    t.rewriteToCurrentSpec(spark)
    assert(t.read(spark).count() == 6)
    assert(t.read(spark, Some(Seq("x"))).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 3, 4))
    // None -> Some evolution: legacy unpartitioned dirs keep reading
    val u = WarehouseTable(tmpDir("evo_u"))
    u.create(schema, None, Map.empty)
    u.append(df((1, "a", "CA"), (2, "b", "NY")))
    u.evolvePartition("state")
    u.append(df((3, "c", "CA")))
    assert(u.read(spark).collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))
    assert(u.read(spark, Some(Seq("CA"))).collect().map(_.getInt(0)).sorted
      .toSeq == Seq(1, 2, 3)) // legacy dirs swept in, new CA dir kept
    // spec drop is rejected; re-evolving to the same col is rejected
    intercept[IllegalArgumentException] { u.evolvePartition("state") }
  }

  test("bloom index: equality probes skip dirs stats cannot; no false negatives; incremental refresh") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources.{And, EqualTo, GreaterThan, In}
    val t = WarehouseTable(tmpDir("bloomix"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("key", StringType)))
    t.create(sch, None, Map.empty)
    // 4 dirs, each spanning the FULL id range with interleaved keys —
    // min/max stats can never prune an equality probe on `key`
    def wave(w: Int) = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (w until 1000 by 4).map(i => Row(i, s"k$i")), 1), sch)
    (0 until 4).foreach(w => t.append(wave(w)))
    assert(t.buildBloomIndex(spark, "key") == 4)
    val all = t.read(spark).inputFiles.length
    // present key: only its own dir survives the bloom skip
    val hit = t.read(spark, dataFilters = Seq(EqualTo("key", "k10")))
    assert(hit.inputFiles.length < all)
    assert(hit.filter(col("key") === "k10").collect().map(_.getInt(0)).toSeq
      == Seq(10))
    // absent key: everything prunes, answer stays exact (empty)
    val miss = t.read(spark, dataFilters = Seq(EqualTo("key", "nope")))
    assert(miss.inputFiles.isEmpty &&
      miss.filter(col("key") === "nope").isEmpty)
    // In over two dirs' keys keeps (at most) those two dirs
    val in2 = t.read(spark,
      dataFilters = Seq(In("key", Array[Any]("k1", "k2"))))
    assert(in2.inputFiles.length <= 2)
    assert(in2.filter(col("key").isin("k1", "k2"))
      .collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2))
    // composes with stats pruning under And
    val both = t.read(spark,
      dataFilters = Seq(And(EqualTo("key", "k10"), GreaterThan("id", 5))))
    assert(both.inputFiles.length < all)
    // an un-bloomed arrival dir is conservatively kept: answers stay
    // exact for keys in it, then the refresh indexes ONLY the new dir
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5000, "fresh")), 1), sch))
    val freshHit = t.read(spark, dataFilters = Seq(EqualTo("key", "fresh")))
    assert(freshHit.filter(col("key") === "fresh")
      .collect().map(_.getInt(0)).toSeq == Seq(5000))
    assert(t.buildBloomIndex(spark, "key") == 1)
    assert(t.buildBloomIndex(spark, "key") == 0) // re-run: no-op
    assert(t.read(spark, dataFilters = Seq(EqualTo("key", "fresh")))
      .inputFiles.length < t.read(spark).inputFiles.length)
    // geometry is part of the index format
    intercept[IllegalArgumentException] {
      t.buildBloomIndex(spark, "key", mBits = 1 << 12)
    }
  }

  test("bloom index on an added or a renamed column reads the declared schema") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.sources.EqualTo
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("key", StringType)))
    def frame(s: StructType, rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), s)
    def ids(df: DataFrame, c: String, v: String): Seq[Int] =
      df.filter(col(c) === v).collect().map(_.getInt(0)).toSeq.sorted

    // added: the pre-add dir reads `tag` NULL, so its bloom is all zeros
    // and every probe skips it
    val a = WarehouseTable(tmpDir("bloom_added"))
    a.create(sch, None, Map.empty)
    a.append(frame(sch, (0 until 20).map(i => Row(i, s"k$i"))))
    val preAdd = a.read(spark).inputFiles.toSet
    a.addColumn("tag", StringType)
    val tagged = StructType(sch.fields :+ StructField("tag", StringType))
    a.append(frame(tagged, (20 until 40).map(i => Row(i, s"k$i", s"t${i % 4}"))))
    assert(a.buildBloomIndex(spark, "tag") == 2)
    val hit = a.read(spark, dataFilters = Seq(EqualTo("tag", "t1")))
    assert(ids(hit, "tag", "t1") == (20 until 40).filter(_ % 4 == 1))
    assert(hit.inputFiles.nonEmpty && hit.inputFiles.toSet.intersect(preAdd).isEmpty)

    // renamed: the pre-rename dir is indexed under its prior physical name
    val r = WarehouseTable(tmpDir("bloom_renamed"))
    r.create(sch, None, Map.empty)
    r.append(frame(sch, (0 until 20).map(i => Row(i, s"k$i"))))
    val preRename = r.read(spark).inputFiles.toSet
    r.renameColumn("key", "label")
    val relabeled = StructType(Seq(sch.fields(0), StructField("label", StringType)))
    r.append(frame(relabeled, (20 until 40).map(i => Row(i, s"k$i"))))
    assert(r.buildBloomIndex(spark, "label") == 2)
    val old = r.read(spark, dataFilters = Seq(EqualTo("label", "k3")))
    assert(ids(old, "label", "k3") == Seq(3))
    assert(old.inputFiles.toSet == preRename)
    val fresh = r.read(spark, dataFilters = Seq(EqualTo("label", "k33")))
    assert(ids(fresh, "label", "k33") == Seq(33))
    assert(fresh.inputFiles.nonEmpty && fresh.inputFiles.toSet.intersect(preRename).isEmpty)
  }

  test("a malformed compact.delta.threshold refuses MOR writes before they write anything") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("badthreshold"))
    t.create(schema, Some("state"), WarehouseTable.tableProperties("MOR", "snappy"))
    t.append(df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "NY")))
    t.setProperties(Map("compact.delta.threshold" -> "abc"))
    def dirs(sub: String): Set[String] = {
      val d = java.nio.file.Paths.get(t.root, sub)
      if (!java.nio.file.Files.isDirectory(d)) Set.empty
      else {
        val walk = java.nio.file.Files.walk(d)
        try { import scala.jdk.CollectionConverters._
          walk.iterator().asScala.map(_.toString).toSet
        } finally walk.close()
      }
    }
    val snap = t.currentSnapshotId
    val before = (dirs("data"), dirs("posdel"))
    def refused(write: => Any): Unit = {
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage.contains("compact.delta.threshold"), e.getMessage)
      assert(t.currentSnapshotId == snap)
      assert((dirs("data"), dirs("posdel")) == before)
    }
    refused(t.merge(spark, df((1, "x", "CA")), Seq("k", "state")))
    refused(t.deleteKeysMor(spark, df((2, "b", "NY")), Seq("k", "state")))
    refused(t.deleteWhereMor(spark, col("k") === 3))
    t.setProperties(Map("compact.delta.threshold" -> "8"))
    t.merge(spark, df((1, "x", "CA")), Seq("k", "state"))
    assert(t.currentSnapshotId == snap + 1)
    assert(t.read(spark).collect().map(r => r.getInt(0) -> r.getString(1)).toSet ==
      Set(1 -> "x", 2 -> "b", 3 -> "c"))
  }

  test("a malformed commit.retry.max-attempts refuses rebasing writes before they write anything") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("badretry"))
    t.create(schema, Some("state"), WarehouseTable.tableProperties("MOR", "snappy"))
    t.append(df((1, "a", "CA"), (2, "b", "NY"), (3, "c", "NY")))
    def dirs(sub: String): Set[String] = {
      val d = java.nio.file.Paths.get(t.root, sub)
      if (!java.nio.file.Files.isDirectory(d)) Set.empty
      else {
        val walk = java.nio.file.Files.walk(d)
        try { import scala.jdk.CollectionConverters._
          walk.iterator().asScala.map(_.toString).toSet
        } finally walk.close()
      }
    }
    for (bad <- Seq("abc", "0")) {
      t.setProperties(Map("commit.retry.max-attempts" -> bad))
      val snap = t.currentSnapshotId
      val before = (dirs("data"), dirs("posdel"))
      def refused(write: => Any): Unit = {
        val e = intercept[IllegalArgumentException](write)
        assert(e.getMessage.contains("commit.retry.max-attempts"), e.getMessage)
        assert(t.currentSnapshotId == snap)
        assert((dirs("data"), dirs("posdel")) == before)
      }
      refused(t.append(df((4, "d", "TX"))))
      refused(t.merge(spark, df((1, "x", "CA")), Seq("k", "state")))
      refused(t.deleteKeysMor(spark, df((2, "b", "NY")), Seq("k", "state")))
      refused(t.deleteWhereMor(spark, col("k") === 3))
    }
    t.setProperties(Map("commit.retry.max-attempts" -> "1"))
    t.append(df((4, "d", "TX")))
    t.merge(spark, df((1, "x", "CA")), Seq("k", "state"))
    assert(t.read(spark).collect().map(r => r.getInt(0) -> r.getString(1)).toSet ==
      Set(1 -> "x", 2 -> "b", 3 -> "c", 4 -> "d"))
  }

  test("clusterAppend with batchId: replays replace their own dirs — same-id and crash-retry converge") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("clapp_bid"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("payload", StringType)))
    t.create(sch, None, Map.empty)
    def df(ids: Seq[Int]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i, s"p$i")), 2), sch)
    t.append(df(1 to 400))
    t.clusterBase(spark, "id", 4)
    t.clusterAppend(spark, df(401 to 700), Some(0L))
    t.clusterAppend(spark, df(701 to 1000), Some(1L))
    val full = (1 to 1000).toSeq
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == full)
    // checkpoint replay of batch 1: identical content lands ONCE
    t.clusterAppend(spark, df(701 to 1000), Some(1L))
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == full)
    // stale-checkpoint replay of batch 0 too
    t.clusterAppend(spark, df(401 to 700), Some(0L))
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq == full)
    // untagged appends keep the old accumulate semantics
    t.clusterAppend(spark, df(Seq(1001)))
    t.clusterAppend(spark, df(Seq(1002)))
    assert(t.read(spark).count() == 1002)
    // pruning still holds across tagged + untagged dirs
    val filt = Seq(org.apache.spark.sql.sources.GreaterThan("id", 900))
    assert(t.read(spark, dataFilters = filt).inputFiles.length <
      t.read(spark).inputFiles.length)
  }

  test("clusterAppend after clusterBaseZ: z-routed arrivals prune on every clustered column") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("clappz"))
    val sch = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("x", IntegerType),
      StructField("y", IntegerType)))
    t.create(sch, None, Map.empty)
    val rows = (1 to 2000).map(i =>
      Row(i, (i * 7919) % 1000 + 1, (i * 104729) % 1000 + 1))
    val (h1, h2) = rows.splitAt(1000)
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(h1, 2), sch))
    t.clusterBaseZ(spark, Seq("x", "y"), bitsPerCol = 3, nBuckets = 8)
    t.clusterAppend(spark,
      spark.createDataFrame(spark.sparkContext.parallelize(h2, 2), sch))
    assert(t.read(spark).collect().map(_.getInt(0)).sorted.toSeq ==
      (1 to 2000).toSeq)
    val fx = Seq(org.apache.spark.sql.sources.GreaterThan("x", 900))
    val fy = Seq(org.apache.spark.sql.sources.GreaterThan("y", 900))
    val all = t.read(spark).inputFiles.length
    assert(t.read(spark, dataFilters = fx).inputFiles.length < all)
    assert(t.read(spark, dataFilters = fy).inputFiles.length < all)
    val gx = t.read(spark, dataFilters = fx)
      .filter(org.apache.spark.sql.functions.col("x") > 900)
      .collect().map(_.getInt(0)).toSet
    assert(gx == rows.filter(_.getInt(1) > 900).map(_.getInt(0)).toSet)
  }

  test("clusterBase on a partitioned table: buckets nest within partitions, pruning composes") {
    import org.apache.spark.sql.Row
    val t = WarehouseTable(tmpDir("pclust"))
    t.create(schema, Some("state"), Map.empty)
    val rnd = new scala.util.Random(11)
    // two appends per state: every dir spans nearly the full k range, so
    // stats alone can prune nothing before clustering
    (0 until 2).foreach { _ =>
      val rows = Seq("CA", "NY").flatMap(st =>
        rnd.shuffle((1 to 400).toList).take(200).map(k => Row(k, s"v$k", st)))
      t.append(spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema))
    }
    val before = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    t.clusterBase(spark, "k", 4)
    val after = t.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).sorted.toSeq
    assert(after == before)
    val filt = Seq(org.apache.spark.sql.sources.GreaterThan("k", 350))
    // partition pruning still works, and stats pruning now composes
    val caAll = t.read(spark, Some(Seq("CA"))).inputFiles.length
    val caPruned = t.read(spark, Some(Seq("CA")), dataFilters = filt)
      .inputFiles.length
    assert(caPruned < caAll,
      s"stats should prune within the partition ($caPruned of $caAll)")
    val got = t.read(spark, Some(Seq("CA")), dataFilters = filt)
      .filter(org.apache.spark.sql.functions.col("k") > 350)
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == before.filter(r => r._3 == "CA" && r._1 > 350)
      .map(_._1).sorted.toSeq)
  }

  test("merge with evolveSchema adds new source columns; old rows read NULL") {
    import org.apache.spark.sql.functions.col
    val t = WarehouseTable(tmpDir("wh_evo"))
    t.create(schema, Some("state"), WarehouseTable.tableProperties("COW", "snappy"))
    t.merge(spark, df((1, "a", "CA"), (2, "b", "NY")), Seq("k"))
    // second batch carries a column the table lacks
    val evolved = df((2, "B", "NY"), (3, "c", "CA"))
      .withColumn("score", col("k") * 10)
    t.merge(spark, evolved, Seq("k"), evolveSchema = true)
    assert(t.schema.fieldNames.toSeq ==
      Seq("k", "v", "state", "score"))
    val got = t.read(spark).select("k", "v", "score").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2)))).toSet
    assert(got == Set((1, "a", None), (2, "B", Some(20)), (3, "c", Some(30))))
    // without the flag, unknown source columns are still dropped by align
    t.merge(spark, df((4, "d", "TX")), Seq("k"))
    assert(t.read(spark).count() == 4)
  }

  test("alignToSchema casts and fills missing columns") {
    val t = WarehouseTable(tmpDir("wh"))
    t.create(schema, None, Map.empty)
    import spark.implicits._
    val wide = Seq((1L, "x")).toDF("k", "v") // k is long, no state column
    val aligned = t.alignToSchema(wide, schema)
    assert(aligned.schema.map(_.dataType) == Seq(IntegerType, StringType, StringType))
    val r = aligned.collect().head
    assert(r.getInt(0) == 1 && r.getString(1) == "x" && r.isNullAt(2))
  }
}
