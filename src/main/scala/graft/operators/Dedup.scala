package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-record-per-key dedup — the reference's one relational query
  * (`/root/reference/spark-job/mergeSQL.sql:14-21`: `ROW_NUMBER() OVER
  * (PARTITION BY invoiceid, itemid ORDER BY replicadmstimestamp DESC)`
  * + `WHERE row_num = 1`), generalized to any key/order columns.
  *
  * Scale notes:
  *  - The `rn = 1` filter over a ranking window is rewritten by Catalyst's
  *    `InferWindowGroupLimit` into `WindowGroupLimitExec` (top-1 per group
  *    with partial + final stages), so the shuffle carries at most one row
  *    per key per map partition — this is the map-side-combine shape you
  *    want at 100 TB, not a full sort of every group.
  *  - The reference's ordering is non-deterministic on timestamp ties
  *    (SURVEY.md §2.2); we always append deterministic tiebreak columns so
  *    reruns and the DuckDB oracle agree bit-for-bit.
  */
object Dedup {

  /** Keep the single latest row per key.
    *
    * @param keys      partition keys (the business key)
    * @param orderDesc column ranked descending (event time); ties broken by
    *                  `tiebreakDesc` columns, also descending.
    */
  def latestByKey(
      df: DataFrame,
      keys: Seq[String],
      orderDesc: String,
      tiebreakDesc: Seq[String] = Nil): DataFrame = {
    val ord: Seq[Column] = (orderDesc +: tiebreakDesc).map(c => col(c).desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact duplicate removal by a set of columns: keeps the row with the
    * smallest `keepMin` value within each duplicate group (deterministic,
    * unlike `dropDuplicates` which keeps an arbitrary row).
    */
  def exactByColumns(df: DataFrame, cols: Seq[String], keepMin: String): DataFrame = {
    val w = Window.partitionBy(cols.map(col): _*).orderBy(col(keepMin).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Connected components over a near-dup pair set — the DECISION step of
    * a dedup pipeline: pair detection (q11/q12/q13/q24/q35) says "a ~ b";
    * this groups the transitive closure into clusters so exactly one
    * canonical document per cluster survives. Returns (id, cluster) for
    * EVERY id in `ids`, where cluster = the minimum id reachable through
    * the pair graph (singletons map to themselves) — the deterministic
    * "keep the oldest" policy.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the edge
    * set itself is contracted toward one star per component centered at the
    * component minimum:
    *
    *  - large-star: every node attaches its LARGER neighbors to the
    *    minimum of its neighborhood (incl. itself);
    *  - small-star: with edges oriented large→small, every node attaches
    *    its smaller neighbors and itself to that minimum.
    *
    * Convergence is O(log n) rounds INDEPENDENT of cluster diameter — the
    * previous min-label-propagation version moved labels one hop per round
    * and aborted at 20 rounds, which a chain of versioned near-identical
    * documents (diameter > 20) hits by construction at corpus scale. Each
    * round is two window-min passes + distinct (plain shuffles, no driver
    * data); the driver sees only a (count, xor-of-hashes) fingerprint per
    * round for the fixpoint test.
    *
    * Storage note: each round's frame is local-checkpointed to cut lineage,
    * and the PREVIOUS round's checkpoint blocks are unpersisted explicitly
    * as soon as the new round is materialized — at most two edge-set-sized
    * frames are pinned at any moment, regardless of round count. The final
    * round's blocks stay pinned (the returned plan reads them) until the
    * ContextCleaner reclaims the frame.
    */
  def connectedComponents(
      ids: DataFrame,   // id
      pairs: DataFrame, // d1, d2 (undirected)
      maxRounds: Int = 50): DataFrame =
    connectedComponentsWithRounds(ids, pairs, maxRounds)._1

  /** As `connectedComponents`, also returning the round count — exposed so
    * specs can assert the O(log n) bound on adversarially deep graphs.
    */
  private[graft] def connectedComponentsWithRounds(
      ids: DataFrame,
      pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val sc = ids.sparkSession.sparkContext
    val np = sc.defaultParallelism

    // local checkpoint + the RDD blocks it pinned, so the superseded
    // round's storage can be freed eagerly (the Dataset API exposes no
    // direct handle to a localCheckpoint's blocks; the persistent-RDD
    // registry diff is the public seam — this loop is the only thing
    // creating checkpoints between the two snapshots)
    def checkpointTracked(df: DataFrame): (DataFrame, Seq[org.apache.spark.rdd.RDD[_]]) = {
      val before = sc.getPersistentRDDs.keySet
      val cp = df.localCheckpoint() // eager: materialized here
      val pinned = sc.getPersistentRDDs.collect {
        case (k, r) if !before.contains(k) => r
      }.toSeq
      (cp, pinned)
    }

    // large-star: for each u, attach neighbors v > u to min(N(u) ∪ {u})
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("src"), col("dst"))
        .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val w = Window.partitionBy(col("src"))
      sym.withColumn("m", least(min(col("dst")).over(w), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    // small-star: orient large→small; attach smaller neighbors and self
    // to the neighborhood minimum
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(
          greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val w = Window.partitionBy(col("src"))
      val withMin = directed.withColumn("m", least(min(col("dst")).over(w), col("src")))
      withMin.select(col("dst").as("src"), col("m").as("dst"))
        .unionByName(withMin.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    // order-independent set fingerprint: row count + xor of per-edge
    // hashes. Equal fingerprints on consecutive rounds = fixpoint (the
    // alternation's only fixpoints are min-centered star sets).
    def fingerprint(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("src"), col("dst")).as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"))
        .head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var (edges, pinned) = checkpointTracked(
      pairs.select(col("d1").as("src"), col("d2").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        // explicit partitioning (AQE-exempt): edge frames are tiny by
        // bytes, the per-round passes must stay parallel
        .repartition(np, col("src")))
    // DRIVER FAST PATH for small edge sets (guide §8: decide with small
    // rows): the deduped edge list is already materialized (eager local
    // checkpoint above), so its count is one cheap job. Under the
    // threshold — long-typed keys, edge count ≤
    // spark.graft.cc.localEdgeThreshold (default 200k ⇒ ≤ ~3 MB of
    // longs on the driver, broadcast-sized) — a union-find with path
    // compression computes the IDENTICAL min-label assignment in one
    // collect instead of ~log(n) rounds × 4 shuffles each. This is the
    // common shape at 100 TB too: incremental folds contract
    // TOUCHED-COMPONENT subgraphs (batch-bounded), not the corpus; the
    // full-corpus seed build stays distributed by the threshold. Set the
    // conf to 0 to pin the distributed contraction (the round-bound
    // specs do).
    val localMax = ids.sparkSession.conf
      .get("spark.graft.cc.localEdgeThreshold", "200000").toLong
    val longKeyed = Seq("src", "dst").forall(c =>
      edges.schema(c).dataType == org.apache.spark.sql.types.LongType)
    // gate probe bounded by the THRESHOLD, not the edge set:
    // limit(k+1).count() early-outs once k+1 rows exist, so an
    // over-threshold seed build never pays a full count of its
    // (checkpointed) edges just to learn it must stay distributed — and
    // unlike a limit(k+1).collect() probe, NOTHING row-shaped reaches
    // the driver on the over-threshold path (a user-raised threshold of
    // 10^7+ would otherwise make the gate itself a driver-memory hazard
    // exactly on the inputs that must stay distributed). The count's
    // single-partition shuffle moves up to numPartitions·(k+1) rows (each
    // partition's local limit keeps k+1), never to the driver.
    // `limit` takes an Int and k+1 must fit, so a threshold above
    // Int.MaxValue - 1 skips the probe and stays distributed.
    val underBound =
      longKeyed && localMax > 0 && localMax <= Int.MaxValue - 1 &&
        edges.limit(localMax.toInt + 1).count() <= localMax
    if (underBound) {
      val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      pinned.foreach(_.unpersist(blocking = false))
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
        var c = x // path-compress the walked chain
        while (parent.getOrDefault(c, c) != r) {
          val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
        }
        r
      }
      es.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) { // min root wins: the label IS the component min
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val members = new java.util.HashSet[Long]()
      es.foreach { case (a, b) => members.add(a); members.add(b) }
      import scala.jdk.CollectionConverters._
      val labelRows = members.asScala.iterator.flatMap { v =>
        val r = find(v)
        if (r != v) Some(Row(v, r)) else None
      }.toSeq
      val sp = ids.sparkSession
      val labels = sp.createDataFrame(
        sp.sparkContext.parallelize(labelRows, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("cluster",
            org.apache.spark.sql.types.LongType))))
      val out = ids.join(broadcast(labels), Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
      return (out, 0)
    }
    var prev: Option[(Long, Long)] = None
    var rounds = 0
    var converged = edges.isEmpty
    while (!converged && rounds < maxRounds) {
      val (next, nextPinned) =
        checkpointTracked(smallStar(largeStar(edges)).repartition(np, col("src")))
      val cur = fingerprint(next)
      converged = prev.contains(cur)
      prev = Some(cur)
      // `next` is materialized (eager checkpoint) — the previous round's
      // blocks are now unreachable from any future computation
      pinned.foreach(_.unpersist(blocking = false))
      edges = next
      pinned = nextPinned
      rounds += 1
    }
    // With O(log n) convergence this bound is a genuine-bug backstop
    // (maxRounds = 50 covers components of ~2^50 nodes), not a data-shape
    // hazard like the old diameter-bounded propagation.
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds")
    val labels = edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("cluster"))
    val out = ids.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
    (out, rounds)
  }

  /** Corpus snapshot diff — the version-management tool a periodically
    * re-crawled corpus needs: classify every document across two
    * snapshots as `added` / `removed` / `changed` / `unchanged` by key +
    * content fingerprint. Downstream, `added ∪ changed` is exactly the
    * incremental-dedup arrival set ([[TextDedup.dedupAgainstCorpus]]) and
    * `removed` drives retention/tombstoning — this is the planning query
    * in front of both.
    *
    * Scale shape: fingerprints are map-side (md5 per row); the comparison
    * is ONE full-outer equi-join on the key — no windows, no skew hazard
    * beyond the join key itself (document ids are unique per side).
    */
  def corpusDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("id"), md5(col(textCol)).as("fp_old"))
    val n = newDocs.select(col(idCol).as("id"), md5(col(textCol)).as("fp_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, lit("added"))
          .when(col("fp_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")))
  }

  /** Cross-source exact-overlap matrix — "how much of source A is also in
    * source B": for every unordered source pair, the number of distinct
    * normalized-content fingerprints present in BOTH. The planning report
    * in front of mixture construction (double-counted mass inflates a
    * source's effective weight) and of dataset licensing/contamination
    * review — the reference has nothing like it; real corpus curation
    * runs it constantly.
    *
    * Scale shape: one map-side fingerprint pass, one DISTINCT per
    * (source, fp) — collapsing within-source duplicates so the pair count
    * is about cross-source mass only — then ONE fp-keyed self equi-join
    * (columns renamed apart: same-lineage equi-keys can collapse to a
    * nested-loop join, the q47 rule) with `src_a < src_b` keeping the
    * pair space triangular. Fanout per fp is (#sources carrying it)² —
    * bounded by the source count, not the corpus.
    */
  def crossSourceOverlap(
      docs: DataFrame,
      textCol: String,
      srcCol: String): DataFrame = {
    val fps = docs
      .select(col(srcCol).as("src"),
        graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      .distinct()
    val a = fps.select(col("src").as("src_a"), col("fp").as("fp_a"))
    val b = fps.select(col("src").as("src_b"), col("fp").as("fp_b"))
    a.join(b, col("fp_a") === col("fp_b") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** INCREMENTAL connected components — fold newly-mined near-dup edges
    * (and newly-arrived ids) into an existing cluster assignment WITHOUT
    * replaying the full edge history. The existing assignment is itself
    * a spanning star forest of the old graph (every id points at its
    * component minimum), so components over
    * `assignment-edges ∪ new-edges` equal components over
    * `all-old-edges ∪ new-edges` — the fold contracts in the same
    * O(log n) large-star/small-star rounds, but its input is n
    * assignment rows + the arrival batch's edges instead of every pair
    * the corpus ever produced. That is the difference between an
    * arrival-bound nightly job and re-clustering 100 TB of pair history.
    * Edge mining for the arrivals composes with
    * [[TextDedup.dedupAgainstCorpus]] (arrival-vs-corpus candidates) —
    * this operator is the CLUSTER-maintenance half.
    *
    * Replay-idempotent: folding the same arrivals twice is a no-op
    * (their edges and ids are already absorbed; min labels can't change).
    */
  def incrementalComponents(
      assignment: DataFrame, // id, cluster (a prior connectedComponents)
      newIds: DataFrame,     // id — arrivals
      newPairs: DataFrame,   // d1, d2 — edges touching arrivals
      maxRounds: Int = 50): DataFrame = {
    // Edge endpoints join the vertex set too: an endpoint in neither the
    // stored assignment nor the arrivals (a corpus doc never seeded into
    // the cluster table) would otherwise get NO assignment row
    // (connectedComponents drops non-id vertices), and a later batch
    // connecting through that same doc could mint a DIFFERENT label for
    // the same true component. Unioning endpoints makes every connecting
    // vertex persist, so labels stay globally consistent without a
    // pre-seeding precondition on callers.
    val ids = assignment.select(col("id"))
      .unionByName(newIds.select(col("id")))
      .unionByName(newPairs.select(col("d1").as("id")))
      .unionByName(newPairs.select(col("d2").as("id")))
      .distinct()
    val oldEdges = assignment
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as("d1"), col("cluster").as("d2"))
    connectedComponents(
      ids, oldEdges.unionByName(newPairs.select(col("d1"), col("d2"))),
      maxRounds)
  }

  /** Cluster assignment AT REST — the persisted twin of
    * [[incrementalComponents]], completing the at-rest family (minhash /
    * IVF / pHash / KMV / CMS indexes all commit incrementally; the
    * CLUSTER table they feed should too). The warehouse table holds
    * `(id, cluster)`; each arrival batch folds its ids + freshly-mined
    * edges in and MERGEs only the rows that could have changed.
    *
    * The commit is TOUCHED-COMPONENT-BOUND, not corpus-bound: only
    * components containing an endpoint of a new edge can change, so the
    * fold first resolves the touched ids' clusters (one semi-join),
    * pulls exactly those components' members, and contracts that
    * subgraph plus the arrivals. An arrival batch touching k small
    * clusters reads and rewrites ~their members, never the corpus — the
    * same pruning rule every other at-rest commit here obeys. (Labels
    * stay globally consistent: a component's label is its min member id,
    * and merging touched components can only involve members already in
    * the pulled subgraph.)
    *
    * Replay-idempotent: re-committing a batch re-derives the same
    * labels (its ids and edges are already absorbed — the spec's no-op
    * gate) and the keyed MERGE upserts identical rows.
    */
  def componentsCommit(
      spark: org.apache.spark.sql.SparkSession,
      newIds: DataFrame,   // id — arrivals
      newPairs: DataFrame, // d1, d2 — edges touching arrivals
      table: graft.table.WarehouseTable): Unit = {
    if (!table.exists) {
      // same endpoint-union rule as incrementalComponents: an endpoint
      // appearing only in an edge still gets a persisted assignment row,
      // so later batches connecting through it resolve the same label
      val ids = newIds.select(col("id"))
        .unionByName(newPairs.select(col("d1").as("id")))
        .unionByName(newPairs.select(col("d2").as("id")))
        .distinct()
      val assignment = connectedComponents(ids, newPairs)
      // MOR: the cluster table is doc-count-sized and unpartitioned, so a
      // COW merge is a full-table rewrite per arrival batch — corpus-bound,
      // the one cost this commit's touched-component pruning exists to
      // avoid. MOR keeps the write O(changed assignments); reads arbitrate
      // and the delta threshold folds periodically.
      table.create(assignment.schema,
        properties =
          graft.table.WarehouseTable.tableProperties("MOR", "snappy"))
      table.merge(spark, assignment, Seq("id"))
    } else {
      val stored = table.read(spark).select(col("id"), col("cluster"))
      val touchedIds = newPairs.select(col("d1").as("id"))
        .unionByName(newPairs.select(col("d2").as("id")))
        .unionByName(newIds.select(col("id")))
        .distinct()
      val touchedClusters = stored
        .join(touchedIds, Seq("id"), "left_semi")
        .select(col("cluster")).distinct()
      val affected = stored.join(touchedClusters, Seq("cluster"), "left_semi")
        .select(col("id"), col("cluster"))
      val folded = incrementalComponents(affected, newIds, newPairs)
      table.merge(spark, folded, Seq("id"))
    }
  }

  /** Apply a clustering's KEEP-ONE decision to the at-rest corpus —
    * the materialization step after [[connectedComponents]] decides and
    * before training reads: every row whose id is not its component's
    * label (the min member) is DELETED from the warehouse table via a
    * keyed merge-delete. Tag-then-materialize beats filter-on-read at
    * scale: the decision is computed once and every downstream consumer
    * (packing, mixtures, exports) reads the clean table with zero
    * per-read filter cost.
    *
    * Scale shape: the duplicate id set (assignment rows with
    * `id ≠ cluster` — duplicate-count-sized, not corpus-sized) semi-joins
    * the table read to recover full rows, and the merge's partition
    * discovery rewrites ONLY the partitions carrying a duplicate (COW) —
    * an untouched partition's files survive byte-identical. Replay-safe:
    * deleting already-deleted keys matches nothing and rewrites nothing.
    */
  def keepOneMaterialize(
      spark: org.apache.spark.sql.SparkSession,
      table: graft.table.WarehouseTable,
      assignment: DataFrame, // id, cluster
      idCol: String): Unit = {
    val dupIds = assignment.filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    val dupRows = table.read(spark).join(dupIds, Seq(idCol), "left_semi")
    table.merge(spark, dupRows, Seq(idCol), deleteWhere = Some(lit(true)))
  }

  /** Train/valid/test LEAKAGE audit — near-duplicate pairs that CROSS a
    * split boundary: the eval-integrity gate every corpus release runs
    * after split assignment (a validation doc whose near-duplicate sits
    * in train silently inflates every benchmark number). Takes the
    * verified near-dup pair table ([[TextDedup.verifyPairs]] output —
    * `(d1, d2, jaccard)`) and the split assignment (`(id, split)`, built
    * with [[Sampling.shard]]'s deterministic md5 cuts) and labels every
    * pair with both sides' splits plus a `leaks` flag. The caller fixes
    * leaks by moving whole near-dup CLUSTERS ([[connectedComponents]])
    * to one side — this audit is the detector in front of that repair.
    *
    * Scale shape: two id-keyed equi-joins of the pair table against the
    * split table — pair-table-sized, never corpus-quadratic (the pair
    * table is already LSH-pruned + verified). The split side is NOT
    * broadcast: splits cover the whole corpus. No windows, no state.
    */
  def crossSplitLeakage(
      pairs: DataFrame,
      splits: DataFrame,
      idCol: String,
      splitCol: String): DataFrame = {
    val s1 = splits.select(col(idCol).as("d1"), col(splitCol).as("split1"))
    val s2 = splits.select(col(idCol).as("d2"), col(splitCol).as("split2"))
    pairs
      .join(s1, Seq("d1"))
      .join(s2, Seq("d2"))
      .withColumn("leaks", col("split1") =!= col("split2"))
      .select(col("d1"), col("d2"), col("jaccard"),
        col("split1"), col("split2"), col("leaks"))
  }

  /** Leak REPAIR — [[crossSplitLeakage]]'s other half: move every
    * near-dup cluster WHOLLY into one split so no eval example has a
    * training-set near-duplicate. The rule is deterministic: a cluster
    * adopts its REPRESENTATIVE's split (the cluster id — the minimum
    * member under [[connectedComponents]]' convention), so re-running
    * with more corpus or a different partitioning cannot re-decide a
    * cluster differently. Output: `(id, split_orig, split, moved)` —
    * tag-don't-drop, the caller sees exactly what moved and why.
    * By construction, [[crossSplitLeakage]] over the repaired splits and
    * the same pair set reports ZERO leaks (both endpoints of every edge
    * share a cluster, hence a representative, hence a split).
    *
    * Scale shape: two id-keyed equi-joins (assignment, then the
    * representatives' split rows keyed by cluster id) — corpus-linear,
    * co-partitioned on the id; no windows, no collects.
    */
  def splitRepair(
      splits: DataFrame, // (idCol, splitCol)
      assignment: DataFrame, // (id, cluster) — connectedComponents output
      idCol: String,
      splitCol: String): DataFrame = {
    val a = assignment.select(col("id").as(idCol), col("cluster"))
    val reps = splits.select(col(idCol).as("cluster"),
      col(splitCol).as("__rep_split"))
    splits.join(a, Seq(idCol), "left")
      .join(reps, Seq("cluster"), "left")
      .select(col(idCol),
        col(splitCol).as("split_orig"),
        coalesce(col("__rep_split"), col(splitCol)).as("split"),
        (coalesce(col("__rep_split"), col(splitCol)) =!= col(splitCol))
          .as("moved"))
  }
}
