package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.shingles
import graft.functions.SimHash64

/** Near-duplicate detection for document corpora, built as candidate
  * pruning (LSH) + exact verification — the only shape that scales: the
  * verify step makes the output well-defined (all pairs with shingle
  * Jaccard ≥ τ among candidates), while the candidate generator bounds the
  * join so nothing is O(n²) at 100 TB.
  *
  * Three candidate generators over the same verification core:
  *  - [[allPairsByShingle]]  — exact: every pair sharing ≥1 shingle
  *    (inverted-index join, the brute-force baseline)
  *  - [[minHashCandidates]]  — MinHash signatures banded into buckets
  *    (Broder 1997; banding per Leskovec/Rajaraman/Ullman ch.3)
  *  - [[simHashCandidates]]  — 64-bit SimHash, candidates share one of
  *    four 16-bit blocks (pigeonhole over hamming ≤ 3)
  *
  * All three are pure DataFrame programs: map-side signature computation,
  * one shuffle on the bucket key, distinct, verify. No driver-side loops.
  */
object TextDedup {

  /** doc_id, shingle-array, shingle-count for a text column. */
  def shingled(docs: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))

  /** Exact verification of candidate pairs (columns d1, d2) against the
    * shingle sets; emits pairs with Jaccard ≥ threshold.
    */
  def verifyPairs(
      candidates: DataFrame,
      sh: DataFrame,
      threshold: Double): DataFrame = {
    // exchange barrier on doc_id: the shingle arrays materialize once and
    // the identical Exchange is reused by both sides of the pair join.
    // EXPLICIT numPartitions everywhere a barrier feeds CPU-heavy per-row
    // work (array_intersect here): a user-specified count is AQE-exempt,
    // while a bare repartition(col) gets byte-coalesced — shingle frames
    // are tiny by bytes, so AQE would serialize the verification onto a
    // handful of tasks (measured on q35's cousin at 10× sf0.1: 31 s → 3 s)
    val np = sh.sparkSession.sparkContext.defaultParallelism
    val shR = sh.repartition(np, col("doc_id"))
    val left = shR.select(col("doc_id").as("d1"), col("sh").as("sh1"), col("n_sh").as("n1"))
    val right = shR.select(col("doc_id").as("d2"), col("sh").as("sh2"), col("n_sh").as("n2"))
    candidates
      .join(left, "d1").join(right, "d2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      // engine-stable rounding (floor(x·10⁴+0.5)/10⁴): jaccard feeds the
      // threshold filter, so a half-boundary divergence between Spark's
      // BigDecimal HALF_UP round() and DuckDB's binary-double round()
      // would flip pair inclusion vs the oracle
      .withColumn("jaccard",
        floor(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")) * 10000.0 + 0.5) / 10000.0)
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Inverted-index candidate join: pairs sharing at least one shingle.
    * Exact (recall 1.0) but the per-shingle fanout is quadratic in document
    * frequency — fine when shingles are rare, the baseline for comparing
    * the LSH generators.
    */
  /** The inverted-index pair-enumeration kernel: explode shingles, one
    * shared AQE-exempt exchange on the token key (explicit numPartitions —
    * the exploded frame is byte-small but per-token pair enumeration is
    * CPU-quadratic in doc frequency), triangular self-join. Callers choose
    * the terminal op: `distinct` for a candidate set, `groupBy.count` for
    * intersection sizes — the choice that decides scale behavior (q57
    * lesson).
    */
  private def shinglePairJoin(sh: DataFrame): DataFrame = {
    val np = sh.sparkSession.sparkContext.defaultParallelism
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("tok"))
      .repartition(np, col("tok"))
    val exB = ex.select(col("doc_id").as("doc_id_b"), col("tok").as("tok_b"))
    ex.join(exB, col("tok") === col("tok_b") && col("doc_id") < col("doc_id_b"))
      .select(col("doc_id").as("d1"), col("doc_id_b").as("d2"))
  }

  def allPairsByShingle(sh: DataFrame): DataFrame =
    shinglePairJoin(sh).distinct()

  /** MinHash signature via the native [[graft.functions.MinHashSig]]
    * expression: one XXH64 per shingle, k affine permutations folded in a
    * single pass (vs k interpreted array traversals for the HOF version).
    */
  def minHashSignature(sh: Column, numHashes: Int): Column =
    graft.functions.MinHashSig(sh, numHashes)

  /** Banded MinHash candidates: `bands` buckets of `rows` signature slots
    * each; two documents are candidates iff some band hashes identically.
    * P(candidate | jaccard j) = 1-(1-j^rows)^bands — with (16,4):
    * j=0.9 → ~1-2e-8, j=0.3 → 0.12.
    */
  def minHashCandidates(sh: DataFrame, bands: Int = 16, rows: Int = 4): DataFrame = {
    // The repartition is an optimizer barrier, not (just) a distribution
    // choice: without an Exchange between the signature projection and the
    // 16 band expressions, CollapseProject inlines the full 64-hash
    // signature computation into EVERY band (16× redundant work per doc —
    // measured 4× wall-clock). Post-exchange, bands read the materialized
    // `sig` attribute. At cluster scale this shuffle is tiny (64 longs/doc)
    // and doubles as the natural persistence point for signatures.
    val np = sh.sparkSession.sparkContext.defaultParallelism
    val withSig = sh
      .select(col("doc_id"), minHashSignature(col("sh"), bands * rows).as("sig"))
      .repartition(np, col("doc_id"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rows).map(r => col("sig")(b * rows + r)): _*).as("bh"))
    }
    val exploded = withSig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
      // explicit-numPartitions barrier on the join key: band buckets are
      // tiny by bytes but quadratic in CPU per bucket — AQE-exempt
      // partitioning keeps the pair enumeration parallel (q13's lesson)
      .repartition(np, col("band"), col("bh"))
    val right = exploded.select(
      col("doc_id").as("doc_id_b"), col("band").as("band_b"), col("bh").as("bh_b"))
    exploded.join(right,
        col("band") === col("band_b") && col("bh") === col("bh_b") &&
          col("doc_id") < col("doc_id_b"))
      .select(col("doc_id").as("d1"), col("doc_id_b").as("d2"))
      .distinct()
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, MOSS):
    * hash every positional word k-gram, slide a `window`-wide window over
    * the hash sequence and keep the minimum of each full window. Robust to
    * local edits (an edit perturbs only the windows covering it) and
    * position-independent for matching — the classic rolling-hash
    * fingerprinting scheme for plagiarism/near-dup detection, here as a
    * pure DataFrame program: posexplode + ONE partition-window min, no
    * state, no driver loops. Emits (doc_id, pos, fp) for every full
    * window; callers aggregate (distinct fingerprints per doc, inverted
    * index for matching, ...).
    *
    * The hash is md5 of the k-gram text — chosen over a cheaper rolling
    * multiply-add precisely because it is engine-portable (the DuckDB
    * oracle computes the identical fingerprints); winnowing's guarantees
    * only need the hash to be deterministic and well-mixed.
    */
  def winnowFingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, window: Int = 4): DataFrame = {
    val toks = docs.select(
      col(idCol).as("doc_id"),
      split(trim(col(textCol)), "\\s+").as("toks"))
    // positional k-grams, in token order (no dedup — positions matter)
    val grams = toks
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, size(toks) - $k), i -> " +
            (0 until k).map(j => s"toks[i + $j]").mkString("concat_ws(' ', ", ", ", ")") +
            ")")).as(Seq("pos", "gram")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      .rowsBetween(Window.currentRow, window - 1)
    grams
      .withColumn("h", md5(col("gram")))
      .withColumn("wn", count(lit(1)).over(w))
      .withColumn("fp", min(col("h")).over(w))
      .filter(col("wn") === window) // full windows only
      .select(col("doc_id"), col("pos"), col("fp"))
  }

  /** Winnow-based clone detection (the matching half of MOSS): inverted-
    * index join on the [[winnowFingerprints]] output, scored by containment
    * `|FP(a) ∩ FP(b)| / min(|FP(a)|, |FP(b)|)` over DISTINCT fingerprints —
    * the measure MOSS reports, robust to length asymmetry (a file pasted
    * into a bigger one still scores ~1.0).
    *
    * Plan shape mirrors the q11 inverted-index join: distinct (doc, fp)
    * pairs repartitioned on the fingerprint so both self-join sides reuse
    * ONE exchange, pair counts from a hash aggregation, per-doc totals
    * joined back as a broadcast. Winnowing keeps this tractable at corpus
    * scale where raw k-gram indexing is not: only ~2/(window+1) of the
    * k-gram hashes survive as fingerprints, and only REPEATED fingerprints
    * fan out in the join.
    */
  /** `maxDocFreq`: MOSS's stop-fingerprint rule — a fingerprint shared by
    * more than this many documents is boilerplate (license headers, common
    * phrases), carries no clone signal, and its join fanout is quadratic in
    * its document frequency. Dropping those fingerprints BEFORE the pair
    * join bounds the per-fingerprint work at maxDocFreq² regardless of
    * corpus size — the knob that keeps the inverted index sub-quadratic at
    * 100 TB. Denominators count only surviving fingerprints (MOSS
    * semantics: ignored fingerprints vanish from both sets). Int.MaxValue
    * = exact containment (the gated q35 default, mirrored by its oracle).
    */
  def winnowMatches(
      fps: DataFrame, threshold: Double,
      maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // explicit numPartitions: the fingerprint exchange is small by bytes
    // (AQE would coalesce it to ~1 partition) but the per-fingerprint pair
    // enumeration in the join below is CPU-quadratic in doc frequency.
    val np = fps.sparkSession.sparkContext.defaultParallelism
    // Materialize the distinct fingerprint index ONCE: it is consumed three
    // times (both self-join sides + the per-doc totals), and the two
    // totals broadcasts canonicalize differently (n1 vs n2 renames), so
    // without a barrier each rebuilds the WHOLE extract+distinct pipeline
    // — the window pass over every k-gram of the corpus. The index is tiny
    // (distinct (doc, fp) pairs — winnowing keeps ~2/(window+1) of the
    // grams, dedup collapses repeats), so eager local materialization
    // costs one pipeline run and saves two; at warehouse scale this is
    // the index table you'd persist anyway.
    val dedup0 = fps.select(col("doc_id"), col("fp")).distinct()
    val indexed =
      if (maxDocFreq == Int.MaxValue) dedup0
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
        dedup0.withColumn("__df", count(lit(1)).over(w))
          .filter(col("__df") <= maxDocFreq).drop("__df")
      }
    val dfp = indexed.localCheckpoint().repartition(np, col("fp"))
    val counts = dfp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    val right = dfp.select(col("doc_id").as("doc_id_b"), col("fp").as("fp_b"))
    // shuffle_hash hint: the index is SMALL BY BYTES, so size-based
    // planning picks a broadcast hash join here — which serializes the
    // CPU-quadratic per-fingerprint pair fanout onto whatever stage reads
    // the broadcast (measured 4-8x slower at sf1). The hint pins the
    // equi-join to the fp-partitioned parallel plan; bytes are the wrong
    // cost model for this join, exactly like the AQE-exempt repartition.
    val pairs = dfp.join(right.hint("shuffle_hash"),
        col("fp") === col("fp_b") && col("doc_id") < col("doc_id_b"))
      .groupBy(col("doc_id").as("d1"), col("doc_id_b").as("d2"))
      .agg(count(lit(1)).as("shared"))
    // totals joins are NOT hinted broadcast: counts has one row per
    // document, which is executor-memory-bound at corpus scale. AQE
    // size-dispatches — broadcast when the measured side is small, shuffle
    // join beyond that (both sides re-aggregate from the checkpointed dfp,
    // so neither rebuilds the fingerprint pipeline).
    pairs
      .join(counts.select(col("doc_id").as("d1"), col("n_fp").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_fp").as("n2")), "d2")
      // engine-stable rounding (floor(x·10⁴+0.5)/10⁴, exact IEEE in both
      // engines): containment feeds the threshold FILTER — a half-boundary
      // value rounded differently would flip pair inclusion vs the oracle
      .withColumn("containment",
        floor(col("shared").cast("double") / least(col("n1"), col("n2"))
          * 10000.0 + 0.5) / 10000.0)
      .filter(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("shared"), col("containment"))
  }

  /** SimHash candidates for a DENSE radius (maxHamming large relative to
    * the 64-bit fingerprint): direct all-pairs XOR+popcount on the
    * fingerprints with one side broadcast. Rationale: pigeonhole blocking
    * at radius r needs r+1 blocks, and at r ≳ 16 each block carries < 4
    * bits ⇒ each pair collides in ~(r+1)/2^bits ≈ ≥1 expected blocks —
    * the "candidates" are all pairs anyway, but produced through a shuffle
    * with per-block duplication (measured: slower than brute force). A
    * 64-bit fp per doc broadcasts at ~12 bytes/doc (millions of docs fit
    * comfortably), and XOR+POPCNT is ~1 cycle/pair inside codegen. For
    * genuinely large corpora at dense radii the structural fix is a longer
    * fingerprint (more bits per block), not more blocks.
    *
    * GUARDED: the pair scan is O(n²) by construction, so the corpus size is
    * checked (one cheap count over the input) against `maxRows` and the call
    * REFUSES oversized inputs instead of silently running a quadratic plan
    * at scale — callers with a bigger corpus must use
    * [[simHash128Candidates]] (tight radii) or [[minHashCandidates]]
    * (low-similarity thresholds), both equi-join plans. The default bound
    * (1M docs ⇒ ≤ 5·10^11 codegen'd XOR+POPCNT pair evals, ~12 MB
    * broadcast) is the point where brute force stops beating blocking.
    */
  def simHashCandidatesDense(
      docsTokens: DataFrame, // doc_id, toks (array<string>)
      maxHamming: Int,
      maxRows: Long = 1L << 20): DataFrame = {
    val n = docsTokens.count()
    require(n <= maxRows,
      s"simHashCandidatesDense refuses $n rows (bound $maxRows): the dense " +
        "all-pairs scan is O(n²) — use simHash128Candidates or " +
        "minHashCandidates for large corpora, or raise maxRows explicitly")
    val fp = docsTokens.select(col("doc_id"), SimHash64(col("toks")).as("fp"))
    val right = fp.select(col("doc_id").as("doc_id_b"), col("fp").as("fp_b"))
    fp.join(broadcast(right),
        col("doc_id") < col("doc_id_b") &&
          bit_count(col("fp").bitwiseXOR(col("fp_b"))) <= maxHamming)
      .select(col("doc_id").as("d1"), col("doc_id_b").as("d2"))
  }

  /** SimHash128 pigeonhole candidates: a 128-bit fingerprint (two
    * independently-seeded 64-bit SimHashes — bit-for-bit the statistics of a
    * native 128-bit one) split into `maxHamming + 1` blocks, equi-joined on
    * any equal block. Doubling the fingerprint doubles the bits available
    * per pigeonhole block at a given *relative* radius: the radius 17/64
    * that forced sub-4-bit blocks (and the dense all-pairs scan) becomes
    * ≲34/128 with ≥4-bit blocks — recall is still GUARANTEED by pigeonhole
    * (a pair within maxHamming bits cannot differ in all maxHamming+1
    * blocks), and the 128-bit hamming filter sits inside the join condition
    * so false candidates die during the probe, not in a materialized
    * intermediate.
    *
    * Scale honesty: per-block collision probability for an unrelated pair
    * is 2^-(128/(maxHamming+1)); at radius ~30 that is ~6% per block, so
    * blocking prunes the *join fanout* per bucket but an O(n²)-ish candidate
    * stream survives at extreme corpus sizes — for low-similarity thresholds
    * (Jaccard ~0.5) banded MinHash ([[minHashCandidates]]) remains the
    * preferred 100 TB path; SimHash blocking wins for tight radii. Both are
    * one explode + one equi-join shuffle, nothing is a cartesian.
    */
  def simHash128Candidates(
      docsTokens: DataFrame, // doc_id, toks (array<string>)
      maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks >= 2 && nBlocks <= 64, s"radius $maxHamming out of range")
    // block i covers bit range [i*128/n, (i+1)*128/n) of (fp2 ++ fp1)
    val bounds = (0 to nBlocks).map(i => i * 128 / nBlocks)
    // exchange barrier: materialize the two fingerprint longs once instead
    // of once per block expression (CollapseProject — see minHashCandidates)
    val fp = docsTokens.select(
      col("doc_id"),
      SimHash64(col("toks")).as("fp1"),
      SimHash64.part2(col("toks")).as("fp2"))
      .repartition(docsTokens.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
    // extract bit range [lo, hi) of the logical 128-bit word fp2:fp1 as a
    // long; a block can straddle the 64-bit boundary
    def bits(lo: Int, hi: Int): Column = {
      def from(word: Column, base: Int): Column = {
        val l = math.max(lo, base); val h = math.min(hi, base + 64)
        if (l >= h) lit(0L)
        else {
          val width = h - l
          val mask = if (width == 64) -1L else (1L << width) - 1
          val piece = shiftrightunsigned(word, l - base).bitwiseAND(lit(mask))
          if (l == lo) piece else shiftleft(piece, l - lo)
        }
      }
      from(col("fp1"), 0).bitwiseOR(from(col("fp2"), 64))
    }
    // EXPLICIT partition count on the join key: the exploded block rows are
    // tiny by bytes (a few MB), so AQE's size-based coalescing would fold
    // the shuffle into ~1 partition — but the pair enumeration inside each
    // (blk, bv) bucket is quadratic CPU work AQE's byte estimates cannot
    // see (measured at sf0.1: 16M pair evaluations serialized onto one
    // task, 4.3 s; spread across the default parallelism it is ~0.3 s). A
    // user-specified numPartitions is exempt from AQE coalescing, and both
    // sides sharing it means the join needs no further exchange.
    val np = docsTokens.sparkSession.sparkContext.defaultParallelism
    val blocks = fp.select(
      col("doc_id"), col("fp1"), col("fp2"),
      explode(array((0 until nBlocks).map { b =>
        struct(lit(b).as("blk"), bits(bounds(b), bounds(b + 1)).as("bv"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("fp1"), col("fp2"),
        col("bk.blk").as("blk"), col("bk.bv").as("bv"))
      .repartition(np, col("blk"), col("bv"))
    val right = blocks.select(
      col("doc_id").as("doc_id_b"), col("fp1").as("fp1_b"),
      col("fp2").as("fp2_b"), col("blk").as("blk_b"), col("bv").as("bv_b"))
    blocks.join(right,
        col("blk") === col("blk_b") && col("bv") === col("bv_b") &&
          col("doc_id") < col("doc_id_b") &&
          (bit_count(col("fp1").bitwiseXOR(col("fp1_b"))) +
            bit_count(col("fp2").bitwiseXOR(col("fp2_b")))) <= maxHamming)
      .select(col("doc_id").as("d1"), col("doc_id_b").as("d2"))
      .distinct()
  }

  /** SimHash candidates: fingerprint the token array (custom codegen
    * expression [[SimHash64]]), split the 64 bits into `maxHamming + 1`
    * blocks and equi-join on any equal block. The block count is DERIVED
    * from the radius so recall is guaranteed by pigeonhole, not hoped for:
    * a pair within `maxHamming` bits cannot differ in all maxHamming+1
    * blocks, so it must collide in at least one. Narrower blocks mean more
    * join fanout — the radius knob trades candidate volume for radius,
    * with the (cheap, codegen'd) bit_count filter pruning immediately
    * after the join.
    */
  def simHashCandidates(
      docsTokens: DataFrame, // doc_id, toks (array<string>)
      maxHamming: Int = 7): DataFrame = {
    // exchange barrier: materialize fp once instead of once per block
    // (see minHashCandidates for the CollapseProject rationale)
    val np = docsTokens.sparkSession.sparkContext.defaultParallelism
    val fp = docsTokens.select(
      col("doc_id"), SimHash64(col("toks")).as("fp"))
      .repartition(np, col("doc_id"))
    fp64Pairs(fp, maxHamming).select(col("d1"), col("d2"))
  }

  /** Shared kernel: every pair of 64-bit fingerprints within `maxHamming`
    * bits — `(d1, d2, hamming)`, `d1 < d2`. Pigeonhole blocking over
    * `maxHamming + 1` bit blocks (a pair within the radius cannot differ
    * in every block, so recall is guaranteed, not hoped for), banded
    * equi-join, exact `bit_count` verify. Input: `(doc_id, fp)`.
    * Used by [[simHashCandidates]] (text) and
    * [[Multimodal.phashNearDupPairs]] (image perceptual hashes) — any
    * 64-bit locality-sensitive fingerprint gets the same scale shape.
    */
  /** Pigeonhole blocks of a 64-bit fingerprint: `maxHamming + 1` disjoint
    * bit ranges (a pair within the radius must agree on ≥1 whole block —
    * recall is a theorem). `(doc_id, fp, blk, bv)` — shared by the
    * in-memory pair join and the at-rest image index so index and probe
    * can never disagree on the blocking.
    */
  private[operators] def fp64Blocks(fp: DataFrame, maxHamming: Int): DataFrame = {
    // Beyond 31 the 32-block cap would break the pigeonhole guarantee
    // (a pair within the radius could differ in every 2-bit block) —
    // refuse loudly rather than silently losing recall, on both the
    // build and probe side of the persisted index format.
    require(maxHamming >= 0 && maxHamming <= 31,
      s"fp64 pigeonhole blocking supports maxHamming in [0, 31], got $maxHamming")
    val nBlocks = math.min(32, maxHamming + 1)
    // block i covers bits [i*64/n, (i+1)*64/n)
    val bounds = (0 to nBlocks).map(i => i * 64 / nBlocks)
    fp.select(
      col("doc_id"), col("fp"),
      explode(array((0 until nBlocks).map { b =>
        val lo = bounds(b)
        val width = bounds(b + 1) - lo
        val mask = if (width == 64) -1L else (1L << width) - 1
        struct(lit(b).as("blk"),
          shiftrightunsigned(col("fp"), lo).bitwiseAND(lit(mask)).as("bv"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.blk").as("blk"), col("bk.bv").as("bv"))
  }

  def fp64Pairs(fp: DataFrame, maxHamming: Int): DataFrame = {
    val np = fp.sparkSession.sparkContext.defaultParallelism
    val blocks = fp64Blocks(fp, maxHamming)
      // AQE-exempt partitioning on the join key (see simHash128Candidates)
      .repartition(np, col("blk"), col("bv"))
    val right = blocks.select(
      col("doc_id").as("doc_id_b"), col("fp").as("fp_b"),
      col("blk").as("blk_b"), col("bv").as("bv_b"))
    blocks.join(right,
        col("blk") === col("blk_b") && col("bv") === col("bv_b") &&
          col("doc_id") < col("doc_id_b"))
      .select(col("doc_id").as("d1"), col("doc_id_b").as("d2"),
        bit_count(col("fp").bitwiseXOR(col("fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental (cross-corpus) dedup — the decision a continuously-fed
    * pipeline makes for every ARRIVING document: does it duplicate the
    * corpus already ingested? Returns one row per incoming doc:
    * `(id, exact_dup, n_near_dups, keep)` where exact means the
    * whitespace-normalized text fingerprint (q07's rule) already exists
    * in the corpus, and near means shingle-Jaccard ≥ `threshold` against
    * ≥1 corpus document (q11's exact verification, not an LSH
    * approximation). Within-batch duplicates are NOT this operator's job
    * (exactByColumns / the pair miners handle those) — the decision here
    * is strictly incoming-vs-corpus, so it composes with a static
    * corpus index.
    *
    * Scale shape: the exact check is one equi-join on the fingerprint
    * (hash shuffle, no broadcast — the corpus fingerprint set is
    * data-sized). The near check is the q11 inverted-index join keyed by
    * shingle CONTENT with AQE-exempt explicit partitioning (byte-light
    * exploded frames would otherwise coalesce onto a handful of tasks and
    * serialize the per-shingle pair enumeration), and the per-doc totals
    * join after aggregation — unhinted, AQE size-dispatches. Both sides'
    * columns are renamed apart: incoming and corpus usually derive from
    * the same source, and same-lineage equi-keys can collapse the join
    * condition into a nested-loop join.
    */
  def dedupAgainstCorpus(
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val np = incoming.sparkSession.sparkContext.defaultParallelism
    // q07's normalization rule, via the ONE shared definition — the
    // exact-dedup decision must not drift between the batch query, this
    // operator and the curation pipeline
    val fp = graft.functions.TextFunctions.fingerprint _
    val corpusFp = corpus.select(fp(col(textCol)).as("fp")).distinct()
      .withColumn("fp_hit", lit(1))
    val exact = incoming.select(col(idCol), fp(col(textCol)).as("fp"))
      .join(corpusFp, Seq("fp"), "left")
      .select(col(idCol), coalesce(col("fp_hit"), lit(0)).as("exact_dup"))
    val iCounts = incoming.select(
      col(idCol), size(shingles(col(textCol), shingleN)).as("ni"))
    val cCounts = corpus.select(
      col(idCol).as("corp_id"), size(shingles(col(textCol), shingleN)).as("nc"))
    val iEx = incoming.select(
      col(idCol), explode(shingles(col(textCol), shingleN)).as("tri"))
      .repartition(np, col("tri"))
    val cEx = corpus.select(
      col(idCol).as("corp_id"), explode(shingles(col(textCol), shingleN)).as("tri_c"))
      .repartition(np, col("tri_c"))
    val near = iEx.join(cEx, col("tri") === col("tri_c"))
      .groupBy(col(idCol), col("corp_id"))
      .agg(count(lit(1)).as("inter"))
      .join(iCounts, idCol)
      .join(cCounts, "corp_id")
      // engine-stable rounding: the jaccard feeds the threshold filter
      .withColumn("jaccard",
        floor(col("inter").cast("double")
          / (col("ni") + col("nc") - col("inter")) * 10000.0 + 0.5) / 10000.0)
      .filter(col("jaccard") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_near_dups"))
    exact.join(near, Seq(idCol), "left")
      .withColumn("n_near_dups", coalesce(col("n_near_dups"), lit(0L)))
      .withColumn("keep",
        when(col("exact_dup") === 0 && col("n_near_dups") === 0L, 1).otherwise(0))
  }

  /** Cross-set near-dup PAIR mining — [[dedupAgainstCorpus]]'s near arm
    * with the pairs THEMSELVES as the product instead of per-arrival
    * keep/drop counts: `(d1 = corpus id, d2 = incoming id, jaccard)` for
    * every cross pair at or above the threshold. This is the edge-mining
    * stage in front of [[Dedup.incrementalComponents]] /
    * [[Dedup.componentsCommit]] — cluster maintenance consumes edges, not
    * decisions. Same plan shape as the decision form: one shingle-keyed
    * equi-join (both sides explicitly repartitioned — the q57 rule), one
    * (incoming, corpus) pair aggregate, exact jaccard with the
    * engine-stable rounding.
    */
  def crossPairsAgainstCorpus(
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val np = incoming.sparkSession.sparkContext.defaultParallelism
    val iCounts = incoming.select(
      col(idCol).as("d2"), size(shingles(col(textCol), shingleN)).as("ni"))
    val cCounts = corpus.select(
      col(idCol).as("d1"), size(shingles(col(textCol), shingleN)).as("nc"))
    val iEx = incoming.select(
      col(idCol).as("d2"), explode(shingles(col(textCol), shingleN)).as("tri"))
      .repartition(np, col("tri"))
    val cEx = corpus.select(
      col(idCol).as("d1"), explode(shingles(col(textCol), shingleN)).as("tri_c"))
      .repartition(np, col("tri_c"))
    iEx.join(cEx, col("tri") === col("tri_c"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(iCounts, "d2")
      .join(cCounts, "d1")
      .withColumn("jaccard",
        floor(col("inter").cast("double")
          / (col("ni") + col("nc") - col("inter")) * 10000.0 + 0.5) / 10000.0)
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Bloom filter over the corpus fingerprint set — the build-once half of
    * [[bloomDedupAgainstCorpus]]. One pass over `corpusFps` (treeAggregate
    * of fixed-size partial filters — no shuffle of data rows); the returned
    * filter is `-n·ln(fpp)/ln²2` bits (~1.2 MB per million fingerprints at
    * 1 %), driver-held and broadcast once per arrival batch. At corpora
    * where that exceeds broadcast comfort (~10¹⁰ docs), raise `fpp` — the
    * verify join keeps the DECISION exact at any false-positive rate; fpp
    * only trades prefilter selectivity against filter size.
    */
  def corpusFingerprintBloom(
      corpusFps: DataFrame, // fp: string
      expectedItems: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    // the filter holds xxhash64(fp) LONGS, not the strings: that is the
    // form Spark's own BloomFilterMightContain expression probes
    // (mightContainLong), so the arrival-side membership test compiles
    // into whole-stage codegen instead of a Scala UDF. Hash collisions
    // only add to the (already nonzero) false-positive rate the verify
    // join removes; no-false-negatives is preserved.
    corpusFps.select(xxhash64(col("fp")).as("fph"))
      .stat.bloomFilter("fph", expectedItems, fpp)

  /** Exact arrival-vs-corpus dedup with a Bloom PREFILTER — the 100 TB
    * shape of [[dedupAgainstCorpus]]'s exact arm. The fingerprint equi-join
    * there shuffles the ENTIRE arrival batch against the corpus fingerprint
    * set every batch; at a typical single-digit duplicate rate that shuffle
    * is ~99 % non-matches. Probing a corpus Bloom filter map-side first
    * drops definite non-members (Bloom has no false negatives) so only
    * `dup_rate + fpp` of arrivals reach the join; false positives are
    * eliminated there, making the output EXACTLY the plain exact-arm
    * decision — the oracle is ordinary SQL, nothing probabilistic leaks.
    *
    * The probe is Spark's internal `BloomFilterMightContain` expression
    * (via the GraftBridge) over the filter's serialized bytes — map-side,
    * inside whole-stage codegen, deserialized once per executor; the
    * codegen'd fingerprint + xxhash64 feed it directly. Build the filter
    * ONCE per corpus snapshot with [[corpusFingerprintBloom]] and pass it
    * as `prebuilt`; rebuilding per batch pays a corpus scan per batch.
    *
    * Output: (idCol, exact_dup INT, keep INT), one row per arrival.
    */
  def bloomDedupAgainstCorpus(
      incoming: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      expectedCorpusDocs: Long = 1000000L,
      fpp: Double = 0.01,
      prebuilt: Option[org.apache.spark.util.sketch.BloomFilter] = None): DataFrame = {
    val fp = graft.functions.TextFunctions.fingerprint _
    val corpusFp = corpus.select(fp(col(textCol)).as("fp")).distinct()
    val bloom = prebuilt.getOrElse(
      corpusFingerprintBloom(corpusFp, expectedCorpusDocs, fpp))
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bloom.writeTo(bos); bos.toByteArray
    }
    // codegen'd probe (no UDF): Spark's own BloomFilterMightContain over
    // the serialized filter + xxhash64 of the fingerprint — the filter
    // was built over the same hashes. NULL fingerprints are definite
    // non-members (the old UDF's contract), decided before hashing.
    val mightContain = (c: Column) => c.isNotNull &&
      org.apache.spark.sql.GraftBridge.bloomMightContain(bytes, xxhash64(c))
    val inFp = incoming.select(col(idCol), fp(col(textCol)).as("fp"))
    // definite non-members: decided map-side, never shuffled
    val misses = inFp.filter(!mightContain(col("fp")))
      .select(col(idCol), lit(0).as("exact_dup"))
    // candidates (true dups + fpp of the rest): exact verify join
    val hits = inFp.filter(mightContain(col("fp")))
      .join(corpusFp.withColumn("fp_hit", lit(1)), Seq("fp"), "left")
      .select(col(idCol), coalesce(col("fp_hit"), lit(0)).as("exact_dup"))
    misses.unionByName(hits)
      .withColumn("keep", when(col("exact_dup") === 0, 1).otherwise(0))
  }

  /** Segment-level exact dedup — the C4/RefinedWeb "line dedup" stage,
    * applied WITHIN documents: text is chunked into fixed `segWords`-word
    * segments (this corpus has no newlines; a newline-split is the same
    * program with a different splitter), and every segment that already
    * occurred anywhere in the corpus — earlier doc, or earlier position
    * in the same doc — is dropped. Returns one row per document:
    * `(id, n_segs, n_dup_segs, clean_md5)` where `clean_md5` hashes the
    * surviving text (md5 of '' when every segment was a duplicate).
    *
    * "First occurrence" is the global minimum of (id, pos) per segment —
    * a total, engine-reproducible rule. Scale shape: segment construction
    * is map-side (one `transform` over the word array, no join); the
    * first-occurrence decision is ONE shuffle keyed by segment content
    * (hash-partitioned — identical segments co-locate, so the row_number
    * window never sees more rows than a segment's duplicate count); the
    * reassembly is the groupBy(id) aggregation any per-doc stat pays.
    * Nothing is quadratic and no driver state exists.
    */
  def segmentDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      segWords: Int = 16): DataFrame = {
    require(segWords >= 1, "segWords must be positive")
    val segs = docs
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("ws"))
      .select(col(idCol), posexplode(expr(
        s"""transform(
           |  sequence(0, greatest(int(ceil(size(ws) / ${segWords}d)), 1) - 1),
           |  i -> array_join(slice(ws, i * $segWords + 1, $segWords), ' '))"""
          .stripMargin)).as(Seq("pos", "seg")))
    val firstOccurrence = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("pos"))
    segs
      .withColumn("keep", row_number().over(firstOccurrence) === 1)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dup_segs"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("keep"),
              struct(col("pos"), col("seg"))))),
            _.getField("seg")),
          " ")).as("clean_md5"))
  }

  /** Boilerplate LINE removal — the RefinedWeb/CCNet "most frequent
    * lines" filter, and the complement of [[segmentDedup]]'s keep-first
    * rule: a line occurring in at least `maxDf` DISTINCT documents is
    * boilerplate (cookie banners, navigation chrome, license footers)
    * and is removed from EVERY document — no first copy survives,
    * because the first crawl of a boilerplate footer is exactly as
    * worthless as the millionth. Lines shared by fewer than `maxDf`
    * documents are kept everywhere: organic quotation between a handful
    * of documents is signal, not chrome, and the threshold is what
    * separates the two (reference behavior `read.py:156-160`-adjacent —
    * the reference's transform_query hook is where its users put exactly
    * this cleanup).
    *
    * Text splits on newlines; lines are trimmed and empty lines are
    * dropped before counting, so indentation and blank-line layout
    * differences don't fragment the frequency count. Returns one row per
    * document: `(id, n_lines, n_boiler_lines, clean_md5)` — `clean_md5`
    * hashes the surviving lines joined by a single newline (md5 of ''
    * when everything was boilerplate).
    *
    * Scale shape: line construction is map-side; the document-frequency
    * decision is ONE shuffle keyed by line content (`countDistinct` runs
    * as a two-phase partial aggregate — identical lines co-locate, and
    * per-line work is bounded by that line's occurrence count); the join
    * back is on the same key (co-partitioned, no re-shuffle under AQE);
    * reassembly is the per-document aggregation any per-doc stat pays.
    * Nothing is quadratic and no driver state exists. The df table is
    * NOT broadcast — at corpus scale the distinct-line set is data-sized
    * (the long tail of unique lines), so it must stay a shuffle join.
    */
  /** WITHIN-document repeated-line removal — [[lineBoilerplate]]'s
    * complement on the other axis: boilerplate kills lines repeated
    * ACROSS documents; this keeps the FIRST occurrence of each distinct
    * line WITHIN a document and drops the rest (navigation blocks,
    * quoted-reply pileups, template stutter — repetition a cross-doc df
    * can never see because it lives inside one doc). First-occurrence
    * (not last) so the reassembled text preserves the original reading
    * order; lines compare trimmed, empties never count.
    *
    * Scale shape: map-side line split, ONE window keyed
    * `(doc, line-content)` ordered by position (parallel across
    * documents AND line contents — no per-doc sort of all lines), one
    * doc-keyed reassembly agg. Output per doc: kept/removed counts and
    * the md5 of the ordered reassembly.
    *
    * The operator is per-document (no cross-doc state), so micro-batch
    * boundaries cannot change any output row; its per-doc window (not a
    * time window) keeps a streaming use inside `foreachBatch`.
    */
  def intraDocLineDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol), posexplode(filter(
        transform(split(col(textCol), "\n"), l => trim(l)),
        l => l =!= "")).as(Seq("pos", "line")))
    val w = Window.partitionBy(col(idCol), col("line")).orderBy(col("pos").asc)
    lines
      .withColumn("rn", row_number().over(w))
      .groupBy(col(idCol))
      .agg(
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_lines"),
        sum(when(col("rn") > 1, 1L).otherwise(0L)).as("n_removed"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("rn") === 1,
              struct(col("pos"), col("line"))))),
            _.getField("line")),
          "\n")).as("clean_md5"))
  }

  def lineBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDf: Int = 3): DataFrame = {
    require(maxDf >= 2, "maxDf must be at least 2 (1 would drop all text)")
    val lines = docs
      .select(col(idCol), posexplode(filter(
        transform(split(col(textCol), "\n"), l => trim(l)),
        l => l =!= "")).as(Seq("pos", "line")))
    val lineDf = lines
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("line_docs"))
    lines
      .join(lineDf, Seq("line"))
      .withColumn("boiler", col("line_docs") >= maxDf)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler_lines"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(!col("boiler"),
              struct(col("pos"), col("line"))))),
            _.getField("line")),
          "\n")).as("clean_md5"))
  }

  /** The FROZEN-MODEL half of [[lineBoilerplate]]: the distinct line set
    * whose corpus document frequency reached `maxDf` — what a streaming
    * scrubber joins arriving documents against (recounting df per
    * micro-batch would let early batches under-count and miss chrome the
    * full corpus proves). Bounded by high-df lines, a vanishing fraction
    * of the distinct-line space — but still data-derived, so consumers
    * join it unhinted (never a forced broadcast).
    */
  def boilerplateModel(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDf: Int = 3): DataFrame = {
    require(maxDf >= 2, "maxDf must be at least 2 (1 would drop all text)")
    docs
      .select(col(idCol), explode(filter(
        transform(split(col(textCol), "\n"), l => trim(l)),
        l => l =!= "")).as("line"))
      .groupBy(col("line"))
      .agg(countDistinct(col(idCol)).as("line_docs"))
      .filter(col("line_docs") >= maxDf)
      .select(col("line"))
  }

  /** Apply a frozen [[boilerplateModel]] to ARRIVALS: any line present in
    * the model is removed; everything else survives verbatim. Emits the
    * reassembled clean text alongside the audit columns — applying
    * `model = boilerplateModel(corpus)` back onto the corpus itself
    * reproduces [[lineBoilerplate]] exactly (the stream ≡ batch gate).
    *
    * Scale shape: one line-keyed left join (arrival-lines × model — the
    * model side carries only high-df lines) and the per-doc reassembly
    * aggregation. Stateless given the model ⇒ replay-idempotent.
    *
    * The model is frozen for the same reason every scorer's is: per-batch
    * df recounting would miss chrome whose frequency only the full corpus
    * reveals, and would make results depend on batch arrival order.
    */
  def scrubBoilerplate(
      arrivals: DataFrame,
      idCol: String,
      textCol: String,
      model: DataFrame): DataFrame = {
    val lines = arrivals
      .select(col(idCol), posexplode(filter(
        transform(split(col(textCol), "\n"), l => trim(l)),
        l => l =!= "")).as(Seq("pos", "line")))
    lines
      .join(model.select(col("line"), lit(1).as("hit")), Seq("line"), "left")
      .withColumn("boiler", col("hit").isNotNull)
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("boiler"), 1L).otherwise(0L)).as("n_boiler_lines"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("boiler"),
              struct(col("pos"), col("line"))))),
            _.getField("line")),
          "\n").as("clean_text"))
      .withColumn("clean_md5", md5(col("clean_text")))
  }

  /** Duplicated-span coverage — the "how much of this document is exact
    * duplicated text" signal of substring-level corpus dedup (Lee et al.
    * 2021, "Deduplicating Training Data Makes Language Models Better"):
    * every positional `n`-gram occurring in ≥2 distinct documents marks
    * its `n`-token span duplicated; a document's `dup_tokens` is the size
    * of the UNION of those spans (overlapping grams are not
    * double-counted). Returns one row per document:
    * `(id, n_tokens, dup_tokens, dup_frac)` — `dup_frac` rounded with the
    * engine-stable `floor(x·10⁴ + 0.5)/10⁴` rule since it feeds
    * downstream drop thresholds.
    *
    * Scale shape: positional grams are map-side; the duplicated-gram
    * decision is one shuffle keyed by gram content plus one equi-join
    * back on the same key (hash-partitioned — no broadcast of a
    * vocabulary-sized side); the interval union is a per-document
    * prefix-max window over only the duplicated occurrences. Nothing is
    * quadratic in corpus size.
    */
  def dupSpanCoverage(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, "span n-gram size must be >= 2")
    val base = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("n_tokens",
        size(split(trim(col("text")), "\\s+")).cast("long"))
    // positional n-grams, one native pass per row (docs shorter than n
    // yield an empty array — no candidate span)
    val occ = base
      .select(col("id"),
        posexplode(graft.functions.WordShinglesAll(col("text"), n))
          .as(Seq("p", "gram")))
      .select(col("id"), (col("p") + 1).cast("long").as("start"), col("gram"))
    val dupGrams = occ.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= 2)
      .select(col("gram"))
    val w = Window.partitionBy(col("id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = occ.join(dupGrams, "gram")
      .select(col("id"), col("start"), (col("start") + (n - 1)).as("end"))
      .withColumn("prev_end", coalesce(max(col("end")).over(w), lit(0L)))
      .withColumn("cov",
        greatest(col("end") - greatest(col("prev_end"), col("start") - 1), lit(0L)))
      .groupBy(col("id"))
      .agg(sum(col("cov")).as("dup_tokens"))
    base.select(col("id"), col("n_tokens"))
      .join(covered, Seq("id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_frac",
        floor(col("dup_tokens").cast("double") / col("n_tokens")
          * 10000.0 + 0.5) / 10000.0)
  }

  /** Duplicated-span REMOVAL — the rewrite stage of substring-level
    * corpus dedup (Lee et al. 2021, arXiv:2107.06499): where
    * [[dupSpanCoverage]] only measures how much of a document is
    * duplicated text, this excises it. Every positional `n`-gram
    * occurrence that is NOT the global first occurrence of its gram
    * (first = minimum `(id, start)` — the total, engine-reproducible
    * q44/q59 rule; within-document repeats count) marks its `n`-token
    * span; the UNION of a document's marked spans is cut and the
    * surviving tokens are reassembled in order, single-space separated.
    * Exactly one copy of every duplicated span survives corpus-wide.
    * Returns one row per document:
    * `(id, n_tokens, removed_tokens, clean_text)` — a full re-crawl copy
    * comes back with `clean_text = ""` and `removed_tokens = n_tokens`.
    * Documents shorter than `n` tokens carry no gram and are never cut
    * (whole-document dedup of short docs is q07's exact-fingerprint job).
    *
    * Scale shape: positional grams are map-side; the keep/cut decision is
    * ONE shuffle keyed by gram content (identical grams co-locate, the
    * `row_number` partition never exceeds a gram's duplicate count); the
    * interval union is the per-document prefix-max window of
    * [[dupSpanCoverage]], and the cut-position explode emits exactly
    * `removed_tokens` rows per doc (disjoint sub-intervals — never the
    * raw occurrence fanout). Reassembly is an array `filter` against the
    * doc's own sorted cut-set: per-doc local, no token-level shuffle.
    * Nothing is quadratic in corpus size.
    */
  def removeDupSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 2, "span n-gram size must be >= 2")
    val base = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .withColumn("ws", split(trim(col("text")), "\\s+"))
      .withColumn("n_tokens", size(col("ws")).cast("long"))
    val occ = base
      .select(col("id"),
        posexplode(graft.functions.WordShinglesAll(col("text"), n))
          .as(Seq("p", "gram")))
      .select(col("id"), (col("p") + 1).cast("long").as("start"), col("gram"))
    // keep-one rule: global first occurrence (min (id, start)) survives;
    // every later occurrence of the same gram is a cut span
    val wg = Window.partitionBy(col("gram")).orderBy(col("id"), col("start"))
    val cut = occ
      .withColumn("rn", row_number().over(wg))
      .filter(col("rn") > 1)
      .select(col("id"), col("start"), (col("start") + (n - 1)).as("end"))
    // union overlapping spans into disjoint sub-intervals (prefix-max),
    // then explode ONLY the disjoint positions — fanout = removed tokens
    val wi = Window.partitionBy(col("id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cov = cut
      .withColumn("prev_end", coalesce(max(col("end")).over(wi), lit(0L)))
      .withColumn("from", greatest(col("start"), col("prev_end") + 1))
      .filter(col("end") >= col("from"))
      .select(col("id"), explode(sequence(col("from"), col("end"))).as("pos"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("cutset"),
        count(lit(1)).as("removed_tokens"))
    base
      .join(cov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("removed_tokens"), lit(0L)).as("removed_tokens"),
        when(col("cutset").isNull, array_join(col("ws"), " "))
          .otherwise(array_join(
            filter(col("ws"),
              (_, i) => !array_contains(col("cutset"), (i + 1).cast("long"))),
            " "))
          .as("clean_text"))
  }

  /** Edit-distance verification of near-dup pairs — the EXPENSIVE exact
    * stage, run only on pairs that already survived the cheap shingle
    * filter. `levenshtein` is O(|a|·|b|) per pair; unguarded it is the
    * classic scale-killer, so this operator never sees the corpus
    * cross-product: candidates come from the inverted index
    * ([[allPairsByShingle]]; any LSH generator is a drop-in) and are
    * thinned by [[verifyPairs]] at `jaccardMin` BEFORE a single
    * character-level comparison runs. At corpus scale the levenshtein
    * stage therefore costs O(|survivors|·len²) with survivors ≪ pairs —
    * the filter-then-verify shape production near-dup pipelines use.
    *
    * `edit_sim = 1 − lev/max(len)` on raw characters; identical-doc pairs
    * score 1.0, unrelated same-vocabulary docs far lower. Engine-stable
    * 1e-4 rounding because the score is an output column (and a natural
    * downstream threshold).
    */
  def editSimilarity(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, jaccardMin: Double = 0.5): DataFrame = {
    // Jaccard stage in q11's aggregate-count shape, NOT candidates →
    // array_intersect: the inverted-index join COUNTS shared shingles per
    // pair (map-side partial agg — the per-occurrence join fanout never
    // shuffles raw), and per-doc set sizes join AFTER the aggregate.
    // The first cut (allPairsByShingle → verifyPairs) materialized every
    // candidate pair with both full shingle arrays and intersected them
    // row-by-row — measured 26 s warm / 328 s cold at sf1 vs ~6 s for
    // this shape (array_intersect cost ∝ pairs·|sh|, all pairs sharing
    // ONE shingle; here cost ∝ shared-occurrence count, aggregated).
    val np = docs.sparkSession.sparkContext.defaultParallelism
    val sh = shingled(docs, idCol, textCol, shingleN)
    val counts = sh.select(col("doc_id"), col("n_sh"))
    val inter = shinglePairJoin(sh)
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    // totals joins unhinted (one row per doc — data-scaled; AQE dispatches)
    val pairs = inter
      .join(counts.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
      .withColumn("jaccard",
        floor(col("inter").cast("double")
          / (col("n1") + col("n2") - col("inter")) * 10000.0 + 0.5) / 10000.0)
      .filter(col("jaccard") >= jaccardMin)
      .select(col("d1"), col("d2"), col("jaccard"))
    // one exchange on doc_id, reused by both pair sides (q11's rule);
    // unhinted — the text table is data-scaled, never broadcast
    val texts = docs.select(
      col(idCol).as("doc_id"), col(textCol).as("txt"),
      length(col(textCol)).cast("long").as("len"))
      .repartition(np, col("doc_id"))
    pairs
      .join(texts.select(col("doc_id").as("d1"), col("txt").as("t1"), col("len").as("l1")), "d1")
      .join(texts.select(col("doc_id").as("d2"), col("txt").as("t2"), col("len").as("l2")), "d2")
      .withColumn("lev", levenshtein(col("t1"), col("t2")).cast("long"))
      .withColumn("edit_sim",
        when(greatest(col("l1"), col("l2")) === 0, lit(1.0)).otherwise(
          floor((lit(1.0) - col("lev").cast("double")
            / greatest(col("l1"), col("l2")).cast("double")) * 10000.0 + 0.5)
            / 10000.0))
      .select(col("d1"), col("d2"), col("jaccard"), col("lev"), col("edit_sim"))
  }

  /** Per-document banded signature hashes `(doc_id, band, bh)` — the
    * shared kernel of the in-memory candidate join
    * ([[minHashCandidates]]) and the at-rest index below. The repartition
    * is the q12 CollapseProject barrier: without it every band expression
    * re-computes the full signature.
    */
  private def bandHashes(sh: DataFrame, bands: Int, rows: Int): DataFrame = {
    val np = sh.sparkSession.sparkContext.defaultParallelism
    val withSig = sh
      .select(col("doc_id"), minHashSignature(col("sh"), bands * rows).as("sig"))
      .repartition(np, col("doc_id"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rows).map(r => col("sig")(b * rows + r)): _*).as("bh"))
    }
    withSig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  /** Banded-MinHash near-dup index AT REST — the text-dedup analogue of
    * the IVF-at-rest embedding index (q34): the corpus's band hashes are
    * materialized ONCE into a warehouse table partitioned by
    * `pb = band · partBuckets + (bh mod partBuckets)` (≤ bands·partBuckets
    * partition values — bounded by construction), so later arrival batches
    * probe the index instead of re-shingling and re-hashing the corpus.
    * 32×4 banding: P(miss) at jaccard 0.77 ≈ 1e-6, vs ~1e-3 for q12's
    * 16×4 — an INDEX is built once and must not bake in a recall cliff.
    */
  def minhashIndexAtRest(
      docs: DataFrame, idCol: String, textCol: String,
      table: graft.table.WarehouseTable,
      bands: Int = 32, rows: Int = 4, shingleN: Int = 3,
      partBuckets: Int = 8,
      compression: String = "snappy"): Unit = {
    val idx = bandHashes(shingled(docs, idCol, textCol, shingleN), bands, rows)
      .withColumn("pb",
        (col("band") * partBuckets + pmod(col("bh"), lit(partBuckets))).cast("int"))
    // the banding parameters ARE the index format: persist them in the
    // table so a lookup under different parameters fails loudly instead
    // of silently joining hashes computed under a different banding.
    // MERGE-ON-READ, deliberately: a commit batch's band hashes scatter
    // over EVERY pb partition (pb mixes the band id), so a COW merge
    // would rewrite the whole index per batch — corpus-bound, the exact
    // cost the at-rest design exists to avoid. MOR makes each commit an
    // O(batch) delta append; reads arbitrate (newest (doc_id, band)
    // wins, tombstoned hashes drop) and the delta threshold folds the
    // index back periodically — amortized maintenance off the ingest
    // path, Iceberg's own trade. Contract note: a (doc_id, band) row
    // never MOVES partition while live (hashes are deterministic in the
    // text and dedup corpora are immutable-by-id), so partition-pruned
    // arbitration is exact; even a hypothetical stale hash only ever
    // ADDS a candidate, which the exact-Jaccard verify rejects.
    table.create(idx.schema, partition = Some("pb"),
      properties = graft.table.WarehouseTable.tableProperties("MOR", compression) ++
        Map(
          "stats.mode" -> "none", // probes prune by pb partition, never stats
          "minhash.bands" -> bands.toString,
          "minhash.rows" -> rows.toString,
          "minhash.shingleN" -> shingleN.toString,
          "minhash.partBuckets" -> partBuckets.toString))
    table.append(idx)
  }

  /** Near-dup lookup of an arrival batch against the at-rest index: the
    * arrivals' band hashes decide which `pb` partitions to READ
    * (manifest-level pruning; the driver sees only the bounded distinct
    * partition-value set — the same Iceberg-style planning step as q34),
    * candidates come from the `(band, bh)` equi-join inside them, and
    * exact shingle-Jaccard verification of the candidates makes
    * PRECISION exact. RECALL is the banding's: a pair at jaccard j is a
    * candidate with probability `1 − (1 − j^rows)^bands`, so the
    * `minRecallJaccard` contract is enforced up front — the configured
    * banding must give ≥ 99.9 % recall at that jaccard (32×4 qualifies
    * down to j ≈ 0.75; a caller needing recall at lower j must raise
    * `bands`, not lower `threshold`). Banding parameters are validated
    * against the ones PERSISTED in the index — a mismatched lookup would
    * otherwise silently join hashes from a different banding and return
    * garbage or nothing.
    *
    * The arrival frame is localCheckpoint'd so planning and probing
    * cannot diverge on a nondeterministic source.
    */
  def minhashLookupAtRest(
      spark: org.apache.spark.sql.SparkSession,
      arrivals: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      table: graft.table.WarehouseTable,
      bands: Int = 32, rows: Int = 4, shingleN: Int = 3,
      partBuckets: Int = 8,
      threshold: Double = 0.5,
      minRecallJaccard: Double = 0.75): DataFrame = {
    val stored = table.properties
    Seq("minhash.bands" -> bands, "minhash.rows" -> rows,
      "minhash.shingleN" -> shingleN, "minhash.partBuckets" -> partBuckets)
      .foreach { case (k, v) =>
        stored.get(k).foreach(sv => require(sv == v.toString,
          s"index was built with $k=$sv but the lookup passed $v — " +
            "band hashes from different bandings never match"))
      }
    val missProb =
      math.pow(1.0 - math.pow(minRecallJaccard, rows.toDouble), bands.toDouble)
    require(missProb <= 0.001,
      f"banding ${bands}x$rows gives only ${(1 - missProb) * 100}%.2f%% recall " +
        f"at jaccard $minRecallJaccard — raise bands (or minRecallJaccard)")
    val qsh = shingled(arrivals, idCol, textCol, shingleN)
    val qidx = bandHashes(qsh, bands, rows)
      .withColumn("pb",
        (col("band") * partBuckets + pmod(col("bh"), lit(partBuckets))).cast("int"))
      .localCheckpoint()
    // bounded: at most bands·partBuckets distinct values reach the driver
    val pbVals =
      qidx.select(col("pb")).distinct().collect().map(_.get(0)).toSeq
    val idx = table.read(spark, partitions = Some(pbVals))
    val cands = idx
      .join(qidx.select(col("doc_id").as("qid"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("qid") =!= col("doc_id"))
      .select(col("qid").as("d1"), col("doc_id").as("d2"))
      .distinct()
    // candidates are FEW (LSH output) — the array_intersect verify is the
    // right tool here, unlike the recall-1.0 inverted index (q57 lesson).
    // The corpus side SEMI-JOINS to the candidate ids BEFORE shingling:
    // without it the verify's doc_id repartition would shuffle the whole
    // corpus's shingle arrays on every lookup (corpus-bound, exactly what
    // the pruned index read just avoided); with it the scan stays a
    // column-pruned pass and only candidate-bounded rows shuffle.
    val candIds = cands.select(col("d2").as(idCol)).distinct()
    val corpusSh = shingled(
      corpus.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, shingleN)
    verifyPairs(cands, qsh.unionByName(corpusSh), threshold)
  }

  /** Incremental maintenance of the at-rest dedup infrastructure — the
    * step that closes the loop [[minhashLookupAtRest]] opens: after a
    * lookup classifies an arrival batch, commit the ACCEPTED documents'
    * band hashes into the index table and their `(doc_id, fp, text)` rows
    * into the at-rest corpus table, one snapshot commit each — so the
    * NEXT batch's lookup catches near-dups of everything accepted so far,
    * not just the original corpus.
    *
    * Banding parameters are read from the index table itself (they ARE
    * the persisted index format — a caller cannot append hashes computed
    * under a different banding). Commits are keyed MERGEs, not blind
    * appends: a checkpoint replay of the same batch upserts byte-identical
    * rows, so re-commits are idempotent (the q33/streaming replay rule).
    * The corpus table is created on first commit (fp = the q07 normalized
    * fingerprint, so exact-dup checks read it directly).
    *
    * Scale shape: band-hash computation is the index build's own map-side
    * pass over just the batch; the index MERGE rewrites only the `pb`
    * partitions the batch's hashes land in (COW partition granularity);
    * the corpus MERGE is one content-keyed upsert. Nothing rescans the
    * existing corpus.
    */
  def minhashIndexCommit(
      spark: org.apache.spark.sql.SparkSession,
      accepted: DataFrame, idCol: String, textCol: String,
      indexTable: graft.table.WarehouseTable,
      corpusTable: graft.table.WarehouseTable): Unit = {
    val stored = indexTable.properties
    def param(k: String): Int = stored.getOrElse(s"minhash.$k",
      throw new IllegalArgumentException(
        s"index table has no minhash.$k property — not a minhash index")).toInt
    val bands = param("bands"); val rows = param("rows")
    val shingleN = param("shingleN"); val partBuckets = param("partBuckets")
    val idx = bandHashes(shingled(accepted, idCol, textCol, shingleN), bands, rows)
      .withColumn("pb",
        (col("band") * partBuckets + pmod(col("bh"), lit(partBuckets))).cast("int"))
    indexTable.merge(spark, idx, Seq("doc_id", "band"))
    val corp = accepted.select(
      col(idCol).cast("long").as("doc_id"),
      graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"),
      col(textCol).as("text"))
    // MOR for the same reason as the index: the corpus table is
    // unpartitioned (keyed by doc_id), so a COW merge is a FULL-TABLE
    // rewrite per batch; a MOR delta is O(batch), folded by the
    // compaction threshold
    if (!corpusTable.exists)
      corpusTable.create(corp.schema,
        properties = graft.table.WarehouseTable.tableProperties("MOR", "snappy"))
    corpusTable.merge(spark, corp, Seq("doc_id"))
  }

  /** Asymmetric CONTAINMENT decontamination — the graded companion to the
    * exact-13-gram rule (q42): score each corpus doc by the largest
    * fraction of a REFERENCE doc's shingles it contains,
    * `cont(c, r) = |sh(c) ∩ sh(r)| / |sh(r)|`, in exact parts-per-million
    * (`inter·10^6 div n_r` — a ring op, cross-engine exact). This is the
    * contamination shape n-gram matching misses gradually and Jaccard
    * misses structurally: a short benchmark item embedded in a long
    * training doc has near-zero Jaccard (the union is dominated by the
    * training doc) but containment ≈ 1 measured from the reference side.
    *
    * Output: one row per corpus doc sharing ≥1 shingle with any
    * reference (hit-bound, not corpus-bound), with the max containment,
    * the number of references at/above the threshold, and the flag.
    *
    * Scale: the reference side is an EVAL SUITE by contract —
    * benchmark-sized, orders of magnitude smaller than the corpus — so
    * it broadcasts and the corpus side never shuffles: one map-side
    * shingle pass, a broadcast hash join on the shingle, and a
    * doc-keyed aggregation. Decontaminating 100 TB against a benchmark
    * battery is exactly one pass over the corpus.
    */
  def containmentAgainst(
      docs: DataFrame,
      reference: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 3,
      tauE6: Long = 800000L): DataFrame = {
    require(tauE6 >= 0L && tauE6 <= 1000000L, s"tauE6=$tauE6 not in [0, 1e6]")
    val c = shingled(docs, idCol, textCol, shingleN)
      .select(col("doc_id"), explode(col("sh")).as("tri"))
    val r = shingled(reference, idCol, textCol, shingleN)
      .select(col("doc_id").as("ref_id"), col("n_sh").cast("long").as("n_r"),
        explode(col("sh")).as("tri"))
    val inter = c.join(broadcast(r), Seq("tri"))
      .groupBy(col("doc_id"), col("ref_id"), col("n_r"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_e6", expr("(inter * 1000000) div n_r"))
    inter.groupBy(col("doc_id"))
      .agg(max(col("cont_e6")).as("max_cont_e6"),
        sum(when(col("cont_e6") >= tauE6, 1L).otherwise(0L)).as("n_refs_hit"))
      .withColumn("flagged", col("max_cont_e6") >= tauE6)
  }

  /** Corpus-level duplicated-n-gram report — the diagnostic that decides
    * whether substring dedup (q52) is worth running and what its gram
    * length should be: the `topK` n-grams appearing in ≥2 documents,
    * ranked by document frequency (occurrence count, then gram text, as
    * deterministic tiebreaks). Every large-corpus dedup paper starts from
    * exactly this table (boilerplate headers/footers dominate it).
    *
    * Scale shape: native positional-shingle pass per row (all
    * occurrences), one content-keyed hash agg (map-side partial), then
    * global top-K — Spark plans the ordered `limit` as
    * `TakeOrderedAndProject` (per-partition heaps + driver merge of topK
    * rows, never a full sort). The rank window runs AFTER the limit, on
    * `topK` rows — bounded by construction.
    */
  def topDuplicatedGrams(
      docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, topK: Int = 20): DataFrame = {
    val grams = docs.select(
      col(idCol).as("id"),
      explode(graft.functions.WordShinglesAll(col(textCol), n)).as("gram"))
    val order = Seq(col("ndocs").desc, col("n_occ").desc, col("gram").asc)
    grams.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("ndocs"), count(lit(1)).as("n_occ"))
      .filter(col("ndocs") >= 2)
      .orderBy(order: _*)
      .limit(topK)
      .withColumn("rank",
        row_number().over(Window.orderBy(order: _*)).cast("long"))
  }
}
