package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** Approximate/exact nearest-neighbor search and bucketed all-pairs
  * similarity over an embedding column (SURVEY.md §2.4 A11, §2.10 D3).
  *
  * - `bruteForceTopK`: exact cosine top-k against one query vector — a
  *   single narrow map + TakeOrderedAndProject; scales linearly and is the
  *   correctness baseline.
  * - `ivfTopK` (the DEFAULT ANN — measured recall@10 = 0.9 on the sf0.01
  *   embeddings vs 0.3–0.7 for LSH): inverted-file index — a k-means
  *   coarse quantizer (fit with DataFrame-only Lloyd's iterations)
  *   partitions the corpus into cells; a query probes its `nprobe`
  *   nearest cells. Density-adaptive where LSH buckets are oblivious; the
  *   standard ANN layout at corpus scale. Prefer it unless the corpus is
  *   known to be strongly angularly clustered.
  * - `lshTopK`: random-hyperplane LSH — each vector is bucketed by the sign
  *   pattern of `numPlanes` fixed pseudo-random hyperplanes (seeded, so
  *   deterministic across runs/executors); search scans the query's bucket,
  *   its radius-1 neighbors, and (OR-construction) `numTables` independent
  *   plane sets. At 100 TB the bucket columns become partition/cluster keys
  *   so a query touches only the probed fraction of the data.
  * - `lshPairs`: bucketed near-duplicate PAIR generation — the vector twin
  *   of `Dedup.minhashPairs` and the 100 TB path for semantic dedup
  *   (q43's exact all-pairs form is the oracle pin; this one never goes
  *   quadratic in the corpus).
  */
object SimilaritySearch {

  /** Deterministic pseudo-random hyperplanes (fixed seed). Bounded below
    * 64: bucket ids are sign bits packed into one long via `1L << i`,
    * and Java masks the shift count mod 64 — plane 64 would silently
    * alias plane 0 and corrupt every bucket instead of failing.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    require(numPlanes >= 1 && numPlanes < 64,
      s"numPlanes must be in [1, 63] (sign bits pack into one long " +
        s"bucket id): $numPlanes")
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rng.nextGaussian())
  }

  // ONE Literal node regardless of array size (typedLit), not a
  // CreateArray with |p| literal children: the ADC lookup tables and
  // centroid matrices reach thousands of elements, and the child-per-
  // element form made every analyzer/optimizer pass walk them all
  // (constant folding re-built the array per plan) — measurable
  // per-probe planning cost on the ANN family. Runtime semantics are
  // identical (same array<double> literal after folding).
  private def planeLit(p: Array[Double]): Column =
    typedLit[Seq[Double]](p.toSeq)

  /** Sign-pattern bucket id in [0, 2^numPlanes). Uses the fused native dot
    * kernel: the HOF form fell out of whole-stage codegen (higher-order
    * functions are CodegenFallback) and dominated the bucketing scan.
    */
  def lshBucket(
      spark: org.apache.spark.sql.SparkSession,
      vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(graft.functions.CosineSimilarity.dotFast(spark, vec, planeLit(p)) >= 0,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Exact cosine top-k neighbors of `queryVec` (excluding exact id match
    * when `excludeId` is set). Returns (idCol, cosine) ordered desc.
    */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Array[Double],
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val q = array(queryVec.map(lit(_)): _*)
    val base = excludeId.fold(df)(id => df.filter(col(idCol) =!= id))
    base
      .select(col(idCol),
        round(graft.functions.CosineSimilarity.cosineFast(spark,
          col(vecCol), q), 4).as("cosine"))
      .orderBy($"cosine".desc, col(idCol))
      .limit(k)
  }

  /** Multi-probe, multi-table LSH ANN (Lv et al., "Multi-probe LSH",
    * VLDB 2007; OR-construction per Leskovec/Rajaraman/Ullman ch.3):
    * score vectors in the query's bucket AND every bucket whose sign
    * pattern differs by one hyperplane — a vector near the query that
    * sits just across one hyperplane lands in exactly such a bucket,
    * which is why single-bucket probing has near-zero recall on real
    * embeddings (measured 0.0 recall@10 on the sf0.01 corpus) — and
    * union the probes of `numTables` INDEPENDENT plane sets: a pair
    * missed by one table with probability q is missed by all with
    * q^numTables (measured recall@10 on sf0.01: 0.3 at one table,
    * 0.8 at four).
    *
    * At scale each table's bucket column is a partition/cluster key and
    * each probe is a pruned partition read; the whole candidate pass here
    * is one narrow codegen'd filter scan (no explode, no shuffle)
    * followed by TakeOrderedAndProject.
    *
    * NOTE: on weakly-clustered (near-isotropic) embeddings like the test
    * corpus, high recall forces the probed fraction toward a full scan —
    * that is a property of the data, not the index; [[ivfTopK]] is the
    * documented default ANN for that regime (recall 0.9 at nprobe/k of
    * the data).
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Array[Double],
      k: Int,
      numPlanes: Int = 4,
      excludeId: Option[Long] = None,
      numTables: Int = 1,
      seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    val v = VectorOps.toDoubles(col(vecCol))
    val inProbed = (0 until numTables).map { t =>
      val planes = hyperplanes(numPlanes, queryVec.length, seed + t)
      val qBucket = planes.zipWithIndex.map { case (p, i) =>
        if (p.zip(queryVec).map { case (a, b) => a * b }.sum >= 0) 1L << i else 0L
      }.sum
      val probed: Set[Long] =
        (0 until numPlanes).map(i => qBucket ^ (1L << i)).toSet + qBucket
      lshBucket(spark, v, planes).isInCollection(probed)
    }.reduce(_ || _)
    bruteForceTopK(df.filter(inProbed), idCol, vecCol, queryVec, k, excludeId)
  }

  /** Bucketed near-duplicate pair generation over embeddings — the vector
    * twin of [[graft.operators.Dedup.minhashPairs]] and the semantic-dedup
    * scale path: candidates come from hyperplane-LSH bucket self-joins
    * (`numTables` independent tables, OR-construction), then ONLY the
    * candidates are exact-cosine verified — the corpus is never compared
    * all-pairs.
    *
    * Scale shape: bucketing is a narrow codegen'd map emitting
    * (id, table, bucket) ints — the shuffle carries ids, never vectors;
    * the self-join is per-(table,bucket); verification joins the (small)
    * candidate set back to the vectors. Sizing: with B = 2^numPlanes
    * buckets per table, expected bucket size is n/B — pick
    * `numPlanes ≈ log2(n / targetBucketSize)` so per-bucket work stays
    * bounded as the corpus grows (the ScaleRun curve scales planes this
    * way), and cap degenerate buckets with `maxBucketSize` exactly like
    * the minhash band buckets (a template repeated m times otherwise
    * emits m²/2 candidates).
    *
    * Recall: a pair at angle θ collides in one table with
    * p^numPlanes, p = 1 − θ/π, and is missed by all tables with
    * (1 − p^numPlanes)^numTables — near-exact for true near-dups
    * (cosine ≥ 0.9 ⇒ p ≥ 0.86) at the defaults; pairs barely over a LOW
    * threshold on isotropic data are the geometric worst case (see the
    * planted-vs-real spec pair in OperatorsSpec). `probeFlips` buys the
    * near-threshold recall back without extra tables: with query-
    * directed multi-probe (see [[graft.functions.LshProbeBuckets]]) a pair is a
    * candidate when some table has the two buckets equal OR reachable by
    * flipping one of EITHER vector's `probeFlips` closest planes — per-
    * table collision rises from p^k to roughly
    * p^k + Σ_{closest flips planes} p^(k-1)(1−p)-mass, which at
    * cosine 0.45, k = 4, flips = 2, 14 tables takes per-pair miss from
    * ~21 % (8 plain tables) to < 10⁻³ — measured ZERO missed pairs on
    * both gate corpora with ≥ 2 colliding tables per pair (the
    * OperatorsSpec equality pin). Past the gate geometry single flips
    * hit a structural ceiling — buckets differing in ≥ 2 planes are
    * unreachable at any flip count — so the probe set is a Hamming
    * BALL whose radius follows [[resolveRadius]] (the flips-vs-planes
    * law; MultiProbeCompletenessSpec pins the envelope through the
    * 16-plane geometry).
    *
    * @param threshold exact-cosine cutoff applied to verified candidates
    * @param numPlanes 0 (default) = the [[adaptivePlanes]] sizing law
    *        (bucket population held near 128 as n grows); explicit
    *        values pin the geometry (durable-index compatibility)
    * @param probeFlips 0 = exact buckets only; f ≥ 1 probes within each
    *        vector's f closest planes per table (query-directed
    *        multi-probe, VLDB 2007); -1 = plane-matched probe count
    *        (see [[resolveFlips]])
    * @param probeRadius Hamming-ball radius over the f closest planes;
    *        -1 (default) = the [[resolveRadius]] law (radius 1 at the
    *        gate geometry — single flips, unchanged — growing with
    *        planes so at-threshold recall survives the adaptive sizing),
    *        PLUS the [[resolveTables]] growth arm: where the radius cap
    *        still misses the 1e-3 per-pair bar, tables grow additively
    *        (existing tables keep their hyperplanes — the candidate set
    *        only widens) to the smallest count reaching it, capped at
    *        [[maxGrownTables]] with the residual [[missBound]] logged;
    *        0 = single-bit flips only (the pre-law behavior, no growth);
    *        explicit r ≥ 1 pins the radius and the table count
    * @return (a_id, b_id, cosine) with a_id < b_id, one row per pair
    */
  def lshPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 0,
      numTables: Int = 8,
      maxBucketSize: Int = 0,
      seed: Long = 42L,
      persist: Boolean = true,
      probeFlips: Int = 0,
      probeRadius: Int = -1): DataFrame =
    lshPairsImpl(df, idCol, vecCol, threshold, numPlanes, numTables,
      maxBucketSize, seed, persist, probeFlips, probeRadius,
      allowBlocked = true, cacheSink = null)

  /** The lshPairs body. `allowBlocked = false` pins the monolithic fused
    * pipeline (used by [[lshPairsBlocked]]'s passes — a pass must never
    * re-split). `cacheSink`, when non-null, collects every relation this
    * call persists so the caller can release them once the result is
    * materialized (the blocked driver's per-pass hygiene).
    */
  private[operators] def lshPairsImpl(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int,
      numTables: Int,
      maxBucketSize: Int,
      seed: Long,
      persist: Boolean,
      probeFlips: Int,
      probeRadius: Int,
      allowBlocked: Boolean,
      cacheSink: scala.collection.mutable.Buffer[DataFrame]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Norms once (n rows), so verification does only the fused dot. With
    // persist = true (default, full-corpus runs) the vector and bucket
    // relations are cached because bucketing and BOTH verify joins read
    // them (self-referencing plans do not share unmaterialized
    // subtrees); blocks die with the session. persist = false is for
    // repeated small-input calls (the streaming within-batch pass) where
    // an unreleased cache per call would leak.
    // tracked for release-on-failure: the geometry count and the gate's
    // conf reads run jobs/parses mid-build, and a failure there must not
    // strand the registrations in a long-lived session (the happy path
    // deliberately leaves them cached — the returned plan reads them;
    // callers/cacheSink own that release)
    val localCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    def cached(d: DataFrame): DataFrame =
      if (persist) {
        val p = d.persist()
        localCaches += p
        if (cacheSink != null) cacheSink += p
        p
      } else d
    def guarded[T](body: => T): T =
      BroadcastGate.releasingOnFailure(localCaches.toSeq)(body)
    val e = cached(normedVectors(df, idCol, vecCol, "id", "v", "nrm"))
    val firstRow = guarded(e.select(size($"v")).take(1))
    if (firstRow.isEmpty) { // empty corpus: no pairs, and no dim to bucket by
      if (persist) e.unpersist()
      // type-faithful empty result (a_id/b_id carry the ID column's own
      // type): a blocked run unions per-pass results, and a hard-coded
      // bigint schema from an empty pass would fail the union for
      // non-long id columns
      return df.limit(0)
        .select(col(idCol).as("a_id"), col(idCol).as("b_id"),
          lit(0.0).as("cosine"))
    }
    val dim = firstRow.head.getInt(0)
    // Geometry resolution (ONE count job against the cached relation,
    // shared with the probe branch's broadcast gates below — with
    // persist = false the inputs are small by contract and the extra
    // pass is bounded by them): numPlanes = 0 → the sizing law,
    // probeFlips = -1 → the plane-matched probe count.
    val n = guarded(e.count())
    // Geometry laws via [[resolveGeometry]] (ONE source of truth with
    // the public pre-flight) — resolved BEFORE the routing decision
    // below, because the fused verify broadcasts THREE relations (two
    // vector projections at n·vecBytes each plus the capped bucket
    // relation at n·tables·24) and the table-growth arm can take tables
    // to 50-64 exactly in the large-n/loose-threshold regime routing
    // targets: a chunk pair sized on vector bytes alone could still
    // carry an over-gate bucket relation whose dropped hint degrades
    // the probes join to the SMJ sort. Table growth only when the law
    // owns the radius (probeRadius = -1): an explicit radius or
    // flips = 0 is a deliberate opt-down and keeps the caller's table
    // count. Gate configs are untouched (4 planes × 14 tables at 0.45:
    // bound 1.1e-5, no growth); the arm engages exactly where the
    // radius cap used to leave a silent floor (12+ planes at loose
    // thresholds).
    val geom = guarded(resolveGeometry(n, threshold, numPlanes, numTables,
      probeFlips, probeRadius)) // the laws' requires can throw post-count
    // BEYOND-GATE ROUTING: the fused verify is scale-safe only while
    // its relations broadcast — past the gate the SMJ degrade sorts the
    // un-deduped candidate mass (measured disk-death at 128k vectors,
    // r11). Route to [[lshPairsBlocked]] only when the monolithic
    // broadcast provably does NOT fit (per-relation bytes > gate, i.e.
    // C ≥ 3 — a corpus whose chunk arithmetic says C = 2 fits the gate
    // whole, and its only cross-pass IS the monolithic run, so routing
    // there would double candidate/verify work for zero peak-memory
    // benefit) and a blocked split can (≤ maxBlockedChunks chunk-pair
    // passes each under the gate) — identical pair set (superset under
    // a bucket cap), memory-bounded at any corpus size.
    if (allowBlocked && persist) {
      val c = guarded(blockedChunks(n, dim, geom.tables,
        BroadcastGate.bytes(df)))
      if (c >= 3 && c <= maxBlockedChunks) {
        e.unpersist(blocking = false)
        // pass the RESOLVED planes, not the caller's 0: the blocked path
        // would otherwise re-run a full-corpus count just to re-derive
        // the adaptive plane count this call already computed
        return lshPairsBlocked(df, idCol, vecCol, threshold, geom.planes,
          numTables, maxBucketSize, seed, probeFlips, probeRadius, c)
      }
      if (c > maxBlockedChunks)
        // past the blocked envelope the monolithic SMJ degrade below is
        // the measured disk-kill regime — don't reach it silently
        org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
          s"lshPairs corpus needs $c gate-sized chunks " +
            s"(> $maxBlockedChunks, the blocked envelope): the verify " +
            "join will NOT broadcast and its sort spills the candidate " +
            "mass — use the exact indexed path, raise " +
            s"${BroadcastGate.confKey}, or raise the threshold")
    }
    val planes = geom.planes
    val flips = geom.flips
    val radius = geom.radius
    val tables = geom.tables
    if (flips > 0 && geom.missBound > 1e-3)
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        f"lshPairs geometry planes=$planes tables=$tables radius=$radius " +
          f"misses up to ${geom.missBound}%.3g of at-threshold pairs " +
          f"(threshold=$threshold%.2f, recall floor ${1 - geom.missBound}%.4f, " +
          "table growth capped) — consider the exact indexed path; " +
          "the bound is SimilaritySearch.resolveGeometry(...).missBound")

    // (id, table, dots) once — canonical buckets AND probe flips derive
    // from the same cached dots, so the expensive hyperplane projection
    // runs once however many probe shapes read it.
    val dotsRel = cached(tableDotsRelation(e, "id", "v",
      planes, tables, dim, seed))
    // (id, table, bucket) rows — ints only, numTables per vector.
    val bucketed = dotsRel
      .select($"id", $"tbl", bucketFromDots(planes).as("bucket"))

    // ONE groupBy(tbl, bucket) posting-list aggregate serves BOTH
    // branches (guide §2.4): the bucket cap becomes a filter on the
    // grouped row — the previous cap aggregate + join-back pair (two
    // exchanges of the bucket relation) is gone — and each branch
    // consumes the groups its own way (pair expansion below; broadcast
    // bucket-group probe join in the flips branch).
    val grouped = bucketed.groupBy($"tbl", $"bucket")
      .agg(collect_list($"id").as("ids"))
    val groupedCapped =
      if (maxBucketSize > 0) grouped.filter(size($"ids") <= maxBucketSize)
      else grouped

    if (flips <= 0) {
      // Cross-table candidate dedup is an aggregation, not dropDuplicates
      // after the fact — same result, one hash aggregate. Pairs expand
      // from the bucket posting lists through codegen'd Generates (the
      // Dedup posting-list shape), then verification joins the (small,
      // post-dedup) candidate set back to the vectors — right when the
      // threshold is high enough for the buckets to discriminate, so
      // candidates ≪ n² and the dedup exchange is cheap.
      val cand = Dedup.postingPairs(grouped, "ids", maxBucketSize)
        .groupBy($"a".as("a_id"), $"b".as("b_id")).agg(lit(1))
        .select($"a_id", $"b_id")
      cand
        .join(e.select($"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_n")), "a_id")
        .join(e.select($"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_n")), "b_id")
        .withColumn("cosine", normedCosine(spark, "a_v", "b_v", "a_n", "b_n"))
        .filter($"cosine" >= threshold)
        .select($"a_id", $"b_id", round($"cosine", 4).as("cosine"))
    } else {
      // Multi-probe, VERIFY-FUSED. Probing exists to reach at-threshold
      // recall, and near the threshold the buckets barely discriminate —
      // on the gate corpus ~97 % of all pairs are candidates, so the
      // classic dedup-then-fetch shape pays a candidate-mass hash
      // aggregate (the profiled 5.6 s of a 7 s query: ~5 collisions per
      // pair land on different partitions, so partial aggs barely
      // combine and ~the full join mass hits the exchange). Instead,
      // attach the vectors inside the join stage and verify the exact
      // cosine BEFORE deduping: explode(probe buckets) → BHJ canonical
      // buckets → BHJ vectors (both sides) → dot + filter → agg, one
      // whole-stage-codegen pipeline whose exchange carries only TRUE
      // pairs (× small collision multiplicity), not candidates. The
      // per-row cost moves to the fused dot — numTables·(1+flips)·
      // avgBucket dots — exactly the work verification owes anyway when
      // candidates ≈ all pairs; re-scoring a pair once per colliding
      // table (~5×) is far cheaper than shuffling the candidate mass.
      // Broadcasts are SIZE-GATED on the known row counts, never forced
      // blind. The gate is the pipeline's OPERATIVE memory bound and
      // must admit the vector relation at realistic sizes: past it, the
      // vector attach becomes an id-keyed SortMergeJoin whose LEFT side
      // is the un-deduped candidate mass — measured at 128k vectors /
      // 11 planes / radius 3, that sort tried to spill ~26G candidate
      // rows (hundreds of GB) and filled the disk, where the broadcast
      // form streams the same rows through two BHJs at ~1 ns/candidate
      // and touches no disk at all. The default gate (256 MiB estimated,
      // [[BroadcastGate]]) covers ~500k dim-64 vectors — routine for the
      // 8-32 GiB executors a 100 TB cluster runs; small-heap deployments
      // lower it via spark.graft.broadcastGateBytes. Beyond it the
      // routing above has already split the corpus into gate-sized
      // chunk pairs ([[lshPairsBlocked]]) so every pass stays on this
      // broadcast path — bucketed co-location CANNOT save the SMJ form
      // (the candidate side is born at runtime; any sort/exchange of
      // 10-40G candidate rows is the disk-kill), so the degrade below
      // remains reachable only through an explicit gate opt-out.
      def gated(d: DataFrame, estBytes: Long): DataFrame =
        guarded(BroadcastGate.gated(d, estBytes)) // conf parse can throw
      val vecBytes = 24L + 8L * dim
      val probes = dotsRel.select($"id", $"tbl",
        explode(graft.functions.LshProbe.probeBucketsFast(
          spark, $"ds", flips, radius)).as("bucket"))
      // the broadcast build is the GROUPED bucket relation (one row per
      // (tbl, bucket), same total id payload as the exploded rows the
      // previous form shipped) — candidate ids explode AFTER the BHJ,
      // inside the same whole-stage-codegen pipeline
      probes.as("p")
        .join(gated(groupedCapped.as("c"), n * tables * 24L),
          $"p.tbl" === $"c.tbl" && $"p.bucket" === $"c.bucket")
        .select($"p.id".as("pid0"), explode($"c.ids").as("cid0"))
        .filter($"pid0" =!= $"cid0")
        .join(gated(e.select($"id".as("pid"), $"v".as("p_v"), $"nrm".as("p_n")),
          n * vecBytes), $"pid0" === $"pid")
        .join(gated(e.select($"id".as("cid"), $"v".as("c_v"), $"nrm".as("c_n")),
          n * vecBytes), $"cid0" === $"cid")
        .withColumn("cos", normedCosine(spark, "p_v", "c_v", "p_n", "c_n"))
        .filter($"cos" >= threshold)
        .select(least($"pid0", $"cid0").as("a_id"),
          greatest($"pid0", $"cid0").as("b_id"), $"cos")
        .groupBy($"a_id", $"b_id").agg(first($"cos").as("c0"))
        .select($"a_id", $"b_id", round($"c0", 4).as("cosine"))
    }
  }

  /** Chunk count for the blocked-broadcast arm: the smallest C whose
    * chunk-PAIR unions (2n/C vectors) fit EVERY per-pass broadcast under
    * the gate. The fused verify broadcasts three relations per pass —
    * two vector projections at vecBytes/vector and the capped bucket
    * relation at tables·24/vector — each gated individually, so the
    * binding width is the per-vector MAX of the two shapes (at dim 64
    * the vectors dominate through 22 tables; past that — the table-
    * growth regime — the bucket relation does, e.g. tables = 50 is
    * 1200 B/vec vs 536 B/vec). C ≤ 2 means the whole corpus broadcasts
    * (n·width ≤ gate — no blocking is useful: the C = 2 cross-pass IS
    * the monolithic run); a non-positive gate disables blocking
    * entirely (the explicit opt-out: the SMJ degrade becomes reachable
    * again, which the gate-equality specs exercise).
    */
  private[graft] def blockedChunks(n: Long, dim: Int, tables: Int,
      gateBytes: Long): Int = {
    if (gateBytes <= 0L) return 1
    val width = math.max(24L + 8L * dim, 24L * tables)
    val c = (2L * n * width + gateBytes - 1L) / gateBytes
    math.min(c, Int.MaxValue.toLong).toInt
  }

  /** Past [[maxBlockedChunks]] a pass itself no longer fits the gate
    * budget shape (≈16M dim-64 vectors at the default gate) — the
    * prescription out there is the exact indexed path or a higher
    * threshold, not more blocking.
    */
  private[operators] val maxBlockedChunks = 64

  /** Conf key selecting [[lshPairsBlocked]]'s RELIABLE pass-
    * materialization mode: when set to a directory, each pass's
    * (pair-sized) result is written as parquet under a per-call unique
    * subdirectory and read back (survives executor loss — the
    * cluster-safe mode for long C(C+1)/2-pass runs) instead of
    * localCheckpoint blocks (the local default, where a lost block
    * silently loses that pass's pairs because the lineage cut is
    * deliberate). Plain table files, NOT the SparkContext checkpoint
    * machinery: `setCheckpointDir` is process-global mutable state — a
    * concurrent unrelated `checkpoint()` call during the pass window
    * would land its files in scratch the caller is told to delete, and
    * the resolved dir cannot be restored without nesting a fresh UUID
    * level per run. The caller owns the directory's lifecycle: point it
    * at job-scoped scratch storage and clean it when the returned
    * result is released (the result reads these files while it lives).
    */
  val blockedCheckpointDirKey = "spark.graft.blockedCheckpointDir"

  /** BLOCKED-BROADCAST all-pairs LSH — the beyond-gate arm of
    * [[lshPairs]] (classic block-nested-loop decomposition, the shape
    * distributed all-pairs similarity joins use when neither side fits
    * memory — cf. Vernica et al., SIGMOD 2010). Why it exists: past the
    * broadcast gate the fused verify degrades to a SortMergeJoin that
    * SORTS the un-deduped candidate mass — measured at 128k vectors
    * (r11) that sort spilled ~26G rows and filled the disk, and no
    * bucketed co-location fixes it (the candidate side is born at
    * runtime with arbitrary distribution; ANY exchange or sort of
    * 10-40G candidate rows is the disk-kill). The only scale-safe
    * shape keeps verification map-side. So: split the corpus into C
    * deterministic hash-chunks (pmod(xxhash64(id), C)) sized so any
    * chunk PAIR fits the gate, run the fused broadcast pipeline once
    * per self-pass (i, i) and once per cross-pass (i, j) on the
    * chunk-pair union, keep each cross-pass's cross-chunk pairs only,
    * and union the C(C+1)/2 passes.
    *
    * Cost model: candidate/verify work ≈ 2× the monolithic form (each
    * cross-pass regenerates the union's within-chunk candidates only to
    * filter them; the self-passes re-add ~1/C); bucketing/dots ≈ C×
    * (cheap, narrow); peak broadcast memory = one chunk pair ≤ the
    * gate, AT ANY CORPUS SIZE. Disk: zero — candidates never leave
    * their codegen stage, exactly as within the gate.
    *
    * Result contract: geometry is pinned from the FULL corpus (planes
    * from [[adaptivePlanes]](n), radius/tables from the laws) and every
    * vector's buckets depend only on (vector, seed, planes, tables), so
    * with maxBucketSize = 0 the pair set is EXACTLY the monolithic
    * broadcast form's (BroadcastGateSpec pins it). With a cap > 0,
    * populations are measured per pass (2n/C ≤ n rows), so caps trip
    * no more often than monolithic: the result is a verified SUPERSET —
    * the cap exists to bound per-pass skew work, and the pass IS the
    * unit of work. Returned EAGERLY materialized and cached (pass
    * intermediates must be released before returning, which requires
    * computing the result first — the jaccardPairs contract); the
    * caller owns `unpersist()`.
    *
    * @param chunks 0 (default) = auto from the [[BroadcastGate]] budget;
    *        1 = explicit monolithic (no split); c ≥ 2 pins the split
    *        (the equality spec's lever)
    */
  def lshPairsBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 0,
      numTables: Int = 8,
      maxBucketSize: Int = 0,
      seed: Long = 42L,
      probeFlips: Int = 0,
      probeRadius: Int = -1,
      chunks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // lazy: the routed call (explicit chunks + resolved planes) needs
    // neither probe — forcing them would re-scan the corpus the router
    // just counted
    lazy val dimRow = df.select(size(VectorOps.toDoubles(col(vecCol)))).take(1)
    lazy val n = if (dimRow.isEmpty) 0L else df.count()
    val c =
      if (chunks == 1) 1 // explicit monolithic
      else if (chunks >= 2) chunks // explicit split pin (the spec lever)
      else if (dimRow.isEmpty) 1
      else {
        val auto = blockedChunks(n, dimRow.head.getInt(0),
          resolveGeometry(n, threshold, numPlanes, numTables, probeFlips,
            probeRadius).tables,
          BroadcastGate.bytes(df))
        // auto ≤ 2 ⇒ the monolithic broadcast fits the gate whole —
        // a 2-split's cross-pass would BE the monolithic run, so the
        // 3-pass decomposition buys no peak memory, only ~2× work
        if (auto <= 2) 1 else auto
      }
    if (c <= 1)
      return lshPairsImpl(df, idCol, vecCol, threshold, numPlanes,
        numTables, maxBucketSize, seed, persist = true, probeFlips,
        probeRadius, allowBlocked = false, cacheSink = null)
    require(c <= maxBlockedChunks,
      s"corpus needs $c chunks (> $maxBlockedChunks): past the blocked " +
        "envelope — use the exact indexed path or raise the threshold")
    // geometry pinned from the FULL corpus before splitting: a pass must
    // bucket exactly as the monolithic run would
    val planes = if (numPlanes > 0) numPlanes else adaptivePlanes(n)
    def chunkOf(idExpr: Column): Column = pmod(xxhash64(idExpr), lit(c))
    // Pass-materialization mode. Default: localCheckpoint — blocks live
    // on this JVM's executors, lineage CUT (load-bearing, see below).
    // With spark.graft.blockedCheckpointDir set: RELIABLE parquet
    // write-and-read-back under a per-call unique subdir — same lineage
    // cut, but pass results survive executor loss, which on a real
    // cluster a C(C+1)/2-pass run lives long enough to see (a lost
    // localCheckpoint block cannot recompute and would silently drop
    // that pass's true pairs). Deliberately NOT sc.setCheckpointDir +
    // Dataset.checkpoint: that mutates process-global state for the
    // whole pass window (racing concurrent blocked runs and redirecting
    // any unrelated checkpoint() into scratch the caller deletes), and
    // the resolved dir cannot be restored without nesting a UUID level
    // per run. The per-call subdir keeps concurrent reliable runs
    // sharing one conf dir collision-free; the conf names a job-scoped
    // scratch dir the CALLER owns (pass files are not self-deleting;
    // clean the dir when the returned result is released).
    val reliableDir = spark.conf.getOption(blockedCheckpointDirKey)
      .filter(_.nonEmpty)
      .map(d => s"$d/run-${java.util.UUID.randomUUID()}")
    // the run dir is logged (and best-effort deleted on failure below)
    // because the UUID is generated here: without either, a failed run's
    // orphan pass files would be indistinguishable from a concurrent
    // live run's in a shared scratch dir
    reliableDir.foreach(d =>
      org.apache.logging.log4j.LogManager.getLogger(getClass).info(
        s"lshPairsBlocked reliable pass files under $d"))
    val results = scala.collection.mutable.Buffer.empty[DataFrame]
    try {
      for (i <- 0 until c; j <- i until c) {
        val input =
          if (i == j) df.filter(chunkOf(col(idCol)) === i)
          else df.filter(chunkOf(col(idCol)) === i or
            chunkOf(col(idCol)) === j)
        // the whole pass — construction included — sits inside the
        // sink-releasing try: lshPairsImpl runs its geometry count
        // mid-call, and a failure there must release what the sink
        // already tracks (its own internal guard also releases; the
        // double release is a no-op)
        val sink = scala.collection.mutable.Buffer.empty[DataFrame]
        // MATERIALIZE AND CUT LINEAGE, not persist: a persisted pass
        // result retains the pass plan (InMemoryRelation keeps it for
        // recompute), including its BroadcastExchange hash relations
        // (~3 gate-sized builds per pass, the dominant resident cost),
        // so a C-pass run accumulates C× the per-pass broadcast budget:
        // measured OOM at 6 passes / 8g heap on the 512k rung. With the
        // dependencies dropped at materialization, each iteration's
        // broadcasts die with its locals. Local mode (default):
        // localCheckpoint blocks hold only true pairs, but a lost block
        // cannot recompute (lineage is gone) — the accepted
        // local-checkpoint trade the CC rounds already make. Reliable
        // mode (conf dir set): one job writes the pass as parquet, the
        // read-back plan depends only on the files (full lineage cut,
        // executor-loss-proof); the trade is write-through IO per pass
        // (pair-sized — true pairs only, tiny next to the candidate
        // mass that never leaves its codegen stage).
        val out = try {
          val pass = lshPairsImpl(input, idCol, vecCol, threshold, planes,
            numTables, maxBucketSize, seed, persist = true, probeFlips,
            probeRadius, allowBlocked = false, cacheSink = sink)
          // a cross-pass keeps cross-chunk pairs only — its within-chunk
          // pairs belong to (and are produced by) the self-passes
          val kept =
            if (i == j) pass
            else pass.filter(chunkOf($"a_id") =!= chunkOf($"b_id"))
          reliableDir match {
            case Some(d) =>
              val path = s"$d/pass-$i-$j"
              kept.write.mode("overwrite").parquet(path)
              spark.read.parquet(path)
            case None => kept.localCheckpoint(true)
          }
        } finally sink.foreach(_.unpersist(blocking = false))
        results += out
      }
      val all = results.reduce(_ unionAll _).persist()
      try { all.count(); all }
      catch {
        case t: Throwable => all.unpersist(blocking = false); throw t
      }
      // pass materializations are pair-sized; they back `all`'s
      // recompute path while it lives (local blocks die with it via the
      // cleaner; reliable pass files live until the caller cleans the
      // scratch dir)
    } catch {
      case t: Throwable =>
        results.foreach(_.unpersist(blocking = false))
        // a failed run's pass files back nothing — delete its run dir
        // (best-effort: never mask the original failure) so retried
        // failures don't accumulate orphans in a shared scratch dir
        reliableDir.foreach { d =>
          try {
            val p = new org.apache.hadoop.fs.Path(d)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .delete(p, true)
          } catch { case scala.util.control.NonFatal(_) => () }
        }
        throw t
    }
  }

  /** Standing hyperplane-LSH index over an embedding corpus — the vector
    * twin of [[graft.operators.Dedup.MinhashIndex]]: the persisted
    * normalized-vector relation (verification reads it) and the
    * (id, table, bucket) table with per-bucket populations (probes read
    * them). Built once, reused across increments; in production the
    * relations are bucketed tables that grow by appending each accepted
    * increment's rows (hyperplanes are seed-derived, so an increment
    * never changes existing bucket assignments).
    */
  final case class LshIndex private[operators] (
      vectors: DataFrame, // (corpus_id, v, nrm)
      buckets: DataFrame, // (corpus_id, tbl, bucket)
      bucketCounts: DataFrame, // (tbl, bucket, population)
      numPlanes: Int,
      numTables: Int,
      dim: Int,
      seed: Long) extends CachedRelations {
    protected def relations: Seq[DataFrame] =
      Seq(vectors, buckets, bucketCounts)
    /** Corpus row count, computed once per index instance — a standing
      * index's corpus is immutable by construction (appends build a NEW
      * index object), so repeated probes must not each pay a count job
      * for the same number (the gate only needs it for broadcast
      * sizing).
      */
    lazy val corpusCount: Long = vectors.count()
  }

  /** The bucket sizing law, now the library default (numPlanes = 0 at
    * the public entry points): planes = max(4, ceil(log2(n / 128)))
    * holds expected bucket population near 128 as the corpus grows, so
    * probe work per vector stays numTables·probes·O(128) — without it a
    * fixed plane count makes bucket population (and thus candidate
    * mass) grow linearly in n and every pair pipeline quadratic, which
    * is exactly what the 10× catalog sweep measured on q64 (exp +1.27)
    * before this became the default. The 128 target is gate-preserving:
    * both oracle gate corpora (500 / 2000 vectors) resolve to the
    * planes=4 geometry the q56/q64 oracle-equality specs pinned.
    */
  private[graft] def adaptivePlanes(n: Long): Int =
    math.max(4,
      math.ceil(math.log(math.max(n, 1L) / 128.0) / math.log(2)).toInt)

  /** probeFlips = -1 resolves to the plane-matched probe count:
    * min(planes, 2·(planes − 3)) — 2 flips at the gate geometry
    * (planes = 4, unchanged), rising with planes because each added
    * plane cuts per-table collision by p < 1 and single-bit flips are
    * the cheapest recall lever (they reuse the already-computed dots;
    * extra tables would re-pay the full bucketing scan).
    */
  private def resolveFlips(probeFlips: Int, numPlanes: Int): Int =
    // clamp to the plane count either way: LshProbeBuckets selects
    // distinct planes to flip, so flips > numPlanes would exhaust them
    // and index used(-1) — a mid-query executor crash on a public
    // parameter; flipping every plane is the semantic ceiling anyway
    if (probeFlips >= 0) math.min(probeFlips, numPlanes)
    else math.min(numPlanes, 2 * (numPlanes - 3))

  /** THE FLIPS-VS-PLANES LAW (probeRadius = -1 at the public entry
    * points): the smallest Hamming-ball radius whose per-pair miss
    * bound at the query threshold is ≤ 1e-3, capped at min(3, flips).
    *
    * Why a radius at all: two sign-pattern buckets that differ in d
    * planes are UNREACHABLE by single-bit probing when d ≥ 2 — no flip
    * count fixes that, only ball radius or more tables. An at-threshold
    * pair differs per table in Binomial(planes, 1 − p) planes with
    * p = 1 − θ/π, so the per-table hit ceiling is P[d ≤ radius] and the
    * per-pair miss bound is (1 − P[d ≤ radius])^tables. At the gate
    * geometry (4 planes × 14 tables, cosine 0.45: p = 0.649) radius 1
    * already gives 1.1e-5 — the law leaves the q56/q57/q64 oracle
    * config BIT-IDENTICAL. At 8 planes radius 1 collapses to a 7.9 %
    * per-pair miss (the adaptive-geometry gap the r10 verdict flagged)
    * and the law picks radius 2 (4.5e-4, 37 probes/table). The cap
    * bounds cost: the ball is Σ C(flips, s), exponential in radius —
    * where the capped radius still misses the 1e-3 bar (12+ planes at
    * cosine 0.45) [[resolveTables]] grows the table count to close it
    * (lshPairs only — a standing index's geometry is pinned, so the
    * index path logs the residual [[missBound]] instead), and
    * MultiProbeCompletenessSpec measures both arms. The bound treats the d
    * differing planes as covered by the flips-closest selection — the
    * query-directed property (Lv VLDB'07): differing planes are exactly
    * the small-|dot| ones; the spec validates the approximation.
    */
  private[operators] def resolveRadius(probeRadius: Int, threshold: Double,
      numPlanes: Int, numTables: Int, flips: Int): Int = {
    require(probeRadius >= -1,
      s"probeRadius must be -1 (the law), 0 (single flips) or >= 1: $probeRadius")
    if (flips <= 0) return 0
    // 0 = explicit opt-down to the pre-law single-bit-flip probes
    // (radius 1) — NOT the law: a caller spelling out 0 is asking for
    // plain flip behavior, and silently handing back the law radius
    // would multiply their probe cost unasked.
    if (probeRadius == 0) return 1
    if (probeRadius >= 1) return math.min(probeRadius, flips)
    val cap = math.min(3, flips)
    var r = 1
    while (r < cap && missBound(threshold, numPlanes, numTables, r) > 1e-3)
      r += 1
    r
  }

  /** Per-pair AT-THRESHOLD miss bound of a (planes, tables, radius)
    * geometry — the machine-readable recall floor (recall ≥ 1 − bound for
    * pairs at the threshold itself; strictly better above it). Public so
    * a caller can decide between the LSH and exact paths on a number
    * instead of a docs caveat. Derivation at [[resolveRadius]]: a pair at
    * cosine θ differs per table in Binomial(planes, 1 − p) planes with
    * p = 1 − θ/π, the per-table hit ceiling is P[d ≤ radius], and tables
    * are independent (OR-construction). radius 0 gives the classic
    * exact-bucket bound (1 − p^planes)^tables.
    */
  def missBound(threshold: Double, numPlanes: Int, numTables: Int,
      radius: Int): Double =
    math.pow(1.0 - perTableHit(threshold, numPlanes, radius), numTables)

  /** The geometry [[lshPairs]] will actually run for a given corpus size
    * and parameterization, laws applied — planes from [[adaptivePlanes]],
    * flips from [[resolveFlips]], radius from [[resolveRadius]], tables
    * from the [[resolveTables]] growth arm — plus its [[missBound]].
    * THE single source of truth (lshPairs resolves through this), and
    * the public pre-flight: a caller planning a 100 TB dedup asks for
    * the geometry first and routes to the exact path when the returned
    * floor is unacceptable, instead of discovering it in a log line.
    */
  final case class LshGeometry(planes: Int, tables: Int, flips: Int,
      radius: Int, missBound: Double)

  def resolveGeometry(n: Long, threshold: Double, numPlanes: Int = 0,
      numTables: Int = 8, probeFlips: Int = 0,
      probeRadius: Int = -1): LshGeometry = {
    val planes = if (numPlanes > 0) numPlanes else adaptivePlanes(n)
    val flips = resolveFlips(probeFlips, planes)
    val radius = resolveRadius(probeRadius, threshold, planes, numTables,
      flips)
    val tables =
      if (probeRadius == -1 && flips > 0)
        resolveTables(numTables, threshold, planes, radius)
      else numTables
    LshGeometry(planes, tables, flips, radius,
      missBound(threshold, planes, tables, radius))
  }

  private def perTableHit(threshold: Double, numPlanes: Int,
      radius: Int): Double = {
    val p = 1.0 -
      math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    var cum = 0.0
    var binom = 1.0
    var d = 0
    while (d <= radius) {
      if (d > 0) binom = binom * (numPlanes - d + 1) / d
      cum += binom * math.pow(p, numPlanes - d) * math.pow(1 - p, d)
      d += 1
    }
    math.min(cum, 1.0)
  }

  /** THE TABLE-GROWTH ARM of the probe law: when the radius cap (3)
    * binds before the 1e-3 per-pair miss bar — 12+ planes at a loose
    * threshold, i.e. multi-million-vector corpora deduped near 0.45 —
    * radius can't buy completeness (the ball is exponential in radius)
    * but tables still can (the bound is exponential in T): grow to the
    * smallest T reaching 1e-3, capped at [[maxGrownTables]]. Growth is
    * strictly additive — tables t < numTables keep their seed-derived
    * hyperplanes, so the candidate set is a superset of the ungrown
    * geometry's and verification stays exact: results only gain true
    * pairs. Where even the cap can't reach the bar (20+ planes at 0.45,
    * ≈134M+ vectors) the residual bound is returned alongside and logged
    * — the caller's signal to take the exact indexed path.
    */
  private[operators] def resolveTables(numTables: Int, threshold: Double,
      numPlanes: Int, radius: Int): Int = {
    val hit = perTableHit(threshold, numPlanes, radius)
    if (math.pow(1.0 - hit, numTables) <= 1e-3) numTables
    else if (hit <= 0.0) numTables // growth can't help a zero-hit geometry
    else {
      val need = math.ceil(math.log(1e-3) / math.log(1.0 - hit)).toInt
      math.max(numTables, math.min(need, maxGrownTables))
    }
  }

  /** Ceiling for [[resolveTables]]: 64 tables ≈ 4.6× the gate config's
    * probe mass — past it the per-table hit is so weak that the LSH path
    * has lost to the exact indexed one anyway.
    */
  private[operators] val maxGrownTables = 64

  /** (idAs, vAs, nrmAs): vectors as doubles plus their L2 norm — the
    * common head of every LSH relation. Column names are parameters
    * because the probe side must not collide with corpus columns in the
    * verification join.
    */
  private[graft] def normedVectors(
      df: DataFrame, idCol: String, vecCol: String,
      idAs: String, vAs: String, nrmAs: String): DataFrame = {
    val spark = df.sparkSession
    df.select(col(idCol).as(idAs), VectorOps.toDoubles(col(vecCol)).as(vAs))
      .withColumn(nrmAs,
        sqrt(graft.functions.CosineSimilarity.dotFast(spark, col(vAs), col(vAs))))
  }

  /** Exact cosine of two [[normedVectors]] rows: the fused dot over the
    * precomputed norms' product — float-identical to the fused cosine
    * (same op order on the same doubles), with no per-pair norm work.
    */
  private[graft] def normedCosine(spark: org.apache.spark.sql.SparkSession,
      a: String, b: String, na: String, nb: String): Column =
    graft.functions.CosineSimilarity.dotFast(spark, col(a), col(b)) /
      (col(na) * col(nb))

  /** One (idAs, tbl, bucket) row per hash table under the (seed + table)-
    * derived hyperplanes. Index build, durable append, and probe ALL go
    * through this one function — they must agree bit-for-bit on bucket
    * geometry for the durable index to work, so the geometry exists in
    * exactly one place.
    */
  private def hyperplaneBucketRelation(
      e: DataFrame, idAs: String, vAs: String,
      numPlanes: Int, numTables: Int, dim: Int, seed: Long): DataFrame =
    tableDotsRelation(e, idAs, vAs, numPlanes, numTables, dim, seed)
      .select(col(idAs), col("tbl"), bucketFromDots(numPlanes).as("bucket"))

  /** (idAs, tbl, ds) — per table, the ARRAY of raw hyperplane dots for a
    * vector, via ONE [[graft.functions.PlaneDots]] call per table (the
    * table's plane matrix held as a codegen reference object). Every
    * bucket/probe shape derives from this relation with cheap
    * `element_at` arithmetic. The discipline matters twice at once: the
    * dots are computed ONCE per (vector, table) however many probe
    * shapes read them, and generated-code size stays CONSTANT in the
    * geometry — the first multi-probe cut re-inlined per-plane literal
    * dot kernels everywhere, which (a) ballooned the plan to a 4 MB
    * task binary whose codegen COMPILATION dominated at ~7 s fixed
    * cost, and (b) at the adaptive 14-table × 8-plane geometry blew
    * Janino's 64 KB method limit outright, silently disabling
    * whole-stage codegen (interpreter-speed bucketing on the 10× sweep
    * corpus).
    */
  private def tableDotsRelation(
      e: DataFrame, idAs: String, vAs: String,
      numPlanes: Int, numTables: Int, dim: Int, seed: Long): DataFrame = {
    val spark = e.sparkSession
    val tableStructs = (0 until numTables).map { t =>
      val planes = hyperplanes(numPlanes, math.max(dim, 1), seed + t)
      struct(lit(t).as("tbl"),
        graft.functions.CosineSimilarity
          .planeDotsFast(spark, col(vAs), planes).as("ds"))
    }
    e.select(col(idAs), explode(array(tableStructs: _*)).as("tb"))
      .select(col(idAs), col("tb.tbl").as("tbl"), col("tb.ds").as("ds"))
  }

  /** Sign-pattern bucket from a dots array — `element_at` form of
    * [[lshBucket]]; the two must agree bit-for-bit (same dots, same sign
    * rule) for durable indexes to stay joinable.
    */
  private def bucketFromDots(numPlanes: Int): Column =
    (0 until numPlanes).map { i =>
      when(col("ds").getItem(i) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  // Multi-probe buckets (canonical + closest-plane flips) are computed
  // by the loop-based native expression
  // [[graft.functions.LshProbeBuckets]] — the earlier composed-`when`
  // column form was O(planes² · flips) expression nodes and blew the
  // 64 KB codegen method limit at the adaptive geometry; see that
  // expression's scaladoc for the probe rationale (Lv et al. VLDB 2007).

  /** Build (and persist) the standing [[LshIndex]] for a corpus.
    * numPlanes = 0 (default) applies the [[adaptivePlanes]] sizing law
    * to the corpus count; the resolved geometry is recorded in the
    * index (and its durable meta), so probes and appends never re-derive
    * it — an index built at one size keeps its plane count for life,
    * which is the durable-compatibility contract (rebucketing a grown
    * corpus is an explicit rebuild, not a silent geometry drift).
    */
  def lshIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      numPlanes: Int = 0,
      numTables: Int = 8,
      seed: Long = 42L): LshIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = normedVectors(corpus, idCol, vecCol, "corpus_id", "v", "nrm")
      .persist()
    // the dim probe and the sizing count run jobs before the caller ever
    // holds the index — a failure there must not strand the corpus cache
    BroadcastGate.releasingOnFailure(Seq(e)) {
      val firstRow = e.select(size($"v")).take(1)
      val dim = if (firstRow.isEmpty) 0 else firstRow.head.getInt(0)
      val planes = if (numPlanes > 0) numPlanes else adaptivePlanes(e.count())
      val bucketed = hyperplaneBucketRelation(e, "corpus_id", "v",
        planes, numTables, dim, seed).persist()
      val counts = bucketed.groupBy($"tbl", $"bucket")
        .agg(count(lit(1)).as("population")).persist()
      LshIndex(e, bucketed, counts, planes, numTables, dim, seed)
    }
  }

  /** The durable LSH index's shape ([[DurableIndex.Store]]): three
    * tables, bucket populations stored as per-append partial counts.
    */
  private val lshStore = DurableIndex.Store("lsh",
    Seq("vectors", "buckets", "bucket_counts"),
    counts = Some("bucket_counts" -> Seq("tbl", "bucket")),
    meta = Seq("numPlanes", "numTables", "dim", "seed"))

  /** Persist an [[LshIndex]] as parquet tables — same durability contract
    * as [[graft.operators.Dedup.saveMinhashIndex]]: appends are
    * per-increment OVERWRITE partitions (`append=<id>`), so replaying an
    * increment rewrites its own partition; hyperplanes are (seed, table)
    * pure functions recorded in the meta file, so an appender re-derives
    * identical bucket geometry.
    */
  def saveLshIndex(index: LshIndex, path: String): Unit =
    DurableIndex.save(path, lshStore,
      Seq(index.vectors, index.buckets, index.bucketCounts),
      Seq(index.numPlanes, index.numTables, index.dim, index.seed))

  /** Load a durable [[LshIndex]] written by [[saveLshIndex]] / grown by
    * [[appendToLshIndex]] — the [[DurableIndex.load]] visibility, as in
    * [[graft.operators.Dedup.loadMinhashIndex]]: whole increments or
    * none of them; `pinId` holds a snapshot's partitions against
    * post-retention sweeps.
    */
  def loadLshIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      excludeAppends: Seq[String] = Nil,
      pinId: Option[String] = None): LshIndex = {
    val (m, Seq(vectors, buckets, counts)) =
      DurableIndex.load(spark, path, lshStore, excludeAppends, pinId)
    LshIndex(vectors.persist(), buckets.persist(), counts.persist(),
      m("numPlanes").toInt, m("numTables").toInt, m("dim").toInt, m("seed"))
  }

  /** Append an ACCEPTED embedding increment to a durable index — same
    * [[DurableIndex.append]] contract as
    * [[graft.operators.Dedup.appendToMinhashIndex]]: the three tables
    * write sequentially but become reader-visible only when the final
    * manifest republish lands, so an out-of-band [[loadLshIndex]] at any
    * instant sees the whole increment or none of it; a replay of a
    * fully committed append is a no-op.
    */
  def appendToLshIndex(
      path: String,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      appendId: String,
      txn: Option[(String, Long)] = None): Unit =
    DurableIndex.append(path, lshStore, appendId, txn) { m =>
      val e = normedVectors(batch, idCol, vecCol, "corpus_id", "v", "nrm")
        .persist()
      val bucketed = hyperplaneBucketRelation(e, "corpus_id", "v",
        m("numPlanes").toInt, m("numTables").toInt, m("dim").toInt,
        m("seed")).persist()
      (Seq(e, bucketed, bucketed.groupBy(col("tbl"), col("bucket"))
        .agg(count(lit(1)).as("partial"))), Seq(e, bucketed))
    }

  /** Compact a durable LSH index — the embedding twin of
    * [[graft.operators.Dedup.compactMinhashIndex]], same
    * [[DurableIndex.compact]] fold.
    */
  def compactLshIndex(spark: org.apache.spark.sql.SparkSession,
      path: String,
      tombstoneRetentionMs: Long = DurableIndex.DefaultRetentionMs): Int =
    DurableIndex.compact(spark, path, lshStore, tombstoneRetentionMs)

  /** Probe a standing [[LshIndex]] with a batch of new embeddings — the
    * incremental shape of [[lshPairs]] (semantic dedup of an increment
    * against the standing corpus): batch vectors bucket under the SAME
    * seed-derived index geometry, their (tbl, bucket) probe rows
    * BROADCAST against the corpus bucket index (an increment is small by
    * definition), and candidates are exact-cosine verified in the same
    * fused pipeline — threshold before dedup, so only true pairs reach
    * an exchange. The corpus vector relation broadcasts only under a
    * size gate; past it the verification is a corpus_id shuffle join
    * with int pairs on the moving side.
    *
    * @param probeFlips 0 = exact buckets; -1 = plane-matched probe count
    * @param probeRadius -1 = the [[resolveRadius]] law for the index's
    *        geometry (radius 1 — plain flips — at the gate config)
    * @return (batch_id, corpus_id, cosine), cosine >= threshold
    */
  def lshPairsAgainstIndex(
      batch: DataFrame,
      index: LshIndex,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucketSize: Int = 0,
      probeFlips: Int = 0,
      probeRadius: Int = -1): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // NOT persisted: the batch-derived relation is referenced twice in
    // one plan (bucketing + verification), and an increment is small by
    // definition — recomputing it is bounded by batch size, whereas a
    // persist with no release path leaks one cached relation per
    // micro-batch in a streaming caller.
    val b = normedVectors(batch, idCol, vecCol, "batch_id", "bv", "bnrm")
    val flips = resolveFlips(probeFlips, index.numPlanes)
    val radius = resolveRadius(probeRadius, threshold,
      index.numPlanes, index.numTables, flips)
    // A standing index's geometry is PINNED (it stores canonical buckets
    // for exactly numTables seed-derived tables), so the lshPairs table-
    // growth arm cannot apply here — where the capped radius leaves the
    // law's 1e-3 bar unmet, surface the machine-readable floor instead.
    if (flips > 0) {
      val bound = missBound(threshold, index.numPlanes, index.numTables, radius)
      if (bound > 1e-3)
        org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
          f"lshPairsAgainstIndex geometry planes=${index.numPlanes} " +
            f"tables=${index.numTables} radius=$radius misses up to " +
            f"$bound%.3g of at-threshold pairs (threshold=$threshold%.2f, " +
            f"recall floor ${1 - bound}%.4f; index geometry pinned) — " +
            "rebuild the index with more tables or use the exact path")
    }
    // Batch-side query-directed multi-probe (see [[graft.functions.LshProbeBuckets]]):
    // the increment probes its exact buckets PLUS its `probeFlips`
    // closest-plane flips per table. Probing is batch-side only — the
    // standing index stores canonical buckets, which is exactly the
    // multi-probe production shape (the index never grows with probe
    // aggressiveness; only the cheap small side fans out).
    val bBucketed =
      if (flips <= 0)
        hyperplaneBucketRelation(b, "batch_id", "bv",
          index.numPlanes, index.numTables, index.dim, index.seed)
      else {
        // exact + flips in ONE pass: explode [bucket, flip0, flip1, …]
        // from the dots — the batch side never recomputes its dots per
        // probe shape
        val dotsRel = tableDotsRelation(b, "batch_id", "bv",
          index.numPlanes, index.numTables, index.dim, index.seed)
        dotsRel.select($"batch_id", $"tbl",
          explode(graft.functions.LshProbe.probeBucketsFast(
            spark, $"ds", flips, radius)).as("bucket"))
      }
    val bCapped =
      if (maxBucketSize > 0) {
        val hot = index.bucketCounts
          .filter($"population" > maxBucketSize).select($"tbl", $"bucket")
        bBucketed.join(broadcast(hot), Seq("tbl", "bucket"), "left_anti")
      } else bBucketed
    // VERIFY-FUSED probe (the lshPairs fused shape on the incremental
    // geometry): the bucket join streams (batch_id, corpus_id) candidate
    // rows as ints, vectors attach inside the same stage, and the exact-
    // cosine threshold filters BEFORE the pair dedup — so the dedup
    // exchange carries true pairs (× table multiplicity), never the
    // candidate mass. The previous shape materialized the deduped
    // candidate set and force-BROADCAST it, which is Θ(batch × corpus)
    // rows when the buckets saturate — the 10× catalog sweep measured
    // q64 at scale exponent +1.27 (48 s) on exactly that. The batch side
    // is broadcast (an increment is small by definition); the corpus
    // vector relation is SIZE-GATED — past the gate Catalyst shuffle-
    // joins on corpus_id with only int pairs on the moving side, the
    // shape that survives a corpus no executor set can broadcast.
    val n = index.corpusCount // memoized — no per-probe count job
    val vecBytes = 24L + 8L * index.dim
    // the operative memory bound; see lshPairs and [[BroadcastGate]]
    def gated(d: DataFrame, estBytes: Long): DataFrame =
      BroadcastGate.gated(d, estBytes)
    index.buckets
      .join(broadcast(bCapped), Seq("tbl", "bucket"))
      .select($"batch_id", $"corpus_id")
      .join(gated(index.vectors, n * vecBytes), "corpus_id")
      .join(broadcast(b), "batch_id")
      .withColumn("cos", normedCosine(spark, "bv", "v", "bnrm", "nrm"))
      .filter($"cos" >= threshold)
      .groupBy($"batch_id", $"corpus_id").agg(first($"cos").as("c0"))
      .select($"batch_id", $"corpus_id", round($"c0", 4).as("cosine"))
  }

  // ------------------------------------------------------------------- IVF

  // ------------------------------------------------------------------- PQ

  /** Product-quantization codebooks (Jégou, Douze & Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * space is split into `m` contiguous subspaces and each gets its own
    * k-means codebook of `codebookSize` centroids — a vector is then
    * `m` small codes (bytes at codebookSize ≤ 256) instead of `dim`
    * floats. At 100 TB this is THE memory lever for ANN: a 768-dim
    * float corpus is 3 KB/vector; PQ at m=16 is 16 bytes — 200× — so
    * the scan set fits in executor memory where raw vectors cannot.
    * Fit on a sample (the codebooks need subspace cluster shape, not
    * every point); encoding the full corpus is a narrow map.
    */
  def fitPqCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      codebookSize: Int = 256,
      iters: Int = 5,
      seed: Long = 42L): Array[Array[Array[Double]]] = {
    // ONE distributed job (a seeded bounded-sample collect); Lloyd's then
    // runs driver-side over the sample. The codebooks are tiny by
    // construction (m × codebookSize × subDim doubles) and each subspace
    // fit is microseconds of local math — the earlier distributed fit
    // paid m × iters sequential job launches (each recompiling a
    // codebookSize-way argmin expression) for work smaller than one
    // task's overhead: 27.8 s at sf0.1 vs <1 s local, identical output
    // quality. The full-corpus ENCODE pass stays distributed.
    val sample = fitSample(df, idCol, vecCol, seed)
    require(sample.nonEmpty, "cannot fit PQ codebooks on an empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val subDim = dim / m
    (0 until m).map { s =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, s * subDim,
        (s + 1) * subDim))
      lloyd(pts, kMeansPlusPlus(pts, codebookSize, seed + s), iters)
    }.toArray
  }

  /** The driver-side fit sample both k-means fits run on: at most
    * [[fitSampleRows]] vectors, the head of the corpus ordered by
    * xxhash64(id, seed) — ONE distributed job, deterministic.
    */
  private def fitSample(df: DataFrame, idCol: String, vecCol: String,
      seed: Long): Array[Array[Double]] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).as("id"), VectorOps.toDoubles(col(vecCol)).as("v"))
      .orderBy(xxhash64($"id", lit(seed)))
      .limit(fitSampleRows)
      .select($"v").as[Seq[Double]].collect().map(_.toArray)
  }

  /** Driver memory bound of a k-means fit: cap × dim doubles (~123 MB at
    * dim 768).
    */
  private val fitSampleRows = 20000

  /** Deterministic k-means++ init for the codebook fits: D²-weighted
    * seeding driven by a seeded PRNG (a naive take-first-k init
    * correlates across PQ subspaces — every subspace would seed from the
    * same sample rows — and measurably costs recall).
    */
  private def kMeansPlusPlus(points: Array[Array[Double]], k: Int,
      seed: Long): Array[Array[Double]] = {
    val dim = points.head.length
    val kk = math.min(k, points.length)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var i = 0
      while (i < dim) { val t = a(i) - b(i); d += t * t; i += 1 }
      d
    }
    val rng = new scala.util.Random(seed)
    val init = new Array[Array[Double]](kk)
    init(0) = points(rng.nextInt(points.length)).clone
    val minD = points.map(d2(_, init(0)))
    var c0 = 1
    while (c0 < kk) {
      val total = minD.sum
      val next =
        if (total <= 0) points(rng.nextInt(points.length)) // all covered
        else {
          var r = rng.nextDouble() * total; var i = 0
          while (i < points.length - 1 && r > minD(i)) { r -= minD(i); i += 1 }
          points(i)
        }
      init(c0) = next.clone
      var i = 0
      while (i < points.length) {
        val d = d2(points(i), next)
        if (d < minD(i)) minD(i) = d
        i += 1
      }
      c0 += 1
    }
    init
  }

  /** Driver-side Lloyd's iterations from `init` over an in-memory sample.
    * Assignment argmin ties keep the lowest centroid index (the
    * [[ivfCell]] array_position rule); empty clusters keep their previous
    * centroid.
    */
  private def lloyd(points: Array[Array[Double]], init: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    val dim = points.head.length
    var cents = init
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Long](cents.length)
      points.foreach { p =>
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < dim) { val t = p(i) - cents(c)(i); d += t * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      val prev = cents
      cents = Array.tabulate(prev.length) { c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else prev(c)
      }
    }
    cents
  }

  /** PQ-encode a corpus: (id, code) where code(s) is the index of the
    * nearest subspace-s centroid. A narrow codegen'd map (the argmin is
    * the same fused-dot distance kernel IVF assignment uses); in
    * production the encoded relation is the stored ANN table and the raw
    * vectors stay in cold storage for optional exact re-ranking.
    */
  def pqEncode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      carryCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    val v = VectorOps.toDoubles(col(vecCol))
    val code = array((0 until m).map(s =>
      ivfCell(spark, slice(v, s * subDim + 1, subDim), codebooks(s))): _*)
    df.select(col(idCol).as("id") +: carryCols.map(col) :+ code.as("code"): _*)
  }

  /** Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: the query
    * stays exact; per subspace a 1×codebookSize lookup table of squared
    * L2 distances to the query's subvector is computed driver-side and
    * inlined as a literal array — scoring a vector is then `m`
    * element_at lookups + adds, STATICALLY UNROLLED (no higher-order
    * functions: HOFs are CodegenFallback; the unrolled form stays inside
    * whole-stage codegen). On unit-norm vectors ‖q−v‖² = 2−2cosθ, so the
    * L2 ranking IS the cosine ranking and `cosine_adc = 1 − dist²/2`.
    *
    * @return (id, cosine_adc) top-k by approximate distance
    */
  def pqTopK(
      encoded: DataFrame, // (id, code) from [[pqEncode]]
      codebooks: Array[Array[Array[Double]]],
      queryVec: Array[Double],
      k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val subDim = codebooks.head.head.length
    require(queryVec.length == m * subDim,
      s"query dim ${queryVec.length} != $m x $subDim")
    val tables = codebooks.zipWithIndex.map { case (cb, s) =>
      val qSub = queryVec.slice(s * subDim, (s + 1) * subDim)
      cb.map(c => c.zip(qSub).map { case (a, b) => (a - b) * (a - b) }.sum)
    }
    val dist2 = (0 until m).map(s =>
      element_at(planeLit(tables(s)), $"code".getItem(s) + 1))
      .reduce(_ + _)
    val base = excludeId.fold(encoded)(id => encoded.filter($"id" =!= id))
    // order on the UNROUNDED score (rounding first would resolve near-ties
    // at the k cutoff by id instead of true ADC distance); round only in
    // the output projection
    base
      .select($"id", (lit(1.0) - dist2 / 2.0).as("__s"))
      .orderBy($"__s".desc, $"id")
      .limit(k)
      .select($"id", round($"__s", 4).as("cosine_adc"))
  }

  /** PQ search with exact re-ranking — the standard two-stage recall
    * lift: ADC over the compact codes OVER-FETCHES `overfetch × k`
    * candidates (cheap: the whole scan touches only m-byte codes), then
    * ONLY those candidates' raw vectors are read and exact-cosine
    * re-ranked. At 100 TB the raw-vector relation stays in cold storage
    * and the second stage is a broadcast semi-join reading k' rows —
    * recall approaches brute force while the scan cost stays PQ-sized.
    *
    * @return (id, cosine) — exact cosines, top-k
    */
  def pqTopKReranked(
      encoded: DataFrame,
      vectors: DataFrame, // raw (idCol, vecCol) relation
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      queryVec: Array[Double],
      k: Int,
      overfetch: Int = 4,
      excludeId: Option[Long] = None): DataFrame = {
    val spark = encoded.sparkSession
    import spark.implicits._
    rerankExact(vectors, idCol, vecCol, pqTopK(encoded, codebooks, queryVec,
      k * overfetch, excludeId).select($"id"), queryVec, k, excludeId)
  }

  /** Exact cosine top-k over the candidates `candIds` (one `id` column)
    * of an approximate first stage: only the candidates' raw vectors
    * are read, through a broadcast join on the (small) id set.
    */
  private def rerankExact(vectors: DataFrame, idCol: String, vecCol: String,
      candIds: DataFrame, queryVec: Array[Double], k: Int,
      excludeId: Option[Long]): DataFrame =
    bruteForceTopK(
      vectors.join(broadcast(candIds), vectors(idCol) === candIds("id"))
        .drop(candIds("id")),
      idCol, vecCol, queryVec, k, excludeId)

  /** IVF+PQ (Jégou et al. TPAMI'11 §IV): the coarse k-means quantizer
    * partitions the corpus into cells; each vector stores its cell id
    * plus the PQ code of its RESIDUAL (v − centroid). A query probes
    * `nprobe` cells and ADC-scores residual codes against its own
    * per-cell residual — the composition that makes billion-scale ANN
    * work: the cell id is the table's partition key (a probe reads
    * nprobe/numCells of the data) and each row is m bytes.
    */
  final case class IvfPqIndex private[operators] (
      encoded: DataFrame, // (id, cell, code) — persisted by [[fitIvfPq]]
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]]) extends CachedRelations {
    protected def relations: Seq[DataFrame] = Seq(encoded)
  }


  /** Fit coarse centroids + residual codebooks, and encode the corpus.
    * The residual map uses zip_with (interpreted) — acceptable: encoding
    * is a one-off narrow pass, unlike the scan-time scoring which stays
    * codegen'd.
    *
    * Sampling: both fits — centroids and codebooks — run the local
    * Lloyd's on the same bounded DRIVER-side sample ([[fitSample]]:
    * hash-ordered head, so deterministic); corpora above its cap get
    * centroids fit on the sample head (the SemDeDup §3 recipe), which
    * changes the (declared-approximate) ANN outputs relative to a full
    * fit.
    */
  def fitIvfPq(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      numCells: Int = 16,
      m: Int = 8,
      codebookSize: Int = 256,
      iters: Int = 5,
      seed: Long = 42L): IvfPqIndex = {
    val spark = df.sparkSession
    import spark.implicits._
    val centroids = fitCentroids(df, idCol, vecCol, numCells, iters, seed)
    val centLit = array(centroids.map(planeLit): _*)
    val v = VectorOps.toDoubles(col(vecCol))
    // Persisted TRANSIENTLY: the residual relation (full-corpus centroid
    // argmin + subtraction) feeds the codebook fit's sample AND the
    // encode scan — without the cache each consumer recomputes it from
    // scratch. `cell` rides through pqEncode's projection (carryCols), so
    // no corpus-wide join is needed to re-attach a column computed here.
    val residuals = df
      .select(col(idCol).as("id"), v.as("v"),
        ivfCell(spark, v, centroids).as("cell"))
      .select($"id", $"cell",
        zip_with($"v", element_at(centLit, $"cell" + 1),
          (a, b) => a - b).as("res"))
      .persist()
    // the codebook fit and the encode materialization run jobs before
    // the caller holds the index — release both caches on failure
    var encoded: DataFrame = null
    BroadcastGate.releasingOnFailure(Seq(residuals) ++ Option(encoded)) {
      val books = fitPqCodebooks(residuals, "id", "res", m, codebookSize,
        iters, seed + 1000)
      encoded = pqEncode(residuals, "id", "res", books,
        carryCols = Seq("cell")).persist()
      encoded.count() // materialize the (m bytes/row) codes ...
      residuals.unpersist(blocking = false) // ... then free the wide residuals
      IvfPqIndex(encoded, centroids, books)
    }
  }

  /** Probe `nprobe` cells and ADC-score residual codes; optionally
    * exact-re-rank the over-fetched survivors against raw vectors.
    * Scoring unions one codegen'd scan per probed cell (each cell has
    * its own query-residual lookup tables), then takes a global top-k.
    */
  def ivfPqTopK(
      index: IvfPqIndex,
      queryVec: Array[Double],
      k: Int,
      nprobe: Int = 4,
      excludeId: Option[Long] = None,
      rerank: Option[(DataFrame, String, String)] = None, // (vectors, idCol, vecCol)
      overfetch: Int = 4): DataFrame = {
    val spark = index.encoded.sparkSession
    import spark.implicits._
    val m = index.codebooks.length
    val subDim = index.codebooks.head.head.length
    val probed = nearestCells(index.centroids, queryVec, nprobe)
    val fetch = if (rerank.isDefined) k * overfetch else k
    val base = excludeId.fold(index.encoded)(id =>
      index.encoded.filter($"id" =!= id))
    // ONE scan for all probed cells (was: one filtered scan per cell
    // unioned — nprobe near-identical passes over the code relation and
    // nprobe copies of the unrolled ADC codegen). Every cell's
    // query-residual lookup tables flatten into a single constant-folded
    // literal indexed by (cell, subspace, code): per row the ADC is
    // still m element_at lookups + adds, statically unrolled, inside one
    // whole-stage-codegen pass. The same arithmetic per subspace in the
    // same order, so scores are bit-identical to the per-cell form.
    val cbSize = index.codebooks.head.length
    val flat = new Array[Double](index.centroids.length * m * cbSize)
    for (c <- index.centroids.indices) {
      val qRes = queryVec.zip(index.centroids(c)).map { case (q, ce) => q - ce }
      for (s <- 0 until m) {
        val qSub = qRes.slice(s * subDim, (s + 1) * subDim)
        for (j <- 0 until cbSize)
          flat(c * m * cbSize + s * cbSize + j) =
            index.codebooks(s)(j).zip(qSub)
              .map { case (a, b) => (a - b) * (a - b) }.sum
      }
    }
    val flatLit = planeLit(flat)
    val dist2 = (0 until m).map(s =>
      element_at(flatLit,
        ($"cell" * (m * cbSize) + lit(s * cbSize) + $"code".getItem(s) + 1)
          .cast("int")))
      .reduce(_ + _)
    val scored = base
      .filter($"cell".isInCollection(probed))
      .select($"id", dist2.as("dist2"))
      .orderBy($"dist2".asc, $"id").limit(fetch)
    rerank match {
      case Some((vectors, idCol, vecCol)) =>
        rerankExact(vectors, idCol, vecCol, scored.select($"id"), queryVec,
          k, excludeId)
      case None =>
        scored.select($"id", round($"dist2", 4).as("dist2_adc"))
    }
  }

  /** Relative squared-L2 distances from `vec` to each centroid, as one
    * array column: ||v-c||² − ||v||² = ||c||² − 2·v·c — the ||v||² term
    * is constant across centroids, so the argmin is unchanged and each
    * centroid costs ONE pass of the fused native dot kernel
    * (codegen'd). The earlier zip_with/aggregate HOF form was interpreted
    * (higher-order functions are CodegenFallback) and benched 40×+
    * slower on the k-means fit.
    */
  private def distArray(
      spark: org.apache.spark.sql.SparkSession,
      vec: Column, centroids: Array[Array[Double]]): Column =
    array(centroids.map { c =>
      val c2 = c.map(x => x * x).sum
      graft.functions.CosineSimilarity.dotFast(spark, vec, planeLit(c)) *
        lit(-2.0) + lit(c2)
    }: _*)

  /** The `nprobe` cells whose centroids lie nearest `queryVec` (squared
    * L2, computed driver-side), nearest first.
    */
  private def nearestCells(centroids: Array[Array[Double]],
      queryVec: Array[Double], nprobe: Int): Array[Int] =
    centroids.map(c => c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum)
      .zipWithIndex.sortBy(_._1).take(nprobe).map(_._2)

  /** Nearest-centroid cell id in [0, k). */
  def ivfCell(
      spark: org.apache.spark.sql.SparkSession,
      vec: Column, centroids: Array[Array[Double]]): Column = {
    val d = distArray(spark, vec, centroids)
    (array_position(d, array_min(d)) - 1).cast("int")
  }

  /** K-means coarse quantizer — ONE distributed job (a seeded
    * bounded-sample collect, the [[fitPqCodebooks]] pattern), Lloyd's
    * iterations driver-side over the sample. Init is deterministic and
    * IDENTICAL to the previous distributed form: the k vectors with the
    * smallest xxhash64(id, seed) (they are exactly the head of the
    * hash-ordered sample), then [[lloyd]].
    *
    * Why local (optimization guide §1.2 "per-task work" after the
    * distributed shape is right): the previous form paid `iters`
    * SEQUENTIAL Spark jobs — each a posexplode (n×dim rows), a
    * groupBy(cell, pos) shuffle, and a k×dim collect — to average
    * vectors whose total size is bounded by the fit sample anyway.
    * Measured at sf0.1 the fit dominated every k-means consumer
    * (q50/q66/q99: 13-26 jobs each); the local form is one job + local
    * math, the exact trade [[fitPqCodebooks]] already made (its comment:
    * 27.8 s distributed vs <1 s local, identical output quality). The
    * quantizer needs cluster SHAPE, not every point — the
    * [[fitSampleRows]] cap bounds driver memory by construction; corpora
    * past the cap fit on the deterministic hash-ordered sample head, the
    * published recipe (SemDeDup §3: centroids from a sample).
    */
  def fitCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5,
      seed: Long = 42L): Array[Array[Double]] = {
    val sample = fitSample(df, idCol, vecCol, seed)
    if (sample.isEmpty) return Array.empty
    // loud, not silent: k above the sample size returns FEWER than k
    // centroids (ADVICE r17) — legitimate on tiny fixtures, surprising
    // on a production corpus whose cap truncated the fit sample
    if (k > sample.length)
      org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
        s"fitCentroids k=$k exceeds fit sample size ${sample.length} " +
          s"(cap $fitSampleRows): returning ${sample.length} centroids")
    // init == the k smallest xxhash64(id, seed)
    lloyd(sample, sample.take(k).map(_.clone), iters)
  }

  /** IVF (inverted-file) ANN: the k-means cells partition the corpus; a
    * query probes only its `nprobe` nearest cells and brute-forces within
    * them — the classic FAISS-style coarse quantizer layout. At scale the
    * cell id is the table's partition/cluster key, so a probe reads
    * nprobe/k of the data; vs LSH buckets, cells adapt to the actual
    * density of the corpus.
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryVec: Array[Double],
      k: Int,
      numCells: Int = 16,
      nprobe: Int = 4,
      iters: Int = 5,
      excludeId: Option[Long] = None,
      fitSampleFraction: Double = 1.0): DataFrame = {
    // The quantizer needs the corpus's cluster SHAPE, not every point:
    // at 100 TB fit on a seeded sample (k-means centroids converge on a
    // fraction), then the full-corpus pass is assignment only — a narrow
    // map with the codegen'd dot kernel.
    val fitDf =
      if (fitSampleFraction < 1.0) df.sample(fitSampleFraction, seed = 42L)
      else df
    val centroids = fitCentroids(fitDf, idCol, vecCol, numCells, iters)
    val probed = nearestCells(centroids, queryVec, nprobe).toSet
    val celled = df.withColumn("__cell",
      ivfCell(df.sparkSession, VectorOps.toDoubles(col(vecCol)), centroids))
    bruteForceTopK(
      celled.filter(col("__cell").isInCollection(probed)),
      idCol, vecCol, queryVec, k, excludeId)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication of an embedding corpus via k-means-cell-bucketed
    * cosine pairs — the published recipe for pruning web-scale training
    * sets, and the cell-bucketed sibling of the LSH-bucketed
    * [[lshPairs]] path.
    *
    * Pipeline: fit coarse centroids (on the bounded [[fitSample]] at
    * scale), assign every vector its nearest cell (narrow
    * codegen'd map), generate candidate pairs ONLY within a cell,
    * verify with exact cosine ≥ `threshold`, connect pairs into
    * duplicate groups, and within each group KEEP the member with the
    * LOWEST cosine to its cell centroid — the paper's keeper rule
    * (retain the cluster's diverse frontier, evict the redundant core).
    * Ties break by id, so the output is deterministic.
    *
    * Scale shape: the all-pairs loop is confined to cells (k scales
    * with the corpus as n/targetCellSize, keeping per-cell work
    * bounded); cross-cell near-dups are missed BY DESIGN — that is
    * SemDeDup's approximation, traded for linear-in-corpus candidate
    * generation. The celled relation is deliberately NOT persisted:
    * assignment is a bounded narrow recompute per branch (three
    * passes), which beats a leaked cache in a long-lived session; a
    * steady-state pipeline should materialize the cell id as a column.
    *
    * @return one row per vector:
    *         (id, cell, dup_group, centroid_sim, keep) — `dup_group`
    *         is the group's min member id (singletons: own id),
    *         `keep` marks the group's sole survivor.
    */
  def semDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numCells: Int = 16,
      iters: Int = 5,
      seed: Long = 42L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    // loud, not lossy: the cast to long below would turn a string/UUID
    // id column into all-null ids — empty pair set, every row in one
    // null dup_group, and a "successful" dedup that keeps ONE row of
    // the whole corpus
    require({
        import org.apache.spark.sql.types._
        df.schema(idCol).dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
      },
      s"semDedup needs an integral id column (CC contraction orders " +
        s"ids numerically); '$idCol' is " +
        s"${df.schema(idCol).dataType.simpleString} — derive a long id " +
        "(e.g. monotonically_increasing_id or a 64-bit hash) first")
    val centroids = fitCentroids(df, idCol, vecCol, numCells, iters, seed)
    val centArr = array(centroids.map(planeLit): _*)
    val celled = df.select(
        col(idCol).cast("long").as("id"),
        VectorOps.toDoubles(col(vecCol)).as("v"))
      .withColumn("cell", ivfCell(spark, $"v", centroids))
    // within-cell exact-cosine pairs (per-vector norms computed once,
    // the q43 contract: the pair loop does only the fused dot).
    // Persisted TRANSIENTLY for the pair self-join: a self-join does NOT
    // share an unmaterialized subplan, so un-cached both sides paid the
    // full assignment+norm pass; released as soon as the (eager —
    // connectedComponents materializes its edge input) pair pass is
    // done, so nothing leaks in a long-lived session and only the final
    // labeling recomputes the narrow cell pass once from lineage.
    val normed = celled.withColumn("nrm",
      sqrt(graft.functions.CosineSimilarity.dotFast(spark, $"v", $"v")))
      .persist()
    val a = normed.select($"cell", $"id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_n"))
    val b = normed.select($"cell", $"id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_n"))
    val pairs = a.join(b, Seq("cell"))
      .where($"a_id" < $"b_id")
      .where(normedCosine(spark, "a_v", "b_v", "a_n", "b_n") >= lit(threshold))
      .select($"a_id", $"b_id")
    // MAPPING-ONLY labels: the left-join + coalesce below supplies
    // isolated nodes' own-id labels, so the node-universe relation — a
    // second full evaluation of the pair self-join inside the result
    // plan — is never built (Dedup.connectedComponentsMapping scaladoc)
    val comps =
      try Dedup.connectedComponentsMapping(pairs) // (id, component)
      finally normed.unpersist(blocking = false)
    val labeled = celled
      .withColumn("cent_sim", graft.functions.CosineSimilarity.cosineFast(
        spark, $"v", element_at(centArr, $"cell" + 1)))
      .join(comps, Seq("id"), "left")
      .withColumn("dup_group", coalesce($"component", $"id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"dup_group").orderBy($"cent_sim".asc, $"id".asc)
    labeled
      .withColumn("keep", row_number().over(w) === 1)
      .select($"id", $"cell", $"dup_group",
        round($"cent_sim", 6).as("centroid_sim"), $"keep")
  }
}
