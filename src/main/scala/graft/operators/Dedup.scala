package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextOps

/** Near-duplicate detection for large text corpora (SURVEY.md §2.10 D1-D2):
  * exact keyed dedup, MinHash+LSH (Broder, "On the resemblance and
  * containment of documents", 1997; banding per Leskovec/Rajaraman/Ullman,
  * Mining of Massive Datasets ch.3), and SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002) — the
  * standard toolkit of an LLM-training-data pipeline, built entirely from
  * codegen'd built-ins (xxhash64 + higher-order functions), no UDFs.
  *
  * Scale shape: signatures are computed map-side (narrow); the only shuffle
  * is the explode-on-band → self-join on bucket, which is exactly the
  * communication lower bound for LSH banding. Giant buckets (boilerplate
  * documents sharing a band) are the skew risk at 100 TB — bound them with
  * `minhashPairs(maxBucketSize = ...)`.
  */
object Dedup {

  /** Exact dedup: deterministic winner (min of `winnerCol`) per key group —
    * the reference's dedup gate (README.md:41) with a defined tie-break,
    * unlike bare dropDuplicates whose survivor is partition-order-dependent.
    */
  def exact(df: DataFrame, keys: Seq[String], winnerCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(winnerCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** LSH banding: (bandIndex, bandHash) rows per document. Documents sharing
    * any band bucket are candidate near-duplicates. numHashes must equal
    * bands * rowsPerBand.
    */
  def lshBands(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => xxhash64(j, slice(sig, j * rowsPerBand + lit(1), lit(rowsPerBand))))

  /** MinHash+LSH candidate pairs with exact-Jaccard verification.
    *
    * Banding defaults (8 bands × 2 rows = 16 hashes): the S-curve puts the
    * candidate threshold at (1/8)^(1/2) ≈ 0.35 with
    * P(candidate | j) = 1−(1−j²)⁸ ≥ 1 − 3·10⁻⁴ for j ≥ 0.8 — real
    * near-dup corpora (and this one: every exact pair measures j ≥ 0.8,
    * mostly ≥ 0.95) live far above the knee, so 16 hashes buy the same
    * recall the previous 64 (16×4) did at a quarter of the signature
    * cost, which benchmarked as the dominant stage.
    *
    * @param df       input with a unique id column and a text column
    * @param threshold exact shingle-Jaccard cutoff applied to candidates
    * @param maxBucketSize drop LSH buckets holding more than this many
    *        docs (0 = unlimited). A degenerate bucket of m docs emits
    *        m²/2 candidate pairs — the skew bomb at corpus scale. Capping
    *        trades recall ONLY on documents that collide with > cap others
    *        (which are overwhelmingly boilerplate/templates in practice).
    * @return (a_id, b_id, jaccard) with a_id < b_id, one row per pair.
    *         With persist = true: EAGERLY materialized and cached under
    *         the [[jaccardPairs]] contract (internal caches released
    *         before returning; the caller owns the result's
    *         `unpersist()`). With persist = false: a lazy plan.
    */
  def minhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0,
      persist: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // With persist = true (default, corpus-scale runs): the expensive
    // narrow relations are cached because each is referenced by several
    // consumers (signature agg, size agg, both verification join sides) —
    // without the cache each reference re-tokenizes the corpus
    // (self-joins do NOT share unmaterialized subplans). At cluster scale
    // this is the persist/checkpoint you would put after the expensive
    // narrow stage; the blocks die with the session (Bench frees them
    // between samples). persist = false is for REPEATED small-input calls
    // (the streaming within-batch pass) where an unreleased cache per
    // call would leak: bounded recompute instead.
    val caches = scala.collection.mutable.Buffer.empty[DataFrame]
    def cached(d: DataFrame): DataFrame =
      if (persist) { val p = d.persist(); caches += p; p } else d

    // Exploded (id, shingle-hash) relation. One shuffle on id; everything
    // upstream is narrow and codegen'd.
    val shex = cached(shingleHashRelation(df, idCol, "id", textCol, shingleLen))

    // Bands carry only (id, n, band, bucket) — candidate generation
    // shuffles ints, never shingle sets (which at corpus scale dwarf the
    // ids). Candidates come from ONE groupBy(band, bucket) posting list
    // (the jaccardPairs shape): the bucket cap and the ≥2 prune
    // are filters on the grouped row (the previous cap aggregate +
    // join-back and the bucket self-join disappear), pairs expand
    // map-side through codegen'd Generates, and the cross-band dedup
    // stays one hash aggregate. The per-doc distinct-shingle count rides
    // the signature aggregate (same exchange — no separate size
    // aggregate, no size join-backs later).
    val banded = bandRelation(shex, Seq("id"), bands, rowsPerBand,
      extra = Seq("n" -> count(lit(1))))
    val cand = postingPairs(banded.groupBy($"band", $"bucket")
        .agg(collect_list(struct($"id", $"n")).as("ps")),
        "ps", maxBucketSize, key = "id")
      .groupBy($"a.id".as("a_id"), $"b.id".as("b_id"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .agg(lit(1))
      .select($"a_id", $"b_id", $"na", $"nb")

    // Exact-Jaccard verification of candidates only: intersection counts
    // come from joining the (small, broadcastable) pair set against the
    // exploded shingle relation — the shingle sets are never materialized
    // as arrays, and set sizes ride the candidate rows. The broadcast is
    // SIZE-GATED ([[gatedPairs]]) on the corpus-scale path; with
    // persist = false the inputs are small by contract (the streaming
    // within-batch pass) and the hint stays forced — a count job plus a
    // cache registration per micro-batch would cost more than it guards.
    releasingOnFailure(caches.toSeq) {
      val candGated = if (persist) gatedPairs(cached(cand)) else broadcast(cand)
      val pairs = jaccardScored(candGated
        .join(shex.select($"id".as("a_id"), $"h"), "a_id")
        .join(shex.select($"id".as("b_id"), $"h".as("h_b")), Seq("b_id"))
        .filter($"h" === $"h_b")
        .groupBy($"a_id", $"b_id", $"na", $"nb")
        .agg(count(lit(1)).as("inter")), ("a_id", "b_id"), ("na", "nb"),
        threshold)
      // the gate's measuring job already made the corpus path eager at
      // call time — finish the jaccardPairs contract: materialize the
      // (pair-sized) result, release the internal caches, caller owns the
      // result's unpersist(). The persist = false streaming path stays a
      // lazy plan (nothing was cached, the broadcast hint stays forced).
      if (persist) materializeAndRelease(pairs, caches.toSeq) else pairs
    }
  }

  /** EXACT n-gram-Jaccard near-dup pairs via a shingle inverted index —
    * the oracle-pinnable formulation (no hashing in the result): pairs
    * arise only within posting lists, so cost is Σ df(s)²/2 over
    * shingles, not |docs|²/2. Two exchanges (optimization guide §2.4
    * "remove shuffles outright"):
    *
    *  1. Per-document distinct-shingle count `n` is computed MAP-SIDE
    *     from the shingle array itself (`size(array_distinct(...))`)
    *     and carried through the explode, so there is no separate
    *     groupBy(doc_id) size aggregate and no size join-back (n is
    *     functionally dependent on the id, so carrying it through the
    *     pair aggregate's keys is free).
    *  2. Candidates come from ONE groupBy(shingle) that collects the
    *     posting list and expands its ordered pairs map-side
    *     ([[postingPairs]]), instead of a self-join that shuffles the
    *     whole exploded relation twice; df==1 shingles die in place as
    *     `size(ps) > 1` on the grouped row.
    *
    * Exactness: only df>1 shingles can be shared, every shared shingle
    * of a pair produces exactly one expanded row, so the pair count IS
    * |A∩B| over distinct shingles, and the denominator uses the full
    * per-doc distinct counts. Measured at sf0.1: 19 jobs → 6 against the
    * self-join form, 4.4 s → ~2 s cold.
    *
    * Scale note: a hot shingle's posting list (m docs) lands in ONE
    * aggregation buffer, and the form is O(m²) per hot shingle — it is
    * the oracle pin, not the 100 TB path. Dirty corpora use
    * [[jaccardPairsPrefix]] (q70), which bounds prefix-join fan-out with
    * exactness intact.
    *
    * @return (a_id, b_id, jaccard) with a_id < b_id — EAGERLY materialized
    *         and cached, the contract every pair finder here shares:
    *         internal caches are released before returning, so a
    *         long-lived session does not accumulate them call over call.
    *         The caller owns releasing the (pairs-over-threshold-sized)
    *         result via `unpersist()` when done; a dropped cache
    *         recomputes from lineage (correct, just slower).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val sh = shingleArrays(df, idCol, "doc_id", textCol, shingleLen)
      .select($"doc_id", size($"arr").cast("long").as("n"),
        explode($"arr").as("sh"))
    val pairs = jaccardScored(postingPairs(sh.groupBy($"sh")
        .agg(collect_list(struct($"doc_id", $"n")).as("ps")), "ps",
        key = "doc_id")
      .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .agg(count(lit(1)).as("inter")), ("a_id", "b_id"), ("na", "nb"),
      threshold)
    // eagerly materialized and cached, caller owns the result's
    // unpersist; no internal caches to release here — nothing upstream
    // is read twice
    materializeAndRelease(pairs, Nil)
  }

  /** (idAs, arr): each document's distinct shingles as one array column.
    * explode(array(...)) is a GENERATE BARRIER: the array must become a
    * real (Generate-output) column before callers read it twice (size()
    * and explode()) — an intermediate Project would be
    * CollapseProject-merged into the tokens projection, inlining
    * tokens(text) into the shingles lambda and re-tokenizing per element
    * (the TextOps.shingles trap; measured 18× on this base).
    */
  private def shingleArrays(df: DataFrame, idCol: String, idAs: String,
      textCol: String, shingleLen: Int): DataFrame =
    df.select(col(idCol).as(idAs), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idAs), explode(array(
        array_distinct(TextOps.shingles(col("toks"), shingleLen)))).as("arr"))

  /** The exact-Jaccard tail of the text pair finders: from a relation
    * carrying the pair's `inter` = |A∩B| and the two distinct-shingle
    * counts `sizes`, keep the pairs with |A∩B| / (|A| + |B| − |A∩B|) ≥
    * `threshold` as (ids, jaccard rounded to 4 places).
    */
  private def jaccardScored(counted: DataFrame, ids: (String, String),
      sizes: (String, String), threshold: Double): DataFrame = {
    val inter = col("inter")
    counted
      .withColumn("jaccard",
        inter.cast("double") / (col(sizes._1) + col(sizes._2) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col(ids._1), col(ids._2), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Every unordered pair of a grouped posting list, canonicalized —
    * the one candidate expansion behind the posting-list pair finders
    * (minhash bands, exact and prefix Jaccard, winnowing, simhash, LSH
    * buckets). Lists of fewer than two entries, or of more than `cap`
    * (0 = uncapped), die as a filter on the grouped row. Position i pairs
    * with every later element, so each unordered pair of a list comes
    * out exactly once, as (a, b) with key(a) < key(b): the key is the
    * element itself for a list of ids, or its field `key` for a list of
    * payload structs (a doc appears at most once per posting list, so
    * the comparison is strict).
    *
    * The expansion stays CODEGEN'D: two Generates + a Slice (all
    * whole-stage-codegen expressions), NOT array higher-order functions
    * — flatten(transform(transform(...))) computes the identical pair
    * array but HOFs are CodegenFallback, and the interpreted per-element
    * cost measured 2-3× slower than the whole original join form.
    */
  private[graft] def postingPairs(posting: DataFrame, list: String,
      cap: Int = 0, key: String = ""): DataFrame = {
    val ps = col(list)
    val (x, y) = (col("x"), col("y"))
    def k(c: Column): Column = if (key.isEmpty) c else c.getField(key)
    val xFirst = k(x) < k(y)
    posting
      .filter(size(ps) > 1 && (if (cap > 0) size(ps) <= cap else lit(true)))
      .select(ps, posexplode(ps).as(Seq("i", "x")))
      .select(x, explode(slice(ps, col("i") + lit(2), size(ps))).as("y"))
      .select(when(xFirst, x).otherwise(y).as("a"),
        when(xFirst, y).otherwise(x).as("b"))
  }

  /** Candidate-pair broadcast gate for the exact-verification tails: the
    * pair relation arrives PERSISTED (so its generating join runs once —
    * the measuring count and the verify join share the blocks), is
    * counted, and broadcasts only under [[BroadcastGate]]. Past the gate
    * the hint is dropped and the verify join degrades to the id-keyed
    * shuffle form — slower, but it completes where a forced broadcast
    * build fails (the forced form's measured headroom: 11.1M pairs,
    * 255 s, 8g heap; a past-headroom corpus used to die loudly there).
    * The degrade is safe precisely because these joins are keyed on pair
    * ids on BOTH sides — unlike the vector path's candidate-mass join
    * (SimilaritySearch gate note), nothing un-deduped reaches a sort.
    *
    * Width comes from the SCHEMA, not a hard-coded two-long guess
    * (id columns are arbitrary-typed — string ids are first-class on
    * the blocked paths, and long string ids under a 48 B/row assumption
    * could push an over-gate relation into a forced broadcast): 16 B
    * row header/padding + 8 B per field slot + fixed-type payloads,
    * with variable-length columns contributing their measured byte
    * totals — summed in the SAME job that counts the rows, so the
    * measuring pass (which doubles as the cache materialization the
    * verify join shares) stays a single job. The (bigint, bigint) pair
    * shape resolves to the previous 48 B/row exactly.
    */
  private def gatedPairs(cand: DataFrame): DataFrame =
    BroadcastGate.gated(cand, pairRelationBytes(cand))

  /** The measuring job behind [[gatedPairs]], package-visible so the
    * width arithmetic is spec-pinnable on its own: one aggregate over
    * the (persisted) pair relation returning its estimated broadcast
    * bytes.
    */
  private[graft] def pairRelationBytes(cand: DataFrame): Long = {
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val fields = cand.schema.fields
    val isVar = fields.map(f =>
      f.dataType == StringType || f.dataType == BinaryType)
    val fixedPerRow = 16L + fields.zip(isVar).map { case (f, v) =>
      8L + (if (v) 0L else f.dataType.defaultSize.toLong)
    }.sum
    val varCols = fields.zip(isVar).collect { case (f, true) => f.name }.toSeq
    val aggs = count(lit(1)) +:
      varCols.map(c => coalesce(sum(octet_length(col(c))), lit(0L)))
    val r = cand.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(0)
    val varBytes = varCols.indices.map(i => r.getLong(i + 1)).sum
    rows * fixedPerRow + varBytes
  }

  /** Eagerly materialize `result` into the cache, then release the plan's
    * internally-persisted intermediates — they have served their (single
    * materializing) job and must not outlive the call in a long-lived
    * session. Lineage is preserved: if the result's blocks are later
    * dropped (external `clearCache`, executor loss) the plan recomputes
    * correctly, paying uncached-intermediate cost. The caller owns the
    * result's release (`unpersist()`), mirroring [[MinhashIndex]]'s
    * caller-owns-release contract.
    */
  private def materializeAndRelease(
      result: DataFrame, intermediates: Seq[DataFrame]): DataFrame = {
    val out = result.persist()
    try out.count()
    catch {
      // a failed materializing job (executor loss, cancellation) means
      // the caller never receives `out` — release its registration too,
      // or every failed attempt strands one cache entry
      case e: Throwable => out.unpersist(blocking = false); throw e
    } finally intermediates.foreach(_.unpersist(blocking = false))
    out
  }

  // release-on-failure for the job-running build regions below — shared
  // with the vector twin's pipelines
  private def releasingOnFailure[T](caches: => Seq[DataFrame])(body: => T): T =
    BroadcastGate.releasingOnFailure(caches)(body)

  /** EXACT n-gram-Jaccard near-dup pairs via PREFIX FILTERING — the
    * All-Pairs / PPJoin candidate-generation scheme (Bayardo et al.,
    * "Scaling up all pairs similarity search", WWW 2007; Xiao et al.,
    * "Efficient similarity joins for near duplicate detection", WWW 2008;
    * the distributed formulation follows Vernica et al., "Efficient
    * parallel set-similarity joins using MapReduce", SIGMOD 2010).
    *
    * Same result set as [[jaccardPairs]] (provably — no recall
    * knob), but candidate generation joins only each document's PREFIX
    * under a global rarest-first token order instead of its full posting
    * lists. Two documents x, y with J(x,y) ≥ t share ≥ ⌈t·|x|⌉ tokens, so
    * if y misses ALL of x's first |x| − ⌈t·|x|⌉ + 1 tokens it cannot reach
    * the threshold (prefix-filter lemma, Chaudhuri et al. ICDE 2006).
    * Ordering by ascending document frequency puts boilerplate shingles in
    * the suffixes — which are never joined on — so the m²-per-hot-shingle
    * posting-list bomb of [[jaccardPairs]] simply cannot arise here,
    * WITHOUT giving up exactness. Candidates also pass the length filter
    * t·max(|x|,|y|) ≤ min(|x|,|y|) before exact verification over the
    * full shingle relation.
    *
    * Scale shape: one shuffle on doc_id for the per-doc prefix window
    * (each window is one document's shingles — bounded by doc length,
    * never skewed), one shuffle on PREFIX shingle for candidates (df-skew
    * structurally damped: a shingle in k prefixes of n docs needs k docs
    * that all rank it in their rarest ~(1−t) fraction), then a
    * candidate-restricted verification that attaches each side's cached
    * distinct-shingle ARRAY and computes |x∩y| map-side via
    * array_intersect — no exploded-relation re-scan, no per-pair count
    * aggregate. Prefix positions are computed per-document, so no global
    * rank structure is ever built or broadcast.
    *
    * When to use which (measured at sf0.1, round 6): on a CLEAN corpus
    * [[jaccardPairs]] wins slightly (5.3 s vs 5.9 s here) — its
    * posting lists compute intersections in the candidate pass, while
    * this form pays df-ranking plus a separate verification tail. On a
    * boilerplate-heavy corpus the ordering inverts hard:
    * [[jaccardPairs]]'s hot posting lists expand quadratically, whereas
    * prefixes here exclude hot shingles BY ORDER with exactness intact.
    * This is the form for dirty corpora.
    *
    * @return (a_id, b_id, jaccard) with a_id < b_id — EAGERLY
    *         materialized and cached under the [[jaccardPairs]] contract
    *         (internal caches released before returning; the caller owns
    *         the result's `unpersist()`)
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val spark = df.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Per-doc DISTINCT SHINGLE SET — one array row per document,
    // persisted. This is the relation every stage reads: the candidate
    // chain explodes it once, and the verification tail intersects the
    // arrays directly. (The previous form persisted the full exploded
    // (doc, n, sh, df) relation — every shingle string duplicated into
    // its own row with per-row overhead — and re-scanned it twice in
    // verification; the array form stores the same strings once per doc
    // and makes verification a map-side set intersection, §2.3 "shuffle
    // keys and metadata instead of payloads".) explode(array(...)) is
    // the generate barrier that keeps CollapseProject from inlining
    // tokens(text) into the shingles lambda and re-tokenizing per
    // element (the TextOps.shingles trap; measured 18×).
    // the set is stored SORTED: verification counts |x∩y| with a
    // single codegen'd merge pass over the two sorted arrays
    // ([[graft.functions.SortedIntersectCount]]) — `array_intersect`
    // is CodegenFallback and allocates a hash set per call, which
    // measured 4.2 s on this tail at sf0.1 vs sub-second for the merge
    val docSets = df
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select($"doc_id",
        explode(array(array_sort(
          array_distinct(TextOps.shingles($"toks", shingleLen))))).as("set"))
      .select($"doc_id", size($"set").cast("long").as("n"), $"set")
      .persist()
    // Document frequency as ONE window over the shingle partition
    // (replaces the groupBy(sh) aggregate + join-back pair — two
    // exchanges of the exploded relation — with a single exchange; the
    // window SORT spills gracefully where a posting-list aggregate's
    // buffer would not, and this stage runs BEFORE prefix filtering has
    // damped boilerplate, so spill-safety matters here). Un-persisted:
    // the candidate chain is now its only consumer.
    val withDf = docSets
      .select($"doc_id", $"n", explode($"set").as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy($"sh")))
    // Global total order: (df asc, shingle asc) — deterministic, shared by
    // every document, rarest first. Positions are assigned WITHIN each
    // document by a window over that order; the prefix-filter lemma needs
    // positions over the document's FULL token set, so df==1 singletons
    // keep their slots here (they shorten the effective prefix — pure
    // win) and are dropped only from the candidate input below (df==1
    // cannot match anything, so dropping them generates no false
    // negatives).
    val ranked = withDf
      .withColumn("pos",
        row_number().over(Window.partitionBy($"doc_id").orderBy($"df", $"sh")))
    // ⌈t·n⌉ via an epsilon-guard: fp noise must never ROUND UP an exact
    // integer t·n (that would shorten the prefix — the unsound direction);
    // overshooting downward only lengthens it (more candidates, still
    // exact).
    // Two prefix lengths per document (Xiao et al. 2008 §3.1): the
    // PROBING prefix n − ⌈t·n⌉ + 1 generates the rows, and the shorter
    // INDEXING prefix n − ⌈2t/(1+t)·n⌉ + 1 marks which of them can
    // represent the document as the SMALLER side of a pair. For a true
    // pair with nx ≤ ny, overlap ≥ ⌈t/(1+t)·(nx+ny)⌉ ≥ ⌈2t/(1+t)·nx⌉,
    // so the FIRST shared token in global order sits within x's
    // indexing prefix (and within y's probing prefix, via
    // overlap ≥ t·ny given the length filter) — a candidate row whose
    // smaller side matched only past its indexing prefix is provably
    // not a pair's first shared token and is pruned below. At t = 0.5
    // the indexing prefix is ~n/3 vs the probing ~n/2.
    val prefix = ranked
      .filter($"pos" <= $"n" - ceil($"n" * threshold - 1e-9) + 1)
      .filter($"df" > 1)
      .select($"doc_id", $"sh", $"n", $"pos",
        ($"pos" <= $"n" -
          ceil($"n" * (2 * threshold / (1 + threshold)) - 1e-9) + 1).as("idx"))
    // Candidate generation from ONE groupBy(prefix shingle) posting list,
    // pairs expanded with codegen'd Generates (the jaccardPairs
    // shape — the self-join's two exchanges become one). The LENGTH
    // filter (J ≤ min/max ⇒ t·max ≤ min necessary) and the POSITIONAL
    // filter (PPJoin proper, Xiao et al. 2008 §3.2: tokens shared
    // besides this one all rank AFTER it in both docs, so overlap ≤
    // 1 + min(|x|−i, |y|−j), and J ≥ t needs overlap ≥ t/(1+t)·(|x|+|y|))
    // apply per expanded row — the same predicates the join form put in
    // its join condition, on the same values. Exactness is preserved
    // because a true pair's FIRST shared token always passes the
    // positional bound; rows failing it matched only on LATE prefix
    // tokens and are pruned before the pair aggregate.
    val cand = postingPairs(prefix.groupBy($"sh")
        .agg(collect_list(struct($"doc_id", $"n", $"pos", $"idx")).as("ps")),
        "ps", key = "doc_id")
      // indexing-prefix filter: the strictly smaller side's token must
      // lie within ITS indexing prefix (on ties either side may play
      // the smaller role, so either flag admits the row)
      .filter(when($"a.n" < $"b.n", $"a.idx")
        .when($"b.n" < $"a.n", $"b.idx")
        .otherwise($"a.idx" || $"b.idx"))
      .filter(greatest($"a.n", $"b.n") * threshold <=
        least($"a.n", $"b.n") + 1e-9)
      .filter(lit(1) + least($"a.n" - $"a.pos", $"b.n" - $"b.pos") >=
        ($"a.n" + $"b.n") * (threshold / (1.0 + threshold)) - 1e-9)
      .groupBy($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
        $"a.n".as("na"), $"b.n".as("nb"))
      .agg(count(lit(1)).as("hits"))
      .select($"a_id", $"b_id", $"na", $"nb")
    // Verification: exact |x∩y| as a MAP-SIDE array_intersect over the
    // cached per-doc sets — the candidate relation broadcasts under the
    // [[gatedPairs]] size gate (candidates are the post-filter
    // survivors, bounded by the true pair count × a small factor, not
    // the quadratic candidate space; past the gate the hint drops and
    // both attach joins degrade to id-keyed shuffle joins, which
    // complete where a forced broadcast build would fail). Intersecting
    // the FULL sets is exact: a shingle in both sets has df ≥ 2 by
    // definition, so the df==1 mass the old exploded-relation recount
    // had to filter out contributes nothing here either, and the
    // carried na/nb are the full distinct counts so the denominator is
    // exact. vs the previous tail: two scans of the exploded relation,
    // a (b_id, sh) equi-join, and a per-pair count aggregate (one more
    // exchange) all collapse into two attach joins + one projection.
    // cand persists because the gate's measuring job and the attach
    // join share its blocks.
    val candP = cand.persist()
    releasingOnFailure(Seq(docSets, candP)) {
      val pairs = jaccardScored(gatedPairs(candP)
        .join(docSets.select($"doc_id".as("a_id"), $"set".as("a_set")), "a_id")
        .join(docSets.select($"doc_id".as("b_id"), $"set".as("b_set")), "b_id")
        .withColumn("inter", graft.functions.SetOps.sortedIntersectCount(
          spark, $"a_set", $"b_set")), ("a_id", "b_id"), ("na", "nb"),
        threshold)
      materializeAndRelease(pairs, Seq(docSets, candP))
    }
  }

  /** Incremental near-dup detection: EXACT n-gram-Jaccard pairs between a
    * NEW batch and an existing corpus — the production shape of dedup at
    * 100 TB. A daily increment is deduped against the standing corpus in
    * cost proportional to the BATCH's posting lists (the join streams the
    * corpus index past the batch's shingles), never re-self-joining the
    * corpus: [[jaccardPairs]] over corpus∪batch would redo the
    * corpus×corpus quadrant whose pairs are already known from previous
    * increments.
    *
    * The corpus-side exploded (doc, shingle) relation is the incremental
    * INDEX: in production it is a materialized table bucketed by shingle
    * hash ([[graft.sources.Bucketing]]), so the per-increment join is
    * co-located and the index grows by appending the increment's own
    * shingles after it passes. Within-batch duplicates are a separate
    * [[jaccardPairs]] over the (small) batch alone.
    *
    * Posting-list pipeline (the [[jaccardPairs]] treatment on the
    * incremental shape): per-side distinct-shingle counts are computed
    * MAP-SIDE and carried through the explode (no size aggregates, no
    * size join-backs), and the batch×corpus candidate join becomes ONE
    * groupBy(shingle) that collects the two sides' posting lists and
    * cross-expands them map-side. Shingles present on one side only die
    * in place (`size(bs) > 0 && size(cs) > 0`). Jaccard is exact over
    * both documents' FULL distinct-shingle sets: each shared shingle
    * contributes exactly one expanded (batch, corpus) row, so the pair
    * count is the exact cross-side intersection.
    *
    * @return (batch_id, corpus_id, jaccard), jaccard >= threshold —
    *         eagerly materialized with intermediates released, same
    *         contract as [[jaccardPairs]] (caller owns the result's
    *         `unpersist`).
    */
  def jaccardPairsAgainst(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    def sh(df: DataFrame, isBatch: Boolean) =
      shingleArrays(df, idCol, "id", textCol, shingleLen)
        .select(struct($"id", size($"arr").cast("long").as("n")).as("e"),
          explode($"arr").as("sh"))
        .select($"sh", $"e", lit(isBatch).as("isB"))
    val tagged = sh(batch, isBatch = true)
      .unionAll(sh(corpus, isBatch = false))
    // collect_list skips nulls, so each side's list holds only its own
    // (id, n) structs
    // cross expansion through two codegen'd Generates (explode × explode),
    // not HOFs — the jaccardPairs CodegenFallback lesson
    val crossed = tagged.groupBy($"sh")
      .agg(collect_list(when($"isB", $"e")).as("bs"),
        collect_list(when(!$"isB", $"e")).as("cs"))
      .filter(size($"bs") > 0 && size($"cs") > 0)
      .select($"cs", explode($"bs").as("b"))
      .select($"b", explode($"cs").as("c"))
    val pairs = jaccardScored(crossed
      .groupBy($"b.id".as("batch_id"), $"c.id".as("corpus_id"),
        $"b.n".as("nb"), $"c.n".as("nc"))
      .agg(count(lit(1)).as("inter")), ("batch_id", "corpus_id"),
      ("nb", "nc"), threshold)
    materializeAndRelease(pairs, Nil)
  }

  /** The standing MinHash index over a corpus: the persisted exploded
    * shingle-hash relation (exact verification reads it) and the banded
    * signature table (candidate probes read it). Built ONCE and reused
    * across increments — in production both live as tables bucketed by
    * their join keys ((band, bucket) / (corpus_id, h)), and GROW by
    * appending each accepted increment's own rows after it passes, so
    * per-increment cost never includes re-indexing the corpus. Signatures
    * are per-doc, so appending an increment never changes existing rows.
    */
  final case class MinhashIndex private[operators] (
      shingleHashes: DataFrame, // (corpus_id, h)
      bands: DataFrame, // (corpus_id, band, bucket)
      sizes: DataFrame, // (corpus_id, nc) — distinct-shingle count per doc
      bucketCounts: DataFrame, // (band, bucket, population)
      numBands: Int,
      rowsPerBand: Int,
      shingleLen: Int) extends CachedRelations {
    protected def relations: Seq[DataFrame] =
      Seq(shingleHashes, bands, sizes, bucketCounts)
  }

  /** (idAs, sh): one row per distinct shingle of each document. */
  private[graft] def shingleRows(
      df: DataFrame, idCol: String, idAs: String, textCol: String,
      shingleLen: Int): DataFrame =
    df.select(col(idCol).as(idAs), TextOps.tokens(col(textCol)).as("toks"))
      .select(col(idAs),
        explode(array_distinct(TextOps.shingles(col("toks"), shingleLen))).as("sh"))

  /** (idAs, h): [[shingleRows]] with each shingle string hashed once —
    * the minhash "permutations" re-hash the fixed-width long
    * (xxhash64(i, h)) inside vectorized min() aggregates.
    */
  private def shingleHashRelation(
      df: DataFrame, idCol: String, idAs: String, textCol: String,
      shingleLen: Int): DataFrame =
    shingleRows(df, idCol, idAs, textCol, shingleLen)
      .select(col(idAs), xxhash64(col("sh")).as("h"))

  /** MinHash signature + LSH banding of an (id, h) relation: one
    * aggregate over `keys` computes the bands × rowsPerBand minima (plus
    * any `extra` aggregates, kept after the keys), and each signature
    * posexplodes to (keys, extras, band, bucket) rows.
    */
  private def bandRelation(ex: DataFrame, keys: Seq[String], bands: Int,
      rowsPerBand: Int, extra: Seq[(String, Column)] = Nil): DataFrame = {
    val numHashes = bands * rowsPerBand
    val aggs = (0 until numHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"mh$i")) ++
      extra.map { case (name, agg) => agg.as(name) }
    val carried = (keys ++ extra.map(_._1)).map(col)
    ex.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(carried :+
        array((0 until numHashes).map(i => col(s"mh$i")): _*).as("sig"): _*)
      .select(carried :+ posexplode(lshBands(col("sig"), bands, rowsPerBand))
        .as(Seq("band", "bucket")): _*)
  }

  /** Build the standing [[MinhashIndex]] for a corpus. The relations are
    * cached for reuse across probes — the caller owns the release
    * ([[MinhashIndex.unpersist]]).
    */
  def minhashIndex(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 2): MinhashIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cEx = shingleHashRelation(corpus, idCol, "corpus_id", textCol,
      shingleLen).persist()
    val cBand = bandRelation(cEx, Seq("corpus_id"), bands, rowsPerBand)
      .persist()
    val cSizes = cEx.groupBy($"corpus_id").agg(count(lit(1)).as("nc"))
      .persist()
    val cBuckets = cBand.groupBy($"band", $"bucket")
      .agg(count(lit(1)).as("population")).persist()
    MinhashIndex(cEx, cBand, cSizes, cBuckets, bands, rowsPerBand, shingleLen)
  }

  /** The durable minhash index's shape ([[DurableIndex.Store]]): four
    * tables, bucket populations stored as per-append partial counts.
    */
  private val minhashStore = DurableIndex.Store("minhash",
    Seq("shingles", "bands", "sizes", "bucket_counts"),
    counts = Some("bucket_counts" -> Seq("band", "bucket")),
    meta = Seq("numBands", "rowsPerBand", "shingleLen"))

  /** Persist a [[MinhashIndex]] as parquet tables — the DURABLE form of
    * the standing index: a daily dedup pipeline builds it once, then each
    * increment probes the loaded index and, once accepted, appends its
    * own rows ([[appendToMinhashIndex]]) — no driver ever re-indexes the
    * corpus. Bucket populations are stored as per-append PARTIAL counts
    * (append-only — an aggregated file could not be appended to); the
    * loader re-aggregates them. At cluster scale the shingle and band
    * tables would be written `bucketBy(corpus_id)` / `(band, bucket)` so
    * probe joins are co-located; plain parquet keeps the sandbox path
    * simple.
    */
  def saveMinhashIndex(index: MinhashIndex, path: String): Unit =
    DurableIndex.save(path, minhashStore,
      Seq(index.shingleHashes, index.bands, index.sizes, index.bucketCounts),
      Seq(index.numBands, index.rowsPerBand, index.shingleLen))

  /** Load a durable [[MinhashIndex]] written by [[saveMinhashIndex]] /
    * grown by [[appendToMinhashIndex]]. Relations come back persisted;
    * partial bucket counts are re-aggregated on load. Visibility (the
    * committed appends minus `excludeAppends`, or the snapshot of
    * `pinId`) resolves as [[DurableIndex.load]] describes — never bands
    * without sizes. Unpinned, the relations are persisted at load, so
    * the exposure to concurrent maintenance is the first
    * materialization (keep `tombstoneRetentionMs` above it).
    */
  def loadMinhashIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      excludeAppends: Seq[String] = Nil,
      pinId: Option[String] = None): MinhashIndex = {
    val (m, Seq(shingles, bands, sizes, counts)) =
      DurableIndex.load(spark, path, minhashStore, excludeAppends, pinId)
    MinhashIndex(shingles.persist(), bands.persist(), sizes.persist(),
      counts.persist(), m("numBands").toInt, m("rowsPerBand").toInt,
      m("shingleLen").toInt)
  }

  /** Append an ACCEPTED increment's rows to a durable index — the write
    * half of the daily loop (probe first, then append what survives).
    * Signatures and buckets are pure per-doc functions of the same hash
    * family, so appending never rewrites existing rows; bucket counts
    * append as partials. Cost: one narrow pass over the batch.
    * Idempotent per `appendId` and atomic to readers — the
    * [[DurableIndex.append]] contract: an out-of-band
    * [[loadMinhashIndex]] at ANY instant (including after a crash
    * between table writes) sees either the whole increment or none of
    * it, never bands without sizes.
    */
  def appendToMinhashIndex(
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      appendId: String,
      txn: Option[(String, Long)] = None): Unit =
    DurableIndex.append(path, minhashStore, appendId, txn) { m =>
      val bEx = shingleHashRelation(batch, idCol, "corpus_id", textCol,
        m("shingleLen").toInt).persist()
      val bBand = bandRelation(bEx, Seq("corpus_id"), m("numBands").toInt,
        m("rowsPerBand").toInt).persist()
      (Seq(bEx, bBand,
        bEx.groupBy(col("corpus_id")).agg(count(lit(1)).as("nc")),
        bBand.groupBy(col("band"), col("bucket"))
          .agg(count(lit(1)).as("partial"))),
        Seq(bEx, bBand))
    }

  /** Compact a durable minhash index — the [[DurableIndex.compact]] fold:
    * history folds into one fresh base per table, the newest append
    * stays unfolded for streaming replay exclusion, folded ids are
    * recorded so late retries no-op, superseded partitions outlive the
    * fold by `tombstoneRetentionMs` for pinned readers.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      path: String,
      tombstoneRetentionMs: Long = DurableIndex.DefaultRetentionMs): Int =
    DurableIndex.compact(spark, path, minhashStore, tombstoneRetentionMs)

  /** The durable pair table: one relation at the root, created by its
    * first append.
    */
  private val pairStore =
    DurableIndex.Store("pairs", Seq(""), createByAppend = true)

  /** Persist a verified near-dup PAIR SET as a durable parquet table —
    * the cluster pipeline's second piece of standing state (the first is
    * the minhash index). Cold cluster formation over a large corpus is
    * otherwise pairs-rebuild + CC rounds; with the pair table on disk it
    * is read-parquet + CC rounds — probe-shaped, like everything else in
    * the incremental loop. Schema passes through unchanged, so the same
    * table works for (a_id, b_id, jaccard) text pairs and
    * (a_id, b_id, cosine) embedding pairs.
    */
  def savePairs(pairs: DataFrame, path: String): Unit =
    DurableIndex.save(path, pairStore, Seq(pairs))

  /** Append an increment's pairs (batch-vs-corpus + within-batch) under
    * an `append=<id>` partition — same manifest-committed idempotent
    * contract as [[appendToMinhashIndex]] (one table here, so the
    * manifest additionally shields readers from a partially
    * job-committed parquet write). The streaming loop's first batch
    * creates the table; there is no savePairs bootstrap step.
    */
  def appendPairs(path: String, pairs: DataFrame, appendId: String,
      txn: Option[(String, Long)] = None): Unit =
    DurableIndex.append(path, pairStore, appendId, txn)(_ => (Seq(pairs), Nil))

  /** Compact the durable pair table — [[compactMinhashIndex]]'s contract
    * applied to its single relation.
    */
  def compactPairs(spark: org.apache.spark.sql.SparkSession, path: String,
      tombstoneRetentionMs: Long = DurableIndex.DefaultRetentionMs): Int =
    DurableIndex.compact(spark, path, pairStore, tombstoneRetentionMs)

  /** Load the durable pair table: the manifest-committed appends minus
    * `excludeAppends` (replay safety, as in [[loadMinhashIndex]]).
    */
  def loadPairs(
      spark: org.apache.spark.sql.SparkSession, path: String,
      excludeAppends: Seq[String] = Nil,
      pinId: Option[String] = None): DataFrame =
    DurableIndex.load(spark, path, pairStore, excludeAppends, pinId)._2.head

  /** Probe a standing [[MinhashIndex]] with a new batch — the steady-state
    * increment cost and [[jaccardPairsAgainst]]'s scale twin: shingle +
    * sign + band the BATCH, bucket-join its bands against the index,
    * exact-verify candidates. Nothing here is proportional to corpus size
    * except the (pre-built, co-located-in-production) index joins
    * themselves. The hash family is [[minhashPairs]]'s, so a doc's
    * signature is the same whether computed incrementally or in a full
    * run.
    *
    * Small-increment contract: an increment is small by definition, so
    * the batch side is shingled ONCE and each doc signs from its own
    * shingle-hash array (no aggregate, no exchange), and the result ends
    * in one partition (a caller's sort is then a local Sort, not a
    * sampled range exchange). Two broadcasts carry the batch side — its
    * band rows, each with the doc's shingle hashes, and the expected
    * (batch_id, corpus_id, nb, h) rows of its candidate pairs — while the
    * corpus relations stream in parallel; the corpus sizes join as the
    * planner sees fit (a broadcast only while they are under the
    * threshold). A warm probe of a small increment against a cached
    * [[minhashIndex]] is five jobs. An increment past this contract fails
    * LOUDLY, as a broadcast-build error (the band rows, about
    * numBands × 8 B per batch shingle, or the expected rows over the
    * broadcast limit), never as a silent spill: probe it in smaller
    * slices, or run [[jaccardPairsAgainst]].
    *
    * Nothing is persisted: the increment and the probe are recomputed on
    * every action, so the streaming caller leaks no cached relation per
    * micro-batch.
    *
    * @return (batch_id, corpus_id, jaccard), verified >= threshold
    */
  def minhashPairsAgainstIndex(
      batch: DataFrame,
      index: MinhashIndex,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    // each batch doc's distinct-shingle count `nb` and shingle hashes `hs`
    // are computed MAP-SIDE and ride the doc's band rows, so the candidate
    // probe's output carries all the verification needs: no second pass
    // over the batch, no size aggregate or join-back. `hs` sits behind its
    // own generate barrier (see [[shingleArrays]]), so the signature and
    // the explode below read the column instead of re-hashing the array.
    // A doc with no shingle has no bands (as in the aggregate form), and a
    // NULL id never pairs (the equi-joins this replaced dropped it).
    val bDocs = shingleArrays(batch, idCol, "batch_id", textCol,
        index.shingleLen)
      .filter($"batch_id".isNotNull && size($"arr") > 0)
      .select($"batch_id", size($"arr").cast("long").as("nb"),
        explode(array(transform($"arr", xxhash64(_)))).as("hs"))
    // the per-doc signature: hash i's minimum over the doc's shingle
    // hashes, the same xxhash64(i, h) family [[bandRelation]] aggregates
    val sig = array((0 until index.numBands * index.rowsPerBand).map(i =>
      array_min(transform($"hs", h => xxhash64(lit(i), h)))): _*)
    val bBand = bDocs.select($"batch_id", $"nb", $"hs", sig.as("sig"))
      .select($"batch_id", $"nb", $"hs", posexplode(lshBands($"sig",
        index.numBands, index.rowsPerBand)).as(Seq("band", "bucket")))
    // cap by CORPUS bucket population — precomputed in the index and
    // applied to the BATCH side: hot buckets are by construction few, so
    // the filter is a broadcast anti join over the (tiny) batch bands
    val bCapped =
      if (maxBucketSize > 0) {
        val hot = index.bucketCounts
          .filter($"population" > maxBucketSize).select($"band", $"bucket")
        bBand.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      } else bBand
    // the BATCH bands broadcast: candidate generation is a map-side hash
    // probe streaming over the corpus band index — the standing corpus is
    // never shuffled. A pair colliding on k bands comes out k times; the
    // distinct keys on corpus_id among others, and a cached band index is
    // partitioned on corpus_id, so it plans with no exchange. Each
    // candidate pair then expands to one expected row per batch shingle
    // hash.
    val expected = index.bands
      .join(broadcast(bCapped), Seq("band", "bucket"))
      .select($"batch_id", $"corpus_id", $"nb", $"hs").distinct()
      .select($"batch_id", $"corpus_id", $"nb", explode($"hs").as("h"))
    // verification restricts AND counts the corpus shingle hashes against
    // one broadcast of the expected rows: equi-join on BOTH (corpus_id,
    // h), so each surviving row IS one shared shingle hash, and only
    // candidate docs' rows survive the map-side probe (the partial counts
    // are the one shuffle). Deliberately NOT [[gatedPairs]]-gated: the
    // expected rows are bounded by the increment (candidates × batch
    // shingles) — a persist+count per micro-batch would cost the
    // streaming caller more than the gate guards.
    val inter = index.shingleHashes
      .join(broadcast(expected), Seq("corpus_id", "h"))
      .groupBy($"batch_id", $"corpus_id", $"nb")
      .agg(count(lit(1)).as("inter"))
    jaccardScored(inter.join(index.sizes, "corpus_id"),
      ("batch_id", "corpus_id"), ("nb", "nc"), threshold).coalesce(1)
  }

  /** 64-bit SimHash of a token array: bit b is set when the sum over tokens
    * of ±1 (sign of bit b of xxhash64(token)) is positive. Each token is
    * hashed exactly once; the 64 bit-votes then walk the (cheap) long
    * array, not the string array.
    */
  def simhash(toks: Column): Column = {
    val hashes = transform(toks, tk => xxhash64(tk))
    val bitCols = transform(sequence(lit(0), lit(63)), b => {
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(call_function("shiftright", h, b)
          .bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
    })
    aggregate(bitCols, lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash signatures via the scalable explode formulation: one string
    * hash per token occurrence, then bit-sliced vote accumulation per doc
    * (one shuffle on id).
    *
    * Bit-slicing: the 64 per-bit ±1 vote sums reduce to per-bit ONES
    * counts (vote_b = 2·ones_b − n, so vote_b > 0 ⟺ 2·ones_b > n), and
    * the ones counts pack two-per-long into 32-bit lanes — 32 packed
    * long sums + one count instead of 64 conditional sums: a 2× smaller
    * aggregation buffer and branch-free per-row update inside codegen.
    * 32-bit lanes bound a doc at 2^31−1 token occurrences before the
    * high lane could reach the sign bit — unreachable in practice
    * (16-bit lanes would pack tighter but silently overflow a signed
    * long once a lane's count passed 32767).
    */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .select($"id", xxhash64($"tok").as("h"))
    // packed_k lane j (32 bits at offset 32j) counts tokens with sig bit
    // 2k+j set; a row contributes 0 or 1<<(32j) per lane
    val packed = (0 until 32).map { k =>
      sum((0 until 2).map { j =>
        shiftright($"h", 2 * k + j).bitwiseAND(lit(1L)) * lit(1L << (32 * j))
      }.reduce(_ + _)).as(s"p$k")
    }
    hashed.groupBy($"id")
      .agg(packed.head, (packed.tail :+ count(lit(1)).as("n")): _*)
      .select($"id",
        (0 until 64).map { b =>
          val ones = shiftright(col(s"p${b / 2}"), 32 * (b % 2))
            .bitwiseAND(lit(0xFFFFFFFFL))
          when(ones * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
        }.reduce((a, x) => a.bitwiseOR(x)).as("sig"))
  }

  /** Connected components over a near-dup pair relation — the cluster
    * step of a dedup pipeline: pairs say "same", components say "this
    * GROUP is one document", and min-id becomes the canonical survivor.
    *
    * Default algorithm: alternating large-star/small-star (Kiveris,
    * Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected Components
    * in MapReduce and Beyond", SoCC 2014), which converges in
    * O(log² n) rounds regardless of component DIAMETER — a chain of
    * length d collapses in ~log d alternations where min-label
    * propagation (the specs' reference implementation) needs d rounds,
    * each a full shuffle over the edge set. Near-dup graphs are usually
    * shallow, but one boilerplate chain is all it takes to stall the
    * propagation form at scale.
    *
    * Hybrid finish: once the (monotonically contracting) edge set fits
    * under `driverFinishEdges`, the remaining rounds collapse into ONE
    * bounded collect + driver union-find — distributed iteration exists
    * to shrink the problem, and paying scheduler/shuffle overhead per
    * round to converge a few-MB edge list is waste at any scale. The
    * default bound (2M edges ≈ 32 MB of longs) matches the repo's
    * documented driver-state budget (PQ codebook sample); pass 0 to
    * force pure distributed iteration (specs pinning round counts do).
    *
    * @param pairs (a_id, b_id) undirected edges
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponents(
      pairs: DataFrame,
      driverFinishEdges: Long = DriverFinishEdges): DataFrame =
    connectedComponentsStarWithRounds(pairs, driverFinishEdges)._1

  private val DriverFinishEdges = 2000000L

  /** Star rounds before [[connectedComponents]] gives up as unconverged. */
  private val CcRoundLimit = 50

  /** Large-star/small-star CC with the round count exposed (spec hook:
    * the chain-graph case must converge in ~half the label-prop rounds).
    *
    * State: the CANONICAL edge list (a > b). Each round applies
    * large-star (hang every node's larger neighbors onto its min
    * neighbor) then small-star (hang every node's smaller-or-equal
    * neighbors onto its min neighbor); both preserve connectivity, and
    * the joint fixpoint is a depth-1 forest: every non-root holds
    * exactly the edge (node, componentMin).
    *
    * Per-node mins use groupBy+join (map-side partial aggregation),
    * NOT a window: as rounds progress component roots accumulate huge
    * degree, and a window would sort a root's entire neighborhood in
    * one task — the agg form partial-aggregates the min map-side and
    * leaves the (AQE-handled) join as the only skew point.
    *
    * Convergence: per-round (count, Σ xxhash64(a,b)) checksum equality
    * gates an EXACT set-equality check (`except` both ways) — the exact
    * check runs once at the candidate fixpoint, so rounds stay two
    * aggregates cheap while convergence itself is never probabilistic.
    */
  private[graft] def connectedComponentsStarWithRounds(
      pairs: DataFrame,
      driverFinishEdges: Long = DriverFinishEdges): (DataFrame, Int) =
    ccStarImpl(pairs, driverFinishEdges, joinNodes = true)

  /** MAPPING-ONLY star CC: the (id, component) rows for non-root nodes
    * of real (a ≠ b) edges, WITHOUT the join against the full node
    * universe — roots and isolated/self-pair-only nodes are simply
    * absent. For a caller that left-joins the labels and coalesces to
    * the node's own id (the [[SimilaritySearch.semDedup]] shape) the
    * result is identical, and the node-universe relation — one more
    * full evaluation of the pairs plan inside the RESULT plan, the
    * expensive self-join for inline pair builders — never runs.
    */
  private[graft] def connectedComponentsMapping(pairs: DataFrame): DataFrame =
    ccStarImpl(pairs, DriverFinishEdges, joinNodes = false)._1

  private def ccStarImpl(
      pairs: DataFrame,
      driverFinishEdges: Long,
      joinNodes: Boolean): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val raw = pairs.select(col("a_id").as("a"), col("b_id").as("b"))
    // every node that appears at all (self-pairs included) gets a label
    // (evaluated only on the joinNodes path — Spark plans lazily, so the
    // mapping-only path never runs this extra pass over the pairs plan)
    val nodes = raw.select($"a".as("id")).union(raw.select($"b".as("id")))
      .distinct()
    def finish(mapping: DataFrame): DataFrame =
      if (joinNodes)
        nodes.join(mapping, Seq("id"), "left")
          .select($"id", coalesce($"__c", $"id").as("component"))
      else mapping.select($"id", $"__c".as("component"))
    val canonPlan = raw
      .select(greatest($"a", $"b").as("a"), least($"a", $"b").as("b"))
      .filter($"a" =!= $"b").distinct()

    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.select($"a".as("u"), $"b".as("v"))
        .union(e.select($"b".as("u"), $"a".as("v")))
      val mins = bidir.groupBy($"u").agg(min($"v").as("mn"))
      // no distinct here: of each canonical edge's two bidir rows exactly
      // one passes v > u, so the pre-distinct output is ≤ |e| rows — a
      // whole shuffle per round bought only bounded duplicate removal
      // (smallStar's min-agg is duplicate-insensitive and the round
      // output gets the one distinct that set semantics actually need)
      bidir.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("a"), least($"mn", $"u").as("b"))
        .filter($"a" =!= $"b")
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical rows already orient u = larger endpoint; both output
      // edges — (neighbor, min) and (u, min) — come from ONE pass over
      // the join via explode (a union of two selects would evaluate the
      // join twice: self-referenced subplans are not shared)
      val mins = e.groupBy($"a".as("u")).agg(min($"b").as("mn"))
      e.join(mins, $"a" === $"u")
        .select(explode(array(
          struct($"b".as("a"), $"mn".as("b")),
          struct($"a", $"mn".as("b")))).as("e"))
        .select($"e.a", $"e.b")
        .filter($"a" =!= $"b").distinct()
    }
    def checksum(e: DataFrame): (Long, java.math.BigDecimal) = {
      val r = e.select(count(lit(1)),
        coalesce(sum(xxhash64($"a", $"b").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      (r.getLong(0), r.getDecimal(1))
    }

    // Driver union-find over a bounded edge list: parent pointers always
    // run larger -> smaller (unions attach the larger root under the
    // smaller), so each tree's root IS the minimum id of its component —
    // identical labeling to the star fixpoint. Integral ids only (every
    // catalog caller uses long ids); other types iterate distributed.
    val idType = canonPlan.schema("a").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    def unionFindLabels(edges: Array[(Long, Long)]): DataFrame = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.foreach { case (a, b) =>
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val mapping = edges.iterator
        .flatMap { case (a, b) => Iterator(a, b) }.toSet.iterator
        .map((id: Long) => (id, find(id))).toSeq
      val slices = math.max(1, mapping.length / 500000)
      spark.createDataset(spark.sparkContext.parallelize(mapping, slices))
        .toDF("id", "__c")
        .select($"id".cast(idType).as("id"), $"__c".cast(idType).as("__c"))
    }
    def driverUnionFind(e: DataFrame): DataFrame =
      unionFindLabels(e.select($"a".cast("long"), $"b".cast("long"))
        .as[(Long, Long)].collect())

    // DIRECT driver finish: when ids are integral, probe the canonical
    // edge list with a BOUNDED collect (limit driverFinishEdges + 1 —
    // driver memory stays capped by construction) BEFORE starting the
    // distributed machinery. Near-dup graphs are pair-sparse, so this is
    // the common case, and it replaces three jobs (localCheckpoint
    // materialization, checksum, then the union-find collect) plus a
    // cached edge RDD with ONE collect job and no cache. Past the cap
    // the collected head is discarded and the star loop runs unchanged.
    // The probe runs against a PERSISTED canonPlan so the over-cap path
    // pays one materialization, not two (ADVICE r17): un-persisted, the
    // limit probe computed — and threw away — the full distinct, then
    // localCheckpoint recomputed it. Under the cap the probe is still a
    // single job; the partial cache is released as soon as the decision
    // is made (and on the over-cap path, after the checkpoint has
    // materialized from it).
    val probed = integralIds && driverFinishEdges > 0 &&
      driverFinishEdges < Int.MaxValue
    val canonP = if (probed) canonPlan.persist() else canonPlan
    if (probed) {
      val head =
        try canonP
          .select($"a".cast("long"), $"b".cast("long")).as[(Long, Long)]
          .limit(driverFinishEdges.toInt + 1).collect()
        catch { case e: Throwable =>
          canonP.unpersist(blocking = false); throw e
        }
      if (head.length <= driverFinishEdges) {
        canonP.unpersist(blocking = false)
        return (finish(unionFindLabels(head)), 0)
      }
    }

    var canon =
      try canonP.localCheckpoint()
      finally if (probed) canonP.unpersist(blocking = false)
    var prev = checksum(canon)
    var converged = false
    var iter = 0
    var hybridLabels: Option[DataFrame] = None
    while (hybridLabels.isEmpty && !converged && iter < CcRoundLimit) {
      if (integralIds && driverFinishEdges > 0 && prev._1 <= driverFinishEdges) {
        val mapping = driverUnionFind(canon)
        freeLocalCheckpoint(canon)
        hybridLabels = Some(finish(mapping))
      } else {
      // checkpoint the large-star intermediate: smallStar references it
      // twice (min agg + join) — unmaterialized it would evaluate the
      // whole large-star plan per reference. The round output checkpoints
      // LAZILY: the checksum action materializes it, so a round costs two
      // jobs (ls + checksum), not three. ls blocks are freed only AFTER
      // that materialization — a truncated-lineage checkpoint cannot be
      // recomputed, so unpersisting it while `next` is still un-built
      // would lose the round.
      val ls = largeStar(canon).localCheckpoint()
      val next = smallStar(ls).localCheckpoint(false)
      val sum = checksum(next)
      freeLocalCheckpoint(ls)
      if (sum == prev &&
          next.except(canon).isEmpty && canon.except(next).isEmpty)
        converged = true
      prev = sum
      freeLocalCheckpoint(canon)
      canon = next
      iter += 1
      }
    }
    hybridLabels match {
      case Some(labels) => (labels, iter)
      case None =>
        if (!converged) sys.error(
          s"connectedComponents (star) did not converge in $CcRoundLimit rounds")
        // depth-1 forest: non-roots carry (id -> componentMin); roots (and
        // self-pair-only nodes) label themselves
        val mapping = canon.groupBy($"a".as("id")).agg(min($"b").as("__c"))
        (finish(mapping), iter)
    }
  }

  /** Release the cached blocks behind a `localCheckpoint`ed DataFrame.
    * `df.unpersist` only consults the CacheManager, which never saw a
    * checkpoint's RDD — the blocks live on the RDD itself, reachable
    * through the plan's LogicalRDD leaf.
    */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003) as
    * an exploded (id, fp) relation — the distributed form: char-n-gram
    * hashes posexplode to rows, and each full window of `w` consecutive
    * hashes contributes its minimum via a codegen'd running-min window
    * frame. One shuffle (on id) and WindowExec — NOT the array-HOF form
    * (`TextOps.winnowFromHashes`), whose nested lambdas fall out of
    * codegen into interpreted eval and re-hash the document per window
    * (measured minutes-vs-seconds at sf0.1). The HOF twin is kept for
    * column-level/ad-hoc use and spec-asserted equal to this one.
    *
    * Guarantee: any common substring of length >= w + n - 1 between two
    * docs yields a shared fingerprint; density ~2/(w+1) of n-gram count.
    * Docs shorter than a full window keep their global min (one fp).
    */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      w: Int = 4): DataFrame =
    winnowFingerprintsRaw(df, idCol, textCol, n, w)
      .select(col("id"), col("fp")).distinct()

  /** [[winnowFingerprints]] WITHOUT the trailing per-doc distinct — the
    * (id, fp) relation may repeat a fingerprint a document selected from
    * several windows. [[winnowPairs]] consumes this form and dedups
    * inside its posting-list aggregate (`collect_set`), saving the
    * distinct's whole-relation exchange.
    */
  private def winnowFingerprintsRaw(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val hashed = df
      .select(col(idCol).as("id"), TextOps.charNgrams(col(textCol), n).as("g"))
      .select($"id", posexplode(transform($"g", x => xxhash64(x))).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy($"id")
    val winMin = min($"h").over(
      byDoc.orderBy($"pos").rowsBetween(Window.currentRow, w - 1))
    hashed
      .withColumn("cnt", count(lit(1)).over(byDoc))
      .withColumn("fp", winMin)
      // only FULL windows select fingerprints (positions 0..cnt-w); a doc
      // shorter than one window keeps its pos-0 (global) min
      .filter($"pos" <= greatest($"cnt" - w, lit(0)))
      .select($"id", $"fp")
  }

  /** Winnowing near-dup candidate pairs — the [[winnowFingerprints]]
    * posting-list self-join as a reusable operator (q51's pipeline):
    * pairs of docs sharing at least `minShared` fingerprints.
    *
    * Winnow minima are BIASED toward hot values (they are selected for
    * being small), so the posting-list cap matters more here than for
    * raw shingles: a boilerplate fingerprint shared by m docs forms an
    * m²/2 bucket.
    *
    * @param minShared minimum number of shared fingerprints for a pair
    * @param maxDf drop fingerprints whose document frequency exceeds
    *        this from candidate generation (0 = uncapped). df == 1
    *        fingerprints are always dropped (they cannot form a pair —
    *        provably result-preserving); the upper cap trades recall
    *        only on pairs whose EVERY shared fingerprint is ultra-common.
    * @return (a_id, b_id, shared_fps) with a_id < b_id
    */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      w: Int = 8,
      minShared: Int = 3,
      maxDf: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Posting-list form (the jaccardPairs shape): ONE
    // groupBy(fp) replaces the previous distinct + df aggregate +
    // df join-back + self-join chain. collect_set dedups a doc's
    // repeated window minima (what the old .distinct() exchange did),
    // its size IS the fingerprint's document frequency (the cap and the
    // df > 1 prune become a filter on the grouped row), and pairs
    // expand map-side through codegen'd Generates. No persists: each
    // relation has exactly one consumer.
    val fp = winnowFingerprintsRaw(df, idCol, textCol, n, w)
    postingPairs(fp.groupBy($"fp").agg(collect_set($"id").as("ids")),
        "ids", maxDf)
      .groupBy($"a".as("a_id"), $"b".as("b_id"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter($"shared_fps" >= minShared)
  }

  /** SimHash near-dup pairs: candidates share one of four 16-bit chunks
    * (pigeonhole: any pair at Hamming distance <= 3 shares a chunk), then
    * verified with an exact `bit_count(xor) <= maxHamming` filter.
    *
    * @param maxBucketSize drop chunk buckets holding more than this many
    *        docs (0 = unlimited) — the same m²/2 skew bomb the minhash
    *        band buckets have: a template repeated m times puts all m in
    *        every chunk bucket, and at corpus scale a common 16-bit chunk
    *        value alone forms a quadratic bucket. Capping trades recall
    *        only on docs colliding with > cap others per chunk.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // Posting-list candidates (the jaccardPairs shape): ONE
    // groupBy(chunk, chunkval) replaces the cap aggregate + join-back
    // and the two-sided chunk self-join; the signature relation now has
    // a single consumer, so its persist is gone too. Sigs ride the
    // posting-list structs, so no join back to the signature relation.
    val chunks = simhashSignatures(df, idCol, textCol)
      .select($"id", $"sig",
        posexplode(transform(sequence(lit(0), lit(3)),
          j => call_function("shiftright", $"sig", j * 16)
            .bitwiseAND(lit(0xFFFFL))))
          .as(Seq("chunk", "chunkval")))
    // Cross-chunk dedup as one hash aggregate (the minhashPairs pattern):
    // a pair sharing k of the 4 chunks reaches the aggregate k times but
    // is bit-counted ONCE, after dedup — not per duplicate expanded row
    // (min = the one value; a doc's sig is constant).
    postingPairs(chunks.groupBy($"chunk", $"chunkval")
        .agg(collect_list(struct($"id", $"sig")).as("ps")),
        "ps", maxBucketSize, key = "id")
      .groupBy($"a.id".as("a_id"), $"b.id".as("b_id"))
      .agg(min($"a.sig").as("a_sig"), min($"b.sig").as("b_sig"))
      .select($"a_id", $"b_id",
        bit_count($"a_sig".bitwiseXOR($"b_sig")).as("hamming"))
      .filter($"hamming" <= maxHamming)
  }
}
