package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SessionMemo, Tables}
import graft.functions.{TextOps, VectorOps}
import graft.operators.{Dedup, SimilaritySearch}

/** Dedup / similarity / multimodal operator catalog (SURVEY.md §2.10):
  * exact keyed dedup, exact n-gram-Jaccard near-dup pairs, cosine top-k,
  * multimodal text⋈vector join — each with a DuckDB oracle — plus
  * MinHash-LSH / SimHash / LSH-ANN variants (hash-function-specific, so
  * rows-only checks: no portable SQL oracle exists for xxhash64).
  */
object DedupQueries {
  import CoreQueries.QFn

  // q23 — exact keyed dedup with deterministic winner (D1/W3).
  private def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.exact(Tables.load(s, dir, "documents"), Seq("lang", "n_chars"), "doc_id")
      .select($"doc_id", $"lang", $"n_chars")
      .orderBy($"doc_id")
  }

  private val q23Sql =
    """WITH r AS (SELECT doc_id, lang, n_chars,
      |    row_number() OVER (PARTITION BY lang, n_chars ORDER BY doc_id) rn
      |  FROM documents)
      |SELECT doc_id, lang, n_chars FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // q24 — exact 3-gram Jaccard near-dup pairs via shingle inverted index
  // (D2). The shingle self-join is the scalable formulation: shuffle on
  // shingle, pairs only within posting lists (vs O(n²) all-pairs).
  // Public: q46 reuses the pair set for edit-distance verification.
  //
  // The pair set is memoized per (session, dir) and persisted: it is the
  // most expensive pipeline in the catalog and two catalog queries need
  // it — without the memo, q46 rebuilt the whole q24 plan (doubling its
  // cost and double-persisting identical shingle relations). The result
  // is tiny (pairs over threshold), so the cache cost is negligible; if
  // an external clearCache drops the blocks the plan just recomputes.
  // Built indexes (LSH / IVF+PQ) share the memo, so repeated invocations
  // REUSE one set of persisted relations instead of accumulating a new
  // set each call. The memo bounds both to one dir per session; the
  // pipeline family q24/q43/q56 → q46/q54/q55/q57 always shares a dir.
  // The jaccard build runs its materializing job inside the memo's lock
  // (the pair set is eager since Dedup.jaccardPairs releases its
  // intermediates) — racing that job is exactly what the lock prevents.
  private val memo = new SessionMemo

  private def memoizedPairs(key: String, s: SparkSession, dir: String)(
      build: => DataFrame): DataFrame = {
    val df = memo(s, dir, key) {
      val df = build
      (df, () => { df.unpersist(blocking = false); () })
    }
    // re-persist if an external clearCache (Bench does this between
    // repeats) dropped the registration — persist() on an already-cached
    // DF is a no-op, so this keeps the memo warm without double-caching
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist()
    df
  }

  // Memoize the UNORDERED pair set — the very frame Dedup.jaccardPairs
  // returns already materialized-and-cached, so memo eviction's unpersist
  // releases the one cache entry the call created (an orderBy wrapper in
  // the memo would leave the inner cached frame unreachable). q24 orders
  // on top for its oracle; consumers (q46/q54) don't need order.
  def neardupPairs(s: SparkSession, dir: String): DataFrame =
    memoizedPairs("jaccard", s, dir)(
      Dedup.jaccardPairs(Tables.loadSpread(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, threshold = 0.5))

  /** q43's cosine pair set, memoized like [[neardupPairs]] — q55's
    * components would otherwise evaluate the O(n²/2) cosine self-join
    * TWICE (connectedComponents unions both edge directions of an
    * unmaterialized plan).
    */
  def cosinePairs(s: SparkSession, dir: String): DataFrame =
    memoizedPairs("cosine", s, dir)(q43(s, dir))

  /** q56's LSH-bucketed cosine pair set, memoized for q57 (same reason as
    * [[cosinePairs]]).
    */
  def lshCosinePairs(s: SparkSession, dir: String): DataFrame =
    memoizedPairs("lshcosine", s, dir)(q56(s, dir))

  private def q24(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the fully-exact oracle pin; dirty corpora use q70's
    // Dedup.jaccardPairsPrefix (see Dedup.jaccardPairs scaladoc). Goes
    // through the memo: the pair set is shared with q46/q54.
    neardupPairs(s, dir).orderBy($"a_id", $"b_id")
  }

  private val q24Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') ws
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM w, unnest(range(1, len(ws) - 1)) t(i)),
      |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |  round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
      |FROM pairs JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5
      |ORDER BY a_id, b_id""".stripMargin

  // q25 — brute-force cosine top-10 against embedding #0 (D3/A11).
  // The query vector is read from the table itself and broadcast.
  private def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" === 0)
      .select(VectorOps.toDoubles($"embedding").as("qvec"))
    // fused native expression (functions.CosineSimilarity): identical
    // element-sequential accumulation to the HOF form, one pass, no
    // intermediate array — the 100 TB scan kernel.
    emb.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id",
        round(graft.functions.CosineSimilarity.cosineFast(s,
          $"embedding", $"qvec"), 4).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(10)
  }

  private val q25Sql =
    """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qvec FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qvec), 4) AS cosine
      |FROM embeddings e, q WHERE e.vec_id <> 0
      |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin

  // q26 — multimodal join (D4): text features ⋈ vector features in one
  // relation; l2 norm via higher-order fns, token count via split.
  private def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .join(Tables.load(s, dir, "embeddings"),
        $"doc_id" === $"vec_id")
      .select($"doc_id", $"lang", $"label", $"n_chars",
        size(TextOps.tokens($"text")).cast("long").as("n_tokens"),
        round(VectorOps.l2Norm(VectorOps.toDoubles($"embedding")), 4)
          .as("emb_norm"))
      .orderBy($"doc_id")
  }

  private val q26Sql =
    """SELECT doc_id, lang, label, n_chars,
      |  len(list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '')) AS n_tokens,
      |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 4) AS emb_norm
      |FROM documents JOIN embeddings ON doc_id = vec_id
      |ORDER BY doc_id""".stripMargin

  // q70 — the SAME exact pair set as q24, via prefix filtering (All-Pairs
  // / PPJoin candidate generation): no hashing, no recall knob, so it
  // shares q24's oracle verbatim. This is the exact-dedup form that
  // survives boilerplate-heavy corpora, where q24's hot posting lists
  // expand quadratically — hot shingles sort to the suffixes and never
  // join.
  private def q70(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.jaccardPairsPrefix(Tables.loadSpread(s, dir, "documents"), "doc_id",
        "text", shingleLen = 3, threshold = 0.5)
      .orderBy($"a_id", $"b_id")
  }

  // q27 — MinHash+LSH near-dup candidates, exact-Jaccard verified.
  // xxhash64-based → no portable SQL oracle; rows-only check. Correctness
  // is pinned by the spec comparing it against q24's exact pair set.
  private def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.minhashPairs(Tables.loadSpread(s, dir, "documents"), "doc_id", "text",
        shingleLen = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
      .orderBy($"a_id", $"b_id")
  }

  // q28 — SimHash near-dup candidates (Hamming <= 3 on 64-bit signatures).
  // The chunk-bucket cap defuses the quadratic self-join on a hot 16-bit
  // chunk value at corpus scale; 500 is far above any bucket this corpus
  // forms, so the sf-scale pair set is identical to uncapped
  // (spec-asserted in OperatorsSpec).
  private def q28(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.simhashPairs(Tables.loadSpread(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, maxBucketSize = 500)
      .orderBy($"a_id", $"b_id")
  }

  // q29 — LSH-bucketed approximate NN against embedding #0 (scale path of
  // q25); rows-only (bucketing depends on seeded hyperplanes). Four
  // independent tables (OR-construction): recall@10 = 0.9 measured vs 0.3
  // single-table on these weakly-clustered embeddings. IVF (q50) is the
  // documented default ANN for this regime.
  private def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val qv = emb.filter($"vec_id" === 0)
      .select(VectorOps.toDoubles($"embedding"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.lshTopK(emb, "vec_id", "embedding", qv, k = 10,
      numPlanes = 4, excludeId = Some(0L), numTables = 4)
  }

  // q50 — IVF ANN (k-means coarse quantizer, nprobe nearest cells probed,
  // brute-force within): the density-adaptive twin of q29. Rows-only:
  // cells depend on the seeded init, no portable SQL oracle.
  private def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
    val qv = emb.filter($"vec_id" === 0)
      .select(VectorOps.toDoubles($"embedding"))
      .head().getSeq[Double](0).toArray
    SimilaritySearch.ivfTopK(emb, "vec_id", "embedding", qv, k = 10,
      numCells = 16, nprobe = 4, excludeId = Some(0L))
  }

  // q43 — embedding-cosine near-duplicate pairs (the vector twin of q24):
  // exact all-pairs at oracle scale; the LSH-bucketed variants (q29) are
  // the 100 TB path. The fused native cosine keeps the O(n²/2) scan
  // inside whole-stage codegen.
  private def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Per-vector norms are computed ONCE (n rows), so the O(n²/2) pair
    // loop does only the fused dot product.
    val e = SimilaritySearch.normedVectors(Tables.loadSpread(s, dir, "embeddings"),
      "vec_id", "embedding", "vec_id", "v", "nrm")
    val a = e.select($"vec_id".as("a_id"), $"v".as("a_v"), $"nrm".as("a_n"))
    val b = e.select($"vec_id".as("b_id"), $"v".as("b_v"), $"nrm".as("b_n"))
    a.join(b, $"a_id" < $"b_id")
      .withColumn("cosine",
        SimilaritySearch.normedCosine(s, "a_v", "b_v", "a_n", "b_n"))
      .filter($"cosine" >= 0.35)
      .select($"a_id", $"b_id", round($"cosine", 4).as("cosine"))
      .orderBy($"a_id", $"b_id")
  }

  private val q43Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
      |SELECT a.vec_id a_id, b.vec_id b_id,
      |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.35
      |ORDER BY a_id, b_id""".stripMargin

  // q54 — dedup clusters, the step AFTER pair detection: connected
  // components over the q24 pair set (min reachable doc_id = the
  // cluster's canonical survivor). Iterative label propagation on the
  // Spark side; the DuckDB oracle computes the same components with a
  // recursive-CTE transitive closure.
  private def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.connectedComponents(neardupPairs(s, dir))
      .select($"id".as("doc_id"), $"component".as("cluster"))
      .orderBy($"doc_id")
  }

  private val q54Sql =
    """WITH RECURSIVE w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') ws
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM w, unnest(range(1, len(ws) - 1)) t(i)),
      |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |pairs AS (SELECT a.doc_id a_id, b.doc_id b_id, count(*) inter
      |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      |jac AS (SELECT a_id, b_id
      |  FROM pairs JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
      |  WHERE inter * 1.0 / (sa.n + sb.n - inter) >= 0.5),
      |e AS (SELECT a_id a, b_id b FROM jac UNION SELECT b_id, a_id FROM jac),
      |reach AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |lbl AS (
      |  SELECT a AS id, b AS l FROM reach
      |  UNION ALL
      |  SELECT DISTINCT a, a FROM e)
      |SELECT id AS doc_id, min(l) AS cluster FROM lbl
      |GROUP BY id ORDER BY doc_id""".stripMargin

  // q55 — semantic (embedding) dedup clusters: connected components over
  // the q43 cosine pair set — the vector twin of q54 (text pipelines
  // cluster on BOTH surface n-grams and embeddings; the operators
  // compose identically).
  private def q55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.connectedComponents(cosinePairs(s, dir))
      .select($"id".as("vec_id"), $"component".as("cluster"))
      .orderBy($"vec_id")
  }

  private val q55Sql =
    """WITH RECURSIVE ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cp AS (SELECT a.vec_id a_id, b.vec_id b_id
      |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.35),
      |e AS (SELECT a_id a, b_id b FROM cp UNION SELECT b_id, a_id FROM cp),
      |reach AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |lbl AS (
      |  SELECT a AS id, b AS l FROM reach
      |  UNION ALL
      |  SELECT DISTINCT a, a FROM e)
      |SELECT id AS vec_id, min(l) AS cluster FROM lbl
      |GROUP BY id ORDER BY vec_id""".stripMargin

  // q56 — LSH-bucketed embedding near-dup pairs: the 100 TB twin of q43
  // (the q24↔q27 pattern applied to vectors). Candidates from 14
  // independent 4-plane hyperplane tables WITH 2-flip query-directed
  // multi-probe, capped buckets, exact-cosine verified at 0.45.
  // ORACLE-GREEN since round 10: with multi-probe the candidate set
  // contains every exact pair ≥ 0.45 on both gate corpora (every pair
  // collides in ≥ 2 tables — the OperatorsSpec equality pin), so the
  // verified output EQUALS the exact q43 restriction and takes its SQL.
  // The q27-style validity bound applies: see the oracle map entry.
  private def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // numPlanes = 0 / probeFlips = -1: the sizing law — gate corpora
    // resolve to the pinned 4-plane/2-flip geometry (oracle validity
    // unchanged); larger corpora grow planes with log2(n) so bucket
    // population (and the fused dot work per vector) stays bounded.
    SimilaritySearch.lshPairs(Tables.loadSpread(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45,
        numPlanes = 0, numTables = 14, maxBucketSize = 500,
        probeFlips = -1)
      .orderBy($"a_id", $"b_id")
  }

  private val q56Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
      |SELECT a.vec_id a_id, b.vec_id b_id,
      |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.45
      |ORDER BY a_id, b_id""".stripMargin

  // q57 — semantic dedup clusters over the BUCKETED pair set: the
  // scale-path twin of q55 (which clusters the exact-quadratic q43
  // pairs). ORACLE-GREEN since round 10: q56's multi-probed pair set
  // equals the exact 0.45 restriction on the gate corpora, so its
  // components equal components over the exact pair set — the oracle is
  // q55's recursive-CTE SQL at threshold 0.45 (same validity bound).
  private def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.connectedComponents(lshCosinePairs(s, dir))
      .select($"id".as("vec_id"), $"component".as("cluster"))
      .orderBy($"vec_id")
  }

  private val q57Sql =
    """WITH RECURSIVE ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
      |cp AS (SELECT a.vec_id a_id, b.vec_id b_id
      |  FROM ev a JOIN ev b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.45),
      |e AS (SELECT a_id a, b_id b FROM cp UNION SELECT b_id, a_id FROM cp),
      |reach AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
      |lbl AS (
      |  SELECT a AS id, b AS l FROM reach
      |  UNION ALL
      |  SELECT DISTINCT a, a FROM e)
      |SELECT id AS vec_id, min(l) AS cluster FROM lbl
      |GROUP BY id ORDER BY vec_id""".stripMargin

  // q62 — INCREMENTAL exact near-dup: a new batch (doc_id % 8 == 7, the
  // stand-in for "today's crawl increment") deduped against the standing
  // corpus (everything else) via Dedup.jaccardPairsAgainst. The
  // production shape at 100 TB: cost tracks the increment's posting
  // lists, and the corpus×corpus quadrant — already deduped by previous
  // increments — is never recomputed. Fully SQL-expressible → oracle.
  private def q62(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // memoized (the neardupPairs pattern): jaccardPairsAgainst returns an
    // EAGER persisted frame under the caller-owns-release contract — a
    // direct call per invocation would strand one cache entry per run;
    // the memo makes repeat runs reuse it and owns the eviction
    memoizedPairs("jaccard-against", s, dir) {
      val all = Tables.loadSpread(s, dir, "documents")
      Dedup.jaccardPairsAgainst(
        all.filter($"doc_id" % 8 === 7),
        all.filter($"doc_id" % 8 =!= 7),
        "doc_id", "text", shingleLen = 3, threshold = 0.5)
    }.orderBy($"batch_id", $"corpus_id")
  }

  private val q62Sql =
    """WITH w AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\W+'), x -> x <> '') ws
      |  FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS s
      |  FROM w, unnest(range(1, len(ws) - 1)) t(i)),
      |sz AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |pairs AS (SELECT b.doc_id batch_id, c.doc_id corpus_id, count(*) inter
      |  FROM sh b JOIN sh c ON b.s = c.s
      |  WHERE b.doc_id % 8 = 7 AND c.doc_id % 8 <> 7
      |  GROUP BY 1, 2)
      |SELECT batch_id, corpus_id,
      |  round(inter * 1.0 / (sb.n + sc.n - inter), 4) AS jaccard
      |FROM pairs JOIN sz sb ON sb.doc_id = batch_id JOIN sz sc ON sc.doc_id = corpus_id
      |WHERE inter * 1.0 / (sb.n + sc.n - inter) >= 0.5
      |ORDER BY batch_id, corpus_id""".stripMargin

  // q63 — q62's scale twin (the q24↔q27 pattern on the incremental
  // shape): MinHash-LSH candidates where a batch band bucket meets the
  // standing corpus band index, exact-Jaccard verification of candidates
  // only. xxhash64-based → rows-only; spec pins it against the
  // cross-side restriction of the full minhashPairs run.
  // The index build spreads the corpus over the cores (its per-row
  // shingle/sign work needs them); the increment is read unspread — its
  // shingling is one narrow pass, and a round-robin exchange would cost a
  // job — and the probe's one-partition result sorts locally.
  private def q63(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val idx = memo(s, dir, "minhash") {
      val i = Dedup.minhashIndex(
        Tables.loadSpread(s, dir, "documents").filter($"doc_id" % 8 =!= 7),
        "doc_id", "text")
      (i, () => i.unpersist())
    }.ensureCached() // self-heal: bench teardown may have dropped the blocks
    Dedup.minhashPairsAgainstIndex(
        Tables.load(s, dir, "documents").filter($"doc_id" % 8 === 7), idx,
        "doc_id", "text", threshold = 0.5)
      .orderBy($"batch_id", $"corpus_id")
  }

  // q64 — incremental SEMANTIC dedup: new embeddings (vec_id % 8 == 7)
  // probed against a standing hyperplane-LSH index of the rest — q62/
  // q63's vector twin. ORACLE-GREEN since round 10: with 14 tables and
  // batch-side 2-flip multi-probe, every exact cross pair ≥ 0.45 is a
  // candidate on both gate corpora (≥ 3 colliding tables per pair), so
  // the exact-verified output equals the cross-side restriction of the
  // exact pair set and takes its SQL (q27-style validity bound).
  private def q64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
    val idx = memo(s, dir, "lsh") {
      // default numPlanes = adaptive sizing law: gate corpora keep the
      // pinned 4-plane geometry, larger corpora bound bucket population
      val i = SimilaritySearch.lshIndex(
        emb.filter($"vec_id" % 8 =!= 7), "vec_id", "embedding",
        numTables = 14)
      (i, () => i.unpersist())
    }.ensureCached() // self-heal: bench teardown may have dropped the blocks
    SimilaritySearch.lshPairsAgainstIndex(
        emb.filter($"vec_id" % 8 === 7), idx, "vec_id", "embedding",
        threshold = 0.45, probeFlips = -1)
      .orderBy($"batch_id", $"corpus_id")
  }

  private val q64Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)
      |SELECT b.vec_id batch_id, c.vec_id corpus_id,
      |  round(list_cosine_similarity(b.v, c.v), 4) AS cosine
      |FROM e b JOIN e c ON b.vec_id % 8 = 7 AND c.vec_id % 8 <> 7
      |WHERE list_cosine_similarity(b.v, c.v) >= 0.45
      |ORDER BY batch_id, corpus_id""".stripMargin

  // q65 — product-quantization ANN (TPAMI'11): the corpus is m=8 one-byte
  // codes per vector instead of 64 floats (32× memory), queries score via
  // per-subspace lookup tables statically unrolled into codegen, then the
  // over-fetched candidates are exact-cosine re-ranked (the two-stage
  // production shape: code-sized scan, k'-row exact pass — measured
  // recall@10 1.0 on this corpus vs 0.6 without re-rank). Seeded k-means
  // codebooks → rows-only; specs pin planted-clone-first ordering and
  // the recall floors of both stages.
  private def q65(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
    val qv = emb.filter($"vec_id" === 0)
      .select(VectorOps.toDoubles($"embedding"))
      .head().getSeq[Double](0).toArray
    // codebook fit + corpus encode memoized per (session, dir) like
    // q66's IVF+PQ index — the steady state is probe-only; ensureCached
    // self-heals if something unpersisted the codes mid-session
    val (books, encoded) = memo(s, dir, "pq") {
      val b = SimilaritySearch.fitPqCodebooks(emb, "vec_id", "embedding",
        m = 8, codebookSize = 64)
      val e = SimilaritySearch.pqEncode(emb, "vec_id", "embedding", b).persist()
      ((b, e), () => { e.unpersist(blocking = false); () })
    }
    if (encoded.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      encoded.persist()
    SimilaritySearch.pqTopKReranked(
      encoded,
      emb, "vec_id", "embedding", books, qv, k = 10, overfetch = 8,
      excludeId = Some(0L))
  }

  // q66 — IVF+PQ ANN (TPAMI'11 §IV): coarse cells partition the corpus,
  // rows store m-byte RESIDUAL codes, a query probes nprobe cells and
  // ADC-scores only them, then exact re-ranks the over-fetch. The
  // billion-scale layout: partition pruning × 32× row compression.
  // Seeded → rows-only; spec pins recall ≥ 0.7 at half the cells probed.
  private def q66(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables.loadSpread(s, dir, "embeddings")
    val qv = emb.filter($"vec_id" === 0)
      .select(VectorOps.toDoubles($"embedding"))
      .head().getSeq[Double](0).toArray
    val idx = memo(s, dir, "ivfpq") {
      val i = SimilaritySearch.fitIvfPq(emb, "vec_id", "embedding",
        numCells = 8, m = 8, codebookSize = 64)
      (i, () => i.unpersist())
    }.ensureCached() // self-heal: bench teardown may have dropped the blocks
    SimilaritySearch.ivfPqTopK(idx, qv, k = 10, nprobe = 4,
      excludeId = Some(0L),
      rerank = Some((emb, "vec_id", "embedding")), overfetch = 8)
  }

  // q99 — SemDeDup (D-family capstone): k-means-cell-bucketed semantic
  // dedup with the paper's farthest-from-centroid keeper rule
  // (SimilaritySearch.semDedup scaladoc). Rows-only in the driver gate
  // (k-means init + xxhash64 seeding are engine-specific); the machine
  // check is SemDedupSpec: planted-clone eviction, keeper rule against
  // an independent driver-side rebuild, determinism across runs, and
  // the q43-containment property at matched thresholds.
  private def q99(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SimilaritySearch.semDedup(
        Tables.loadSpread(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.35, numCells = 8)
      .select($"id".as("vec_id"), $"cell", $"dup_group",
        $"centroid_sim", $"keep")
      .orderBy($"vec_id")
  }

  val defs: Seq[(String, QFn)] = Seq(
    "q43_embedding_neardup" -> (cosinePairs _),
    "q23_dedup_exact" -> (q23 _),
    "q24_neardup_jaccard" -> (q24 _),
    "q25_cosine_topk" -> (q25 _),
    "q26_multimodal_join" -> (q26 _),
    "q27_minhash_lsh" -> (q27 _),
    "q28_simhash" -> (q28 _),
    "q29_ann_lsh" -> (q29 _),
    "q50_ann_ivf" -> (q50 _),
    "q54_dedup_clusters" -> (q54 _),
    "q55_embedding_clusters" -> (q55 _),
    "q56_lsh_embedding_pairs" -> (lshCosinePairs _),
    "q57_lsh_embedding_clusters" -> (q57 _),
    "q62_incremental_dedup" -> (q62 _),
    "q63_incremental_minhash" -> (q63 _),
    "q64_incremental_embedding" -> (q64 _),
    "q65_ann_pq" -> (q65 _),
    "q66_ann_ivfpq" -> (q66 _),
    "q70_jaccard_prefix" -> (q70 _),
    "q99_semdedup" -> (q99 _))

  val oracle: Seq[(String, String)] = Seq(
    "q43_embedding_neardup" -> q43Sql,
    "q62_incremental_dedup" -> q62Sql,
    "q23_dedup_exact" -> q23Sql,
    "q24_neardup_jaccard" -> q24Sql,
    // q70 is exact by construction — it shares q24's oracle SQL verbatim
    "q70_jaccard_prefix" -> q24Sql,
    // q27's candidates are exact-Jaccard VERIFIED, and on these corpora
    // every real pair sits at j >= 0.9 — far above the 8-band/2-row
    // S-curve knee — so the LSH path provably reproduces the exact pair
    // set, values included (OperatorsSpec pins lsh == exact at sf0.01).
    // Its oracle is therefore q24's exact-Jaccard SQL verbatim.
    // VALIDITY BOUND: this equality is corpus-dependent, NOT universal.
    // LSH recall is probabilistic; the oracle holds only while every
    // true pair sits well above the band/row S-curve knee (here
    // j >= 0.9 under 8 bands x 2 rows). If a future corpus or seed
    // change fails this gate, the correct response is to investigate
    // the corpus (or a genuine LSH regression) and, if the corpus
    // legitimately has near-knee pairs, demote q27 back to a rows-only
    // check — NEVER to loosen the comparison. The assumption itself is
    // pinned where it is stated: OperatorsSpec's lsh == exact test.
    "q27_minhash_lsh" -> q24Sql,
    // same argument on the incremental shape: q63's probe candidates are
    // exact-verified against the standing index, so its output equals
    // the cross-side restriction q62 computes exactly. The q27 validity
    // bound above applies verbatim (same corpus, same S-curve argument).
    "q63_incremental_minhash" -> q62Sql,
    "q25_cosine_topk" -> q25Sql,
    "q26_multimodal_join" -> q26Sql,
    "q54_dedup_clusters" -> q54Sql,
    "q55_embedding_clusters" -> q55Sql,
    // round-10 upgrades: multi-probe LSH makes the bucketed vector
    // family's candidate sets provably complete on the gate corpora
    // (OperatorsSpec equality pins at sf0.01; the sf0.1 gate re-proves
    // at the larger corpus), so each takes its exact twin's SQL. Same
    // validity bound as q27/q63 above: corpus-dependent, demote rather
    // than loosen if a future corpus puts true pairs below the probed
    // S-curve knee.
    "q56_lsh_embedding_pairs" -> q56Sql,
    "q57_lsh_embedding_clusters" -> q57Sql,
    "q64_incremental_embedding" -> q64Sql)
}
