package graft

import graft.operators.{BroadcastGate, Dedup, SimilaritySearch}

/** The r12 gate unification: every FORCED candidate-pair broadcast in the
  * dedup / similarity verify tails now passes through [[BroadcastGate]] —
  * past the gate the hint DROPS and the verify join degrades to the
  * id-keyed shuffle form instead of failing the broadcast build (the
  * r11-measured forced-broadcast headroom was 11.1M pairs). Result
  * equality is the contract: the hint is a physical-plan choice, so the
  * gated (shuffle) and ungated (broadcast) forms must return identical
  * pair sets. Forcing the degrade here is one conf flip: gate = 0 bytes.
  */
class BroadcastGateSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def docs = Tables.load(spark, dir, "documents")

  private def withGate[T](bytes: Long)(f: => T): T = {
    spark.conf.set(BroadcastGate.confKey, bytes.toString)
    try f
    finally spark.conf.unset(BroadcastGate.confKey)
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[String] = {
    import spark.implicits._
    val cols = df.columns.toSeq
    df.select(cols.map(org.apache.spark.sql.functions.col): _*)
      .collect().map(_.mkString("|")).toSet
  }

  test("gate default and conf override") {
    assert(BroadcastGate.bytes(docs) == (256L << 20))
    withGate(1024L) { assert(BroadcastGate.bytes(docs) == 1024L) }
  }

  test("malformed gate conf fails naming the key and the value") {
    spark.conf.set(BroadcastGate.confKey, "256m")
    try {
      val e = intercept[IllegalArgumentException] { BroadcastGate.bytes(docs) }
      assert(e.getMessage.contains(BroadcastGate.confKey) &&
        e.getMessage.contains("256m"))
    } finally spark.conf.unset(BroadcastGate.confKey)
  }

  test("blockedChunks sizes on the widest per-pass broadcast (vectors OR buckets)") {
    val gate = 1L << 20
    // dim 64 / 8 tables: vectors dominate (536 B/vec vs 192) — the
    // pre-r13 arithmetic, unchanged
    assert(SimilaritySearch.blockedChunks(10000L, 64, 8, gate) ==
      ((2L * 10000 * 536 + gate - 1) / gate).toInt)
    // dim 16 / 50 tables (the table-growth regime the blocked arm
    // targets): the capped bucket relation at tables·24 = 1200 B/vec
    // dwarfs the 152 B vectors — sizing on vectors alone would under-
    // split ~8× and every pass would silently drop the bucket hint
    assert(SimilaritySearch.blockedChunks(10000L, 16, 50, gate) ==
      ((2L * 10000 * 1200 + gate - 1) / gate).toInt)
    // non-positive gate disables blocking (the explicit opt-out)
    assert(SimilaritySearch.blockedChunks(10000L, 64, 8, 0L) == 1)
  }

  test("tables-dominant geometry routes where vector-only sizing silently degraded") {
    // The ADVICE-r12 failure scenario, end-to-end: dim-64 vectors at a
    // 16-plane/θ=0.45 geometry grow tables to 50 (the r12 law), so the
    // capped bucket relation weighs 50·24 = 1200 B/vec against 536 B/vec
    // of vectors. At a 430 kB gate the 500-vector corpus reads
    // 268 kB of vectors (fits — the old vector-only arithmetic saw no
    // reason to route) but 600 kB of buckets (does NOT fit — the probes
    // join would silently drop its hint and degrade to the SMJ sort).
    // Geometry-aware sizing must route to the blocked arm instead
    // (C = ceil(1.2 MB / 430 kB) = 3) and return the monolithic pair set.
    val emb = Tables.load(spark, dir, "embeddings")
    val geom = SimilaritySearch.resolveGeometry(500L, 0.45,
      numPlanes = 16, numTables = 8, probeFlips = -1)
    assert(geom.tables == 50, s"law drift: expected 50 tables, got $geom")
    val mono = pairSet(SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 16, numTables = 8, probeFlips = -1))
    val routed = withGate(430L * 1024) {
      SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 16, numTables = 8, probeFlips = -1)
    }
    try {
      assert(routed.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "an over-gate bucket relation must route to the blocked arm " +
          "even when the vectors alone would fit")
      assert(pairSet(routed) == mono && mono.nonEmpty)
    } finally routed.unpersist(blocking = false)
  }

  test("lshPairs does NOT route while the monolithic broadcast fits the gate") {
    val emb = Tables.load(spark, dir, "embeddings")
    // 500 dim-64 vectors estimate 268 kB; a 300 kB gate admits the
    // monolithic broadcast whole, yet the old c >= 2 arithmetic
    // (2n·width = 536 kB -> C = 2) would have routed it to 3 passes of
    // ~2x candidate/verify work for zero peak-memory benefit. Under the
    // fits-the-gate rule the plan must stay the lazy monolithic form.
    val under = withGate(300L * 1024) {
      SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2)
    }
    assert(under.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "a gate-admissible corpus must not route to the blocked arm")
  }

  test("blocked arm: reliable-checkpoint mode == localCheckpoint mode, files on disk") {
    val emb = Tables.load(spark, dir, "embeddings")
    val local = SimilaritySearch.lshPairsBlocked(emb, "vec_id",
      "embedding", threshold = 0.45, numPlanes = 4, numTables = 14,
      probeFlips = 2, chunks = 3)
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft-blocked-ckpt").toFile
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: no context checkpoint dir before the reliable run")
    spark.conf.set(SimilaritySearch.blockedCheckpointDirKey,
      ckptDir.getAbsolutePath)
    val reliable =
      try SimilaritySearch.lshPairsBlocked(emb, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 4, numTables = 14,
        probeFlips = 2, chunks = 3)
      finally spark.conf.unset(SimilaritySearch.blockedCheckpointDirKey)
    try {
      // reliable mode is plain parquet files, NOT the SparkContext
      // checkpoint machinery — the process-global checkpoint dir must
      // never be touched (a concurrent unrelated checkpoint() call
      // would otherwise land in scratch the caller deletes)
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "reliable mode leaked its scratch dir into the SparkContext")
      assert(pairSet(reliable) == pairSet(local) && pairSet(local).nonEmpty)
      // the mode actually wrote pass checkpoints (not a silent fallback
      // to local blocks): the scratch dir holds RDD checkpoint data
      def walk(f: java.io.File): Iterator[java.io.File] =
        Iterator(f) ++ Option(f.listFiles).iterator.flatten.flatMap(walk)
      assert(walk(ckptDir).exists(f => f.isFile && f.getName.startsWith("part-")),
        s"no checkpoint part files under $ckptDir")
    } finally {
      local.unpersist(blocking = false)
      reliable.unpersist(blocking = false)
    }
  }

  test("blocked arm: reliable mode leaves a caller-owned checkpoint dir untouched") {
    val emb = Tables.load(spark, dir, "embeddings")
    val callerDir = java.nio.file.Files
      .createTempDirectory("graft-caller-ckpt").toFile.getAbsolutePath
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-blocked-scratch").toFile.getAbsolutePath
    spark.sparkContext.setCheckpointDir(callerDir)
    try {
      val before = spark.sparkContext.getCheckpointDir
      assert(before.exists(_.contains(callerDir)))
      spark.conf.set(SimilaritySearch.blockedCheckpointDirKey, scratch)
      val reliable =
        try SimilaritySearch.lshPairsBlocked(emb, "vec_id", "embedding",
          threshold = 0.45, numPlanes = 4, numTables = 14,
          probeFlips = 2, chunks = 2)
        finally spark.conf.unset(SimilaritySearch.blockedCheckpointDirKey)
      try {
        // BIT-IDENTICAL, not merely same-tree: reliable mode writes its
        // own parquet files and must never read or write the global
        // checkpoint-dir state (a setCheckpointDir save/restore can
        // only re-resolve a fresh nested UUID level, so exact equality
        // here proves the machinery is not used at all)
        assert(spark.sparkContext.getCheckpointDir == before,
          s"checkpoint dir changed: $before -> " +
            s"${spark.sparkContext.getCheckpointDir}")
        assert(pairSet(reliable).nonEmpty)
      } finally reliable.unpersist(blocking = false)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("blocked arm: a failed reliable run deletes its orphan pass files") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{assert_true, lit, pmod, when, xxhash64}
    val rnd = new scala.util.Random(11)
    // through parquet, NOT a LocalRelation: ConvertToLocalRelation would
    // fold the poison projection at OPTIMIZATION time (evaluating every
    // row's vec before any chunk filter applies), failing even the
    // self-pass — a file scan keeps evaluation per-row behind the
    // pushed-down chunk filter, which is also the realistic input shape
    val baseDir = java.nio.file.Files
      .createTempDirectory("graft-blocked-poison").toFile.getAbsolutePath
    // ONE file: the blocked arm's dim probe take(1)s the first row of
    // the first split, and multi-file split packing could put the
    // poison row there — a pre-pass probe failure would make this pin
    // vacuous again (failure message indistinguishable, no files ever
    // written). A single file reads in row order, so the probe
    // deterministically sees v-0, which the poison pick excludes.
    (0 until 40).map(i =>
      (s"v-$i", Seq.fill(16)(rnd.nextGaussian().toFloat))).toDF("id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(baseDir)
    val base = spark.read.parquet(baseDir)
    // a poison row in chunk 1 (and not the dim-probe's first row): the
    // (0,0) self-pass filters it out, completes, and WRITES its pass
    // files; the (0,1) cross-pass evaluates its vec and fails — the
    // failed run must then remove its whole run-UUID dir so retried
    // failures cannot accumulate orphans in a shared scratch dir
    val poison = base.select($"id")
      .where(pmod(xxhash64($"id"), lit(2)) === 1 && $"id" =!= "v-0")
      .head().getString(0)
    val df = base.withColumn("vec",
      when(assert_true($"id" =!= lit(poison)).isNull, $"vec"))
    // pushdown proof, and the reason the (0,0) self-pass completes: the
    // chunk filter excludes the poison row BEFORE its vec is evaluated.
    // If this ever stopped holding, the self-pass would fail too, no
    // pass files would exist, and this pin would go vacuous.
    assert(df.filter(pmod(xxhash64($"id"), lit(2)) === 0)
      .select($"vec").collect().nonEmpty)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-blocked-fail").toFile
    spark.conf.set(SimilaritySearch.blockedCheckpointDirKey,
      scratch.getAbsolutePath)
    try {
      val e = intercept[Exception] {
        SimilaritySearch.lshPairsBlocked(df, "id", "vec", threshold = 0.9,
          numPlanes = 4, numTables = 14, probeFlips = 2, chunks = 2)
      }
      // the failure must be the poison row's assert (the cross-pass),
      // not some earlier probe — otherwise this pin is vacuous (no pass
      // files would have been written before the cleanup)
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString("\n")
      assert(msgs.contains("not true") || msgs.contains(poison),
        s"unexpected failure source:\n$msgs")
    } finally spark.conf.unset(SimilaritySearch.blockedCheckpointDirKey)
    def walk(f: java.io.File): Iterator[java.io.File] =
      Iterator(f) ++ Option(f.listFiles).iterator.flatten.flatMap(walk)
    assert(!walk(scratch).exists(_.getName.startsWith("run-")),
      "failed run left orphan pass files in the scratch dir")
  }

  test("pair-relation width comes from the schema, not a two-long guess") {
    import spark.implicits._
    // (bigint, bigint) resolves to the documented 48 B/row exactly —
    // 16 B header + 2 × (8 B slot + 8 B long payload)
    val longs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a_id", "b_id")
    assert(Dedup.pairRelationBytes(longs) == 3L * 48L)
    // string ids contribute their measured UTF-8 octets on top of the
    // fixed slots (16 + 2·8 = 32 B/row) — the ADVICE-r12 failure mode
    // was long string ids under the 48 B guess pushing an over-gate
    // relation into a forced broadcast
    val strs = Seq(("doc-00001", "x"), ("é", "doc-2")).toDF("a_id", "b_id")
    val octets = "doc-00001".getBytes("UTF-8").length +
      "x".getBytes("UTF-8").length + "é".getBytes("UTF-8").length +
      "doc-2".getBytes("UTF-8").length
    assert(Dedup.pairRelationBytes(strs) == 2L * 32L + octets)
    // an empty relation measures zero (no NPE from the null SUM)
    assert(Dedup.pairRelationBytes(strs.limit(0)) == 0L)
  }

  test("a failing gate releases every internal cache (no stranding on error)") {
    // The eager pair pipelines run the gate's measuring job mid-build —
    // a failure there (here: the malformed-conf throw, which fires AFTER
    // the measuring aggregate has materialized the persisted
    // intermediates) must release them, or every retried call in a
    // long-lived session strands another corpus-sized cache set.
    // getPersistentRDDs is the external observable: its registrations
    // must be exactly what they were before the failed calls.
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    spark.conf.set(BroadcastGate.confKey, "not-a-number")
    try {
      intercept[IllegalArgumentException] {
        Dedup.jaccardPairsPrefix(docs, "doc_id", "text", threshold = 0.5)
      }
      intercept[IllegalArgumentException] {
        Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
      }
      // the vector twin: lshPairs registers its normed-vector cache and
      // runs the geometry count before the routing block reads the conf
      intercept[IllegalArgumentException] {
        SimilaritySearch.lshPairs(Tables.load(spark, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.45, numPlanes = 4,
          numTables = 14, probeFlips = 2)
      }
    } finally spark.conf.unset(BroadcastGate.confKey)
    // a post-count throw that is NOT the gate conf: the geometry laws'
    // own require fires after the corpus cache is materialized — same
    // no-stranding contract
    intercept[IllegalArgumentException] {
      SimilaritySearch.lshPairs(Tables.load(spark, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.45, probeFlips = 2,
        probeRadius = -2)
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // no NEW registrations may survive the failures. (Subset, not
    // equality: the CacheManager is plan-keyed, so a failing call that
    // shares a plan with an earlier caller's still-live cache releases
    // the SHARED entry — correctness-safe, the plan recomputes from
    // lineage — and that legitimately removes a pre-existing key.)
    assert((after -- before).isEmpty,
      s"stranded cached RDDs after failed gated calls: ${after -- before}")
  }

  test("minhash verify tail: shuffle degrade == broadcast form") {
    val hinted = pairSet(Dedup.minhashPairs(docs, "doc_id", "text",
      threshold = 0.5))
    val degraded = withGate(0L) {
      pairSet(Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    }
    assert(degraded == hinted && hinted.nonEmpty)
  }

  test("prefix (PPJoin) verify tail: shuffle degrade == broadcast form") {
    val hinted = pairSet(Dedup.jaccardPairsPrefix(docs, "doc_id", "text",
      threshold = 0.5))
    val degraded = withGate(0L) {
      pairSet(Dedup.jaccardPairsPrefix(docs, "doc_id", "text",
        threshold = 0.5))
    }
    assert(degraded == hinted && hinted.nonEmpty)
  }

  test("blocked-broadcast arm: explicit chunks == monolithic (cap = 0)") {
    val emb = Tables.load(spark, dir, "embeddings")
    val mono = pairSet(SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2))
    Seq(2, 3, 5).foreach { c =>
      val blocked = SimilaritySearch.lshPairsBlocked(emb, "vec_id",
        "embedding", threshold = 0.45, numPlanes = 4, numTables = 14,
        probeFlips = 2, chunks = c)
      try assert(pairSet(blocked) == mono && mono.nonEmpty, s"chunks=$c")
      finally blocked.unpersist(blocking = false)
    }
  }

  test("blocked-broadcast arm: lshPairs auto-routes past the gate, result unchanged") {
    val emb = Tables.load(spark, dir, "embeddings")
    val mono = SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2)
    assert(mono.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "under the gate lshPairs must stay the lazy monolithic plan")
    val monoSet = pairSet(mono)
    // 500 dim-64 vectors estimate 268 kB; a 150 kB gate forces C = 4 —
    // the corpus provably cannot broadcast but chunk pairs can, so
    // lshPairs must route to the blocked arm (observable: the result
    // comes back materialized-and-cached) and return the same pairs.
    val routed = withGate(150L * 1024) {
      SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2)
    }
    try {
      assert(routed.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
        "past the gate lshPairs must route to the blocked arm")
      assert(pairSet(routed) == monoSet && monoSet.nonEmpty)
    } finally routed.unpersist(blocking = false)
  }

  test("blocked-broadcast arm: per-pass bucket caps are a verified superset") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.load(spark, dir, "embeddings")
    // a cap small enough to actually trip on the 500-vector corpus:
    // per-pass populations (~n/chunks per bucket cell) trip it no more
    // often than the monolithic full-corpus populations, so blocked may
    // only ADD pairs — and every added pair is still exact-verified
    val mono = pairSet(SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2,
      maxBucketSize = 40))
    val blocked = SimilaritySearch.lshPairsBlocked(emb, "vec_id",
      "embedding", threshold = 0.45, numPlanes = 4, numTables = 14,
      probeFlips = 2, maxBucketSize = 40, chunks = 3)
    try {
      val bSet = pairSet(blocked)
      assert(mono.subsetOf(bSet), s"blocked lost ${(mono -- bSet).size} pairs")
      assert(blocked.filter(col("cosine") < 0.45).count() == 0L)
    } finally blocked.unpersist(blocking = false)
  }

  test("blocked-broadcast arm: string ids survive empty chunk pairs") {
    // an empty pass returns the type-faithful empty result — a
    // hard-coded bigint schema there would fail the cross-pass union
    // for non-long id columns exactly when some chunk pair is empty
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 6).map(i =>
      (s"doc-$i", Seq.fill(16)(rnd.nextGaussian().toFloat)))
    val df = (vecs :+ ("doc-clone", vecs.head._2)).toDF("id", "vec")
    val blocked = SimilaritySearch.lshPairsBlocked(df, "id", "vec",
      threshold = 0.9, numPlanes = 4, numTables = 14, probeFlips = 2,
      chunks = 5) // 15 passes over 7 docs: some pairs are empty
    try {
      assert(blocked.schema("a_id").dataType ==
        org.apache.spark.sql.types.StringType)
      val got = blocked.select("a_id", "b_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got.contains(("doc-0", "doc-clone")), s"got $got")
    } finally blocked.unpersist(blocking = false)
    // the reliable leg: empty passes must round-trip through the parquet
    // write-and-read-back with the string id schema intact (an empty
    // pass writes a schema-only file; a schema drift would fail the
    // cross-pass union exactly here)
    val scratch = java.nio.file.Files
      .createTempDirectory("graft-blocked-empty").toFile.getAbsolutePath
    spark.conf.set(SimilaritySearch.blockedCheckpointDirKey, scratch)
    val reliable =
      try SimilaritySearch.lshPairsBlocked(df, "id", "vec",
        threshold = 0.9, numPlanes = 4, numTables = 14, probeFlips = 2,
        chunks = 5)
      finally spark.conf.unset(SimilaritySearch.blockedCheckpointDirKey)
    try {
      val got = reliable.select("a_id", "b_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got.contains(("doc-0", "doc-clone")), s"got $got")
    } finally reliable.unpersist(blocking = false)
  }

  test("fused verify plan: broadcast within the gate, SMJ only on explicit opt-out") {
    val emb = Tables.load(spark, dir, "embeddings")
    def plan(d: org.apache.spark.sql.DataFrame): String =
      d.queryExecution.executedPlan.toString
    val fused = plan(SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
      threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2))
    assert(fused.contains("BroadcastHashJoin"))
    assert(!fused.contains("SortMergeJoin"),
      "candidate mass must never reach a sort within the gate")
    // the opt-out leg drops OUR hint; Catalyst's own
    // autoBroadcastJoinThreshold would still pick BHJ for a corpus this
    // small, so suppress it to expose the hint-free join choice
    val optOut = withGate(0L) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try plan(SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 4, numTables = 14, probeFlips = 2))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
    assert(optOut.contains("SortMergeJoin"),
      "gate <= 0 is the documented opt-out back to the shuffle join")
  }

  test("LSH fused verify: shuffle degrade == broadcast form") {
    val emb = Tables.load(spark, dir, "embeddings")
    val hinted = pairSet(SimilaritySearch.lshPairs(emb, "vec_id",
      "embedding", threshold = 0.45, numPlanes = 4, numTables = 14,
      maxBucketSize = 500, probeFlips = 2))
    val degraded = withGate(0L) {
      pairSet(SimilaritySearch.lshPairs(emb, "vec_id", "embedding",
        threshold = 0.45, numPlanes = 4, numTables = 14,
        maxBucketSize = 500, probeFlips = 2))
    }
    assert(degraded == hinted && hinted.nonEmpty)
  }
}
