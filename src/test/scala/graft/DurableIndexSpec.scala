package graft

import java.nio.file.Paths

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DurableIndex, SimilaritySearch}

/** Atomicity of the durable-index append protocol: the minhash index's
  * four tables (and the LSH index's three) commit SEQUENTIALLY, so before
  * the manifest protocol an out-of-band reader loading mid-append could
  * observe bands without sizes and silently drop the half-appended docs'
  * pairs. With the manifest, an increment becomes visible only when the
  * single `_manifest.json` republish lands — this spec kills the append
  * inside every window (in-process throws at each seam, plus forked
  * `halt(9)` children whose caches are actually gone) and asserts the
  * OUT-OF-BAND pair set equals pre-increment or post-increment, never a
  * half-append.
  */
class DurableIndexSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  // mirrors build.sbt's jdk17AddOpens (forked child runs a real
  // SparkSession outside spark-submit)
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def minhashProbe(path: String): Set[(Long, Long, Double)] = {
    val probe = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id" % 4 === 3)
    val idx = Dedup.loadMinhashIndex(spark, path)
    try Dedup.minhashPairsAgainstIndex(probe, idx, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    finally idx.unpersist()
  }

  private def lshProbe(path: String): Set[(Long, Long, Double)] = {
    val probe = Tables.load(spark, sfDir, "embeddings")
      .filter($"vec_id" % 4 === 3)
    val idx = SimilaritySearch.loadLshIndex(spark, path)
    try SimilaritySearch.lshPairsAgainstIndex(probe, idx, "vec_id",
        "embedding", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    finally idx.unpersist()
  }

  /** Kill `fold` at its `<store>:fold-written` seam — after the folded
    * base is written, before the manifest commit — and check that the
    * reader view and the committed list are both unchanged.
    */
  private def killedFold[T](at: String, path: String, view: () => T)(
      fold: => Int): Unit = {
    val pre = view()
    val committed = DurableIndex.committed(path).get
    DurableIndex.crashSeam =
      n => if (n == at) throw new RuntimeException(s"kill at $n")
    val e =
      try intercept[RuntimeException](fold)
      finally DurableIndex.crashSeam = null
    assert(e.getMessage.contains(at))
    assert(view() == pre, s"reader view moved after $at")
    assert(DurableIndex.committed(path).get == committed, at)
  }

  test("minhash append killed at every seam: out-of-band load sees all of the increment or none") {
    val docs = Tables.load(spark, sfDir, "documents")
    val a = docs.filter($"doc_id" % 4 === 2)
    val b = docs.filter($"doc_id" % 4 === 0)
    val path = tempDir("mhatom")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(a, "doc_id", "text"), path)
    val pre = minhashProbe(path)
    assert(pre.nonEmpty)
    Seq("minhash:shingles-written", "minhash:bands-written",
      "minhash:sizes-written", "manifest:pre-commit:inc1").foreach { at =>
      DurableIndex.crashSeam =
        n => if (n == at) throw new RuntimeException(s"kill at $n")
      try {
        val e = intercept[RuntimeException] {
          Dedup.appendToMinhashIndex(path, b, "doc_id", "text", "inc1")
        }
        assert(e.getMessage.contains(at))
      } finally DurableIndex.crashSeam = null
      // partitions may exist on disk, but the manifest does not name the
      // increment — the out-of-band reader sees exactly the prior index
      assert(!DurableIndex.isCommitted(path, "inc1"), at)
      assert(minhashProbe(path) == pre, s"half-append visible after $at")
    }
    // clean replay commits; now the whole increment is visible
    Dedup.appendToMinhashIndex(path, b, "doc_id", "text", "inc1")
    assert(DurableIndex.isCommitted(path, "inc1"))
    val post = minhashProbe(path)
    val freshIdx = Dedup.minhashIndex(a.unionAll(b), "doc_id", "text")
    val fresh = Dedup.minhashPairsAgainstIndex(
        Tables.load(spark, sfDir, "documents").filter($"doc_id" % 4 === 3),
        freshIdx, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    freshIdx.unpersist()
    assert(post == fresh && post != pre)
    // replay of the FULLY COMMITTED append is a no-op: were it to
    // rewrite the (manifest-visible) partitions, a concurrent reader
    // could list them mid-overwrite — the seam would also fire
    DurableIndex.crashSeam = n => throw new RuntimeException(s"rewrote: $n")
    try Dedup.appendToMinhashIndex(path, b, "doc_id", "text", "inc1")
    finally DurableIndex.crashSeam = null
    assert(minhashProbe(path) == post)
  }

  test("lsh append killed at every seam: out-of-band load sees all of the increment or none") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val a = emb.filter($"vec_id" % 4 === 2)
    val b = emb.filter($"vec_id" % 4 === 0)
    val path = tempDir("lshatom")
    SimilaritySearch.saveLshIndex(
      SimilaritySearch.lshIndex(a, "vec_id", "embedding"), path)
    val pre = lshProbe(path)
    Seq("lsh:vectors-written", "lsh:buckets-written",
      "manifest:pre-commit:inc1").foreach { at =>
      DurableIndex.crashSeam =
        n => if (n == at) throw new RuntimeException(s"kill at $n")
      try {
        val e = intercept[RuntimeException] {
          SimilaritySearch.appendToLshIndex(path, b, "vec_id", "embedding",
            "inc1")
        }
        assert(e.getMessage.contains(at))
      } finally DurableIndex.crashSeam = null
      assert(!DurableIndex.isCommitted(path, "inc1"), at)
      assert(lshProbe(path) == pre, s"half-append visible after $at")
    }
    SimilaritySearch.appendToLshIndex(path, b, "vec_id", "embedding", "inc1")
    assert(DurableIndex.isCommitted(path, "inc1"))
    assert(lshProbe(path) != pre)
  }

  test("pair-table append crash before manifest commit leaves the prior pair set") {
    val docs = Tables.load(spark, sfDir, "documents")
    val a = docs.filter($"doc_id" % 4 === 2)
    val path = tempDir("pairatom")
    Dedup.savePairs(
      Dedup.minhashPairs(a, "doc_id", "text", persist = false), path)
    val pre = Dedup.loadPairs(spark, path)
      .as[(Long, Long, Double)].collect().toSet
    val inc = Seq((900001L, 900002L, 0.9)).toDF("a_id", "b_id", "jaccard")
    DurableIndex.crashSeam = n =>
      if (n == "manifest:pre-commit:inc1")
        throw new RuntimeException(s"kill at $n")
    try intercept[RuntimeException] { Dedup.appendPairs(path, inc, "inc1") }
    finally DurableIndex.crashSeam = null
    // the partition is on disk but unlisted — out-of-band load unchanged
    assert(Dedup.loadPairs(spark, path)
      .as[(Long, Long, Double)].collect().toSet == pre)
    Dedup.appendPairs(path, inc, "inc1")
    assert(Dedup.loadPairs(spark, path)
      .as[(Long, Long, Double)].collect().toSet == pre + ((900001L, 900002L, 0.9)))
  }

  test("a torn initial save (no manifest) fails loudly instead of reading as empty") {
    val docs = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id" % 4 === 2)
    val path = tempDir("mhtorn")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"), path)
    java.nio.file.Files.delete(Paths.get(path, "_manifest.json"))
    val e = intercept[RuntimeException] { Dedup.loadMinhashIndex(spark, path) }
    assert(e.getMessage.contains("manifest"))
  }

  test("out-of-band loads concurrent with a live appender always see a committed prefix") {
    // the contract the manifest buys: an analytic reader may load and
    // probe the standing index WHILE the owning stream appends — every
    // observation must equal the index after some prefix of the commits,
    // never a half-append and never a torn mix of increments
    val docs = Tables.load(spark, sfDir, "documents").persist()
    try {
      val slices = (0 to 4).map(k => docs.filter($"doc_id" % 8 === k))
      val probe = docs.filter($"doc_id" % 8 === 7)
      def probeSet(idx: Dedup.MinhashIndex): Set[(Long, Long, Double)] =
        Dedup.minhashPairsAgainstIndex(probe, idx, "doc_id", "text",
            threshold = 0.15) // low bar → richer, better-separated sets
          .as[(Long, Long, Double)].collect().toSet
      // expected observation per committed prefix (base, base+1, ...)
      val prefixes = (1 to slices.size).map { n =>
        val idx = Dedup.minhashIndex(
          slices.take(n).reduce(_ unionAll _), "doc_id", "text")
        try probeSet(idx) finally idx.unpersist()
      }
      val path = tempDir("mhlive")
      Dedup.saveMinhashIndex(
        Dedup.minhashIndex(slices.head, "doc_id", "text"), path)
      // NOT the file-level minhashProbe helper: its % 4 probe slice
      // overlaps this test's % 8 corpus slices (self-matches)
      def outOfBandProbe(): Set[(Long, Long, Double)] = {
        val idx = Dedup.loadMinhashIndex(spark, path)
        try probeSet(idx) finally idx.unpersist()
      }
      @volatile var writerErr: Throwable = null
      val writer = new Thread(() => {
        try slices.tail.zipWithIndex.foreach { case (s, i) =>
          Dedup.appendToMinhashIndex(path, s, "doc_id", "text", s"inc$i")
        } catch { case t: Throwable => writerErr = t }
      })
      writer.start()
      try {
        var seen = Set.empty[Int]
        (0 until 8).foreach { i =>
          val got = outOfBandProbe()
          val at = prefixes.indexOf(got)
          assert(at >= 0, s"iteration $i observed a non-prefix pair set: " +
            s"got=${got.size} prefixes=${prefixes.map(_.size)}")
          seen += at
        }
        assert(seen.nonEmpty)
      } finally writer.join()
      assert(writerErr == null, s"writer failed: $writerErr")
      // once the writer is done, the reader converges on the full corpus
      assert(outOfBandProbe() == prefixes.last)
    } finally docs.unpersist()
  }

  test("minhash index compaction folds history into one base without changing any probe result") {
    val docs = Tables.load(spark, sfDir, "documents")
    val slices = (0 to 4).map(k => docs.filter($"doc_id" % 8 === k))
    val path = tempDir("mhfold")
    Dedup.saveMinhashIndex(
      Dedup.minhashIndex(slices.head, "doc_id", "text"), path)
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      Dedup.appendToMinhashIndex(path, s, "doc_id", "text", s"inc$i")
    }
    def probeAt(exclude: Seq[String] = Nil): Set[(Long, Long, Double)] = {
      val idx = Dedup.loadMinhashIndex(spark, path, excludeAppends = exclude)
      try Dedup.minhashPairsAgainstIndex(
          docs.filter($"doc_id" % 8 === 7), idx, "doc_id", "text",
          threshold = 0.15)
        .as[(Long, Long, Double)].collect().toSet
      finally idx.unpersist()
    }
    def partsOf(sub: String): Set[String] =
      new java.io.File(s"$path/$sub").listFiles()
        .map(_.getName).filter(_.startsWith("append=")).toSet
    val pre = probeAt()
    val preReplayView = probeAt(exclude = Seq("inc3"))
    assert(pre.nonEmpty && pre != preReplayView)

    // a fold that crashes before its manifest commit changes nothing a
    // reader can see; orphan folded partitions are swept later
    DurableIndex.crashSeam = n =>
      if (n == "minhash:fold-written") throw new RuntimeException(n)
    try intercept[RuntimeException] { Dedup.compactMinhashIndex(spark, path) }
    finally DurableIndex.crashSeam = null
    assert(probeAt() == pre)
    assert(DurableIndex.committed(path).get ==
      Seq("base", "inc0", "inc1", "inc2", "inc3"))

    // clean fold: base + inc0..inc2 fold, the NEWEST append stays
    assert(Dedup.compactMinhashIndex(spark, path) == 4)
    val vis = DurableIndex.committed(path).get
    assert(vis.size == 2 && vis.head.startsWith("base-") &&
      vis.last == "inc3", vis)
    assert(DurableIndex.foldedIds(path).toSet == Set("inc0", "inc1", "inc2"))
    assert(probeAt() == pre)
    // the streaming replay view (exclude the kept newest) still prunes
    assert(probeAt(exclude = Seq("inc3")) == preReplayView)
    // a LATE retry of a folded increment no-ops (its rows are in base)
    Dedup.appendToMinhashIndex(path, slices(1), "doc_id", "text", "inc0")
    assert(probeAt() == pre)
    assert(DurableIndex.committed(path).get == vis)

    // superseded partitions survive the fold (pinned readers), then a
    // later pass beyond retention deletes them — including the crashed
    // fold's orphans
    assert(partsOf("bands").size > 2)
    assert(Dedup.compactMinhashIndex(spark, path,
      tombstoneRetentionMs = 0L) == 0) // nothing left to fold, sweep only
    Seq("shingles", "bands", "sizes", "bucket_counts").foreach { sub =>
      val parts = partsOf(sub)
      assert(parts == vis.map("append=" + _).toSet, s"$sub: $parts")
    }
    assert(probeAt() == pre)
  }

  test("an append committing mid-fold aborts the fold loudly and loses nothing") {
    // the single-writer contract, enforced not just documented: if the
    // manifest moves between the fold's entry read and its commit, the
    // commit would drop the interloper from visibility — commitFold
    // must refuse, leaving both the old appends and the interloper
    // visible (the fold's orphan partitions sweep later)
    val docs = Tables.load(spark, sfDir, "documents")
    val slices = (0 to 3).map(k => docs.filter($"doc_id" % 8 === k))
    val path = tempDir("mhrace")
    Dedup.saveMinhashIndex(
      Dedup.minhashIndex(slices.head, "doc_id", "text"), path)
    Seq(1, 2).foreach(i => Dedup.appendToMinhashIndex(
      path, slices(i), "doc_id", "text", s"inc$i"))
    DurableIndex.crashSeam = n =>
      if (n.startsWith("manifest:pre-fold")) { // fold staged; an append
        DurableIndex.crashSeam = null          // now commits concurrently
        Dedup.appendToMinhashIndex(path, slices(3), "doc_id", "text", "inc3")
      }
    val e =
      try intercept[IllegalArgumentException] {
        Dedup.compactMinhashIndex(spark, path)
      } finally DurableIndex.crashSeam = null
    assert(e.getMessage.contains("changed during compaction"))
    // nothing lost: all four increments visible, fold not committed
    assert(DurableIndex.committed(path).get ==
      Seq("base", "inc1", "inc2", "inc3"))
    val idx = Dedup.loadMinhashIndex(spark, path)
    val got = try Dedup.minhashPairsAgainstIndex(
        docs.filter($"doc_id" % 8 === 7), idx, "doc_id", "text",
        threshold = 0.15).as[(Long, Long, Double)].collect().toSet
      finally idx.unpersist()
    val fresh = Dedup.minhashIndex(
      slices.reduce(_ unionAll _), "doc_id", "text")
    val want = try Dedup.minhashPairsAgainstIndex(
        docs.filter($"doc_id" % 8 === 7), fresh, "doc_id", "text",
        threshold = 0.15).as[(Long, Long, Double)].collect().toSet
      finally fresh.unpersist()
    assert(got == want)
    // the retried fold (now seeing all four) succeeds
    assert(Dedup.compactMinhashIndex(spark, path) == 3)
    val idx2 = Dedup.loadMinhashIndex(spark, path)
    val got2 = try Dedup.minhashPairsAgainstIndex(
        docs.filter($"doc_id" % 8 === 7), idx2, "doc_id", "text",
        threshold = 0.15).as[(Long, Long, Double)].collect().toSet
      finally idx2.unpersist()
    assert(got2 == want)
  }

  test("lsh index and pair table compaction: same fold contract, probe- and set-preserving") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val slices = (0 to 3).map(k => emb.filter($"vec_id" % 8 === k))
    val path = tempDir("lshfold")
    SimilaritySearch.saveLshIndex(
      SimilaritySearch.lshIndex(slices.head, "vec_id", "embedding"), path)
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      SimilaritySearch.appendToLshIndex(path, s, "vec_id", "embedding",
        s"inc$i")
    }
    val pre = lshProbe(path)
    // a fold killed at its seam changes nothing; the clean fold succeeds
    killedFold("lsh:fold-written", path, () => lshProbe(path))(
      SimilaritySearch.compactLshIndex(spark, path))
    assert(SimilaritySearch.compactLshIndex(spark, path) == 3)
    assert(lshProbe(path) == pre)
    assert(DurableIndex.committed(path).get.last == "inc2")
    assert(SimilaritySearch.compactLshIndex(spark, path,
      tombstoneRetentionMs = 0L) == 0)
    assert(lshProbe(path) == pre)

    val pairs = tempDir("pairfold")
    Dedup.savePairs(Seq((1L, 2L, 0.9)).toDF("a_id", "b_id", "jaccard"), pairs)
    Dedup.appendPairs(pairs,
      Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc0")
    Dedup.appendPairs(pairs,
      Seq((5L, 6L, 0.7)).toDF("a_id", "b_id", "jaccard"), "inc1")
    def pairSet(): Set[(Long, Long, Double)] = Dedup.loadPairs(spark, pairs)
      .as[(Long, Long, Double)].collect().toSet
    val all = pairSet()
    assert(all.size == 3)
    killedFold("pairs:fold-written", pairs, () => pairSet())(
      Dedup.compactPairs(spark, pairs))
    assert(Dedup.compactPairs(spark, pairs) == 2)
    assert(pairSet() == all)
    assert(Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L) == 0)
    assert(pairSet() == all)
    // late retry of a folded pair append no-ops
    Dedup.appendPairs(pairs,
      Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc0")
    assert(pairSet() == all)
  }

  test("durable-index protocol fuzz: random append/replay/fold/kill/pin mixes always probe as the committed corpus") {
    // composes every protocol op — fresh appends, appends killed at
    // a random seam, replays of committed and of crashed appends, clean
    // folds at both retentions, folds killed at a random seam, and
    // (r16) pinned snapshot loads materialized several arbitrary ops
    // later — and asserts after EVERY op that an out-of-band load
    // probes exactly as the committed corpus. The model is additive: with no bucket cap,
    // a (probe, doc) candidate exists iff the two docs share a band
    // bucket and verification is pairwise-exact, so each increment's
    // contribution to the probe pair set is independent of every other
    // — expected = union of committed increments' contributions.
    val docs = Tables.load(spark, sfDir, "documents").persist()
    try {
      val probe = docs.filter($"doc_id" % 64 === 63)
      def slice(k: Int) = docs.filter($"doc_id" % 64 === k)
      def probeAgainst(idx: Dedup.MinhashIndex): Set[(Long, Long, Double)] =
        Dedup.minhashPairsAgainstIndex(probe, idx, "doc_id", "text",
            threshold = 0.15)
          .as[(Long, Long, Double)].collect().toSet
      // per-increment contribution, computed once through the SAME
      // index+probe code path over the slice alone
      val contribution = scala.collection.mutable.Map.empty[Int, Set[(Long, Long, Double)]]
      def contrib(k: Int): Set[(Long, Long, Double)] =
        contribution.getOrElseUpdate(k, {
          val i = Dedup.minhashIndex(slice(k), "doc_id", "text")
          try probeAgainst(i) finally i.unpersist()
        })
      val appendSeams = Seq("minhash:shingles-written",
        "minhash:bands-written", "minhash:sizes-written",
        "manifest:pre-commit:")
      val foldSeams = Seq("minhash:fold-written", "manifest:pre-fold:")
      Seq(7L, 19L).foreach { seed =>
        val rnd = new scala.util.Random(seed)
        val path = tempDir(s"mhfuzz$seed")
        Dedup.saveMinhashIndex(
          Dedup.minhashIndex(slice(0), "doc_id", "text"), path)
        val committed = scala.collection.mutable.Set(0)
        val crashed = scala.collection.mutable.Set.empty[Int]
        var nextK = 1
        def append(k: Int): Unit = {
          Dedup.appendToMinhashIndex(path, slice(k), "doc_id", "text",
            s"inc$k")
          committed += k; crashed -= k
        }
        // outstanding pinned observations: (pinId, snapshot-frozen
        // expectation, the lazily loaded pinned index). Materialized at
        // a LATER random op — by then arbitrary appends/kills/folds/
        // sweeps have run — and must still equal the frozen snapshot
        val pinned = scala.collection.mutable.ArrayBuffer
          .empty[(String, Set[(Long, Long, Double)], Dedup.MinhashIndex)]
        def drainPin(): Unit = if (pinned.nonEmpty) {
          val (pid, want, idx) = pinned.remove(0)
          val got = try probeAgainst(idx) finally idx.unpersist()
          assert(got == want,
            s"seed=$seed pinned snapshot diverged: got ${got.size}, " +
              s"want ${want.size}")
          DurableIndex.releasePin(path, pid)
        }
        (0 until 18).foreach { _ =>
          rnd.nextInt(7) match {
            case 0 | 1 => // fresh append
              append(nextK); nextK += 1
            case 2 => // append killed at a random seam; retried later
              val k = nextK; nextK += 1
              val at = appendSeams(rnd.nextInt(appendSeams.size))
              DurableIndex.crashSeam =
                n => if (n.startsWith(at)) throw new RuntimeException(at)
              try intercept[RuntimeException] {
                Dedup.appendToMinhashIndex(path, slice(k), "doc_id",
                  "text", s"inc$k")
              } finally DurableIndex.crashSeam = null
              crashed += k
            case 3 => // replay: a crashed append heals; a committed-or-
              // folded increment inside the retry horizon no-ops. Ids
              // pruned PAST the horizon (partitions swept) are outside
              // the contract — the streaming loop can only redeliver the
              // newest batch, which folds always keep — so the fuzz
              // draws replays from retryable ids only
              if (crashed.nonEmpty) append(crashed.head)
              else {
                val retryable = committed.toSeq.sorted
                  .filter(k => DurableIndex.isCommitted(path, s"inc$k"))
                if (retryable.nonEmpty)
                  append(retryable(rnd.nextInt(retryable.size)))
              }
            case 4 => // clean fold, sometimes sweeping past retention
              Dedup.compactMinhashIndex(spark, path,
                tombstoneRetentionMs = if (rnd.nextBoolean()) 0L
                  else 10L * 60L * 1000L)
            case 5 => // fold killed at a random seam
              val at = foldSeams(rnd.nextInt(foldSeams.size))
              DurableIndex.crashSeam =
                n => if (n.startsWith(at)) throw new RuntimeException(at)
              try {
                val canFold = DurableIndex.visible(path, Nil).size > 2
                if (canFold) intercept[RuntimeException] {
                  Dedup.compactMinhashIndex(spark, path)
                } else Dedup.compactMinhashIndex(spark, path)
              } finally DurableIndex.crashSeam = null
            case 6 => // pin a snapshot now, materialize it LATER —
              // half the time with a fold + zero-retention sweep
              // INTERLEAVED into the acquisition (between the manifest
              // read and the pin publish: the race acquirePin's
              // post-publish validation closes)
              if (pinned.size >= 2) drainPin()
              else {
                val interleave = rnd.nextBoolean()
                var fired = false
                if (interleave) DurableIndex.crashSeam = name =>
                  if (name == "pin:pre-publish" && !fired) {
                    fired = true
                    Dedup.compactMinhashIndex(spark, path,
                      tombstoneRetentionMs = 0L)
                  }
                val pid =
                  try DurableIndex.acquirePin(path)
                  finally { if (interleave) DurableIndex.crashSeam = null }
                val idx = Dedup.loadMinhashIndex(spark, path,
                  pinId = Some(pid))
                pinned += ((pid, committed.toSet.flatMap(contrib), idx))
              }
          }
          val expected = committed.toSet.flatMap(contrib)
          val idx = Dedup.loadMinhashIndex(spark, path)
          val got = try probeAgainst(idx) finally idx.unpersist()
          assert(got == expected, s"seed=$seed diverged: got ${got.size}, " +
            s"want ${expected.size} over committed=$committed")
        }
        // drain outstanding pinned snapshots (each must still read
        // exactly as frozen), then release so the final sweep reclaims
        while (pinned.nonEmpty) drainPin()
        // convergence: a final clean fold changes nothing a reader sees.
        // (A FAILED_READ_FILE error may appear in the log here without
        // failing anything: AQE materializes query stages eagerly on a
        // background pool, and an ABANDONED stage of the just-drained
        // pinned query — its collect already returned with every needed
        // stage — can still be running when this sweep reclaims the
        // released snapshot's files. The zombie stage aborts, no
        // consumer awaits it, and every asserted read above was exact;
        // sweep-after-release is ordered after all pinned results.)
        Dedup.compactMinhashIndex(spark, path, tombstoneRetentionMs = 0L)
        val idx = Dedup.loadMinhashIndex(spark, path)
        val fin = try probeAgainst(idx) finally idx.unpersist()
        assert(fin == committed.toSet.flatMap(contrib), s"seed=$seed post-fold")
      }
    } finally docs.unpersist()
  }

  test("hard-killed appends (forked halt(9)) never expose a half-append to an out-of-band load") {
    // the cross-process twin: a real kill between table commits, the
    // dead JVM's half-finished jobs and caches actually gone
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val mhPath = tempDir("mhkill")
    val lshPath = tempDir("lshkill")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(
      docs.filter($"doc_id" % 4 === 2), "doc_id", "text"), mhPath)
    SimilaritySearch.saveLshIndex(SimilaritySearch.lshIndex(
      emb.filter($"vec_id" % 4 === 2), "vec_id", "embedding"), lshPath)
    val mhPre = minhashProbe(mhPath)
    val lshPre = lshProbe(lshPath)
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    def kill(kind: String, path: String, seam: String): Unit = {
      val pb = new ProcessBuilder(
        (Seq(javaBin) ++ addOpens ++ Seq("-Xmx2g",
          "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
          "-cp", sys.props("java.class.path"),
          "graft.IndexCrashMain", kind, path, sfDir, seam, "inc1")): _*)
      pb.redirectErrorStream(true)
      pb.redirectOutput(ProcessBuilder.Redirect.DISCARD)
      val p = pb.start()
      assert(p.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        s"index crash child hung at $seam")
      assert(p.exitValue() == 9, s"child exited ${p.exitValue()} at $seam")
    }
    Seq("minhash:bands-written", "manifest:pre-commit:inc1").foreach { at =>
      kill("minhash", mhPath, at)
      assert(!DurableIndex.isCommitted(mhPath, "inc1"), at)
      assert(minhashProbe(mhPath) == mhPre, s"half-append visible after $at")
    }
    Seq("lsh:buckets-written", "manifest:pre-commit:inc1").foreach { at =>
      kill("lsh", lshPath, at)
      assert(!DurableIndex.isCommitted(lshPath, "inc1"), at)
      assert(lshProbe(lshPath) == lshPre, s"half-append visible after $at")
    }
    // the owning writer's replay converges both indexes to the full
    // increment (all-or-nothing held at every instant in between)
    Dedup.appendToMinhashIndex(mhPath,
      docs.filter($"doc_id" % 4 === 0), "doc_id", "text", "inc1")
    SimilaritySearch.appendToLshIndex(lshPath,
      emb.filter($"vec_id" % 4 === 0), "vec_id", "embedding", "inc1")
    assert(DurableIndex.isCommitted(mhPath, "inc1") &&
      DurableIndex.isCommitted(lshPath, "inc1"))
    assert(minhashProbe(mhPath) != mhPre && lshProbe(lshPath) != lshPre)
  }

  private def pairAppendDirs(path: String): Set[String] =
    new java.io.File(path).listFiles()
      .map(_.getName).filter(_.startsWith("append=")).toSet

  test("a load pinned pre-fold survives post-retention folds and sweeps with the exact committed set") {
    // the r15 residual: a reader that outlives tombstoneRetentionMs of
    // index maintenance could hit deleted files mid-scan. The pin/lease
    // retires it — the sweep never deletes a partition a live pin
    // references, so the pinned snapshot materializes EXACTLY, not
    // merely without an exception, after folds AND zero-retention sweeps
    val pairs = tempDir("pairpin")
    Dedup.savePairs(Seq((1L, 2L, 0.9)).toDF("a_id", "b_id", "jaccard"), pairs)
    Dedup.appendPairs(pairs,
      Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc0")
    Dedup.appendPairs(pairs,
      Seq((5L, 6L, 0.7)).toDF("a_id", "b_id", "jaccard"), "inc1")
    val all = Set((1L, 2L, 0.9), (3L, 4L, 0.8), (5L, 6L, 0.7))
    val pin = DurableIndex.acquirePin(pairs)
    // lazy load NOW (the "mid-scan" reader): nothing materialized yet
    val pinned = Dedup.loadPairs(spark, pairs, pinId = Some(pin))
    // fold, then a second maintenance pass sweeping PAST retention —
    // without the pin this deletes every superseded partition
    assert(Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L) == 2)
    assert(Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L) == 0)
    assert(pairAppendDirs(pairs).contains("append=base"),
      "pin did not hold the superseded partitions")
    // materialization AFTER the sweeps: the exact pinned snapshot
    assert(pinned.as[(Long, Long, Double)].collect().toSet == all)
    DurableIndex.releasePin(pairs, pin)
    // released: the next sweep reclaims, and unpinned loads stay exact
    assert(Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L) == 0)
    assert(pairAppendDirs(pairs) ==
      DurableIndex.committed(pairs).get.map("append=" + _).toSet)
    assert(Dedup.loadPairs(spark, pairs)
      .as[(Long, Long, Double)].collect().toSet == all)
    // a released (or swept) pin is loud to reuse, never a silent other
    // snapshot
    val gone = intercept[RuntimeException] {
      Dedup.loadPairs(spark, pairs, pinId = Some(pin))
    }
    assert(gone.getMessage.contains("pin"))

    // the minhash twin: pinned relations probe identically after the
    // history they reference is folded and swept past retention
    val docs = Tables.load(spark, sfDir, "documents")
    val mh = tempDir("mhpin")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(
      docs.filter($"doc_id" % 4 === 2), "doc_id", "text"), mh)
    Dedup.appendToMinhashIndex(mh,
      docs.filter($"doc_id" % 4 === 0), "doc_id", "text", "inc0")
    Dedup.appendToMinhashIndex(mh,
      docs.filter($"doc_id" % 4 === 1), "doc_id", "text", "inc1")
    val want = minhashProbe(mh)
    val mhPin = DurableIndex.acquirePin(mh)
    val idx = Dedup.loadMinhashIndex(spark, mh, pinId = Some(mhPin))
    try {
      assert(Dedup.compactMinhashIndex(spark, mh,
        tombstoneRetentionMs = 0L) == 2)
      assert(Dedup.compactMinhashIndex(spark, mh,
        tombstoneRetentionMs = 0L) == 0)
      val probe = Tables.load(spark, sfDir, "documents")
        .filter($"doc_id" % 4 === 3)
      val got = Dedup.minhashPairsAgainstIndex(probe, idx, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == want, "pinned minhash load diverged after fold+sweep")
    } finally {
      idx.unpersist()
      DurableIndex.releasePin(mh, mhPin)
    }
  }

  test("superseded partitions age from supersession time, not write time") {
    // folded history is by definition OLD on the write-time clock; the
    // retention guarantee ("a reader that pinned the pre-fold manifest
    // keeps scanning intact files for the window") only holds if the
    // clock starts at the fold — the _SUPERSEDED marker's mtime — never
    // at the partition's own mtime
    val pairs = tempDir("pairage")
    Dedup.savePairs(Seq((1L, 2L, 0.9)).toDF("a_id", "b_id", "jaccard"), pairs)
    Dedup.appendPairs(pairs,
      Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc0")
    Dedup.appendPairs(pairs,
      Seq((5L, 6L, 0.7)).toDF("a_id", "b_id", "jaccard"), "inc1")
    // simulate history written an hour ago
    val anHourAgo = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60L * 60L * 1000L)
    pairAppendDirs(pairs).foreach { d =>
      java.nio.file.Files.setLastModifiedTime(Paths.get(pairs, d), anHourAgo)
    }
    val retention = 60L * 1000L
    assert(Dedup.compactPairs(spark, pairs, retention) == 2)
    // the very next sweep must NOT reclaim: the partitions were
    // superseded milliseconds ago, however old their bytes are
    assert(Dedup.compactPairs(spark, pairs, retention) == 0)
    assert(pairAppendDirs(pairs).contains("append=base") &&
      pairAppendDirs(pairs).contains("append=inc0"),
      "write-time aging reclaimed partitions inside the supersession window")
    // age the MARKERS past retention: now legitimately reclaimable
    Seq("append=base", "append=inc0").foreach { d =>
      java.nio.file.Files.setLastModifiedTime(
        Paths.get(pairs, d, "_SUPERSEDED"), anHourAgo)
    }
    assert(Dedup.compactPairs(spark, pairs, retention) == 0)
    assert(pairAppendDirs(pairs) ==
      DurableIndex.committed(pairs).get.map("append=" + _).toSet)
  }

  test("the manifest folded record is bounded by the retention horizon; a late retry inside it still no-ops") {
    val pairs = tempDir("pairbound")
    Dedup.savePairs(Seq((0L, 1L, 1.0)).toDF("a_id", "b_id", "jaccard"), pairs)
    var all = Set((0L, 1L, 1.0))
    var n = 0
    // three fold generations at zero retention: each sweep reclaims the
    // previous generation's superseded partitions, and the NEXT fold
    // prunes their (no-longer-retryable) ids from the no-op record
    (0 until 3).foreach { _ =>
      (0 until 2).foreach { _ =>
        val row = (10L * n, 10L * n + 1L, 0.5)
        Dedup.appendPairs(pairs,
          Seq(row).toDF("a_id", "b_id", "jaccard"), s"inc$n")
        all += row; n += 1
      }
      Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L)
    }
    def pairSet(): Set[(Long, Long, Double)] = Dedup.loadPairs(spark, pairs)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairSet() == all)
    val folded = DurableIndex.foldedIds(pairs)
    // bounded: one generation's worth, not every id ever folded — and
    // every retained id is still on disk (inside the retry horizon)
    assert(folded.size <= 2 && !folded.contains("inc0"),
      s"folded record accumulated: $folded")
    folded.foreach { id =>
      assert(java.nio.file.Files.isDirectory(Paths.get(pairs, s"append=$id")),
        s"retained folded id $id has no partition — should have been pruned")
    }
    // a LATE retry of a folded id INSIDE the horizon no-ops
    val late = folded.head
    val k = late.stripPrefix("inc").toInt
    Dedup.appendPairs(pairs,
      Seq((10L * k, 10L * k + 1L, 0.5)).toDF("a_id", "b_id", "jaccard"), late)
    assert(pairSet() == all)
    assert(DurableIndex.foldedIds(pairs) == folded)
  }

  test("a replay folded BEYOND the retention horizon no-ops via the declared txn high-water") {
    // the r16 residual: the folded-id no-op record is pruned with its
    // swept partitions, so an ancient replay was guarded only by the
    // streaming contract ("only the newest batch is redeliverable").
    // With a declared (app, seq) the manifest's never-pruned high-water
    // makes the index itself enforce it.
    val pairs = tempDir("pairtxn")
    Dedup.savePairs(Seq((0L, 1L, 1.0)).toDF("a_id", "b_id", "jaccard"), pairs)
    var all = Set((0L, 1L, 1.0))
    var n = 0
    // three fold generations at zero retention — inc0's partitions are
    // swept and its id pruned from the folded record
    (0 until 3).foreach { _ =>
      (0 until 2).foreach { _ =>
        val row = (10L * n, 10L * n + 1L, 0.5)
        Dedup.appendPairs(pairs, Seq(row).toDF("a_id", "b_id", "jaccard"),
          s"inc$n", txn = Some(("app", n.toLong)))
        all += row; n += 1
      }
      Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L)
    }
    def pairSet(): Set[(Long, Long, Double)] = Dedup.loadPairs(spark, pairs)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairSet() == all)
    // inc0 is beyond the horizon: invisible to the folded-id record...
    assert(!DurableIndex.isCommitted(pairs, "inc0"),
      "inc0 should have aged out of the folded record")
    // ...but the high-water survived every fold
    assert(DurableIndex.txnHighWater(pairs) == Map("app" -> (n - 1).toLong))
    assert(DurableIndex.hasTxn(pairs, "app", 0L))
    // the ancient replay: index state must be bit-for-bit unchanged
    val manifestBefore = java.nio.file.Files.readAllBytes(
      Paths.get(pairs, "_manifest.json")).toSeq
    Dedup.appendPairs(pairs,
      Seq((0L, 1L, 0.5)).toDF("a_id", "b_id", "jaccard"), "inc0",
      txn = Some(("app", 0L)))
    assert(java.nio.file.Files.readAllBytes(
      Paths.get(pairs, "_manifest.json")).toSeq == manifestBefore,
      "replay republished the manifest")
    assert(!java.nio.file.Files.isDirectory(Paths.get(pairs, "append=inc0")),
      "replay re-materialized a beyond-horizon partition")
    assert(pairSet() == all)
    // reclamation: dropTxnApps retires a dead writer's entry (the one
    // unbounded-growth path of the otherwise O(#apps) record) without
    // touching the committed set — and the dropped app's replay guard
    // is gone by design, so the same ancient replay now re-appends
    Dedup.appendPairs(pairs,
      Seq((100L, 101L, 0.4)).toDF("a_id", "b_id", "jaccard"), "tail",
      txn = Some(("dead", 0L)))
    assert(DurableIndex.txnHighWater(pairs).keySet == Set("app", "dead"))
    DurableIndex.dropTxnApps(pairs, Set("dead"))
    assert(DurableIndex.txnHighWater(pairs) ==
      Map("app" -> (n - 1).toLong))
    assert(pairSet() == all + ((100L, 101L, 0.4)),
      "dropTxnApps must not change the committed set")
  }

  test("acquirePin racing an in-flight fold+sweep retries onto the fresh committed set") {
    // the r16 'closed in practice' caveat, closed outright: a fold+sweep
    // landing between acquirePin's manifest read and its pin publish
    // (the pin:pre-publish seam) would leave the pin naming partitions
    // the sweep already deleted — at ANY retention, including the zero
    // retention production callers are free to use. acquirePin now
    // validates the manifest after the durable publish and retries from
    // the fresh set, so the returned pin always names a set every later
    // sweep treats as live.
    val pairs = tempDir("pairpinrace")
    Dedup.savePairs(Seq((1L, 2L, 0.9)).toDF("a_id", "b_id", "jaccard"), pairs)
    Dedup.appendPairs(pairs,
      Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc0")
    Dedup.appendPairs(pairs,
      Seq((5L, 6L, 0.7)).toDF("a_id", "b_id", "jaccard"), "inc1")
    val all = Set((1L, 2L, 0.9), (3L, 4L, 0.8), (5L, 6L, 0.7))
    var fired = 0
    DurableIndex.crashSeam = name => if (name == "pin:pre-publish") {
      fired += 1
      if (fired == 1) {
        // the in-flight maintenance pass: fold, then a zero-retention
        // sweep that deletes every superseded partition immediately —
        // the pin about to be published names exactly those partitions
        assert(Dedup.compactPairs(spark, pairs,
          tombstoneRetentionMs = 0L) == 2)
        assert(Dedup.compactPairs(spark, pairs,
          tombstoneRetentionMs = 0L) == 0)
      }
    }
    val pin =
      try DurableIndex.acquirePin(pairs)
      finally DurableIndex.crashSeam = null
    assert(fired == 2, s"expected exactly one retry, seam fired $fired")
    // the pin names the POST-fold committed set, whose partitions the
    // sweep spared — and the stale first-attempt pin was discarded
    assert(DurableIndex.pinnedVisible(pairs, pin) ==
      DurableIndex.requireCommitted(pairs))
    val pinFiles = {
      val s = java.nio.file.Files.list(Paths.get(pairs))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(f => f.startsWith("_pin-") && f.endsWith(".json")).toList
      } finally s.close()
    }
    assert(pinFiles == List(s"_pin-$pin.json"),
      s"stale pin not discarded: $pinFiles")
    // the pinned load materializes the exact committed set
    assert(Dedup.loadPairs(spark, pairs, pinId = Some(pin))
      .as[(Long, Long, Double)].collect().toSet == all)
    DurableIndex.releasePin(pairs, pin)
  }

  test("maintenance survives garbage and concurrently-released pin files") {
    // pinnedIds runs inside the writer's maintenance pass; a reader
    // releasing its pin between the listing and the read — the designed
    // usage — or a torn out-of-band copy must read as 'holds nothing',
    // never abort the pass
    val pairs = tempDir("pairjunk")
    Dedup.savePairs(Seq((1L, 2L, 0.9)).toDF("a_id", "b_id", "jaccard"), pairs)
    Dedup.appendPairs(pairs,
      Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc0")
    Dedup.appendPairs(pairs,
      Seq((5L, 6L, 0.7)).toDF("a_id", "b_id", "jaccard"), "inc1")
    java.nio.file.Files.write(Paths.get(pairs, "_pin-junk.json"),
      "not json".getBytes("UTF-8"))
    java.nio.file.Files.write(Paths.get(pairs, "_pin-nofields.json"),
      "{}".getBytes("UTF-8"))
    // fold + sweep complete despite the junk, and the sweep still
    // reclaims the superseded partitions
    assert(Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L) == 2)
    assert(Dedup.compactPairs(spark, pairs, tombstoneRetentionMs = 0L) == 0)
    assert(pairAppendDirs(pairs) ==
      DurableIndex.committed(pairs).get.map("append=" + _).toSet)
    assert(Dedup.loadPairs(spark, pairs)
      .as[(Long, Long, Double)].collect().toSet ==
      Set((1L, 2L, 0.9), (3L, 4L, 0.8), (5L, 6L, 0.7)))
  }

  test("appending to a manifest-less (torn or legacy) index fails loudly before any write") {
    // the load path already fails loudly on a missing manifest; the
    // append path must too — silently fabricating base :+ id would hide
    // (then sweep-delete) every legacy partition
    val docs = Tables.load(spark, sfDir, "documents")
      .filter($"doc_id" % 4 === 2)
    val mh = tempDir("mhnoman")
    Dedup.saveMinhashIndex(Dedup.minhashIndex(docs, "doc_id", "text"), mh)
    java.nio.file.Files.delete(Paths.get(mh, "_manifest.json"))
    val e = intercept[RuntimeException] {
      Dedup.appendToMinhashIndex(mh, docs, "doc_id", "text", "inc9")
    }
    assert(e.getMessage.contains("manifest"))
    // pre-flight: the append wrote NOTHING before failing
    assert(!java.nio.file.Files.exists(
      Paths.get(mh, "shingles", "append=inc9")))

    val pairs = tempDir("pairnoman")
    Dedup.savePairs(Seq((1L, 2L, 0.9)).toDF("a_id", "b_id", "jaccard"), pairs)
    java.nio.file.Files.delete(Paths.get(pairs, "_manifest.json"))
    val pe = intercept[RuntimeException] {
      Dedup.appendPairs(pairs,
        Seq((3L, 4L, 0.8)).toDF("a_id", "b_id", "jaccard"), "inc9")
    }
    assert(pe.getMessage.contains("manifest"))
    assert(!java.nio.file.Files.exists(Paths.get(pairs, "append=inc9")))

    // ...but the pair table supports CREATE-BY-APPEND (the streaming
    // loop's first micro-batch creates it — no savePairs bootstrap):
    // a truly EMPTY root (no partitions to hide) initializes cleanly
    val fresh = tempDir("pairfresh") + "/pairs"
    Dedup.appendPairs(fresh,
      Seq((7L, 8L, 0.6)).toDF("a_id", "b_id", "jaccard"), "b0")
    assert(Dedup.loadPairs(spark, fresh)
      .as[(Long, Long, Double)].collect().toSet == Set((7L, 8L, 0.6)))
    // and the bootstrap is itself crash-safe: the append commits via
    // the same manifest republish
    assert(DurableIndex.committed(fresh).get == Seq("b0"))
  }
}
