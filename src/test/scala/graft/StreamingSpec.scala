package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.sources.DataLakehouse
import graft.streaming.{Streaming, SymbolTick, TsTick}

/** Streaming tier specs (SURVEY.md §2.9): tick→bar resampling (T3),
  * watermark bounds (T4), streaming dedup (T5), and the end-to-end
  * file-source → lakehouse ingest with exactly-once commits (S9/T6).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec._

  private def tick(sec: Int, sym: String, p: Double, v: Long) =
    Tick(new Timestamp(1718445600000L + sec * 1000L), sym, p, v)

  test("tickToBars over a memory stream produces OHLCV per minute") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Tick]
    mem.addData(
      tick(0, "AAPL", 10, 1), tick(20, "AAPL", 12, 2), tick(50, "AAPL", 11, 1),
      tick(65, "AAPL", 9, 3), // second minute
      tick(5, "GOOG", 100, 1))
    val q = Streaming.tickToBars(mem.toDF(), "1 minute", "10 minutes")
      .writeStream.format("memory").queryName("bars_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val bars = spark.table("bars_test")
        .orderBy($"symbol", $"bar_start")
        .select($"symbol", $"open", $"high", $"low", $"close", $"volume")
        .as[(String, Double, Double, Double, Double, Long)].collect().toSeq
      assert(bars == Seq(
        ("AAPL", 10.0, 12.0, 10.0, 11.0, 4L),
        ("AAPL", 9.0, 9.0, 9.0, 9.0, 3L),
        ("GOOG", 100.0, 100.0, 100.0, 100.0, 1L)))
    } finally q.stop()
  }

  test("streaming dedup drops same-key records within watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Tick]
    mem.addData(tick(0, "AAPL", 10, 1), tick(1, "AAPL", 99, 9),
      tick(2, "GOOG", 5, 1))
    val q = Streaming.dedupWithinWatermark(mem.toDF(), Seq("symbol"), "ts")
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_test").select($"symbol").distinct().count() == 2)
      assert(spark.table("dedup_test").count() == 2)
    } finally q.stop()
  }

  test("file-source ingest stream: validation, DLQ, exactly-once commits") {
    val lake = new DataLakehouse(spark, tempDir("slake"))
    val src = tempDir("src")
    val ckpt = tempDir("ckpt")
    val good = OhlcvBar("AAPL", Timestamp.valueOf("2024-06-15 10:30:00"),
      150, 155, 149, 153, 1000, AssetClass.Equity)
    val bad = good.copy(high = 1.0, low = 2.0, symbol = "BAD")
    spark.createDataset(Seq(good, good.copy(symbol = "GOOG"), bad)).toDF()
      .write.mode("overwrite").parquet(src)

    val q = Streaming.ingestStream(lake, src, ckpt, streamId = "t", triggerMs = 50)
    try q.processAllAvailable() finally q.stop()

    assert(lake.query().count == 2)
    assert(lake.deadLetterCount() == 1)
    // batch commits are keyed: the txn log records batch t-0 exactly once
    assert(lake.txnLog.commits().count(_.batchId.exists(_.startsWith("t-"))) == 1)
  }

  test("stream-stream interval join pairs ticks with in-force quotes") {
    implicit val sc = spark.sqlContext
    val memT = MemoryStream[Tick]
    val memQ = MemoryStream[Tick] // quote feed: same shape, renamed columns
    val q = Streaming.tickQuoteJoin(memT.toDF(),
        memQ.toDF().toDF("qts", "qsymbol", "bid", "qvol"),
        maxLag = "1 minute")
      .select($"symbol", $"price", $"bid")
      .writeStream.format("memory").queryName("ssjoin_test")
      .outputMode("append").start()
    try {
      // quote at t=0 and t=-120s; tick at t=30 only matches the first
      memQ.addData(Tick(new Timestamp(1718445600000L), "AAPL", 99.0, 0),
        Tick(new Timestamp(1718445600000L - 120000L), "AAPL", 98.0, 0))
      memT.addData(tick(30, "AAPL", 100.0, 1))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_test")
        .as[(String, Double, Double)].collect().toSet
      assert(rows == Set(("AAPL", 100.0, 99.0)))
    } finally q.stop()
  }

  test("quote-state adoption: a new checkpoint records fresh quotes instead of skipping on the predecessor's batch 0") {
    implicit val sc = spark.sqlContext
    val stateDir = tempDir("qadopt-state")
    val t0 = 1718445600000L
    val memQ1 = MemoryStream[Quote]
    val qs1 = Streaming.quoteStateStream(memQ1.toDF(), stateDir,
      tempDir("qadopt-ck1"), triggerMs = 50)
    try {
      memQ1.addData(Quote("AAPL", new Timestamp(t0), 1L, 99.0, 101.0))
      qs1.processAllAvailable()
    } finally qs1.stop()
    assert(Streaming.readQuoteState(spark, stateDir).count() == 1)
    // NEW checkpoint over the SAME state dir: batchIds restart at 0.
    // The partition name carries the checkpoint identity, so this batch
    // 0 must not skip on (or overwrite) the predecessor's committed
    // append=...b0 — pre-scoping it silently dropped the new quotes and
    // enrichment served the dead stream's stale state
    val memQ2 = MemoryStream[Quote]
    val qs2 = Streaming.quoteStateStream(memQ2.toDF(), stateDir,
      tempDir("qadopt-ck2"), triggerMs = 50)
    try {
      memQ2.addData(Quote("AAPL", new Timestamp(t0 + 60000L), 2L, 110.0, 112.0))
      qs2.processAllAvailable()
    } finally qs2.stop()
    val qids = Streaming.readQuoteState(spark, stateDir)
      .select($"qid").as[Long].collect().toSet
    assert(qids == Set(1L, 2L), s"adopter's quote missing: $qids")
  }

  test("streaming as-of enrichment: trades pick up the newest arrived quote") {
    implicit val sc = spark.sqlContext
    val stateDir = tempDir("asof-state")
    val outDir = tempDir("asof-out")
    val memQ = MemoryStream[Quote]
    val memT = MemoryStream[Trade]
    val t0 = 1718445600000L
    val qs = Streaming.quoteStateStream(memQ.toDF(), stateDir,
      tempDir("asof-qckpt"), triggerMs = 50)
    val ts = Streaming.asOfEnrichStream(memT.toDF(), stateDir, outDir,
      tempDir("asof-tckpt"), triggerMs = 50)
    try {
      // quote batch 1: AAPL 99/101 at t=0, then 100/102 at t=10s (newest
      // of the batch — only it enters the state), GOOG 50/51 at t=0
      memQ.addData(
        Quote("AAPL", new Timestamp(t0), 1L, 99.0, 101.0),
        Quote("AAPL", new Timestamp(t0 + 10000L), 2L, 100.0, 102.0),
        Quote("GOOG", new Timestamp(t0), 3L, 50.0, 51.0))
      qs.processAllAvailable()
      // trades at t=30s: each joins its symbol's newest arrived quote
      memT.addData(
        Trade(1L, "AAPL", new Timestamp(t0 + 30000L), 101.5),
        Trade(2L, "GOOG", new Timestamp(t0 + 30000L), 50.5),
        Trade(3L, "MSFT", new Timestamp(t0 + 30000L), 10.0)) // no quote
      ts.processAllAvailable()
      val out1 = spark.read.parquet(outDir).drop("batch")
        .select($"trade_id", $"qid", $"bid", $"ask")
        .as[(Long, Option[Long], Option[Double], Option[Double])]
        .collect().map { case (k, v2, v3, v4) => k -> ((v2, v3, v4)) }.toMap
      assert(out1(1L) == ((Some(2L), Some(100.0), Some(102.0))))
      assert(out1(2L) == ((Some(3L), Some(50.0), Some(51.0))))
      assert(out1(3L) == ((None, None, None))) // unquoted symbol: nulls
      // quote batch 2: newer AAPL quote arrives; a later trade uses it,
      // while an EARLIER-ts trade still resolves as-of its own time
      // against the per-batch retained history
      memQ.addData(Quote("AAPL", new Timestamp(t0 + 60000L), 4L, 110.0, 112.0))
      qs.processAllAvailable()
      memT.addData(
        Trade(4L, "AAPL", new Timestamp(t0 + 90000L), 111.0),
        Trade(5L, "AAPL", new Timestamp(t0 + 20000L), 101.0)) // late trade
      ts.processAllAvailable()
      val out2 = spark.read.parquet(outDir).drop("batch")
        .select($"trade_id", $"qid").as[(Long, Option[Long])].collect().toMap
      assert(out2(4L) == Some(4L)) // newest quote
      assert(out2(5L) == Some(2L)) // as-of 20s: batch-1's retained quote
    } finally { qs.stop(); ts.stop() }
  }

  test("live two-stream enrichment stays exact with a compaction loop running throughout") {
    // the round-15 protocol, end-to-end: real quoteStateStream +
    // asOfEnrichStream micro-batches while compactQuoteState free-runs
    // in a maintenance thread — neither stream quiescent. Every round
    // must resolve the newest committed quote exactly: compaction may
    // never lose an in-flight batch that commits mid-run (supersede only
    // what was committed at entry) nor starve a scan (tombstoned
    // partitions outlive their readers).
    implicit val sc = spark.sqlContext
    val stateDir = tempDir("asofl-state")
    val outDir = tempDir("asofl-out")
    val memQ = MemoryStream[Quote]
    val memT = MemoryStream[Trade]
    val t0 = 1718445600000L
    val qs = Streaming.quoteStateStream(memQ.toDF(), stateDir,
      tempDir("asofl-qckpt"), triggerMs = 20)
    val ts = Streaming.asOfEnrichStream(memT.toDF(), stateDir, outDir,
      tempDir("asofl-tckpt"), triggerMs = 20)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var compactErr: Throwable = null
    val compactor = new Thread(() => {
      try while (!stop.get()) {
        Streaming.compactQuoteState(spark, stateDir)
        Thread.sleep(3)
      } catch { case t: Throwable => compactErr = t }
    })
    compactor.start()
    try {
      (0 until 5).foreach { r =>
        val qid = r * 2 + 1L
        memQ.addData(
          Quote("AAPL", new Timestamp(t0 + r * 10000L), qid, 99.0 + r, 101.0 + r),
          Quote("GOOG", new Timestamp(t0 + r * 10000L), qid + 1L, 50.0 + r, 51.0 + r))
        qs.processAllAvailable()
        memT.addData(
          Trade(r * 2 + 1L, "AAPL", new Timestamp(t0 + 60000L + r), 100.0),
          Trade(r * 2 + 2L, "GOOG", new Timestamp(t0 + 60000L + r), 50.0))
        ts.processAllAvailable()
        val got = spark.read.parquet(outDir).drop("batch")
          .filter($"trade_id" >= r * 2 + 1L)
          .select($"trade_id", $"qid").as[(Long, Long)].collect().toMap
        assert(got == Map((r * 2 + 1L) -> qid, (r * 2 + 2L) -> (qid + 1L)),
          s"round $r resolved $got")
      }
    } finally {
      stop.set(true); compactor.join()
      qs.stop(); ts.stop()
    }
    assert(compactErr == null, s"compactor failed: $compactErr")
  }

  test("as-of enrichment batch is idempotent under replay") {
    val stateDir = tempDir("asofr-state")
    val outDir = tempDir("asofr-out")
    val t0 = 1718445600000L
    val quotes = Seq(
      ("AAPL", new Timestamp(t0), 1L, 99.0, 101.0),
      ("AAPL", new Timestamp(t0 + 10000L), 2L, 100.0, 102.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask")
    val trades = Seq((1L, "AAPL", new Timestamp(t0 + 30000L), 101.5))
      .toDF("trade_id", "symbol", "ts", "price")
    Streaming.processQuoteStateBatch(quotes, 0L, stateDir)
    Streaming.processQuoteStateBatch(quotes, 0L, stateDir) // replay
    // state holds ONE row (per-symbol newest), not an accumulation
    assert(spark.read.parquet(stateDir).count() == 1)
    Streaming.processEnrichBatch(trades, 0L, stateDir, outDir)
    val first = spark.read.parquet(outDir).collect().toSeq
    Streaming.processEnrichBatch(trades, 0L, stateDir, outDir) // replay
    val second = spark.read.parquet(outDir).collect().toSeq
    assert(first == second && first.size == 1)
  }

  test("quote-state compaction keeps one newest row per symbol; enrichment of current trades unchanged") {
    val stateDir = tempDir("asofc-state")
    val outDir = tempDir("asofc-out")
    val t0 = 1718445600000L
    // three quote batches; AAPL advances each time, GOOG only in the first
    Streaming.processQuoteStateBatch(Seq(
      ("AAPL", new Timestamp(t0), 1L, 99.0, 101.0),
      ("GOOG", new Timestamp(t0), 2L, 50.0, 51.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask"), 0L, stateDir)
    Streaming.processQuoteStateBatch(Seq(
      ("AAPL", new Timestamp(t0 + 10000L), 3L, 100.0, 102.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask"), 1L, stateDir)
    Streaming.processQuoteStateBatch(Seq(
      ("AAPL", new Timestamp(t0 + 20000L), 4L, 101.0, 103.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask"), 2L, stateDir)
    assert(spark.read.parquet(stateDir).count() == 4) // 3 AAPL + 1 GOOG
    val kept = Streaming.compactQuoteState(spark, stateDir)
    assert(kept == 2L)
    // the reader-visible snapshot is the reduced replacement alone; the
    // superseded batch partitions stay on disk (tombstoned, deferred
    // deletion) but no reader lists them
    assert(Streaming.readQuoteState(spark, stateDir).count() == 2)
    val parts = Streaming.liveQuotePartitions(stateDir)
      .map(_.getFileName.toString)
    assert(parts.size == 1 && parts.head.startsWith("append=base-"), parts)
    // current trades enrich identically to pre-compaction state
    val trades = Seq((1L, "AAPL", new Timestamp(t0 + 30000L), 101.5),
      (2L, "GOOG", new Timestamp(t0 + 30000L), 50.5))
      .toDF("trade_id", "symbol", "ts", "price")
    Streaming.processEnrichBatch(trades, 0L, stateDir, outDir)
    val out = spark.read.parquet(outDir).select($"trade_id", $"qid")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 4L, 2L -> 2L))
    // idempotent: compacting again is a no-op shape (still 2 rows, one
    // live base partition)
    assert(Streaming.compactQuoteState(spark, stateDir) == 2L)
    assert(Streaming.readQuoteState(spark, stateDir).count() == 2)
    assert(Streaming.liveQuotePartitions(stateDir).size == 1)
  }

  /** The r13 weak flag: second-and-later compactions overwrote
    * `append=base` IN PLACE while base held the ONLY durable copy of
    * previously-compacted rows — a crash mid-write lost them. The staged
    * write + atomic-rename protocol must survive a kill at every
    * boundary: mid-staged-write (strictly less on disk than the
    * staged-written seam — nothing visible changed yet), after staging
    * before rename, and after rename before old-partition removal.
    */
  test("compaction crash at any seam after two compactions loses no quote state") {
    val stateDir = tempDir("asofk-state")
    val t0 = 1718445600000L
    def qb(rows: (String, Long, Long)*) =
      rows.map { case (s, off, id) =>
        (s, new Timestamp(t0 + off), id, 100.0 + id, 101.0 + id) }
        .toDF("qsymbol", "qts", "qid", "bid", "ask")
    def latestBySymbol(): Map[String, Long] =
      spark.read.parquet(stateDir).drop("append")
        .groupBy($"qsymbol").agg(max_by($"qid", struct($"qts", $"qid")).as("qid"))
        .as[(String, Long)].collect().toMap
    // two batches, FIRST compaction (clean): GOOG's only durable copy
    // now lives in the compacted partition
    Streaming.processQuoteStateBatch(qb(("AAPL", 0L, 1L), ("GOOG", 0L, 2L)), 0L, stateDir)
    Streaming.processQuoteStateBatch(qb(("AAPL", 10000L, 3L)), 1L, stateDir)
    assert(Streaming.compactQuoteState(spark, stateDir) == 2L)
    // fresh batch, then kill the SECOND compaction at each seam
    Streaming.processQuoteStateBatch(qb(("AAPL", 20000L, 4L)), 2L, stateDir)
    val expected = Map("AAPL" -> 4L, "GOOG" -> 2L)
    assert(latestBySymbol() == expected)
    Seq("compact:staged-written", "compact:renamed").foreach { at =>
      Streaming.compactSeam =
        n => if (n == at) throw new RuntimeException(s"kill at $n")
      try {
        val e = intercept[RuntimeException] {
          Streaming.compactQuoteState(spark, stateDir)
        }
        assert(e.getMessage.contains(at))
      } finally Streaming.compactSeam = null
      // no previously-compacted row lost at this crash point — readers
      // resolve the identical per-symbol state
      assert(latestBySymbol() == expected, s"state lost after kill at $at")
    }
    // a clean re-run converges: exactly one LIVE partition, exact rows
    // (tombstoned predecessors linger until their retention lapses —
    // that deferral is the snapshot-isolation mechanism, not residue)
    assert(Streaming.compactQuoteState(spark, stateDir) == 2L)
    assert(latestBySymbol() == expected)
    val parts = Streaming.liveQuotePartitions(stateDir)
      .map(_.getFileName.toString)
    assert(parts.size == 1 && parts.head.startsWith("append=base-"), parts)
    assert(Streaming.readQuoteState(spark, stateDir)
      .groupBy($"qsymbol").agg(max_by($"qid", struct($"qts", $"qid")))
      .as[(String, Long)].collect().toMap == expected)
    // staging residue from the killed runs was swept by the clean run
    val strays = new java.io.File(stateDir).listFiles()
      .map(_.getName).filter(_.startsWith("_staged-base-")).toSeq
    assert(strays.isEmpty, strays)
  }

  test("compaction defers deletion: tombstoned partitions survive one run, a later run past retention removes them") {
    val stateDir = tempDir("asoft-state")
    val t0 = 1718445600000L
    def qb(rows: (String, Long, Long)*) =
      rows.map { case (s, off, id) =>
        (s, new Timestamp(t0 + off), id, 100.0 + id, 101.0 + id) }
        .toDF("qsymbol", "qts", "qid", "bid", "ask")
    Streaming.processQuoteStateBatch(qb(("AAPL", 0L, 1L)), 0L, stateDir)
    Streaming.processQuoteStateBatch(qb(("AAPL", 10000L, 2L)), 1L, stateDir)
    def dirNames(): Set[String] = new java.io.File(stateDir).listFiles()
      .map(_.getName).filter(_.startsWith("append=")).toSet
    assert(Streaming.compactQuoteState(spark, stateDir) == 1L)
    // superseded batch partitions still on disk, tombstoned — a scan
    // that listed them before the rename keeps reading intact files
    assert(dirNames().size == 3, dirNames())
    Seq("append=b0", "append=b1").foreach { d =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        stateDir, d, Streaming.QuoteSupersededMarker)), d)
    }
    // but readers never list them
    assert(Streaming.liveQuotePartitions(stateDir).size == 1)
    assert(Streaming.readQuoteState(spark, stateDir).count() == 1)
    // within retention the next run keeps them (default 10 min)
    assert(Streaming.compactQuoteState(spark, stateDir) == 1L)
    assert(dirNames().exists(_ == "append=b0"), dirNames())
    // past retention they go: the two batch dirs AND the first two
    // compactions' superseded base partitions
    assert(Streaming.compactQuoteState(spark, stateDir,
      tombstoneRetentionMs = 0L) == 1L)
    val after = dirNames()
    assert(!after.contains("append=b0") && !after.contains("append=b1"),
      after)
    assert(Streaming.readQuoteState(spark, stateDir).count() == 1)
  }

  test("quote batch committing mid-compaction keeps its rows (never superseded unseen)") {
    // the live-stream-concurrent-with-compaction race: a quote batch
    // whose partition dir exists (write in flight) when compaction lists,
    // and whose write COMMITS after compaction's reduction read but
    // before it marks superseded partitions. Its rows are not in the
    // replacement, so superseding (or deleting) it would silently lose
    // committed state. The protocol only supersedes partitions that were
    // COMMITTED at the entry listing — the in-flight batch survives and
    // the next compaction folds it.
    val stateDir = tempDir("asofi-state")
    val t0 = 1718445600000L
    def qb(rows: (String, Long, Long)*) =
      rows.map { case (s, off, id) =>
        (s, new Timestamp(t0 + off), id, 100.0 + id, 101.0 + id) }
        .toDF("qsymbol", "qts", "qid", "bid", "ask")
    Streaming.processQuoteStateBatch(qb(("AAPL", 0L, 1L)), 0L, stateDir)
    // in-flight partition: dir exists, nothing committed yet
    val inflight = java.nio.file.Paths.get(stateDir, "append=b1")
    java.nio.file.Files.createDirectories(inflight.resolve("_temporary"))
    val lateBatch = qb(("AAPL", 20000L, 7L))
    Streaming.compactSeam = n =>
      if (n == "compact:staged-written") { // reduction read is done; the
        Streaming.compactSeam = null       // in-flight write now commits
        Streaming.processQuoteStateBatch(lateBatch, 1L, stateDir)
      }
    try {
      assert(Streaming.compactQuoteState(spark, stateDir) == 1L)
    } finally Streaming.compactSeam = null
    // the late batch's partition is live and its newer quote visible
    assert(!java.nio.file.Files.exists(
      inflight.resolve(Streaming.QuoteSupersededMarker)))
    val latest = Streaming.readQuoteState(spark, stateDir)
      .groupBy($"qsymbol").agg(max_by($"qid", struct($"qts", $"qid")))
      .as[(String, Long)].collect().toMap
    assert(latest == Map("AAPL" -> 7L), latest)
    // the next compaction folds it into the new base
    assert(Streaming.compactQuoteState(spark, stateDir) == 1L)
    assert(Streaming.readQuoteState(spark, stateDir)
      .select($"qid").as[Long].collect().toSeq == Seq(7L))
  }

  test("enrich scans concurrent with a compaction loop resolve exactly the quiescent answer") {
    // the r14 residual: a scan whose listing raced the compaction swap
    // could transiently resolve older arrived state. With tombstoned
    // (not deleted) supersession and commit-marker listing, every scan
    // resolves a consistent snapshot — so under a continuously running
    // compaction loop, enrichment of current trades must EQUAL the
    // quiescent answer on every iteration, not merely not crash.
    val stateDir = tempDir("asofq-state")
    val outDir = tempDir("asofq-out")
    val t0 = 1718445600000L
    val syms = Seq("AAPL", "GOOG", "MSFT")
    (0 until 10).foreach { b =>
      val rows = syms.zipWithIndex.map { case (s, i) =>
        val qid = (b * syms.size + i + 1).toLong
        (s, new Timestamp(t0 + b * 1000L), qid, 100.0 + qid, 101.0 + qid)
      }
      Streaming.processQuoteStateBatch(
        rows.toDF("qsymbol", "qts", "qid", "bid", "ask"), b.toLong, stateDir)
    }
    val trades = syms.zipWithIndex.map { case (s, i) =>
      (i.toLong + 1L, s, new Timestamp(t0 + 60000L), 100.0) }
      .toDF("trade_id", "symbol", "ts", "price")
    // quiescent answer: newest qid per symbol (batch 9's rows)
    val expected = syms.zipWithIndex
      .map { case (_, i) => (i.toLong + 1L, (9 * syms.size + i + 1).toLong) }
      .toMap
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var compactErr: Throwable = null
    val compactor = new Thread(() => {
      try while (!stop.get()) {
        Streaming.compactQuoteState(spark, stateDir)
        Thread.sleep(2)
      } catch { case t: Throwable => compactErr = t }
    })
    compactor.start()
    try {
      (0 until 10).foreach { i =>
        Streaming.processEnrichBatch(trades, i.toLong, stateDir, outDir)
        val got = spark.read.parquet(s"$outDir/batch=$i")
          .select($"trade_id", $"qid").as[(Long, Long)].collect().toMap
        assert(got == expected, s"iteration $i resolved $got")
      }
    } finally { stop.set(true); compactor.join() }
    assert(compactErr == null, s"compactor failed: $compactErr")
  }

  test("replayed quote batch leaves its committed state partition untouched") {
    val stateDir = tempDir("asofrp-state")
    val t0 = 1718445600000L
    val quotes = Seq(("AAPL", new Timestamp(t0), 1L, 99.0, 101.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask")
    Streaming.processQuoteStateBatch(quotes, 0L, stateDir)
    def listing(): Set[(String, Long)] = {
      val d = java.nio.file.Paths.get(stateDir, "append=b0")
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(p => (p.getFileName.toString,
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSet
      } finally s.close()
    }
    val before = listing()
    // replay: the committed partition is immutable — no delete-then-write
    // window for a concurrent enrich scan to fall into
    Streaming.processQuoteStateBatch(quotes, 0L, stateDir)
    assert(listing() == before)
    assert(spark.read.parquet(stateDir).count() == 1)
  }

  test("quote-batch replays concurrent with enrich scans: no failures, serial output") {
    val stateDir = tempDir("asofcc-state")
    val outDir = tempDir("asofcc-out")
    val t0 = 1718445600000L
    val q0 = Seq(("AAPL", new Timestamp(t0), 1L, 99.0, 101.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask")
    val q1 = Seq(("AAPL", new Timestamp(t0 + 10000L), 2L, 100.0, 102.0))
      .toDF("qsymbol", "qts", "qid", "bid", "ask")
    val trades = Seq((1L, "AAPL", new Timestamp(t0 + 30000L), 101.5))
      .toDF("trade_id", "symbol", "ts", "price")
    Streaming.processQuoteStateBatch(q0, 0L, stateDir)
    Streaming.processQuoteStateBatch(q1, 1L, stateDir)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var replayErr: Throwable = null
    val replayer = new Thread(() => {
      try while (!stop.get()) {
        Streaming.processQuoteStateBatch(q0, 0L, stateDir)
        Streaming.processQuoteStateBatch(q1, 1L, stateDir)
      } catch { case t: Throwable => replayErr = t }
    })
    replayer.start()
    try {
      (0 until 6).foreach { i =>
        Streaming.processEnrichBatch(trades, i.toLong, stateDir, outDir)
        val qid = spark.read.parquet(s"$outDir/batch=$i")
          .select($"qid").as[Long].collect().toSeq
        assert(qid == Seq(2L), s"iteration $i resolved $qid")
      }
    } finally { stop.set(true); replayer.join() }
    assert(replayErr == null, s"replayer failed: $replayErr")
  }

  test("checkpointed restart: processed files skipped, new files ingested once") {
    val lake = new DataLakehouse(spark, tempDir("rlake"))
    val src = tempDir("rsrc")
    val ckpt = tempDir("rckpt")
    val base = OhlcvBar("AAPL", Timestamp.valueOf("2024-06-15 10:30:00"),
      150, 155, 149, 153, 1000, AssetClass.Equity)
    val first = (0 until 5).map(i => base.copy(
      timestamp = new Timestamp(base.timestamp.getTime + i * 60000L)))
    spark.createDataset(first).toDF()
      .coalesce(1).write.mode("append").parquet(src)

    val q1 = Streaming.ingestStream(lake, src, ckpt, streamId = "r", triggerMs = 50)
    try q1.processAllAvailable() finally q1.stop()
    assert(lake.query().count == 5)

    // restart from the SAME checkpoint: the file-source log knows the
    // first file is done — nothing is reprocessed, and new files flow
    val q2 = Streaming.ingestStream(lake, src, ckpt, streamId = "r", triggerMs = 50)
    try {
      q2.processAllAvailable()
      assert(lake.query().count == 5) // no duplicates from the restart
      val second = (5 until 8).map(i => base.copy(symbol = "GOOG",
        timestamp = new Timestamp(base.timestamp.getTime + i * 60000L)))
      spark.createDataset(second).toDF()
        .coalesce(1).write.mode("append").parquet(src)
      q2.processAllAvailable()
    } finally q2.stop()
    assert(lake.query().count == 8)
    // exactly-once at row granularity: every (symbol, timestamp) unique
    assert(lake.query().df.select("symbol", "timestamp").distinct().count() == 8)
  }

  test("stateful running VWAP carries state across micro-batches") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[SymbolTick]
    val q = Streaming.runningVwap(mem.toDS())
      .writeStream.format("memory").queryName("vwap_state_test")
      .outputMode("update").start()
    try {
      mem.addData(SymbolTick("AAPL", 10.0, 100), SymbolTick("AAPL", 20.0, 100))
      q.processAllAvailable()
      val r1 = spark.table("vwap_state_test")
        .filter($"symbol" === "AAPL").orderBy($"nTicks".desc).head()
      assert(r1.getAs[Double]("vwap") == 15.0 && r1.getAs[Long]("nTicks") == 2)
      // second batch: state must accumulate, not reset
      mem.addData(SymbolTick("AAPL", 30.0, 200))
      q.processAllAvailable()
      val r2 = spark.table("vwap_state_test")
        .filter($"symbol" === "AAPL").orderBy($"nTicks".desc).head()
      assert(r2.getAs[Long]("nTicks") == 3)
      assert(math.abs(r2.getAs[Double]("vwap") - (10.0*100 + 20.0*100 + 30.0*200) / 400.0) < 1e-12)
    } finally q.stop()
  }

  test("runningVwap holds emission until a symbol has traded volume") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[SymbolTick]
    val q = Streaming.runningVwap(mem.toDS())
      .writeStream.format("memory").queryName("vwap_zero_test")
      .outputMode("update").start()
    try {
      // batch 1: only zero-volume ticks (legal input) — no update may be
      // emitted; the former contract emitted NaN (0/0) here, a value
      // that poisons any downstream aggregate unnoticed
      mem.addData(SymbolTick("AAPL", 10.0, 0), SymbolTick("AAPL", 12.0, 0))
      q.processAllAvailable()
      assert(spark.table("vwap_zero_test").filter($"symbol" === "AAPL").isEmpty)
      // batch 2: volume arrives — the first emission covers ALL ticks
      // seen so far (state accumulated through the held batches)
      mem.addData(SymbolTick("AAPL", 20.0, 100))
      q.processAllAvailable()
      val r = spark.table("vwap_zero_test").filter($"symbol" === "AAPL").head()
      assert(r.getAs[Double]("vwap") == 20.0)
      assert(r.getAs[Long]("nTicks") == 3)
    } finally q.stop()
  }

  test("flatMapGroupsWithState: bars emitted exactly once, on minute advance") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[TsTick]
    val q = Streaming.barCloser(mem.toDS())
      .writeStream.format("memory").queryName("barcloser_test")
      .outputMode("append").start()
    try {
      // batch 1: minute 0 ticks + one minute-1 tick -> closes bar 0
      mem.addData(TsTick("AAPL", 1000, 10, 1), TsTick("AAPL", 30000, 14, 2),
        TsTick("AAPL", 61000, 20, 5))
      q.processAllAvailable()
      val bars1 = spark.table("barcloser_test")
        .as[(String, Long, Double, Double, Double, Double, Long)].collect().toSeq
      assert(bars1 == Seq(("AAPL", 0L, 10.0, 14.0, 10.0, 14.0, 3L)))
      // batch 2: minute 2 tick -> closes bar 1 (state crossed the batch)
      mem.addData(TsTick("AAPL", 121000, 30, 1))
      q.processAllAvailable()
      val bars2 = spark.table("barcloser_test").orderBy($"barStartMs")
        .as[(String, Long, Double, Double, Double, Double, Long)].collect().toSeq
      assert(bars2 == Seq(
        ("AAPL", 0L, 10.0, 14.0, 10.0, 14.0, 3L),
        ("AAPL", 60000L, 20.0, 20.0, 20.0, 20.0, 5L)))
    } finally q.stop()
  }

  test("VwapAggregator (typed UDAF) equals the composed built-in form") {
    val df = Seq(("A", 10.0, 100L), ("A", 20.0, 300L), ("B", 5.0, 10L))
      .toDF("sym", "price", "vol")
    val viaUdaf = df.groupBy($"sym")
      .agg(graft.functions.VwapAggregator.vwap($"price", $"vol".cast("double"))
        .as("vwap"))
    val viaBuiltin = df.groupBy($"sym")
      .agg((sum($"price" * $"vol") / sum($"vol")).as("vwap"))
    val a = viaUdaf.orderBy($"sym").as[(String, Double)].collect().toSeq
    val b = viaBuiltin.orderBy($"sym").as[(String, Double)].collect().toSeq
    assert(a == b)
  }

  test("CDC: a streaming reader over the table root picks up new commits") {
    val lake = new DataLakehouse(spark, tempDir("cdclake"))
    val good = OhlcvBar("AAPL", Timestamp.valueOf("2024-06-15 10:30:00"),
      150, 155, 149, 153, 1000, AssetClass.Equity)
    lake.ingestBatch(Seq(good))
    // S15: file-source streaming read of the lakehouse data dir = CDC feed
    val cdc = spark.readStream.schema(model.ohlcvSchema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"${lake.root}/date=*")
    val q = cdc.writeStream.format("memory").queryName("cdc_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_test").count() == 1)
      lake.ingestBatch(Seq(good.copy(symbol = "GOOG"),
        good.copy(symbol = "MSFT")))
      q.processAllAvailable()
      assert(spark.table("cdc_test").count() == 3) // new commit streamed in
    } finally q.stop()
  }

  test("end-to-end pipeline: tick stream -> 1-min bars -> lakehouse -> query") {
    implicit val sc = spark.sqlContext
    val lake = new DataLakehouse(spark, tempDir("e2elake"))
    val mem = MemoryStream[Tick]
    // two symbols, two minutes of ticks
    mem.addData(
      tick(0, "AAPL", 10, 1), tick(30, "AAPL", 14, 2), tick(59, "AAPL", 12, 1),
      tick(70, "AAPL", 20, 5), tick(10, "GOOG", 100, 3))
    val bars = Streaming.tickToBars(mem.toDF(), "1 minute", "10 minutes")
    // complete-mode bars -> validated OHLCV rows -> exactly-once append
    val q = bars.writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val asBars = batch.select(
          org.apache.spark.sql.functions.col("symbol"),
          org.apache.spark.sql.functions.col("bar_start").as("timestamp"),
          org.apache.spark.sql.functions.col("open"),
          org.apache.spark.sql.functions.col("high"),
          org.apache.spark.sql.functions.col("low"),
          org.apache.spark.sql.functions.col("close"),
          org.apache.spark.sql.functions.col("volume"),
          org.apache.spark.sql.functions.lit("equity").as("asset_class"))
        lake.appendDF(asBars.filter(model.barValid), batchId = Some(s"bars-$id"))
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()

    val qr = lake.query(symbol = Some("AAPL"))
    val rows = qr.df.orderBy($"timestamp")
      .select($"open", $"high", $"low", $"close", $"volume")
      .as[(Double, Double, Double, Double, Long)].collect().toSeq
    assert(rows == Seq((10.0, 14.0, 10.0, 12.0, 4L), (20.0, 20.0, 20.0, 20.0, 5L)))
    // the lakehouse's SQL tier answers the canonical VWAP over the bars
    val vwap = lake.sql(
      """SELECT symbol, SUM(close * volume) / SUM(volume) AS vwap
        |FROM trades GROUP BY symbol ORDER BY symbol""".stripMargin)
      .as[(String, Double)].collect().toSeq
    assert(vwap.map(_._1) == Seq("AAPL", "GOOG"))
  }

  test("incremental dedup stream: later batches dedup against earlier accepts") {
    implicit val sc = spark.sqlContext
    val idxPath = tempDir("incidx")
    val accepted = tempDir("incaccepted")
    val dupes = tempDir("incdupes")
    // seed the durable index with a tiny corpus of two docs
    val seedA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val seedB = "one two three four five six seven eight nine ten " * 3
    val corpus = Seq((1L, seedA), (2L, seedB)).toDF("doc_id", "text")
    graft.operators.Dedup.saveMinhashIndex(
      graft.operators.Dedup.minhashIndex(corpus, "doc_id", "text"), idxPath)
    val mem = MemoryStream[(Long, String)]
    val ckpt = tempDir("incckpt")
    val q = Streaming.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text"), idxPath, accepted, dupes, ckpt)
    try {
      // batch 0: one dup of the seed corpus, one novel doc
      mem.addData((10L, seedA), (11L, "totally fresh content here " * 5))
      q.processAllAvailable()
      // batch 1: a dup of the doc ACCEPTED in batch 0 — proves the index
      // grew mid-stream — plus one more novel doc
      mem.addData((20L, "totally fresh content here " * 5),
        (21L, "never seen words entirely distinct " * 5))
      q.processAllAvailable()
      val acc = spark.read.parquet(accepted).select($"doc_id")
        .as[Long].collect().toSet
      val dup = spark.read.parquet(dupes).select($"doc_id")
        .as[Long].collect().toSet
      assert(dup == Set(10L, 20L))
      assert(acc == Set(11L, 21L))
      // the index holds seeds + accepted docs only
      val idx = graft.operators.Dedup.loadMinhashIndex(spark, idxPath)
      val indexed = idx.sizes.select($"corpus_id").as[Long].collect().toSet
      idx.unpersist()
      assert(indexed == Set(1L, 2L, 11L, 21L))
      // the replay high-water is scoped to the CHECKPOINT's stable
      // query id, not a shared literal: that id names the batchId
      // sequence's identity
      val meta = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(ckpt, "metadata")), "UTF-8")
      val qid =
        """"id"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(meta).get.group(1)
      assert(graft.operators.DurableIndex.txnHighWater(idxPath) ==
        Map(s"stream-$qid" -> 1L))
    } finally q.stop()

    // ADOPTION: a NEW checkpoint (fresh batchId sequence restarting at
    // 0) over the SAME index must neither be silently no-op'd by the
    // first stream's never-pruned high-water nor overwrite its
    // append=...-b0 partition
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streaming.incrementalDedupStream(
      mem2.toDF().toDF("doc_id", "text"), idxPath, tempDir("incacc2"),
      tempDir("incdup2"), tempDir("incckpt2"))
    try {
      mem2.addData((30L, "yet another brand new document body " * 5))
      q2.processAllAvailable()
      val idx2 = graft.operators.Dedup.loadMinhashIndex(spark, idxPath)
      val indexed2 =
        idx2.sizes.select($"corpus_id").as[Long].collect().toSet
      idx2.unpersist()
      // 30 was indexed (no suppression), 11/21 survived (no overwrite)
      assert(indexed2 == Set(1L, 2L, 11L, 21L, 30L))
      assert(
        graft.operators.DurableIndex.txnHighWater(idxPath).size == 2)
    } finally q2.stop()
  }

  test("index compaction interleaves with the incremental dedup loop: folded corpus still dedups, kept batch still replays") {
    // the maintenance contract end-to-end: fold between batches (owner
    // quiescent), then (a) the redeliverable KEPT batch replays
    // identically — its append survived the fold so the replay exclusion
    // still prunes it; (b) later batches dedup against rows that now
    // live only in the folded base; (c) a second fold composes.
    val idxPath = tempDir("fdidx")
    val accepted = tempDir("fdaccepted")
    val dupes = tempDir("fddupes")
    val seedA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docA = "first wave of novel streaming content words " * 5
    val docB = "second wave different novel material entirely " * 5
    val docC = "third wave completely fresh tokens again " * 5
    graft.operators.Dedup.saveMinhashIndex(
      graft.operators.Dedup.minhashIndex(
        Seq((1L, seedA)).toDF("doc_id", "text"), "doc_id", "text"), idxPath)
    def run(batch: Seq[(Long, String)], id: Long): Unit =
      Streaming.processDedupBatch(batch.toDF("doc_id", "text"), id, idxPath,
        accepted, dupes, "doc_id", "text", threshold = 0.5,
        maxBucketSize = 0)
    def accDup(): (Set[Long], Set[Long]) = (
      spark.read.parquet(accepted).select($"doc_id").as[Long].collect().toSet,
      spark.read.parquet(dupes).select($"doc_id").as[Long].collect().toSet)
    run(Seq((10L, docA)), 0L)                       // b0: novel
    run(Seq((20L, seedA), (21L, docB)), 1L)         // b1: dup + novel
    assert(accDup() == ((Set(10L, 21L), Set(20L))))
    // fold between batches: base + b0 fold, b1 (the redeliverable) kept
    assert(graft.operators.Dedup.compactMinhashIndex(spark, idxPath) == 2)
    // (a) kept-batch replay after the fold: identical state
    run(Seq((20L, seedA), (21L, docB)), 1L)
    assert(accDup() == ((Set(10L, 21L), Set(20L))))
    // (b) next batch dedups against folded-base rows (10, seed) AND the
    // kept append's rows (21)
    run(Seq((30L, docA), (31L, docB), (32L, docC), (33L, seedA)), 2L)
    assert(accDup() == ((Set(10L, 21L, 32L), Set(20L, 30L, 31L, 33L))))
    // (c) second fold (base-x + b1 fold, b2 kept), then one more batch
    assert(graft.operators.Dedup.compactMinhashIndex(spark, idxPath) == 2)
    run(Seq((40L, docC), (41L, "final genuinely unseen words " * 5)), 3L)
    assert(accDup() ==
      ((Set(10L, 21L, 32L, 41L), Set(20L, 30L, 31L, 33L, 40L))))
    // the standing index holds exactly the accepted corpus
    val idx = graft.operators.Dedup.loadMinhashIndex(spark, idxPath)
    val indexed =
      try idx.sizes.select($"corpus_id").as[Long].collect().toSet
      finally idx.unpersist()
    assert(indexed == Set(1L, 10L, 21L, 32L, 41L))
  }

  test("incremental dedup: within-batch near-dups split min-id-wins; replay is idempotent") {
    val idxPath = tempDir("wbidx")
    val accepted = tempDir("wbaccepted")
    val dupes = tempDir("wbdupes")
    val seedA = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val corpus = Seq((1L, seedA)).toDF("doc_id", "text")
    graft.operators.Dedup.saveMinhashIndex(
      graft.operators.Dedup.minhashIndex(corpus, "doc_id", "text"), idxPath)
    // 10 & 11 are near-identical SIBLINGS (novel vs the corpus); 12 dups
    // the seed; 13 is novel. Expected: 10 survives (min id), 11 loses the
    // within-batch pass, 12 loses the corpus pass, 13 accepted.
    val sib = "fresh sibling content words repeated enough times " * 5
    val batch = Seq(
      (10L, sib), (11L, sib + "tail"), (12L, seedA),
      (13L, "entirely different novel words here " * 5)
    ).toDF("doc_id", "text")
    val pairsTbl = tempDir("wbpairs")
    def state(): (Set[Long], Set[Long], Set[Long], Set[(Long, Long)]) = {
      val acc = spark.read.parquet(accepted).select($"doc_id")
        .as[Long].collect().toSet
      val dup = spark.read.parquet(dupes).select($"doc_id")
        .as[Long].collect().toSet
      val idx = graft.operators.Dedup.loadMinhashIndex(spark, idxPath)
      val indexed = idx.sizes.select($"corpus_id").as[Long].collect().toSet
      idx.unpersist()
      val pairs = graft.operators.Dedup.loadPairs(spark, pairsTbl)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      (acc, dup, indexed, pairs)
    }
    Streaming.processDedupBatch(batch, 0L, idxPath, accepted, dupes,
      "doc_id", "text", threshold = 0.5, maxBucketSize = 0,
      pairsDir = Some(pairsTbl))
    val first = state()
    assert((first._1, first._2, first._3) ==
      ((Set(10L, 13L), Set(11L, 12L), Set(1L, 10L, 13L))))
    // the durable pair table records the corpus match (12, seed 1) and
    // the within-batch sibling pair (10, 11)
    assert(first._4 == Set((12L, 1L), (10L, 11L)))
    // REPLAY: batch 0 redelivered after its append already landed. The
    // probe excludes append=b0, so 10/11 must not match their own or
    // their sibling's indexed copies — identical state, no docs lost.
    Streaming.processDedupBatch(batch, 0L, idxPath, accepted, dupes,
      "doc_id", "text", threshold = 0.5, maxBucketSize = 0,
      pairsDir = Some(pairsTbl))
    assert(state() == first)
  }

  test("incremental embedding dedup: two-pass split and replay, vector twin") {
    val idxPath = tempDir("vecidx")
    val accepted = tempDir("vecacc")
    val dupes = tempDir("vecdup")
    val pairsTbl = tempDir("vecpairs")
    import graft.operators.SimilaritySearch
    // seed corpus: one unit vector along e1
    val u = Seq(1.0, 0.0, 0.0, 0.0)
    val corpus = Seq((1L, u)).toDF("vec_id", "embedding")
    SimilaritySearch.saveLshIndex(
      SimilaritySearch.lshIndex(corpus, "vec_id", "embedding"), idxPath)
    // 10 & 11: near-identical SIBLINGS in a novel direction; 12: a scaled
    // copy of the seed (cosine 1); 13: orthogonal novel. Expected:
    // 10 survives (min id), 11 loses within-batch, 12 loses the corpus
    // pass, 13 accepted.
    val batch = Seq(
      (10L, Seq(0.0, 1.0, 0.0, 0.0)),
      (11L, Seq(0.001, 0.9999, 0.0, 0.0)),
      (12L, Seq(2.0, 0.0, 0.0, 0.0)),
      (13L, Seq(0.0, 0.0, 1.0, 0.0))
    ).toDF("vec_id", "embedding")
    def state(): (Set[Long], Set[Long], Set[Long], Set[(Long, Long)]) = {
      val acc = spark.read.parquet(accepted).select($"vec_id")
        .as[Long].collect().toSet
      val dup = spark.read.parquet(dupes).select($"vec_id")
        .as[Long].collect().toSet
      val idx = SimilaritySearch.loadLshIndex(spark, idxPath)
      val indexed = idx.vectors.select($"corpus_id").as[Long].collect().toSet
      idx.unpersist()
      val pairs = graft.operators.Dedup.loadPairs(spark, pairsTbl)
        .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
      (acc, dup, indexed, pairs)
    }
    Streaming.processEmbeddingDedupBatch(batch, 0L, idxPath, accepted,
      dupes, "vec_id", "embedding", threshold = 0.9, maxBucketSize = 0,
      pairsDir = Some(pairsTbl))
    val first = state()
    assert((first._1, first._2, first._3) ==
      ((Set(10L, 13L), Set(11L, 12L), Set(1L, 10L, 13L))))
    assert(first._4 == Set((12L, 1L), (10L, 11L)))
    // replay: identical state, no vectors lost
    Streaming.processEmbeddingDedupBatch(batch, 0L, idxPath, accepted,
      dupes, "vec_id", "embedding", threshold = 0.9, maxBucketSize = 0,
      pairsDir = Some(pairsTbl))
    assert(state() == first)
  }

  test("incremental embedding dedup stream: later batches dedup against earlier accepts") {
    implicit val sc = spark.sqlContext
    import graft.operators.SimilaritySearch
    val idxPath = tempDir("vecsidx")
    val accepted = tempDir("vecsacc")
    val dupes = tempDir("vecsdup")
    val corpus = Seq((1L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    SimilaritySearch.saveLshIndex(
      SimilaritySearch.lshIndex(corpus, "vec_id", "embedding"), idxPath)
    val mem = MemoryStream[(Long, Seq[Double])]
    val q = Streaming.incrementalEmbeddingDedupStream(
      mem.toDF().toDF("vec_id", "embedding"), idxPath, accepted, dupes,
      tempDir("vecsckpt"))
    try {
      // batch 0: one dup of the seed, one novel direction
      mem.addData((10L, Seq(3.0, 0.0, 0.0, 0.0)),
        (11L, Seq(0.0, 1.0, 0.0, 0.0)))
      q.processAllAvailable()
      // batch 1: a dup of the vector ACCEPTED in batch 0 — the index
      // grew mid-stream — plus one more novel direction
      mem.addData((20L, Seq(0.0, 0.5, 0.0, 0.0)),
        (21L, Seq(0.0, 0.0, 0.0, 1.0)))
      q.processAllAvailable()
      val acc = spark.read.parquet(accepted).select($"vec_id")
        .as[Long].collect().toSet
      val dup = spark.read.parquet(dupes).select($"vec_id")
        .as[Long].collect().toSet
      assert(dup == Set(10L, 20L))
      assert(acc == Set(11L, 21L))
    } finally q.stop()
  }

  test("sessionization groups events separated by less than the gap") {
    val df = Seq(
      ("u1", new Timestamp(0L)), ("u1", new Timestamp(60 * 1000L)),
      ("u1", new Timestamp(20 * 60 * 1000L)), ("u2", new Timestamp(0L)))
      .toDF("user", "ts")
    val sessions = Streaming.sessionize(df, "user", "ts", gap = "5 minutes")
      .orderBy($"user", $"session_start")
      .select($"user", $"n_events").as[(String, Long)].collect().toSeq
    assert(sessions == Seq(("u1", 2L), ("u1", 1L), ("u2", 1L)))
  }

  test("FIX wire format round-trips: encode -> native parse recovers every field") {
    import graft.streaming.FeedReplayServer
    val base = 1718445600000L
    val bars = (0 until 20).map(i => OhlcvBar(s"SYM${i % 4}",
      new Timestamp(base + i * 250L), // sub-second: millis must survive
      100.25 + i, 110.5 + i, 90.125 + i, 105.0 + i,
      1000L + i, if (i % 2 == 0) AssetClass.Equity else AssetClass.Crypto))
    val parsed = Streaming.parseFixLines(
        bars.map(FeedReplayServer.fixLine).toDF("value"))
      .as[OhlcvBar].collect().toSeq
    assert(parsed == bars)
  }

  test("FIX parse rejects corruption: bad checksum nulls the row; structural damage nulls the field") {
    import graft.streaming.FeedReplayServer
    val bar = OhlcvBar("SYM1", new Timestamp(1718445600000L),
      100.5, 110.0, 90.0, 105.0, 5000L, AssetClass.Equity)
    val good = FeedReplayServer.fixLine(bar)
    // flip one price digit WITHOUT updating the trailer: the recomputed
    // checksum must disagree and the whole row must null (-> DLQ), the
    // FIX-engine contract for a garbled message
    val corrupted = good.replace("270=110.0", "270=119.0")
    // structural damage with a VALID checksum: drop the session-high
    // group entry — only that field may null; the rest must survive
    val noHigh = {
      val soh = ""
      val body = Seq("35=W", "55=SYM1", "60=20240615-10:00:00.000",
        "5001=equity", "268=4",
        "269=4", "270=100.5", "269=8", "270=90.0",
        "269=5", "270=105.0", "269=B", "271=5000")
        .mkString("", soh, soh)
      val pre = s"8=FIX.4.4${soh}9=${body.length}$soh" + body
      f"$pre%s10=${pre.getBytes("UTF-8").map(_ & 0xff).sum % 256}%03d$soh"
    }
    val rows = Streaming.parseFixLines(
        Seq(good, corrupted, noHigh, "not fix at all").toDF("value"))
      .collect()
    assert(rows(0).getString(0) == "SYM1" && rows(0).getDouble(3) == 110.0)
    assert((0 until 8).forall(rows(1).isNullAt), s"corrupted row: ${rows(1)}")
    assert(rows(2).isNullAt(3) && rows(2).getString(0) == "SYM1" &&
      rows(2).getDouble(2) == 100.5 && rows(2).getLong(6) == 5000L)
    assert((0 until 8).forall(rows(3).isNullAt), s"garbage row: ${rows(3)}")
  }

  test("socket live-feed twin in FIX format: corrupt message -> DLQ, valid bars -> lake") {
    import graft.streaming.FeedReplayServer
    val lake = new DataLakehouse(spark, tempDir("fixlake"))
    val ckpt = tempDir("fixckpt")
    val base = 1718445600000L
    val valid = (0 until 20).map(i => OhlcvBar(s"SYM${i % 4}",
      new Timestamp(base + i * 1000L), 100 + i, 110 + i, 90 + i, 105 + i,
      1000L + i, AssetClass.Equity))
    val corrupt = FeedReplayServer
      .fixLine(valid.head).replace("270=110.0", "270=777.0")
    val lines = valid.map(FeedReplayServer.fixLine) :+ corrupt
    val server = new FeedReplayServer(lines)
    val q = Streaming.ingestSocketStream(lake, server.host, server.port,
      ckpt, streamId = "fix", triggerMs = 50, wireFormat = "fix")
    try {
      assert(server.awaitDrained(60000), "feed never drained")
      def accounted(): Long = {
        q.processAllAvailable()
        lake.query().count + lake.deadLetterCount()
      }
      val deadline = System.currentTimeMillis() + 30000
      while (accounted() < lines.size &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(lake.query().count == valid.size)
      assert(lake.deadLetterCount() == 1)
      // committed bars survived the wire bit-for-bit
      val got = lake.query().df
        .select("symbol", "timestamp", "open", "high", "low", "close",
          "volume", "asset_class")
        .as[OhlcvBar].collect().toSeq.sortBy(_.timestamp.getTime)
      assert(got == valid)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("WebSocket live-feed twin: RFC 6455 handshake + FIX frames -> lake, corrupt frame -> DLQ") {
    import graft.streaming.FeedReplayServer
    val lake = new DataLakehouse(spark, tempDir("wslake"))
    val ckpt = tempDir("wsckpt")
    val base = 1718445600000L
    val valid = (0 until 20).map(i => OhlcvBar(s"SYM${i % 4}",
      new Timestamp(base + i * 1000L), 100 + i, 110 + i, 90 + i, 105 + i,
      1000L + i, AssetClass.Equity))
    val corrupt = FeedReplayServer
      .fixLine(valid.head).replace("270=110.0", "270=777.0")
    val lines = valid.map(FeedReplayServer.fixLine) :+ corrupt
    // webSocket = true: upgrade handshake + one TEXT frame per message
    val server = new FeedReplayServer(lines, webSocket = true)
    val q = Streaming.ingestWebSocketStream(lake, server.host, server.port,
      ckpt, streamId = "ws", triggerMs = 50, wireFormat = "fix")
    try {
      assert(server.awaitDrained(60000), "feed never drained")
      def accounted(): Long = {
        q.processAllAvailable()
        lake.query().count + lake.deadLetterCount()
      }
      val deadline = System.currentTimeMillis() + 30000
      while (accounted() < lines.size &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(lake.query().count == valid.size)
      assert(lake.deadLetterCount() == 1)
      val got = lake.query().df
        .select("symbol", "timestamp", "open", "high", "low", "close",
          "volume", "asset_class")
        .as[OhlcvBar].collect().toSeq.sortBy(_.timestamp.getTime)
      assert(got == valid)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("WebSocket framing survives the RFC 6455 length-encoding boundaries") {
    import graft.streaming.{FeedReplayServer, WebSocketSourceProvider}
    // one payload per length regime: 7-bit (<=125), 16-bit (126..65535,
    // both edges), 64-bit (>65535) — FIX snapshots only exercise the
    // 16-bit path, so the other encoder/decoder branches need their own
    // pin (a mis-encoded length desyncs EVERY subsequent frame)
    val payloads = Seq("a" * 1, "b" * 125, "c" * 126, "d" * 65535,
      "e" * 65536, "f" * 70000)
    val server = new FeedReplayServer(payloads, webSocket = true)
    val q = spark.readStream
      .format(classOf[WebSocketSourceProvider].getName)
      .option("host", server.host).option("port", server.port.toString)
      .load()
      .writeStream.format("memory").queryName("wsframes")
      .start()
    try {
      assert(server.awaitDrained(60000))
      val deadline = System.currentTimeMillis() + 30000
      def got(): Seq[String] = {
        q.processAllAvailable()
        spark.table("wsframes").as[String].collect().toSeq
      }
      while (got().size < payloads.size &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      // order and content both matter: a length desync would shear the
      // frame stream and corrupt every payload after the bad boundary
      assert(got() == payloads)
    } finally {
      q.stop()
      server.close()
    }
  }

  test("WebSocket engine-level restart: fresh frames deliver immediately under the monotone epoch") {
    // the integration half of WebSocketEpochSpec: the ENGINE drives
    // commit(), the epoch persists under the source's checkpoint
    // subdir, and a restarted query (new connection, fresh frames only)
    // delivers those frames at once. Pre-epoch, the restarted source
    // renumbered from 0 against the checkpoint's high water of 3, the
    // engine saw "no new data", and all three fresh frames were
    // silently absorbed — this test pins the upgrade end-to-end.
    import graft.streaming.FeedReplayServer
    val lake = new DataLakehouse(spark, tempDir("wsrlake"))
    val ckpt = tempDir("wsrckpt")
    val base = 1718445600000L
    def bar(i: Int) = OhlcvBar(s"SYM${i % 2}",
      new Timestamp(base + i * 1000L), 100 + i, 110 + i, 90 + i, 105 + i,
      1000L + i, AssetClass.Equity)
    def epoch(): Long = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt))
      val f =
        try {
          import scala.jdk.CollectionConverters._
          w.iterator().asScala
            .find(_.getFileName.toString == "websocket-epoch")
        } finally w.close()
      f.map(p => new String(java.nio.file.Files.readAllBytes(p)).trim.toLong)
        .getOrElse(-1L)
    }
    def runSession(bars: Seq[OhlcvBar], wantRows: Long,
        wantEpoch: Long): Unit = {
      val server = new FeedReplayServer(
        bars.map(FeedReplayServer.csvLine), webSocket = true)
      val q = Streaming.ingestWebSocketStream(lake, server.host,
        server.port, ckpt, streamId = "wsr", triggerMs = 50,
        wireFormat = "csv")
      try {
        assert(server.awaitDrained(60000), "feed never drained")
        val deadline = System.currentTimeMillis() + 30000
        // stop only after the engine has COMMITTED through the session's
        // frames (rows landed AND the persisted epoch advanced) — the
        // restart contract is about committed state, not buffered state
        while ((lake.query().count < wantRows || epoch() < wantEpoch) &&
          System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          Thread.sleep(50)
        }
        assert(lake.query().count == wantRows,
          s"expected $wantRows rows, got ${lake.query().count}")
        assert(epoch() >= wantEpoch, s"epoch ${epoch()} < $wantEpoch")
      } finally {
        q.stop()
        server.close()
      }
    }
    runSession((0 until 3).map(bar), wantRows = 3, wantEpoch = 3)
    // restart: NEW server, NEW connection, only the three fresh bars
    runSession((3 until 6).map(bar), wantRows = 6, wantEpoch = 6)
    assert(lake.query().df.select("symbol").distinct().count() == 2)
  }

  test("socket live-feed twin: socket -> parse -> ring admission -> DLQ -> lake, conserving every line") {
    import graft.streaming.FeedReplayServer
    val lake = new DataLakehouse(spark, tempDir("socklake"))
    val ckpt = tempDir("sockckpt")
    val base = 1718445600000L
    val valid = (0 until 40).map(i => OhlcvBar(s"SYM${i % 4}",
      new Timestamp(base + i * 1000L), 100 + i, 110 + i, 90 + i, 105 + i,
      1000L + i, AssetClass.Equity))
    val invalid = Seq(
      // high < low — fails barValid; newest timestamp so ring admission
      // cannot evict it before validation sees it
      OhlcvBar("BAD", new Timestamp(base + 3600 * 1000L),
        100, 1.0, 2.0, 100, 10, AssetClass.Equity))
    val lines = valid.map(FeedReplayServer.csvLine) ++
      invalid.map(FeedReplayServer.csvLine) :+
      "garbage,not,a,bar" // malformed: parses to nulls, must DLQ not vanish
    val cap = 16L

    val server = new FeedReplayServer(lines)
    val q = Streaming.ingestSocketStream(lake, server.host, server.port,
      ckpt, streamId = "sock", triggerMs = 50,
      maxEventsPerTrigger = Some(cap))
    try {
      assert(server.awaitDrained(60000), "feed never drained")
      // the socket reader thread may lag the replay — poll conservation
      def accounted(): Long = {
        q.processAllAvailable()
        lake.query().count + Streaming.evictedCount(lake) +
          lake.deadLetterCount()
      }
      val deadline = System.currentTimeMillis() + 30000
      while (accounted() < lines.size &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      // conservation: every line COMMITTED, EVICTED, or DEAD-LETTERED
      val committed = lake.query().count
      val evicted = Streaming.evictedCount(lake)
      val dlq = lake.deadLetterCount()
      assert(committed + evicted + dlq == lines.size,
        s"committed=$committed evicted=$evicted dlq=$dlq of ${lines.size}")
      // ring admission held on every micro-batch commit
      val ingests = lake.txnLog.commits().filter(_.batchId.exists(_.startsWith("sock-")))
      assert(ingests.nonEmpty)
      ingests.foreach { c =>
        assert(c.rowCounts.values.sum <= cap, s"batch ${c.batchId} over cap")
      }
      // the invalid bar is newest-by-timestamp (never ring-evicted) and
      // the garbage line nulls out — at least the invalid bar must have
      // reached the DLQ; committed rows are all valid ones
      assert(dlq >= 1)
      assert(committed <= valid.size)
      assert(lake.query().df.filter(col("symbol") === "BAD").count() == 0)
    } finally {
      q.stop()
      server.close()
    }
  }
}

// Row classes live in the companion object: an encoder for a case class nested in the spec
// class needs the spec instance as an outer pointer, which the generated
// Java cannot supply, so Spark would fall back to interpreted evaluation.
object StreamingSpec {
  case class Tick(ts: Timestamp, symbol: String, price: Double, volume: Long)
  case class Quote(qsymbol: String, qts: Timestamp, qid: Long,
      bid: Double, ask: Double)
  case class Trade(trade_id: Long, symbol: String, ts: Timestamp,
      price: Double)
}
