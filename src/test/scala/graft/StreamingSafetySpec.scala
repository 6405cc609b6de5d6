package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.sources.DataLakehouse
import graft.streaming._

/** Streaming failure-mode specs: out-of-order ticks across micro-batches,
  * replayed batches (DLQ idempotence), and burst admission control — the
  * T6 "exactly-once" contract under the conditions that actually break it.
  */
class StreamingSafetySpec extends SparkSpec {
  import spark.implicits._

  test("barCloser: a late tick cannot double-emit an already-closed bar") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[TsTick]
    val q = Streaming.barCloser(mem.toDS())
      .writeStream.format("memory").queryName("barcloser_late_test")
      .outputMode("append").start()
    try {
      // batch 1: minute-0 ticks, then a minute-1 tick closes bar 0.
      mem.addData(TsTick("AAPL", 1000, 10, 1), TsTick("AAPL", 30000, 14, 2),
        TsTick("AAPL", 61000, 20, 5))
      q.processAllAvailable()
      // batch 2: a LATE minute-0 tick (bar 0 already closed). Must be
      // dropped — not close the open minute-1 bar and re-open minute 0.
      mem.addData(TsTick("AAPL", 45000, 99, 7))
      q.processAllAvailable()
      // batch 3: minute-2 tick closes bar 1 — whose OHLCV must be
      // untouched by the late tick.
      mem.addData(TsTick("AAPL", 121000, 30, 1))
      q.processAllAvailable()
      val bars = spark.table("barcloser_late_test").orderBy($"barStartMs")
        .as[(String, Long, Double, Double, Double, Double, Long)].collect().toSeq
      assert(bars == Seq(
        ("AAPL", 0L, 10.0, 14.0, 10.0, 14.0, 3L),
        ("AAPL", 60000L, 20.0, 20.0, 20.0, 20.0, 5L)))
      // exactly one bar per (symbol, barStartMs)
      assert(bars.map(b => (b._1, b._2)).distinct.size == bars.size)
    } finally q.stop()
  }

  test("replayed micro-batch: DLQ count and lake rows both stay stable") {
    val lake = new DataLakehouse(spark, tempDir("replaylake"))
    val src = tempDir("replaysrc")
    val good = OhlcvBar("AAPL", Timestamp.valueOf("2024-06-15 10:30:00"),
      150, 155, 149, 153, 1000, AssetClass.Equity)
    val bad = good.copy(high = 1.0, low = 2.0, symbol = "BAD")
    spark.createDataset(Seq(good, bad)).toDF()
      .write.mode("overwrite").parquet(src)

    val q1 = Streaming.ingestStream(lake, src, tempDir("ckpt1"), streamId = "r")
    try q1.processAllAvailable() finally q1.stop()
    assert(lake.query().count == 1)
    assert(lake.deadLetterCount() == 1)

    // Fresh checkpoint + same stream id over the same source = the whole
    // batch replays with the same (streamId, batchId) key. The lake append
    // must be a txn-log no-op AND the DLQ write must overwrite, not append.
    val q2 = Streaming.ingestStream(lake, src, tempDir("ckpt2"), streamId = "r")
    try q2.processAllAvailable() finally q2.stop()
    assert(lake.query().count == 1)
    assert(lake.deadLetterCount() == 1)
    assert(lake.txnLog.commits().count(_.batchId.exists(_.startsWith("r-"))) == 1)
  }

  test("maxFilesPerTrigger splits a file burst across micro-batches") {
    val lake = new DataLakehouse(spark, tempDir("burstlake"))
    val src = tempDir("burstsrc")
    // four flat source files dropped at once (the file stream source
    // lists the monitored directory, not nested output dirs)
    (0 until 4).foreach { i =>
      val tmp = tempDir(s"burstpart$i")
      spark.createDataset(Seq(OhlcvBar(s"SYM$i",
        Timestamp.valueOf("2024-06-15 10:30:00"),
        150, 155, 149, 153, 1000L + i, AssetClass.Equity))).toDF()
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(src, s"f$i.parquet"))
    }
    val q = Streaming.ingestStream(lake, src, tempDir("burstckpt"),
      streamId = "b", maxFilesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()
    assert(lake.query().count == 4)
    // admission control: one file per micro-batch → four separate commits
    assert(lake.txnLog.commits().count(_.batchId.exists(_.startsWith("b-"))) == 4)
  }

  test("ring admission: newest events win, evictions are recorded, replay is stable") {
    // S9's ring-buffer semantics (the reference's declared 1M-event cap):
    // a micro-batch over the cap admits only the NEWEST cap events; the
    // evicted oldest land in _evicted (per-batch overwrite), and a
    // replayed batch reproduces the identical admit/evict split.
    val lake = new DataLakehouse(spark, tempDir("ringlake"))
    def mkBatch = spark.createDataset((0 until 10).map { i =>
      OhlcvBar(s"SYM$i", Timestamp.valueOf(s"2024-06-15 10:${10 + i}:00"),
        150, 155, 149, 153, 1000L + i, AssetClass.Equity)
    }).toDF()
    Streaming.processIngestBatch(lake, mkBatch, 0L, "ring", Some(6L))
    // newest 6 by bar timestamp admitted; oldest 4 evicted
    val admitted = lake.query().df.select("symbol").collect()
      .map(_.getString(0)).toSet
    assert(admitted == (4 until 10).map(i => s"SYM$i").toSet)
    assert(Streaming.evictedCount(lake) == 4)
    val evictedSyms = spark.read.parquet(s"${lake.root}/_evicted")
      .select("symbol").collect().map(_.getString(0)).toSet
    assert(evictedSyms == (0 until 4).map(i => s"SYM$i").toSet)

    // replay: same batch id → lake append no-ops, eviction dir overwrites
    Streaming.processIngestBatch(lake, mkBatch, 0L, "ring", Some(6L))
    assert(lake.query().count == 6)
    assert(Streaming.evictedCount(lake) == 4)
    assert(lake.txnLog.commits().count(_.batchId.exists(_.startsWith("ring-"))) == 1)

    // a vacuum must not reclaim the eviction audit trail
    assert(lake.vacuum(retainMs = 0L) == 0L)
    assert(Streaming.evictedCount(lake) == 4)

    // under-cap batches pass through untouched (no _evicted write)
    val lake2 = new DataLakehouse(spark, tempDir("ringlake2"))
    Streaming.processIngestBatch(lake2, mkBatch.limit(3), 0L, "ring", Some(6L))
    assert(lake2.query().count == 3)
    assert(Streaming.evictedCount(lake2) == 0)
  }

  test("quote-state protocol fuzz: random batch/compact/kill interleavings never lose state") {
    // The deterministic seam specs pin each crash window once; this fuzz
    // composes them — random quote batches, clean compactions, and
    // compactions killed at a random seam — asserting after EVERY op
    // that the reader-visible per-symbol latest equals the model (max by
    // (qts, qid) over all committed quotes). Fixed seeds, the
    // TombstoneFuzzSpec pattern.
    import org.apache.spark.sql.functions.{col, max_by, struct}
    Seq(11L, 23L).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val stateDir = tempDir(s"qfuzz$seed")
      val t0 = 1718445600000L
      val model = scala.collection.mutable.Map.empty[String, (Long, Long)]
      var nextQid = 1L
      var nextBatch = 0L
      def hasState: Boolean = {
        val fs = new java.io.File(stateDir).listFiles()
        fs != null && fs.exists(_.getName.startsWith("append="))
      }
      def latestBySymbol(): Map[String, Long] =
        if (!hasState) Map.empty
        else spark.read.parquet(stateDir).drop("append")
          .groupBy(col("qsymbol"))
          .agg(max_by(col("qid"), struct(col("qts"), col("qid"))).as("qid"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      def expected: Map[String, Long] = model.map { case (s, (_, q)) => s -> q }.toMap
      (0 until 20).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 | 2 => // quote batch: 1-3 symbols, random ts offsets
            val rows = (0 until 1 + rnd.nextInt(3)).map { _ =>
              val sym = s"S${rnd.nextInt(4)}"
              val ts = t0 + rnd.nextInt(100000)
              val qid = nextQid; nextQid += 1
              model.get(sym) match {
                case Some((mts, _)) if mts > ts => () // older quote: keep
                case _ => model(sym) = (ts, qid) // qid strictly increases,
                  // so an equal-ts later quote wins the (qts, qid) order
              }
              (sym, new Timestamp(ts), qid, 100.0, 101.0)
            }
            import spark.implicits._
            Streaming.processQuoteStateBatch(
              rows.toDF("qsymbol", "qts", "qid", "bid", "ask"),
              nextBatch, stateDir)
            nextBatch += 1
          case 3 => // clean compaction
            Streaming.compactQuoteState(spark, stateDir)
          case 4 => // compaction killed at a random protocol seam
            val at = if (rnd.nextBoolean()) "compact:staged-written"
                     else "compact:renamed"
            Streaming.compactSeam =
              n => if (n == at) throw new RuntimeException(s"kill at $n")
            try {
              if (hasState) // partition-less state: compaction no-ops
                intercept[RuntimeException] {  // before any seam fires
                  Streaming.compactQuoteState(spark, stateDir)
                }
            } finally Streaming.compactSeam = null
        }
        assert(latestBySymbol() == expected, s"seed=$seed diverged")
      }
      // a clean compaction converges whatever the kill history left
      Streaming.compactQuoteState(spark, stateDir)
      assert(latestBySymbol() == expected, s"seed=$seed post-converge")
    }
  }

  test("processIngestBatch executes the upstream parse exactly once per micro-batch") {
    // the admitted plan feeds three sinks (invalid-emptiness probe, DLQ
    // write, lake append); unpersisted, EACH re-ran the full upstream
    // parse — FIX/CSV incl. the checksum kernel — per micro-batch. A
    // partition-level probe upstream of the batch counts executions;
    // one partition makes the count exact (a partial first action could
    // otherwise cache only the partitions it touched).
    val lake = new DataLakehouse(spark, tempDir("probelake"))
    val acc = spark.sparkContext.longAccumulator("parse-probe")
    val rows = (0 until 5).map { i =>
      OhlcvBar(s"SYM$i", Timestamp.valueOf("2024-06-15 10:30:00"),
        150, 155, 149, 153, 1000L + i, AssetClass.Equity)
    } :+ OhlcvBar("BAD", Timestamp.valueOf("2024-06-15 10:31:00"),
      150, 155, 149, 153, -5L, AssetClass.Equity) // negative volume → DLQ
    val batch = spark.createDataset(rows).coalesce(1)
      .mapPartitions { it => acc.add(1); it }.toDF()
    Streaming.processIngestBatch(lake, batch, 0L, "probe", None)
    assert(lake.query().count == 5)
    assert(lake.deadLetterCount() == 1)
    assert(acc.value == 1L, s"parse executed ${acc.value}x for one batch")
  }

  for ((label, cap) <- Seq("over the ring cap" -> 3L, "under the ring cap" -> 100L))
    test(s"processIngestBatch executes the upstream parse exactly once, $label") {
      // with a cap set, the ring's count is the batch's first read: it
      // must cache the parse it runs, so the ranking pass (over the cap)
      // or the admitted rows (under it) read that cache, not the source
      val lake = new DataLakehouse(spark, tempDir("probecap"))
      val acc = spark.sparkContext.longAccumulator("parse-probe-cap")
      val rows = (0 until 5).map { i =>
        OhlcvBar(s"SYM$i", Timestamp.valueOf(s"2024-06-15 10:3$i:00"),
          150, 155, 149, 153, 1000L + i, AssetClass.Equity)
      } :+ OhlcvBar("BAD", Timestamp.valueOf("2024-06-15 10:39:00"),
        150, 155, 149, 153, -5L, AssetClass.Equity) // negative volume → DLQ
      val batch = spark.createDataset(rows).coalesce(1)
        .mapPartitions { it => acc.add(1); it }.toDF()
      Streaming.processIngestBatch(lake, batch, 0L, "probecap", Some(cap))
      // newest 3 admitted over the cap: BAD (to the DLQ), SYM4, SYM3
      val (admitted, evicted) = if (cap < rows.size) (2L, 3L) else (5L, 0L)
      assert(lake.query().count == admitted)
      assert(lake.deadLetterCount() == 1)
      assert(Streaming.evictedCount(lake) == evicted)
      assert(acc.value == 1L, s"parse executed ${acc.value}x for one batch")
      // released in the batch's finally
      assert(batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
    }

  test("replay-dir delete tolerates entries vanishing under a concurrent attempt") {
    // two attempts of one batch can clear the same _dlq/_evicted dir at
    // once: a recursive delete must skip what the other removes mid-walk
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    def tree(): Path = {
      val root = Files.createTempDirectory("vanish")
      for (d <- 0 until 40; f <- 0 until 10) {
        val dir = Files.createDirectories(root.resolve(s"d$d/e${d % 3}"))
        Files.write(dir.resolve(s"part-$f.parquet"), Array[Byte](1))
      }
      root
    }
    // the other attempt deletes children before parents from its own
    // listing, taken before either starts
    def otherAttempt(listed: List[Path]): Unit =
      listed.reverse.foreach { p =>
        try Files.deleteIfExists(p) catch {
          case _: java.nio.file.DirectoryNotEmptyException => ()
        }
      }
    for (_ <- 0 until 20) {
      val root = tree()
      val listed = {
        val w = Files.walk(root)
        try w.iterator().asScala.toList finally w.close()
      }
      val other = new Thread(() => otherAttempt(listed))
      other.start()
      try DataLakehouse.deleteRecursively(root) finally other.join()
      assert(!Files.exists(root))
    }
  }

  test("ring admission end-to-end: ingestStream caps a real micro-batch") {
    val lake = new DataLakehouse(spark, tempDir("ringe2e"))
    val src = tempDir("ringe2esrc")
    spark.createDataset((0 until 10).map { i =>
      OhlcvBar(s"SYM$i", Timestamp.valueOf(s"2024-06-15 10:${10 + i}:00"),
        150, 155, 149, 153, 1000L + i, AssetClass.Equity)
    }).toDF().coalesce(1).write.mode("overwrite").parquet(src)
    val q = Streaming.ingestStream(lake, src, tempDir("ringe2eckpt"),
      streamId = "re", maxEventsPerTrigger = Some(6L))
    try q.processAllAvailable() finally q.stop()
    assert(lake.query().count == 6)
    assert(lake.query().df.select("symbol").collect().map(_.getString(0)).toSet
      == (4 until 10).map(i => s"SYM$i").toSet) // newest admitted
    assert(Streaming.evictedCount(lake) == 4)
    intercept[IllegalArgumentException] {
      Streaming.ingestStream(lake, src, tempDir("ringe2eckpt2"),
        maxEventsPerTrigger = Some(0L))
    }
  }

  test("maxBytesPerTrigger bounds each micro-batch by byte size") {
    val lake = new DataLakehouse(spark, tempDir("bytelake"))
    val src = tempDir("bytesrc")
    // six ~equal-size single-row source files dropped at once
    (0 until 6).foreach { i =>
      val tmp = tempDir(s"bytepart$i")
      spark.createDataset(Seq(OhlcvBar(s"SYM$i",
        Timestamp.valueOf("2024-06-15 10:30:00"),
        150, 155, 149, 153, 1000L + i, AssetClass.Equity))).toDF()
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Paths.get(src, s"f$i.parquet"))
    }
    val fileBytes = java.nio.file.Files.list(java.nio.file.Paths.get(src))
      .mapToLong(java.nio.file.Files.size).toArray.toSeq
    // cap = two files' worth: the burst must drain over >= 3 micro-batches,
    // each admitting at most two files (the 10 MB-threshold shape of
    // README.md:37, scaled down)
    val cap = fileBytes.sorted.take(2).sum
    val q = Streaming.ingestStream(lake, src, tempDir("byteckpt"),
      streamId = "y", maxBytesPerTrigger = Some(cap))
    try q.processAllAvailable() finally q.stop()
    assert(lake.query().count == 6)
    val commits = lake.txnLog.commits()
      .filter(_.batchId.exists(_.startsWith("y-")))
    assert(commits.size >= 3)
    // byte bound ⇒ row bound: one row per source file, at most 2 per batch
    assert(commits.forall(_.rowCounts.values.sum <= 2))
    // both caps at once is a contract violation, failed fast
    intercept[IllegalArgumentException] {
      Streaming.ingestStream(lake, src, tempDir("byteckpt2"),
        maxFilesPerTrigger = Some(1), maxBytesPerTrigger = Some(1000L))
    }
  }
}
