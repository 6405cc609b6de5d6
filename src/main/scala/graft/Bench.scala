package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every catalog query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Results are materialized through the noop sink — count() alone lets
  * Catalyst prune unreferenced projections, which would under-report
  * compute-heavy queries (hashing, HOF math).
  *
  * Each query is timed SPARK_GRAFT_REPEATS times (default 3) and the
  * MEDIAN reported: this machine is shared, and round-over-round singles
  * have shown 10×+ swings on identical code — medians make the per-round
  * comparison meaningful. An optional substring arg filters query names
  * (`runMain graft.Bench q28` while iterating on one operator).
  */
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.size / 2)
  }

  /** Cumulative JVM GC milliseconds across all collectors — the delta
    * around a query exposes how much of its wall time was GC, the prime
    * suspect whenever a query's cost swings run-over-run with unchanged
    * code (round-4 finding).
    */
  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
  }

  /** Between WARM repeats: release per-run garbage while keeping the
    * memoized relations hot. Warm twins deliberately skip freeAllBlocks
    * (the warm memo IS the measurement), but connected-components output
    * is `localCheckpoint`ed per run — across priming + repeats those
    * RDDs and the dead shuffles behind them accumulate unbounded in the
    * shared JVM, and r7 measured q57's warm twin at 4× its own COLD run
    * because of it. localCheckpoint blocks are per-run by construction
    * (their lineage is truncated; no memo references them), so dropping
    * exactly those — plus a GC so ContextCleaner processes the dead
    * shuffle/broadcast weak refs — resets the JVM without touching the
    * CacheManager-registered memo frames (pair sets, ANN indexes).
    */
  private def freeNonMemoBlocks(spark: SparkSession): Unit = {
    // isCheckpointed (public; the LocalRDDCheckpointData variant is
    // private[spark]) is true exactly for materialized checkpoint RDDs —
    // the block-holding garbage — and false for CacheManager-registered
    // column-buffer RDDs, so the memo frames are spared
    spark.sparkContext.getPersistentRDDs.values
      .filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Time one materialization; None on failure (a failed attempt's
    * elapsed time must not pollute the median). Returns (sec, gcSec).
    */
  private def timedRun(spark: SparkSession, name: String)
      (run: => Unit): Option[(Double, Double)] = {
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val ok =
      try { run; true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        false
      }
    val sec = (System.nanoTime() - t0) / 1e9
    val gcSec = (gcMillis() - gc0) / 1e3
    debugSample(spark, name, sec)
    Session.freeAllBlocks(spark)
    if (ok) Some((sec, gcSec)) else None
  }

  // SPARK_GRAFT_DEBUG=1: print EVERY sample with cached-block state —
  // medians hide exactly the forensics signal (one slow repeat vs all
  // slow) that distinguishes noise from a dropped memo (r7's q57 warm
  // twin read 4× cold; per-sample visibility is how that class of
  // measurement bug gets root-caused instead of re-run and hoped at)
  private val debug = sys.env.get("SPARK_GRAFT_DEBUG").contains("1")
  private def debugSample(spark: SparkSession, name: String, sec: Double): Unit =
    if (debug) {
      val infos = spark.sparkContext.getRDDStorageInfo
      val cachedMb = infos.map(_.memSize).sum / 1e6
      System.err.println(
        f"[bench:sample] $name $sec%.3fs cachedRdds=${infos.length} cachedMb=$cachedMb%.1f")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    // comma-separated substrings, any-match ("q51,q70" runs both) —
    // forensics runs need the whole pipeline family, not one query
    val nameFilter: Option[Seq[String]] =
      args.headOption.map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    def keep(name: String): Boolean = nameFilter.forall(_.exists(name.contains))
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.quietBenignWarns()
    // Untimed warmup: JIT + codegen + parquet reader init, so the first
    // timed query measures the query, not JVM startup.
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "lineitem").limit(1000)
      .write.format("noop").mode("overwrite").save()
    // (sample teardown — cache clear + persistent-RDD release — happens
    // inside timedRun, OUTSIDE the timed window, so cache-heavy queries
    // aren't billed for their own unpersist and nothing leaks into the
    // next repeat or the next query)
    // A query all of whose repeats fail must be LOUD in the artifact
    // (round-5 lesson: q79's sf0.1 crash silently dropped it from the
    // totals while correctness at sf0.01 stayed green) — collect names
    // here and emit them as a "failed" array in the summary JSON.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val coldRuns = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => keep(name) }
      .flatMap { case (name, fn) =>
        val samples = (0 until repeats).flatMap { _ =>
          timedRun(spark, name)(
            fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        }
        if (samples.isEmpty) { failed += name; None }
        else Some((name, median(samples.map(_._1)), median(samples.map(_._2))))
      }
    val results = coldRuns.map { case (n, sec, _) => n -> sec }
    val gcResults = coldRuns.map { case (n, _, gc) => n -> gc }
    // Pipeline queries share a memoized pair set by design (q46 reuses
    // q24's, q54/q55/q57 cluster over q24/q43/q56's). The cold numbers
    // above clear caches per repeat, billing each of them for the WHOLE
    // shared pipeline rebuild; the _warm twins below time them against a
    // warm memo — the steady-state cost a resident pipeline actually pays.
    // q63-q66 memoize their standing indexes per (session, dir): warm =
    // the steady-state probe/ADC cost a resident pipeline pays, vs cold
    // which re-bills the one-off index/codebook fit every time
    val warmQueries = Seq("q46_edit_distance", "q54_dedup_clusters",
      "q55_embedding_clusters", "q57_lsh_embedding_clusters",
      "q63_incremental_minhash", "q64_incremental_embedding",
      "q65_ann_pq", "q66_ann_ivfpq")
    val warmResults = warmQueries
      .filter(keep)
      .flatMap(name => SparkEntry.queries.get(name).map(name -> _))
      .flatMap { case (name, fn) =>
        // the priming run warms the memo; if IT fails the query is
        // broken — log and skip rather than abort the whole bench
        val primed =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] ${name}_warm priming failed: ${e.getMessage}")
            false
          }
        if (!primed) { failed += s"${name}_warm"; None }
        else {
          // warm repeats are sub-second, so extra samples are nearly
          // free — and the median of 5 survives a single contended
          // repeat where the median of 3 does not (r7's q57 warm twin
          // read 4× cold on a shared box; r8 forensics attributed it to
          // contention, and five samples make that class of outlier
          // unable to become the reported number)
          val warmRepeats = math.max(repeats, 5)
          val times = (0 until warmRepeats).flatMap { _ =>
            // no freeAllBlocks between warm repeats — the warm memo IS
            // the measurement — but per-run garbage (localCheckpoint
            // RDDs, dead shuffles) must not compound across repeats;
            // released OUTSIDE the timed window
            freeNonMemoBlocks(spark)
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
              catch { case e: Throwable =>
                System.err.println(s"[bench] ${name}_warm failed: ${e.getMessage}")
                false
              }
            val sec = (System.nanoTime() - t0) / 1e9
            debugSample(spark, s"${name}_warm", sec)
            if (ok) Some(sec) else None
          }
          if (times.isEmpty) { failed += s"${name}_warm"; None }
          else Some(s"${name}_warm" -> median(times))
        }
      }
    Session.freeAllBlocks(spark)

    // Lakehouse-path metrics mirroring BASELINE.md's headline numbers:
    // bulk ingest throughput and the pruned single-symbol filter query.
    // A "lake" name filter runs ONLY these (paired-ratio reruns).
    val lakeMetrics =
      if (keep("lake_metrics")) benchLakehouseMedian(spark, repeats)
      else Seq.empty
    // total sums cold SECONDS only — warm twins are supplementary
    // measurements of the same queries (double-counting them would
    // inflate the round-over-round total), ratios are not seconds
    val total = results.map(_._2).sum +
      lakeMetrics.filterNot(_._1.startsWith("storage_")).map(_._2).sum
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The driver's artifact capture is TAIL-bounded AND short (the r6
    // line lost q01-q24's keys to truncation at ~2 KB), so the emitted
    // line is kept compact: catalog keys shortened to their qNN prefix,
    // times at ms resolution, gc entries only where GC actually showed
    // up, and the per-query map LAST (round 5 lost every wall time to a
    // trailing gc_sec map). The FULL-fidelity record (full names, full
    // precision) goes to BENCH_FULL.json alongside — nothing is lost.
    def shortKey(k: String): String = {
      val m = "^(q\\d+)_.*_warm$".r.findFirstMatchIn(k).map(_.group(1) + "w")
      m.orElse("^(q\\d+)_.*".r.findFirstMatchIn(k).map(_.group(1))).getOrElse(k)
    }
    def fmt(v: Double): String = f"$v%.3f"
    val qs = (results ++ warmResults ++ lakeMetrics)
      .map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // per-query GC seconds (median over repeats): a query whose cost
    // swings while its gc share swings with it is an environment
    // problem, not a plan problem. Near-zero entries add no signal and
    // would crowd the capture window — full map lives in BENCH_FULL.
    val gcs = gcResults.filter(_._2 >= 0.05)
      .map { case (k, v) => "\"" + shortKey(k) + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullJson = {
      val q = (results ++ warmResults ++ lakeMetrics)
        .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
      val g = gcResults.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","failed":$failedArr,"gc_sec":$g,"queries":$q}"""
    }
    // Anchor the full record to the repo root (the dir holding build.sbt,
    // walking up from the JVM's cwd), not the cwd itself — sbt forks and
    // driver invocations differ in cwd, and a relative write can silently
    // diverge from the checked-in BENCH_FULL.json the round commits.
    // SPARK_GRAFT_BENCH_OUT overrides; the resolved path is echoed.
    // FILTERED runs (forensics on a query subset) write a separate file:
    // a subset record silently replacing the round's full-catalog record
    // is exactly how r8 briefly lost one.
    val fullName =
      if (nameFilter.isDefined) "BENCH_FILTERED.json" else "BENCH_FULL.json"
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val cwd = java.nio.file.Paths.get(
          sys.props.getOrElse("user.dir", ".")).toAbsolutePath
        Iterator.iterate(cwd)(_.getParent).takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
          .getOrElse(cwd)
          .resolve(fullName)
      }
    try {
      java.nio.file.Files.writeString(fullPath, fullJson + "\n")
      System.err.println(s"[bench] full record: $fullPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $fullPath write failed: ${e.getMessage}")
    }
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","failed":$failedArr,"gc_sec":$gcs,"queries":$qs}""")
    spark.stop()
  }

  /** Median of `repeats` full lakehouse-path runs, each on a fresh temp
    * dir. The storage-ratio comparison (CSV vs parquet byte sizes) is
    * deterministic, so it is measured on the first run only — repeating
    * it would just re-write 2M CSV rows for an identical ratio.
    */
  private def benchLakehouseMedian(
      spark: SparkSession, repeats: Int): Seq[(String, Double)] = {
    val runs = (0 until repeats).map(i =>
      benchLakehouse(spark, measureStorage = i == 0).toMap)
    runs.head.keys.toSeq.sorted.map { k =>
      k -> median(runs.flatMap(_.get(k)))
    }
  }

  /** Ingest 200k bars across 20 symbols × 10 days, then run the pruned
    * single-symbol + date-range query (BASELINE.md rows 1 and 8).
    *
    * Every symbol trades on EVERY day (day index cycles on i/20, symbol
    * on i%20): rounds 1-5 derived the day from i%10, which is fully
    * determined by i%20 — so SYM7 existed only on day 7 and the "pruned
    * filter" timed an empty result (pure metadata, no scan). The pruned
    * query must return real rows to be an honest numerator, and the
    * table partitions by (date, symbol) so the prune actually lands on
    * exactly the queried files — partition by what you filter on.
    */
  private def benchLakehouse(
      spark: SparkSession,
      measureStorage: Boolean): Seq[(String, Double)] = {
    import java.sql.Timestamp
    import graft.sources.DataLakehouse
    val root = java.nio.file.Files.createTempDirectory("benchlake").toString
    val lake = new DataLakehouse(spark, root,
      partitionCols = Seq("date", "symbol"))
    val n = 200000
    val bars = (0 until n).map { i =>
      OhlcvBar(
        symbol = s"SYM${i % 20}",
        timestamp = new Timestamp(1718409600000L + ((i / 20) % 10) * 86400000L +
          (i / 200) * 1000L),
        open = 100 + (i % 50), high = 160 + (i % 50), low = 90 + (i % 50),
        close = 120 + (i % 50), volume = 1000L + i,
        asset_class = AssetClass.Equity)
    }
    val t0 = System.nanoTime()
    lake.ingestBatch(bars)
    val ingestSec = (System.nanoTime() - t0) / 1e9

    // Untimed metadata warmup on a DIFFERENT symbol: the txn-log parse
    // (commits -> caches) is a one-time per-process cost that would
    // otherwise bill ONLY the pruned query (the full scan, running
    // later, would inherit warm caches) — both timed queries should
    // measure query work, not who went first.
    lake.query(symbol = Some("SYM3"),
      start = Some(new Timestamp(1718496000000L)),
      end = Some(new Timestamp(1718582400000L)))
      .df.write.format("noop").mode("overwrite").save()

    val t1 = System.nanoTime()
    val qr = lake.query(
      symbol = Some("SYM7"),
      start = Some(new Timestamp(1718496000000L)),
      end = Some(new Timestamp(1718582400000L)))
    qr.df.write.format("noop").mode("overwrite").save()
    val querySec = (System.nanoTime() - t1) / 1e9

    // DataFrame-native append: 2M synthesized bars straight through
    // validation + clustering + parquet + txn commit, no driver-side
    // materialization — the scale-path ingest (streaming foreachBatch
    // takes exactly this route).
    import org.apache.spark.sql.functions._
    // realistic price shapes (cents) — synthetic integers would flatter
    // the CSV side of the storage comparison
    val cents = pmod(col("id") * 37L, lit(100)).cast("double") / 100.0
    val df2m = spark.range(2000000).select(
      concat(lit("SYM"), pmod(col("id"), lit(20))).as("symbol"),
      timestamp_millis(lit(1718409600000L)
        + pmod(floor(col("id") / 20).cast("long"), lit(10)) * 86400000L
        + (col("id") / 200).cast("long")).as("timestamp"),
      (lit(100.0) + pmod(col("id"), lit(50)) + cents).as("open"),
      (lit(160.0) + pmod(col("id"), lit(50)) + cents).as("high"),
      (lit(90.0) + pmod(col("id"), lit(50)) + cents).as("low"),
      (lit(120.0) + pmod(col("id"), lit(50)) + cents).as("close"),
      (lit(1000L) + col("id")).as("volume"),
      lit("equity").as("asset_class"))
    val t2 = System.nanoTime()
    lake.appendDF(df2m)
    val appendSec = (System.nanoTime() - t2) / 1e9

    // BASELINE.md bench-protocol bullet 1: pruned filter ≫ full scan.
    val t3 = System.nanoTime()
    lake.query().df.write.format("noop").mode("overwrite").save()
    val fullScanSec = (System.nanoTime() - t3) / 1e9

    // BASELINE.md bench-protocol bullet 3: parquet+snappy ≤ 1/6 of CSV.
    def dirBytes(p: String, suffix: String): Long = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try walk.iterator().asScala
        .filter(f => f.toString.endsWith(suffix))
        .map(java.nio.file.Files.size).sum
      finally walk.close()
    }
    val storageMetric = if (measureStorage) {
      val csvRoot = java.nio.file.Files.createTempDirectory("benchcsv").toString
      val csvLake = new DataLakehouse(spark, csvRoot, format = "csv")
      csvLake.appendDF(df2m)
      val ratio =
        dirBytes(csvRoot, ".csv").toDouble / dirBytes(root, ".parquet")
      deleteRecursively(csvRoot)
      // Delta-codec experiment (reference README.md:170-172, "What I'd
      // Improve"): per-(symbol,day) integer-cent price deltas vs the
      // SAME absolute-price layout — identical partitioning, clustering
      // sort, and zstd on both sides, so the ratio isolates the codec.
      // < 1.0 is a codec win.
      // the sort LEADS with the partition column (the DataLakehouse
      // clusterSortKeys discipline): partitionBy's writer otherwise
      // re-sorts by date alone, unstably, destroying the clustering
      def writeLayout(df: org.apache.spark.sql.DataFrame): String = {
        val dir = java.nio.file.Files.createTempDirectory("benchcodec").toString
        df.withColumn("date", to_date(col("timestamp")))
          .repartition(col("date"))
          .sortWithinPartitions(col("date"), col("symbol"),
            col("timestamp"), col("volume"))
          .write.partitionBy("date").option("compression", "zstd")
          .mode("overwrite").parquet(dir)
        dir
      }
      val priceCols = Seq("open", "high", "low", "close")
      // the codec fixture replaces df2m's cyclic prices (100 distinct
      // values — dictionary-perfect already, which would hide ANY
      // codec) with a bounded cent random WALK per symbol: the actual
      // market shape, where absolutes accumulate a wide value range and
      // tick-to-tick deltas stay in a ±25-cent alphabet
      val wWalk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("symbol")).orderBy(col("timestamp"), col("volume"))
      def walkPx(seed: Int) =
        ((lit(10000L + seed * 100L) +
          sum(pmod(xxhash64(col("volume"), lit(seed)), lit(51)) - lit(25))
            .over(wWalk)).cast("double") / 100.0).as(priceCols(seed - 1))
      val walk2m = df2m.select(
        col("symbol") +: col("timestamp") +: col("volume") +:
          col("asset_class") +: (1 to 4).map(walkPx): _*)
      val absRoot = writeLayout(walk2m)
      // (timestamp, volume) is a unique order key per (symbol, date) in
      // df2m (volume = 1000 + id), so the codec's default storage-free
      // ordering mode applies
      val encRoot = writeLayout(
        graft.sources.StorageCodec.encodeDeltas(
          walk2m.withColumn("date", to_date(col("timestamp"))),
          priceCols, "symbol", Seq("timestamp", "volume"),
          groupCols = Seq("date")))
      val deltaRatio =
        dirBytes(encRoot, ".parquet").toDouble / dirBytes(absRoot, ".parquet")
      def priceBytes(dir: String) = {
        val m = graft.sources.StorageCodec.parquetColumnBytes(dir)
        priceCols.map(m.getOrElse(_, 0L)).sum
      }
      val priceRatio = priceBytes(encRoot).toDouble / priceBytes(absRoot)
      deleteRecursively(absRoot); deleteRecursively(encRoot)
      Seq("storage_csv_over_parquet" -> ratio,
        "storage_delta_over_absolute" -> deltaRatio,
        "storage_delta_price_ratio" -> priceRatio)
    } else Seq.empty
    deleteRecursively(root)

    Seq("lake_ingest_200k" -> ingestSec, "lake_pruned_filter" -> querySec,
      "lake_append_2m" -> appendSec, "lake_full_scan" -> fullScanSec) ++
      storageMetric
  }

  private def deleteRecursively(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }
  }
}
