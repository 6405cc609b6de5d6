package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-data table loader for the driver's synthetic star schema
  * (TESTDATA.md). One parquet file per table under the given sf dir.
  *
  * `events.ts` has been generated with TWO physical encodings across
  * testdata regenerations, and the loader handles both by branching on the
  * READ dtype (the round-6 regen silently flipped ns→µs and broke every
  * events query — never assume the footer again):
  *
  *  - parquet `timestamp[ns]`: Spark's TimestampType is µs-precision and
  *    Spark 4.x refuses TIMESTAMP(NANOS) outright (PARQUET_TYPE_ILLEGAL)
  *    unless `spark.sql.legacy.parquet.nanosAsLong` is set, which reads the
  *    column as a raw epoch-ns Long (SURVEY.md §7.4 — same ns-vs-µs boundary
  *    as the reference's TickData, README.md:72-74).
  *  - parquet `timestamp[us]` (current testdata): read natively as
  *    TimestampType. `inferTimestampNTZ` is disabled so isAdjustedToUTC=false
  *    files land as TimestampType too, making `unix_micros(ts)` return the
  *    stored epoch-µs independent of the session timezone.
  *
  * Either way the loaded frame exposes the SAME three columns — `ts_ns`
  * (epoch-ns Long, full engine-side fidelity), `ts_us` (epoch-µs Long, the
  * portable oracle resolution: DuckDB floors timestamp[ns] to µs on read),
  * and `ts` (µs TimestampType) — so every downstream query is
  * encoding-agnostic.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Silence the two benign-by-construction WARN sources that otherwise
    * pollute the bench/verify stderr tail (the only channel the driver
    * captures): the CC pipeline intentionally unpersists locally-
    * checkpointed round intermediates it will never recompute (the WARN
    * fires from the RDD's class logger on every free), and the memo
    * layer's ensureCached self-heal re-requests caching idempotently
    * (CacheManager's "already cached" WARN). Scoped to the two exact
    * loggers — every other Spark WARN still surfaces.
    */
  def quietBenignWarns(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    Seq("org.apache.spark.rdd.MapPartitionsRDD",
      "org.apache.spark.sql.execution.CacheManager")
      .foreach(Configurator.setLevel(_, Level.ERROR))
    LogManager.getLogger(getClass) // force-touch so the config applies
  }

  // Loaded-table memo: `spark.read.parquet` resolves the footer EAGERLY
  // on every call, and the 100-query catalog calls load() several hundred
  // times per bench/verify run against directories that never change
  // within a session (the sf testdata is static; spec fixture dirs are
  // createTempDirectory-unique and write-once). Memoizing the resolved
  // DataFrame (a plan object — no persisted blocks, so nothing to
  // release) removes that repeated metadata IO from every query's fixed
  // cost.
  private val memo = new SessionMemo

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo(spark, sfDir, name)((doLoad(spark, sfDir, name), () => ()))

  private def doLoad(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, lit, timestamp_micros, unix_micros}
      import org.apache.spark.sql.types.{LongType, TimestampType}
      // The two dtype confs are needed only during SCHEMA INFERENCE of
      // this one read (`spark.read.parquet` resolves the footer eagerly);
      // leaving them flipped session-wide silently changes dtype
      // semantics for every other parquet read (unrelated ns columns →
      // raw Long; NTZ inference off everywhere). So: set, read, restore.
      // Exception: when the footer IS timestamp[ns], the scan consults
      // nanosAsLong again at EXECUTION, so the confs must stay for the
      // session — a documented side effect of the legacy-ns path only
      // (fixture data today; current testdata is µs).
      val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"
      val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
      val prevNanos = spark.conf.getOption(nanosKey)
      val prevNtz = spark.conf.getOption(ntzKey)
      spark.conf.set(nanosKey, "true")
      spark.conf.set(ntzKey, "false")
      val raw = spark.read.parquet(s"$sfDir/events.parquet")
      if (raw.schema("ts").dataType != LongType) {
        // µs path: execution reads TIMESTAMP(MICROS) against the already-
        // resolved TimestampType plan — neither conf is consulted again
        // (Spark's reader accepts NTZ-physical → LTZ-catalyst; only the
        // reverse direction throws). Restore the pre-call state.
        def restore(key: String, prev: Option[String]): Unit =
          prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
        restore(nanosKey, prevNanos)
        restore(ntzKey, prevNtz)
      }
      val prepared = raw.schema("ts").dataType match {
        case LongType => // timestamp[ns] read as raw epoch-ns Long
          raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_us", expr("ts_ns div 1000"))
            .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
        case TimestampType => // timestamp[us] read natively
          // `ts` stays the RAW parquet column — a range predicate on it
          // pushes to the scan (PushedFilters), which a predicate on the
          // derived ts_ns/ts_us expressions never would. Queries that
          // want row-group skipping on event time must filter on `ts`.
          raw.withColumn("ts_us", unix_micros(col("ts")))
            .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // A Spark-default-written events table: the writer session read
          // isAdjustedToUTC=false as NTZ (inferTimestampNTZ defaults on)
          // and pinned TimestampNTZType in the file's Spark row metadata,
          // which overrides the inferTimestampNTZ=false set above. Under
          // the project-wide UTC session the NTZ wall-clock IS the stored
          // epoch, so the cast is value-identical to the native-µs branch.
          // Caveat: the cast sits above the scan, so ts predicates don't
          // reach PushedFilters for this encoding — acceptable for a
          // drifted re-materialization; the canonical testdata stays on
          // the native branch.
          raw.withColumn("ts", col("ts").cast(TimestampType))
            .withColumn("ts_us", unix_micros(col("ts")))
            .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
        case other =>
          sys.error(
            s"events.ts read as unsupported dtype $other — testdata drift? " +
              "The loader handles parquet timestamp[ns] (via nanosAsLong → Long) " +
              "and timestamp[us] (TimestampType). Extend Tables.load for the new encoding.")
      }
      // canonical column order regardless of encoding: the raw schema with
      // `ts` in place, then ts_ns, ts_us appended
      prepared.select(
        raw.columns.map(col).toIndexedSeq ++ Seq(col("ts_ns"), col("ts_us")): _*)
    } else spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** [[load]] + unsplittable-input spread (optimization guide §2.5): the
    * sf fixture tables are SINGLE ROW-GROUP parquet files, so every scan
    * — whatever the split count says — delivers all rows in ONE task (a
    * parquet split only reads row groups whose midpoint falls in its
    * byte range) and serializes the per-row kernels (tokenize/shingle/
    * hash/dot/ADC) that dominate this catalog; r17's 8-vs-32-core
    * scaling block was flat for exactly this reason. Reads of sub-split
    * tables are spread across the session's cores with one round-robin
    * exchange (deterministic under retry: sortBeforeRepartition is on by
    * default). Tables past one default split-size load unchanged — at
    * production scale the row-group population provides the parallelism
    * and the exchange would be a full extra pass, so it exists exactly
    * when it is cheap (≤ `spreadMaxBytes` shuffled once).
    *
    * OPT-IN per query path, not the default: the exchange plus its
    * 2×cores task launches costs ~0.2-0.5 s at sf0.1, which the heavy
    * per-row kernels repay many times over but a sub-second scalar
    * aggregate/join does not (measured: ×1.4-×5 on the kernel family,
    * ×0.3-0.5 REGRESSIONS on the short-query tail when this was applied
    * inside [[load]] unconditionally). Callers whose downstream work is
    * per-row compute use this; everything else stays on [[load]].
    */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame =
    maybeSpread(spark, load(spark, sfDir, name), s"$sfDir/$name.parquet")

  private val spreadMaxBytes = 128L << 20
  private def maybeSpread(
      spark: SparkSession, df: DataFrame, path: String): DataFrame = {
    import java.nio.file.{Files, InvalidPathException, Paths}
    val bytes =
      try {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(Paths.get(path))
        try walk.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        finally walk.close()
      } catch { // non-local or unreadable: no spread
        case _: java.io.IOException | _: java.io.UncheckedIOException |
            _: InvalidPathException => Long.MaxValue
      }
    if (bytes <= spreadMaxBytes)
      df.repartition(spark.sparkContext.defaultParallelism)
    else df
  }

  /** Register every table as a temp view (SURVEY §2.1 S12 table registry). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
