package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.sources.DataLakehouse

/** Lake reads take their files from the txn log: planning a read lists
  * no directory, stats no file and starts no job before the read's own
  * action — at any file count (Spark's generic file source runs a listing
  * job past 32 paths), and on logs written before file lengths were
  * recorded (one stat per such file, never a listing). The sort is
  * planned from the log too: each file's largest one-symbol row count,
  * recorded by every path that adds a file, bounds a one-symbol read.
  */
class LakeReadSpec extends SparkSpec {

  private lazy val counter = new JobCounter(spark)

  override def afterAll(): Unit = {
    counter.close()
    super.afterAll()
  }

  private def bar(sym: String, day: Int, minute: Int) = OhlcvBar(sym,
    new Timestamp(Timestamp.valueOf("2024-05-01 09:30:00").getTime +
      day * 86400000L + minute * 60000L),
    100.0 + minute, 101.0 + minute, 99.0 + minute, 100.5 + minute,
    1000L + 7L * day + minute, AssetClass.Equity)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("symbol", "timestamp", "open", "volume", "date").collect()
      .map(_.toString).toSeq.sorted

  private def expected(bars: Seq[OhlcvBar]): Seq[String] = {
    import spark.implicits._
    rowsOf(bars.toDF().withColumn("date", model.dateKey))
  }

  private def rels(lake: DataLakehouse, df: org.apache.spark.sql.DataFrame) = {
    val root = Paths.get(lake.root).toAbsolutePath.normalize
    df.inputFiles.map(u => root.relativize(Paths.get(new java.net.URI(u))).toString).toSet
  }

  test("query, symbol query and sql over 42 files start no job before their action") {
    import spark.implicits._
    val lake = new DataLakehouse(spark, tempDir("logread"))
    // one file per date: 42 files, past Spark's 32-path listing threshold
    val bars = for (d <- 0 until 42; s <- Seq("AAPL", "MSFT"); m <- 0 until 3)
      yield bar(s, d, m)
    lake.appendDF(bars.toDF())
    val snapshot = lake.txnLog.snapshotFiles().toSet
    assert(snapshot.size == 42)

    val (all, j1) = counter.during(lake.query())
    val (aapl, j2) = counter.during(lake.query(symbol = Some("AAPL")))
    val (vwap, j3) = counter.during(lake.sql(
      "SELECT symbol, SUM(close * volume) / SUM(volume) AS vwap FROM trades GROUP BY symbol"))
    val (view, j4) = counter.during(lake.sql("SELECT * FROM trades"))
    assert((j1, j2, j3, j4) == ((0, 0, 0, 0)))
    val (_, aaplJobs) = counter.during(aapl.df.collect())
    assert(aaplJobs <= 2, s"the symbol read ran $aaplJobs jobs")

    assert(rels(lake, all.df) == snapshot)
    assert(rels(lake, aapl.df) == snapshot) // every file spans both symbols
    assert(rels(lake, view) == snapshot)
    assert(rowsOf(all.df) == expected(bars))
    assert(rowsOf(aapl.df) == expected(bars.filter(_.symbol == "AAPL")))
    assert(rowsOf(view) == expected(bars))
    assert(vwap.collect().map(_.getString(0)).sorted.toSeq == Seq("AAPL", "MSFT"))
    assert(lake.statFallbacks.get() == 0)
  }

  /** Apply `strip` to every commit and checkpoint of the log at `root`;
    * returns how many of them it reported a removal from.
    */
  private def stripLog(root: String)(strip: ObjectNode => Boolean): Int = {
    val mapper = new ObjectMapper()
    val logFiles = Files.list(Paths.get(root, "_txn_log"))
    try logFiles.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.endsWith(".tombs.json"))
      .count { p =>
        val node = mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode]
        val had = strip(node)
        Files.write(p, mapper.writeValueAsBytes(node))
        had
      }
    finally logFiles.close()
  }

  /** Drop the per-file length records from every commit and checkpoint,
    * leaving the log as a writer that did not record them leaves it.
    */
  private def stripSizes(root: String): Int =
    stripLog(root)(_.remove("fileSizes") != null)

  /** The per-file stat records of a commit or checkpoint. */
  private def fileStatEntries(node: ObjectNode): List[ObjectNode] =
    Option(node.get("fileStats")).toList
      .flatMap(_.elements().asScala.map(_.asInstanceOf[ObjectNode]))

  test("a log without file lengths reads the same rows: one stat per file, no listing job") {
    val root = tempDir("nosizes")
    val writer = new DataLakehouse(spark, root)
    // 12 commits: a checkpoint at v10 plus a commit tail
    val days = (0 until 12).map(d => Seq(bar("AAPL", d, 0), bar("IBM", d, 1)))
    days.foreach(writer.ingestBatch)
    val bars = days.flatten
    assert(Files.exists(Paths.get(root, "_txn_log", "checkpoint-v00000010.json")))
    val v4 = 4L
    val before = rowsOf(writer.query().df)
    val before4 = rowsOf(writer.query(asOfVersion = Some(v4)).df)
    assert(before == expected(bars))
    assert(stripSizes(root) == 13) // 12 commits + 1 checkpoint carried lengths

    val lake = new DataLakehouse(spark, root) // cold log caches
    assert(lake.txnLog.fileSizesAt().isEmpty)
    val (q, jobs) = counter.during(lake.query())
    assert(jobs == 0)
    assert(lake.statFallbacks.get() == 12) // one stat per live file
    assert(rowsOf(q.df) == before)
    assert(rowsOf(lake.query(asOfVersion = Some(v4)).df) == before4)
    val (sqlDf, sqlJobs) = counter.during(lake.sql("SELECT * FROM trades"))
    assert(sqlJobs == 0)
    assert(rowsOf(sqlDf) == before)

    // compaction rewrites into files whose lengths are logged again, and
    // vacuum deletes the originals: a read of the pre-compaction version
    // must fail loudly (the stat of a missing file), never read empty
    lake.compact(maxFilesPerPartition = 0)
    assert(lake.vacuum(retainMs = 0L) == 12)
    val after = new DataLakehouse(spark, root)
    assert(after.txnLog.fileSizesAt().keySet == after.txnLog.snapshotFiles().toSet)
    assert(rowsOf(after.query().df) == before)
    intercept[java.io.FileNotFoundException] {
      after.query(asOfVersion = Some(v4))
    }
  }

  /** Each live file's largest one-symbol row count, counted by a scan. */
  private def scannedSymbolCounts(lake: DataLakehouse): Map[String, Long] = {
    import org.apache.spark.sql.functions.{col, input_file_name, max}
    val root = Paths.get(lake.root).toAbsolutePath.normalize
    lake.sql("SELECT * FROM trades")
      .groupBy(input_file_name().as("f"), col("symbol")).count()
      .groupBy("f").agg(max("count")).collect()
      .map(r => root.relativize(Paths.get(new java.net.URI(r.getString(0)))).toString ->
        r.getLong(1))
      .toMap
  }

  /** `files` are logged with the count a scan finds in them. */
  private def assertCounted(lake: DataLakehouse, files: Set[String]): Unit = {
    assert(files.nonEmpty)
    val logged = lake.txnLog.fileStatsAt()
    val scanned = scannedSymbolCounts(lake)
    files.foreach { f =>
      assert(logged.get(f).flatMap(_.maxSymbolRows) == scanned.get(f), f)
    }
  }

  test("a skewed file logs its dominant symbol's count, whichever symbol dominates") {
    import spark.implicits._
    val lake = new DataLakehouse(spark, tempDir("skew"))
    val syms = Seq("AAPL", "IBM", "MSFT", "ZM")
    // day d: syms(d) holds 270 of the file's 300 rows, the others 10 each
    val bars = for ((hot, d) <- syms.zipWithIndex; s <- syms;
      m <- 0 until (if (s == hot) 270 else 10)) yield bar(s, d, m)
    lake.appendDF(bars.toDF())
    val stats = lake.txnLog.fileStatsAt()
    assert(stats.size == 4)
    assert(stats.values.map(_.maxSymbolRows).toSet == Set(Some(270L)))
    assertCounted(lake, stats.keySet)
  }

  test("every adding path logs the one-symbol count; restore and clone copy it") {
    import spark.implicits._
    val lake = new DataLakehouse(spark, tempDir("counts"))
    def day(d: Int, perSymbol: Seq[(String, Int)]) =
      for ((s, n) <- perSymbol; m <- 0 until n) yield bar(s, d, m)
    def live = lake.txnLog.snapshotFiles().toSet
    def addedBy(op: => Any): Set[String] = {
      val before = live
      op
      live -- before
    }
    lake.appendDF((day(0, Seq("AAPL" -> 5, "IBM" -> 2)) ++ day(1, Seq("IBM" -> 4))).toDF())
    val v0 = lake.txnLog.currentVersion()

    assertCounted(lake, addedBy(lake.overwriteDF(
      (day(0, Seq("AAPL" -> 3, "IBM" -> 6)) ++ day(1, Seq("MSFT" -> 7, "IBM" -> 1))).toDF())))
    lake.appendDF((0 until 4).map(m => bar("AAPL", 0, 100 + m)).toDF())
    assertCounted(lake, addedBy(lake.compact(maxFilesPerPartition = 0)))
    assertCounted(lake, addedBy(lake.sql(
      "DELETE FROM trades WHERE symbol = 'IBM' AND date = '2024-05-01' AND volume > 1002")))
    assertCounted(lake, addedBy(lake.sql(
      "UPDATE trades SET symbol = 'AAPL' WHERE symbol = 'MSFT' AND volume < 1010")))

    // a foreign file written without dictionary pages: counted from the
    // plain-encoded values
    val ext = s"${lake.root}/date=2024-05-03/ext"
    val tsType = "spark.sql.parquet.outputTimestampType"
    val prevTsType = spark.conf.get(tsType)
    spark.conf.set(tsType, "TIMESTAMP_MICROS") // the unit the lake logs bounds for
    try day(2, Seq("AAPL" -> 3, "ZM" -> 8)).toDF().coalesce(1).write
      .option("parquet.enable.dictionary", "false").parquet(ext)
    finally spark.conf.set(tsType, prevTsType)
    val extFile = new java.io.File(ext).listFiles().find(_.getName.endsWith(".parquet")).get
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(extFile.toURI), spark.sparkContext.hadoopConfiguration))
    try assert(!footer.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
      .exists(c => c.getPath.toDotString == "symbol" && c.hasDictionaryPage))
    finally footer.close()
    val extRel = s"date=2024-05-03/ext/${extFile.getName}"
    lake.addFiles(Seq(extRel))
    assertCounted(lake, Set(extRel))
    assert(lake.txnLog.fileStatsAt()(extRel).maxSymbolRows.contains(8L))

    val atV0 = lake.txnLog.fileStatsAt(v0)
    val restored = addedBy(lake.restore(v0))
    assert(restored == atV0.keySet)
    assert(lake.txnLog.fileStatsAt().view.filterKeys(restored).toMap == atV0)
    assertCounted(lake, restored)

    val clone = lake.cloneTo(tempDir("countsclone"))
    assert(clone.txnLog.fileStatsAt() == lake.txnLog.fileStatsAt().view.filterKeys(live).toMap)
    assert(clone.txnLog.fileStatsAt().values.forall(_.maxSymbolRows.isDefined))
  }

  test("a one-symbol read over a million rows: logged count, checkpoint, and a log without it") {
    import org.apache.spark.sql.functions._
    val root = tempDir("bigread")
    val writer = new DataLakehouse(spark, root)
    // v0: 1,000,200 rows of one day, 50 symbols, 20,004 rows each
    writer.appendDF(spark.range(1000200L).select(
      concat(lit("S"), (col("id") % 50).cast("string")).as("symbol"),
      timestamp_seconds(lit(1718409600L) + (col("id") / 50).cast("long")).as("timestamp"),
      lit(10.0).as("open"), lit(12.0).as("high"), lit(9.0).as("low"),
      lit(11.0).as("close"), (col("id") % 100 + 1).as("volume"),
      lit(AssetClass.Equity).as("asset_class")))
    // v1-v11: a checkpoint at v10 plus a commit tail
    (0 until 11).foreach(d => writer.ingestBatch(Seq(bar("S7", d, 0), bar("S8", d, 1))))
    val ckpt = Paths.get(root, "_txn_log", "checkpoint-v00000010.json")
    assert(Files.exists(ckpt))
    val mapper = new ObjectMapper()
    val ckptStats = fileStatEntries(mapper.readTree(Files.readAllBytes(ckpt)).asInstanceOf[ObjectNode])
    assert(ckptStats.size == 11)
    assert(ckptStats.map(_.path("sRowsMax").asLong(-1L)).sorted == List.fill(10)(1L) :+ 20004L)

    val lake = new DataLakehouse(spark, root) // cold log caches: checkpoint-seeded
    assert(lake.txnLog.fileStatsAt().values.flatMap(_.maxSymbolRows).toSeq.sorted ==
      Seq.fill(11)(1L) :+ 20004L)
    val (q, planJobs) = counter.during(lake.query(symbol = Some("S7")))
    assert(planJobs == 0)
    assert(q.totalRowsScanned == 1000222L)
    val plan = q.df.queryExecution.executedPlan.toString
    assert(!plan.contains("rangepartitioning"), plan)
    assert(!plan.contains("Coalesce"), plan)
    val (rows, readJobs) = counter.during(q.df.collect().toSeq)
    assert(readJobs <= 2, s"the symbol read ran $readJobs jobs")
    assert(rows.size == 20004 + 11)
    assert(rows == lake.sql("SELECT * FROM trades").filter(col("symbol") === "S7")
      .orderBy(col("timestamp"), col("symbol")).collect().toSeq)

    // every commit and the checkpoint lose the count: the bound falls back
    // to row counts, so the read takes the distributed sort, same rows
    assert(stripLog(root)(node => fileStatEntries(node)
      .map(_.remove("sRowsMax") != null).contains(true)) == 13) // 12 commits + 1 checkpoint
    val old = new DataLakehouse(spark, root)
    assert(old.txnLog.fileStatsAt().values.forall(_.maxSymbolRows.isEmpty))
    val (oq, oldPlanJobs) = counter.during(old.query(symbol = Some("S7")))
    assert(oldPlanJobs == 0)
    assert(oq.df.queryExecution.executedPlan.toString.contains("rangepartitioning"))
    assert(oq.df.collect().toSeq == rows)
  }

  test("with lengths logged, a read of a vacuumed version fails at its scan") {
    val root = tempDir("vacuumed")
    val lake = new DataLakehouse(spark, root)
    lake.ingestBatch(Seq(bar("AAPL", 0, 0)))
    lake.ingestBatch(Seq(bar("AAPL", 0, 1)))
    lake.compact()
    assert(lake.vacuum(retainMs = 0L) == 2)
    val e = intercept[org.apache.spark.SparkException] {
      lake.query(asOfVersion = Some(1L)).df.collect()
    }
    assert(e.getMessage.contains(".parquet"), e.getMessage)
    assert(lake.statFallbacks.get() == 0)
  }
}
