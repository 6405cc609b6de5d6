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
  * recorded (one stat per such file, never a listing).
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

    assert(rels(lake, all.df) == snapshot)
    assert(rels(lake, aapl.df) == snapshot) // every file spans both symbols
    assert(rels(lake, view) == snapshot)
    assert(rowsOf(all.df) == expected(bars))
    assert(rowsOf(aapl.df) == expected(bars.filter(_.symbol == "AAPL")))
    assert(rowsOf(view) == expected(bars))
    assert(vwap.collect().map(_.getString(0)).sorted.toSeq == Seq("AAPL", "MSFT"))
    assert(lake.statFallbacks.get() == 0)
  }

  /** Drop the per-file length records from every commit and checkpoint,
    * leaving the log as a writer that did not record them leaves it.
    */
  private def stripSizes(root: String): Int = {
    val mapper = new ObjectMapper()
    val logFiles = Files.list(Paths.get(root, "_txn_log"))
    try logFiles.iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".json") &&
        !p.getFileName.toString.endsWith(".tombs.json"))
      .count { p =>
        val node = mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode]
        val had = node.remove("fileSizes") != null
        Files.write(p, mapper.writeValueAsBytes(node))
        had
      }
    finally logFiles.close()
  }

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
