package graft
import java.sql.Timestamp
import graft.sources.DataLakehouse
import graft.streaming.Streaming
object LakeDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("lakedemo").toString
    val lake = new DataLakehouse(spark, root, batchSize = 5)
    def bar(d: String, sym: String, i: Int) = OhlcvBar(sym, Timestamp.valueOf(s"$d 10:0$i:00"),
      150+i, 155+i, 149+i, 153+i, 1000000L+i, AssetClass.Equity)
    // multi-day ingest incl. one invalid bar
    val bars = (0 to 4).flatMap(i => Seq(bar(s"2024-06-1$i", "AAPL", i), bar(s"2024-06-1$i", "GOOGL", i)))
    val stats = lake.ingestBatch(bars :+ bar("2024-06-15", "BAD", 0).copy(high = 1, low = 2))
    println(s"STATS rows=${stats.rowsIngested} parts=${stats.partitionsWritten} errs=${stats.errors}")
    println("PARTITIONS " + lake.listPartitions().mkString(","))
    val qr = lake.query(symbol = Some("AAPL"), start = Some(Timestamp.valueOf("2024-06-11 00:00:00")),
      end = Some(Timestamp.valueOf("2024-06-12 23:59:59")))
    println(s"QUERY count=${qr.count} scanned=${qr.totalRowsScanned} timeMs>=0=${qr.queryTimeMs >= 0}")
    qr.df.show(5)
    // second commit + time travel + compact + vacuum
    lake.ingestBatch(Seq(bar("2024-06-10", "MSFT", 1)))
    println(s"V0=${lake.timeTravel(0).count()} V1=${lake.timeTravel(1).count()} HEAD=${lake.query().count}")
    lake.compact(); println(s"AFTER_COMPACT head=${lake.query().count} files=${lake.txnLog.snapshotFiles().size} vacuumed=${lake.vacuum(retainMs = 0L)}")
    println("SQL_VWAP:"); lake.sql("SELECT symbol, SUM(close*volume)/SUM(volume) AS vwap FROM trades GROUP BY symbol ORDER BY vwap DESC, symbol").show()
    // probe: time travel to a version beyond head
    println(s"TT_FUTURE=${lake.timeTravel(99).count()}")
    // probe: query with start > end
    println(s"EMPTY_RANGE=${lake.query(start = Some(Timestamp.valueOf("2025-01-01 00:00:00")), end = Some(Timestamp.valueOf("2024-01-01 00:00:00"))).count}")
    spark.stop()
  }
}
