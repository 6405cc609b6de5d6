package graft

import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.functions.{col, udf}

import graft.sources.DataLakehouse

/** Latches the holding UDFs reach by name (a task deserializes its
  * closure, so a captured latch would be a copy).
  */
object MicrosScopeLatches {
  @volatile var aInWrite = new CountDownLatch(1)
  @volatile var bInWrite = new CountDownLatch(1)
  @volatile var aDone = new CountDownLatch(1)
}

/** Parquet timestamp encoding under concurrent writers on one session:
  * the lake scopes `spark.sql.parquet.outputTimestampType` =
  * TIMESTAMP_MICROS around each write. The scope is per session, so two
  * writers share it — the conf must come back to its original value
  * however their scopes interleave, and every file must be INT64 micros
  * (INT96 files carry no row-group stats and are never pruned).
  */
class MicrosScopeSpec extends SparkSpec {
  private val key = "spark.sql.parquet.outputTimestampType"

  private def microsFiles(lake: DataLakehouse): Seq[Boolean] = {
    val conf = spark.sessionState.newHadoopConf()
    lake.txnLog.snapshotFiles().map { rel =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new HadoopPath(s"${lake.root}/$rel"), conf))
      try reader.getFooter.getFileMetaData.getSchema.getType(Seq("timestamp"): _*)
        .getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
          case _ => false
        }
      finally reader.close()
    }
  }

  test("interleaved writers A-enter, B-enter, A-exit, B-exit: conf restored, both write micros") {
    import MicrosScopeLatches._
    implicit val ec: ExecutionContext = ExecutionContext.global
    import spark.implicits._
    aInWrite = new CountDownLatch(1)
    bInWrite = new CountDownLatch(1)
    aDone = new CountDownLatch(1)
    // A's write task waits until B is inside its own write; B's write
    // task waits until A's whole append has returned
    val holdA = udf { (v: Long) =>
      MicrosScopeLatches.aInWrite.countDown()
      MicrosScopeLatches.bInWrite.await(60, TimeUnit.SECONDS)
      v
    }.asNondeterministic()
    val holdB = udf { (v: Long) =>
      MicrosScopeLatches.bInWrite.countDown()
      MicrosScopeLatches.aDone.await(60, TimeUnit.SECONDS)
      v
    }.asNondeterministic()
    def one(sym: String) = Seq(OhlcvBar(sym, Timestamp.valueOf("2024-06-15 10:00:00"),
      10, 12, 9, 11, 100, AssetClass.Equity)).toDF()

    val original = spark.conf.getOption(key)
    spark.conf.unset(key)
    val default = spark.conf.getOption(key) // INT96
    try {
      val lakeA = new DataLakehouse(spark, tempDir("microsA"))
      val lakeB = new DataLakehouse(spark, tempDir("microsB"))
      val a = Future(lakeA.appendDF(one("A").withColumn("volume", holdA(col("volume")))))
      assert(aInWrite.await(60, TimeUnit.SECONDS), "A never reached its write")
      val b = Future(lakeB.appendDF(one("B").withColumn("volume", holdB(col("volume")))))
      assert(Await.result(a, 120.seconds) == 1L) // returns once B is inside
      aDone.countDown()
      assert(Await.result(b, 120.seconds) == 1L)

      assert(spark.conf.getOption(key) == default,
        s"conf left at ${spark.conf.getOption(key)} after both writers exited")
      assert(microsFiles(lakeA) == Seq(true))
      assert(microsFiles(lakeB) == Seq(true))
      assert(lakeA.txnLog.fileStatsAt().size == 1 && lakeB.txnLog.fileStatsAt().size == 1)
    } finally {
      aDone.countDown(); bInWrite.countDown()
      original match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}
