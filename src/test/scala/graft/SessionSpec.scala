package graft

import org.apache.spark.storage.StorageLevel

import graft.queries.DedupQueries

/** The engine session and its memo: the suites run under the confs Bench
  * times, and [[SessionMemo]] reuses, bounds and re-heals what it holds.
  */
class SessionSpec extends SparkSpec {
  import spark.implicits._

  test("the shared test session carries the engine confs") {
    val conf = spark.sparkContext.getConf
    val cores = spark.sparkContext.defaultParallelism
    assert(spark.sparkContext.master == s"local[$cores]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize") == "128k")
    assert(conf.get("spark.cleaner.periodicGC.interval") == "1min")
    assert(conf.get("spark.ui.enabled") == "false")
  }

  test("SessionMemo returns the same value for a repeated key without rebuilding") {
    val memo = new SessionMemo
    var builds = 0
    def get() = memo(spark, "dirA", "k") {
      builds += 1
      (spark.range(3).toDF("id"), () => ())
    }
    val first = get()
    assert(get() eq first)
    assert(builds == 1)
  }

  test("touching a second dir runs the first dir's release thunks") {
    val memo = new SessionMemo
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    def get(dir: String, key: String) =
      memo(spark, dir, key)((s"$dir/$key", () => released += s"$dir/$key"))
    get("dirA", "x"); get("dirA", "y")
    assert(released.isEmpty)
    assert(get("dirB", "x") == "dirB/x")
    assert(released.sorted == Seq("dirA/x", "dirA/y"))
    // dirA's entries are gone: touching it again rebuilds and releases dirB's
    get("dirA", "x")
    assert(released.last == "dirB/x")
  }

  test("a pair set whose blocks an external clearCache dropped is persisted again on its next read") {
    val dir = tempDir("session-pairs")
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "an entirely different sentence about market data feeds"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    val pairs = DedupQueries.neardupPairs(spark, dir)
    assert(pairs.storageLevel != StorageLevel.NONE)
    val rows = pairs.select("a_id", "b_id").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((1L, 2L)))
    spark.sharedState.cacheManager.clearCache()
    assert(pairs.storageLevel == StorageLevel.NONE)
    val again = DedupQueries.neardupPairs(spark, dir)
    assert(again eq pairs)
    assert(again.storageLevel != StorageLevel.NONE)
  }
}
