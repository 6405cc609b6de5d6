package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-clock otherwise).
  */
object SharedSpark {
  lazy val spark: SparkSession = Session.builder(4)
    .appName("graft-tests")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SharedSpark.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

/** Counts the Spark jobs a block starts: the block runs under a fresh job
  * group, and a marker job after it proves the listener has seen every
  * earlier job start (one listener queue delivers events in order).
  * `close()` removes the listener.
  */
final class JobCounter(spark: SparkSession) {
  private val groups = new ConcurrentLinkedQueue[String]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      groups.add(Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
  }
  spark.sparkContext.addSparkListener(listener)

  /** `body`'s result and the jobs it started. */
  def during[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"probe-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(tag, "job count probe")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-end", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!groups.contains(s"$tag-end") && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(groups.contains(s"$tag-end"), "listener never saw the marker job")
    (out, groups.asScala.count(_ == tag))
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}
