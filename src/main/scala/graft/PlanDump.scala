package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round evidence capture (guide §1.1/§7.2): for each named
  * catalog query, write `.explain("formatted")` plus measured execution
  * counters (jobs, stages, shuffle bytes) to
  * `plans/<tag>/<name>_<suffix>.txt`.
  *
  * The counters matter because several catalog operators are EAGER
  * pipelines (jaccardPairs & friends materialize internally), so the
  * returned frame's plan alone shows only the final cached scan — the
  * job/stage/shuffle counters expose the internal pipeline the plan text
  * cannot. Counters are captured over ONE cold run (caches cleared
  * first), sequenced by `spark.sparkContext.listenerBus.waitUntilEmpty`.
  *
  * Usage: runMain graft.PlanDump <suffix> <q1,q2,...> [sfDir]
  */
object PlanDump {
  private final class Counters extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var shuffleRead = 0L
    @volatile var shuffleWrite = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleRead += m.shuffleReadMetrics.totalBytesRead
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val suffix = args.headOption.getOrElse("before")
    val wanted = args.lift(1).map(_.split(",").toSeq.map(_.trim))
      .getOrElse(Seq.empty)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.quietBenignWarns()
    val outDir = Paths.get(sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR",
      "plans/r17"))
    Files.createDirectories(outDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => wanted.isEmpty || wanted.exists(n.contains))
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      Session.freeAllBlocks(spark) // cold state per query
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val t0 = System.nanoTime()
      val df =
        try fn(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[plandump] $name build failed: ${e.getMessage}")
          spark.sparkContext.removeSparkListener(counters)
          throw e
        }
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      df.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are async; poll until two consecutive 500 ms
      // samples leave the counters unchanged (bounded at 10 s) instead of
      // one fixed sleep — on a loaded box late stage-completed events
      // arrived after 1.5 s and under-reported shuffle bytes for exactly
      // the slowest queries, and a single quiet window can still fall in
      // a gap between two of them (private API waitUntilEmpty is
      // inaccessible here)
      def sample() = (counters.jobs, counters.stages,
        counters.shuffleRead, counters.shuffleWrite)
      var snap = sample()
      var quiet = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (quiet < 2 && System.nanoTime() < deadline) {
        Thread.sleep(500)
        val now = sample()
        quiet = if (now == snap) quiet + 1 else 0
        snap = now
      }
      spark.sparkContext.removeSparkListener(counters)
      val body =
        f"""== $name ($suffix) ==
           |coldRunSec=$sec%.3f jobs=${counters.jobs} stages=${counters.stages} shuffleReadMB=${counters.shuffleRead / 1e6}%.2f shuffleWriteMB=${counters.shuffleWrite / 1e6}%.2f
           |
           |""".stripMargin + plan
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), body)
      println(f"[plandump] $name $sec%.3fs jobs=${counters.jobs} stages=${counters.stages} " +
        f"shufRd=${counters.shuffleRead / 1e6}%.1fMB shufWr=${counters.shuffleWrite / 1e6}%.1fMB")
    }
    spark.stop()
  }
}
