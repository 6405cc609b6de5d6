package lakebench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(
    spark: SparkSession,
    seed: Long,
    seconds: Int,
    tracer: Tracer,
    probe: Option[EngineProbe],
    work: Path,
    benchDir: Path,
    cores: Int) {
  def traced: Boolean = tracer.enabled

  /** Run a harness call into a layer under a span and an engine job group. */
  def call[T](span: String, group: String)(body: => T): T =
    tracer.span(span)(EngineProbe.group(spark, probe.isDefined, group)(body))

  /** Install the engine listener (traced runs only), from here on. */
  def startProbe(): Ctx =
    if (!traced) this
    else {
      val p = new EngineProbe
      spark.sparkContext.addSparkListener(p)
      copy(probe = Some(p))
    }
}

/** A workload's result: end-to-end metrics, per-layer metrics (filled in
  * traced runs only), operations attempted/failed, and every correctness
  * problem found.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    e2e: Map[String, Double],
    layer: Map[String, Double])

object Main {
  private def usage(): Nothing = {
    System.err.println(
      "usage: lakebench.Main --workload feed_ingest|desk_mixed|catalog_batch " +
        "--seed N --seconds S --trace 0|1 --work DIR --bench-dir DIR [--record]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val workload = kv.getOrElse("workload", usage())
    val seed = kv.get("seed").map(_.toLong).getOrElse(usage())
    val seconds = kv.get("seconds").map(_.toInt).getOrElse(usage())
    val traced = kv.getOrElse("trace", "0") == "1"
    val work = Paths.get(kv.getOrElse("work", usage())).toAbsolutePath
    val benchDir = Paths.get(kv.getOrElse("bench-dir", usage())).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = Session.start(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, seed, seconds, new Tracer(traced), None, work, benchDir, cores)
    val gc0 = Jvm.gcMillis()
    val out =
      try workload match {
        case "feed_ingest" => FeedIngest.run(ctx)
        case "desk_mixed" => DeskMixed.run(ctx)
        case "catalog_batch" => CatalogBatch.run(ctx, record = flags("record"))
        case other =>
          System.err.println(s"unknown workload: $other"); sys.exit(2)
      } catch {
        case e: Throwable =>
          System.err.println(s"[lakebench] $workload aborted: $e")
          e.printStackTrace()
          spark.stop()
          sys.exit(3)
      }
    val metrics =
      if (!traced) out.e2e
      else {
        val spans = ctx.tracer.all
        val costUs = Tracer.spanCostUs()
        val self = ctx.tracer.selfSeconds.map { case (k, v) => s"self_s.$k" -> v }
        // the traced run's own end-to-end figures: minus the untraced run's
        // on the same seed they give the tracing overhead directly
        val tracedE2e = out.e2e.map { case (k, v) => s"traced.$k" -> v }
        val timedS = out.layer.getOrElse("phase.timed_s", Double.NaN)
        out.layer ++ self ++ tracedE2e ++ Map(
          "engine.session_s" -> sessionS,
          "jvm.gc_ms" -> (Jvm.gcMillis() - gc0).toDouble,
          "trace.spans" -> spans.size.toDouble,
          "trace.span_cost_us" -> costUs,
          "trace.overhead_share" -> spans.size * costUs / 1e6 / timedS)
      }
    out.problems.foreach(p => System.err.println(s"[lakebench] CHECK FAILED: $p"))
    val correct = out.problems.isEmpty
    val body = metrics.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + k + "\":" + (if (v.isNaN || v.isInfinite) "null" else v.toString)
    }.mkString("{", ",", "}")
    println(s"""{"correct":$correct,"attempted":${out.attempted},"failed":${out.failed},"metrics":$body}""")
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
