package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val nameFilter = args.lift(2) // optional substring, for targeted local runs
    val spark = Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.quietBenignWarns()
    new java.io.File(outDir).mkdirs()
    // Crash-absence must be impossible in the gate artifact (round-6 lesson:
    // 31 analysis-error queries simply VANISHED from CORRECTNESS instead of
    // failing it). Every `queries` key gets exactly one outcome: a parquet
    // dir on success, or an entry in errors.json naming the exception —
    // DataFrame CONSTRUCTION is inside the try, so eager analysis errors
    // (e.g. a dtype drift in testdata) are recorded, not swallowed.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    SparkEntry.queries
      .filter { case (name, _) => nameFilter.forall(name.contains) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
          errors(name) = msg
          System.err.println(s"[verify] $name FAILED: $msg")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => nameFilter.forall(k.contains) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    // ANN recall@10 vs the brute-force q25 answer, measured from the
    // dumps just written. The four ANN queries are rows-only in the
    // driver gate (seeded buckets/cells — no portable SQL oracle), so a
    // silent recall regression would otherwise pass; this surfaces the
    // measured value in the artifact every round. CatalogSmokeSpec
    // asserts the floors (lsh 0.7 / ivf 0.9 / pq 0.9 / ivfpq 0.7).
    val bruteName = "q25_cosine_topk"
    val annNames =
      Seq("q29_ann_lsh", "q50_ann_ivf", "q65_ann_pq", "q66_ann_ivfpq")
    // best-effort by construction: a failed/partial dump (already named
    // in errors.json) leaves a directory spark.read can throw on, and
    // that must not crash the gate artifact after the 89 oracle dumps
    // are safely on disk — any miss here degrades to "{}"/fewer keys,
    // never to a dead Verify.
    val recallJson = try {
      if (!Files.isDirectory(Paths.get(s"$outDir/$bruteName"))) "{}"
      else {
        def topIds(name: String): Option[Set[Long]] =
          try {
            val df = spark.read.parquet(s"$outDir/$name")
            Some(df.select(df.columns.head).collect().map(_.getLong(0)).toSet)
          } catch { case scala.util.control.NonFatal(_) => None }
        topIds(bruteName).filter(_.nonEmpty) match {
          case None => "{}" // failed or empty brute dump: no denominator
          case Some(brute) =>
            annNames.flatMap { n =>
              topIds(n).map { ids =>
                val recall = (ids & brute).size.toDouble / brute.size
                s"${q(n)}: $recall"
              }
            }.mkString("{", ",", "}")
        }
      }
    } catch { case scala.util.control.NonFatal(_) => "{}" }
    Files.writeString(Paths.get(s"$outDir/recall.json"), recallJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: ${errors.keys.mkString(", ")}")
    spark.stop()
  }
}
