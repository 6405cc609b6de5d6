package lakebench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** The catalog fixture: documents, embeddings, events and lineitem with
  * the schemas, row counts and value distributions of the sf0.1 fixtures
  * (TESTDATA.md; README.md lists the figures, measured on those files),
  * generated from a FIXED seed so that the recorded per-query results
  * (catalog_expected.tsv) hold for every run: catalog_batch's inputs do not
  * depend on --seed.
  */
object Fixture {
  val Seed = 42L
  val Docs = 5000
  val Vectors = 2000
  val Events = 100000
  val Lineitems = 600000

  /** The sf documents' 30-word vocabulary, drawn uniformly. */
  private val Vocab = ("spark window merge table column vector stream value data small join " +
    "filter big group hash customer sort order slow line part fast row the agg key query a " +
    "scan batch").split(' ')
  private val Langs = Seq("en" -> 412, "zh" -> 151, "es" -> 149, "fr" -> 148, "de" -> 140)
  private val EventTypes = Array("signup", "click", "error", "view", "purchase")
  private val Day0Us = java.time.LocalDate.of(2024, 1, 1).toEpochDay * 86400000000L
  private val ShipDay0 = java.time.LocalDate.of(1995, 1, 2)

  private def lang(r: java.util.SplittableRandom): String = {
    var k = r.nextInt(1000)
    Langs.find { case (_, w) => k -= w; k < 0 }.get._1
  }

  private def expo(r: java.util.SplittableRandom, mean: Double): Double = -math.log(1 - r.nextDouble()) * mean

  /** Documents as in sf0.1: 10-100 words; 5 % are another document plus
    * the word "dup" (so a copy of a copy ends in "dup dup", and two copies
    * of one document are exact duplicates of each other).
    */
  def texts(r: java.util.SplittableRandom): IndexedSeq[String] = {
    val t = Array.fill(Docs)(Seq.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length))).mkString(" "))
    t.indices.foreach { i => if (r.nextInt(100) < 5) t(i) = t(r.nextInt(Docs)) + " dup" }
    t.toIndexedSeq
  }

  /** lineitem as in sf0.1, every column an independent uniform draw from
    * xxhash64(seed, row, column), generated by codegen'd expressions.
    */
  private def lineitem(spark: SparkSession): DataFrame = {
    val id = col("id")
    def u(c: Int, n: Long): Column = pmod(xxhash64(lit(Seed), id, lit(c)), lit(n))
    def pick(c: Int, xs: String*): Column =
      element_at(array(xs.map(lit): _*), (u(c, xs.size.toLong) + 1).cast("int"))
    spark.range(0, Lineitems, 1, 1).select(
      u(1, 150000L).as("l_orderkey"),
      u(2, 20000L).as("l_partkey"),
      u(3, 1000L).as("l_suppkey"),
      (u(4, 7L) + 1).cast("int").as("l_linenumber"),
      (u(5, 50L) + 1).cast("double").as("l_quantity"),
      ((u(6, 10410001L) + 90000L) / 100.0).as("l_extendedprice"),
      round(u(7, 1000001L) / 1e7, 2).as("l_discount"),
      round(u(8, 800001L) / 1e7, 2).as("l_tax"),
      pick(9, "A", "N", "R").as("l_returnflag"),
      pick(10, "F", "O").as("l_linestatus"),
      timestamp_seconds((lit(ShipDay0.toEpochDay) + u(11, 2499L)) * 86400L).as("l_shipdate"))
  }

  def write(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    val r = new java.util.SplittableRandom(Seed)
    texts(r).zipWithIndex.map { case (t, i) => (i.toLong, t, lang(r), s"src${i % 20}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    // embeddings: unit-length Gaussian vectors; labels uniform and
    // independent of the vector (the sf embeddings are not clustered)
    (0 until Vectors).map { i =>
      val v = Array.fill(64)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(dir.resolve("embeddings.parquet").toString)
    // events: 30 days of exponential inter-arrival times, 1,500 users,
    // exponential values (mean 50)
    var ts = Day0Us
    (0 until Events).map { i =>
      ts += 1 + expo(r, 30.0 * 86400000000L / Events).toLong
      (i.toLong, Timestamp.from(java.time.Instant.EPOCH.plusNanos(ts * 1000)), r.nextInt(1500).toLong,
        EventTypes(r.nextInt(5)), math.round(expo(r, 50) * 100) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    lineitem(spark).write.parquet(dir.resolve("lineitem.parquet").toString)
  }

  val Tables: Seq[String] = Seq("documents", "embeddings", "events", "lineitem")
}

/** Writes the catalog fixture: `FixtureMain <fixture dir> <work dir>`. */
object FixtureMain {
  def main(args: Array[String]): Unit = {
    val work = java.nio.file.Paths.get(args(1)).toAbsolutePath
    Files.createDirectories(work)
    val spark = Session.start(work, Runtime.getRuntime.availableProcessors)
    val ok =
      try { Fixture.write(spark, java.nio.file.Paths.get(args(0)).toAbsolutePath); true }
      catch { case e: Exception => e.printStackTrace(); false }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Order-independent result hash: the sum of a 64-bit hash per row, with
  * floating-point values rounded to 9 significant digits so that the
  * summation order of a parallel aggregate cannot change the hash.
  */
object ResultHash {
  private def norm(v: Any): String = v match {
    case null => "~"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => norm(f.toDouble)
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.mkString("b", ".", "")
    case x => x.toString
  }
  def of(rows: Array[Row]): Long =
    rows.iterator.map(r => FeedGen.mix(scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong)).sum
}

/** catalog_batch: a batch of catalog queries through `SparkEntry.queries`
  * in four operator families, materialized to the noop sink, cold (all
  * blocks freed between queries), then a warm pass over memoized twins.
  */
object CatalogBatch {
  /** One or two queries per operator family: a full family takes minutes
    * per pass on four cores. q46 runs on q24's memoized pair set, q63 on
    * the standing MinHash index; each is run warm right after its cold run.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "pairs" -> Seq("q46"),
    "ann" -> Seq("q63"),
    "spread" -> Seq("q61"),
    "series" -> Seq("q02", "q17"))
  val Warm: Set[String] = Set("q46", "q63")
  val SetupRepeats = 3

  private def familyOf(q: String): String = Families.find(_._2.contains(q)).get._1

  private lazy val byId: Map[String, (SparkSession, String) => DataFrame] =
    SparkEntry.queries.map { case (k, f) => k.takeWhile(_ != '_') -> f }

  /** Release every persisted block and let the cleaner run (graft.Bench's
    * between-sample teardown), outside any timed window.
    */
  private def freeAll(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Between a cold run and its warm twin: drop per-run checkpoint blocks, keep the memo. */
  private def freeNonMemo(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.filter(_.isCheckpointed)
      .foreach(_.unpersist(blocking = false))
    System.gc()
  }

  /** Run one query to the client (rows collected); returns (seconds, rows). */
  private def timed(ctx: Ctx, q: String, dir: String, span: String): (Double, Array[Row]) = {
    ctx.tracer.newTrace()
    val t0 = System.nanoTime()
    val rows = ctx.call(span, q)(byId(q)(ctx.spark, dir).collect())
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  private def expectedFile(ctx: Ctx): Path = ctx.benchDir.resolve("catalog_expected.tsv")

  def run(ctx0: Ctx, record: Boolean): Outcome = {
    val spark = ctx0.spark
    // The fixture stands in for the sf0.1 files, which exist before a batch
    // job starts: it is written once per build (FixtureMain) and copied so
    // that each set-up loads files it has not read before. Set-up is
    // `Tables.load`.
    val fixture = ctx0.benchDir.resolve("target").resolve("catalog-fixture")
    require(Files.isDirectory(fixture), s"no catalog fixture at $fixture")
    val dirs = (0 until SetupRepeats).map { r =>
      val d = ctx0.work.resolve(s"catalog-$r")
      Using.resource(Files.walk(fixture))(_.iterator().asScala.toList)
        .foreach(f => Files.copy(f, d.resolve(fixture.relativize(f))))
      d
    }
    val setups = dirs.map { d =>
      val t0 = System.nanoTime()
      Fixture.Tables.foreach(t => Tables.load(spark, d.toString, t))
      (System.nanoTime() - t0) / 1e9
    }
    val dir = dirs.last.toString
    val all = Families.flatMap(_._2)
    val problems = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val got = ArrayBuffer.empty[(String, Long, Long)]

    // The batch runs in a fresh JVM, as a scheduled batch job does: no
    // warm-up pass, and always in the same order, because the first queries
    // of a fresh JVM also pay its JIT and codegen warm-up. Whole passes only;
    // another starts if it should end in time.
    val ctx = ctx0.startProbe()
    val cold = all.map(_ -> ArrayBuffer.empty[Double]).toMap
    val warm = all.filter(Warm).map(_ -> ArrayBuffer.empty[Double]).toMap
    def attempt(q: String)(body: => Unit): Unit = {
      attempted += 1
      try body catch { case e: Exception => failed += 1; problems += s"$q failed: $e" }
    }
    Jvm.resetPeak()
    val tStart = System.nanoTime()
    var passes = 0
    var lastPass = 0.0
    while (passes == 0 || (System.nanoTime() - tStart) / 1e9 + lastPass <= ctx.seconds) {
      val tp = System.nanoTime()
      all.foreach { q =>
        attempt(q) {
          val (s, rows) = timed(ctx, q, dir, s"queries.${familyOf(q)}")
          cold(q) += s
          if (passes == 0) got += ((q, rows.length.toLong, ResultHash.of(rows)))
          if (Warm(q)) {
            freeNonMemo(spark)
            val (ws, again) = timed(ctx, q, dir, s"queries.${familyOf(q)}.warm")
            warm(q) += ws
            if (passes == 0) got += ((q + "w", again.length.toLong, ResultHash.of(again)))
          }
        }
        freeAll(spark)
      }
      lastPass = (System.nanoTime() - tp) / 1e9
      passes += 1
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val heapPeak = Jvm.peakHeapMb()
    val retained = Jvm.retainedHeapMb()

    // ---- correctness: row count and order-independent hash of every
    // query's first cold and warm result against the recorded values
    if (record) {
      Files.write(expectedFile(ctx), got.sortBy(_._1).map { case (q, n, h) => s"$q\t$n\t$h" }.asJava)
      System.err.println(s"[lakebench] recorded ${got.size} results to ${expectedFile(ctx)}")
    } else {
      val want = Files.readAllLines(expectedFile(ctx)).asScala.map(_.split('\t'))
        .map(a => a(0) -> (a(1).toLong, a(2).toLong)).toMap
      got.foreach { case (q, n, h) =>
        want.get(q) match {
          case Some((wn, wh)) if wn == n && wh == h => ()
          case Some((wn, wh)) => failed += 1; problems += s"$q: rows $n hash $h, recorded rows $wn hash $wh"
          case None => failed += 1; problems += s"$q: no recorded result"
        }
      }
    }

    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    // the batch is the operation: its latency is the cold pass, its tail the
    // slowest query of the pass, and the memoized twins' re-runs give the
    // warm (cache-hit) rate
    val coldPasses = (0 until passes).map(i => all.map(q => cold(q).lift(i).getOrElse(0.0)).sum * 1000)
    val warmS = warm.values.map(med).sum
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "p50_ms" -> Stats.median(coldPasses),
      "tail_ms" -> all.map(q => med(cold(q))).max * 1000,
      "throughput_per_s" -> warm.size / warmS,
      "retained_heap_mb" -> retained)

    val layer = if (!ctx.traced) Map.empty[String, Double] else {
      EngineProbe.settle()
      val groups = ctx.probe.get.groups
      val perQuery = all.map(q => s"queries.$q.s" -> med(cold(q))) ++
        warm.map { case (q, xs) => s"queries.$q.warm_s" -> med(xs) }
      val perFamily = Families.flatMap { case (f, qs) =>
        val gs = qs.flatMap(groups.get)
        val runs = qs.map(q => cold(q).size + warm.get(q).map(_.size).getOrElse(0)).sum
        Seq(
          s"operators.$f.s" -> qs.map(q => med(cold(q))).sum,
          s"operators.$f.jobs" -> gs.map(_.jobs).sum.toDouble / math.max(1, runs),
          s"operators.$f.shuffle_mb" -> gs.map(_.shuffleBytes).sum / 1e6 / math.max(1, runs))
      }
      val (jobs, tasks, taskS, shuffleMb, spillMb) = ctx.probe.get.totals
      (perQuery ++ perFamily).toMap ++ Map(
        "tables.load_s" -> setups.last,
        "queries.warm_s" -> warmS,
        "queries.passes" -> passes.toDouble,
        "engine.jobs" -> jobs.toDouble,
        "engine.tasks" -> tasks.toDouble,
        "engine.task_s" -> taskS,
        "engine.shuffle_mb" -> shuffleMb,
        "engine.spill_mb" -> spillMb,
        "engine.busy_share" -> taskS / (timedS * ctx.cores),
        "jvm.heap_peak_mb" -> heapPeak,
        "phase.timed_s" -> timedS)
    }
    Outcome(attempted, failed, problems.toSeq, e2e, layer)
  }
}
