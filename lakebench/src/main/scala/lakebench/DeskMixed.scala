package lakebench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

import graft.OhlcvBar
import graft.sources.DataLakehouse

/** One desk operation. */
sealed trait DeskOp { def kind: String }
final case class Point(sym: Int, day: Int) extends DeskOp { def kind = "point" }
final case class Range(sym: Int) extends DeskOp { def kind = "range" }
final case class Agg(day: Int) extends DeskOp { def kind = "agg" }
case object Append extends DeskOp { def kind = "append" }

/** The desk's table and its seeded operation mix. Bar values are a pure
  * function of (seed, symbol, day, minute), so the harness keeps its own
  * model of every (symbol, day) cell and checks each read against it.
  */
object Desk {
  val Symbols = 100
  val Days = 30
  val Minutes = 390
  val Kinds: Seq[String] = Seq("point", "range", "agg", "append")
  private val Day0 = java.time.LocalDate.of(2024, 1, 2)

  def symbol(s: Int): String = f"D$s%03d"
  def dayKey(d: Int): String = Day0.plusDays(d).toString
  def dayStartMs(d: Int): Long = Day0.plusDays(d).toEpochDay * 86400000L

  /** The seeded op mix, in blocks of twenty: each block holds exactly ten
    * point reads (seven on the newest day, three on a random older day),
    * four ranges, four VWAP aggregates and two appends, in a seeded order,
    * so every seed runs the same proportions. Same seed, same sequence.
    */
  final class OpSeq(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    private var pending: List[String] = Nil
    def next(): DeskOp = {
      if (pending.isEmpty) pending = shuffled(OpSeq.Block).toList
      val k = pending.head
      pending = pending.tail
      k match {
        case "point-new" => Point(r.nextInt(Symbols), Days - 1)
        case "point-old" => Point(r.nextInt(Symbols), r.nextInt(Days - 1))
        case "range" => Range(r.nextInt(Symbols))
        case "agg" => Agg(r.nextInt(Days))
        case _ => Append
      }
    }
    private def shuffled(v: Vector[String]): Vector[String] = {
      val a = v.toArray
      (a.length - 1 to 1 by -1).foreach { i =>
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector
    }
  }

  /** Bar index of (symbol, day, minute); minutes past the session (appends)
    * may share an index with another bar, which only repeats its values.
    */
  def index(s: Int, d: Int, m: Int): Long = (d.toLong * Symbols + s) * Minutes + m

  /** The bar's 64-bit hash: Spark's xxhash64(seed, index), so the bulk load
    * can generate the same bars as codegen'd expressions (see [[barColumns]]).
    */
  def hash(seed: Long, i: Long): Long = XXH64.hashLong(i, XXH64.hashLong(seed, 42L))

  object OpSeq {
    val Block: Vector[String] = Vector.fill(7)("point-new") ++ Vector.fill(3)("point-old") ++
      Vector.fill(4)("range") ++ Vector.fill(4)("agg") ++ Vector.fill(2)("append")
    val BlockSize: Int = Block.size
  }

  def bar(seed: Long, s: Int, d: Int, m: Int): OhlcvBar = {
    val h = hash(seed, index(s, d, m))
    val open = (100.0 + s) + (h & 0xfff) / 1000.0
    val close = (100.0 + s) + ((h >>> 12) & 0xfff) / 1000.0
    OhlcvBar(symbol(s), new Timestamp(dayStartMs(d) + m * 60000L), open,
      math.max(open, close) + 0.01, math.min(open, close) - 0.01, close,
      100 + (h >>> 24) % 9900L, "equity")
  }

  /** [[bar]] as Spark columns over `spark.range` ids = bar indexes. */
  def barColumns(seed: Long): Seq[Column] = {
    val id = col("id")
    val s = (id / Minutes).cast("long") % Symbols
    val d = (id / (Symbols * Minutes)).cast("long")
    val m = id % Minutes
    val h = xxhash64(lit(seed), id)
    val open = (lit(100.0) + s.cast("double")) + pmod(h, lit(4096L)).cast("double") / 1000.0
    val close = (lit(100.0) + s.cast("double")) +
      pmod(shiftright(h, 12), lit(4096L)).cast("double") / 1000.0
    Seq(
      concat(lit("D"), lpad(s.cast("string"), 3, "0")).as("symbol"),
      timestamp_millis(lit(dayStartMs(0)) + d * 86400000L + m * 60000L).as("timestamp"),
      open.as("open"),
      (greatest(open, close) + 0.01).as("high"),
      (least(open, close) - 0.01).as("low"),
      close.as("close"),
      (lit(100L) + shiftrightunsigned(h, 24) % 9900L).as("volume"),
      lit("equity").as("asset_class"))
  }
}

/** Per-(symbol, day) model of the table: row count, sum(volume), sum(close * volume). */
final class DeskModel {
  import Desk._
  val n = Array.ofDim[Long](Symbols, Days)
  val vol = Array.ofDim[Long](Symbols, Days)
  val pv = Array.ofDim[Double](Symbols, Days)
  var appends = 0

  def add(b: OhlcvBar, d: Int): Unit = {
    val s = b.symbol.drop(1).toInt
    n(s)(d) += 1; vol(s)(d) += b.volume; pv(s)(d) += b.close * b.volume
  }
  def total: Long = n.map(_.sum).sum
  def copy(): DeskModel = {
    val c = new DeskModel
    (0 until Symbols).foreach { s =>
      Array.copy(n(s), 0, c.n(s), 0, Days)
      Array.copy(vol(s), 0, c.vol(s), 0, Days)
      Array.copy(pv(s), 0, c.pv(s), 0, Days)
    }
    c.appends = appends
    c
  }
}

object DeskModel {
  /** The model of the bulk-loaded table. */
  def base(seed: Long): DeskModel = {
    import Desk._
    val m = new DeskModel
    for (d <- 0 until Days; s <- 0 until Symbols; t <- 0 until Minutes) m.add(bar(seed, s, d, t), d)
    m
  }
}

/** desk_mixed: a trading desk, one client in a closed loop with no think
  * time, reading and appending to a date-partitioned lake of
  * 100 symbols x 30 days x 390 one-minute bars.
  */
object DeskMixed {
  import Desk._

  val SetupRepeats = 3
  val TailPercentile = 90.0
  val MinBlocks = 2
  val LoadDays = 10

  /** One op's timings. `plan` is the read's DataFrame, kept in traced runs
    * only, until its input `files` are counted after the timed phase;
    * `startMs` dates the snapshot an agg read, for its rows-scanned figure.
    */
  final case class Sample(op: DeskOp, totalMs: Double, planMs: Double, execMs: Double,
      rows: Long, scanned: Long, startMs: Long, plan: Option[DataFrame], files: Int = 0) {
    def kind: String = op.kind
  }

  /** Bulk load of 30 days in three appends of 10 days each, the bars
    * generated by codegen'd expressions equal to [[Desk.bar]].
    */
  private def build(ctx: Ctx, dir: java.nio.file.Path): DataLakehouse = {
    val lake = new DataLakehouse(ctx.spark, dir.toString, partitionCols = Seq("date"))
    val perDay = Symbols * Minutes
    (0 until Days by LoadDays).foreach { d0 =>
      lake.appendDF(ctx.spark.range(d0.toLong * perDay, (d0 + LoadDays).toLong * perDay, 1, ctx.cores)
        .select(barColumns(ctx.seed): _*))
    }
    lake
  }

  /** Run one op; returns its sample, or a problem string when a check fails. */
  private def runOp(ctx: Ctx, lake: DataLakehouse, model: DeskModel, op: DeskOp): Either[String, Sample] = {
    import org.apache.spark.sql.Row
    def check(what: String, rows: Array[Row], wantN: Long, wantVol: Long): Option[String] = {
      val gotVol = rows.iterator.map(_.getAs[Long]("volume")).sum
      if (rows.length != wantN || gotVol != wantVol)
        Some(s"$what: rows ${rows.length} vol $gotVol, model rows $wantN vol $wantVol")
      else None
    }
    def keep(df: DataFrame) = if (ctx.traced) Some(df) else None
    ctx.tracer.newTrace()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    ctx.tracer.span(s"desk.${op.kind}") {
      op match {
        case Point(s, d) =>
          val q = ctx.call("lake.plan", "point") {
            lake.query(symbol = Some(symbol(s)), start = Some(new Timestamp(dayStartMs(d))),
              end = Some(new Timestamp(dayStartMs(d) + 86400000L - 1)))
          }
          val t1 = System.nanoTime()
          val rows = ctx.call("lake.exec", "point")(q.df.collect())
          val t2 = System.nanoTime()
          check(s"point ${symbol(s)} ${dayKey(d)}", rows, model.n(s)(d), model.vol(s)(d))
            .toLeft(Sample(op, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
              rows.length, q.totalRowsScanned, startMs, keep(q.df)))
        case Range(s) =>
          val q = ctx.call("lake.plan", "range")(lake.query(symbol = Some(symbol(s))))
          val t1 = System.nanoTime()
          val rows = ctx.call("lake.exec", "range")(q.df.collect())
          val t2 = System.nanoTime()
          check(s"range ${symbol(s)}", rows, model.n(s).sum, model.vol(s).sum)
            .toLeft(Sample(op, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
              rows.length, q.totalRowsScanned, startMs, keep(q.df)))
        case Agg(d) =>
          val df = ctx.call("lake.plan", "agg") {
            lake.sql("SELECT symbol, SUM(close * volume) / SUM(volume) AS vwap " +
              s"FROM trades WHERE date = '${dayKey(d)}' GROUP BY symbol")
          }
          val t1 = System.nanoTime()
          val rows = ctx.call("lake.exec", "agg")(df.collect())
          val t2 = System.nanoTime()
          val bad = rows.filter { r =>
            val s = r.getString(0).drop(1).toInt
            val want = model.pv(s)(d) / model.vol(s)(d)
            math.abs(r.getDouble(1) - want) > 1e-9 * math.abs(want)
          }
          val present = (0 until Symbols).count(s => model.n(s)(d) > 0)
          if (rows.length != present || bad.nonEmpty)
            Left(s"agg ${dayKey(d)}: ${rows.length} rows (model $present), vwap mismatches ${bad.take(3).mkString(",")}")
          else Right(Sample(op, (t2 - t0) / 1e6, (t1 - t0) / 1e6, (t2 - t1) / 1e6,
            rows.length, 0L, startMs, keep(df)))
        case Append =>
          val d = Days - 1
          val m = Minutes + model.appends
          require(m < 1440, "append minutes ran past the newest day")
          val bars = (0 until Symbols).map(s => bar(ctx.seed, s, d, m))
          val st = ctx.call("lake.write", "append")(lake.ingestBatch(bars))
          val t2 = System.nanoTime()
          model.appends += 1
          bars.foreach(model.add(_, d))
          if (st.rowsIngested != Symbols || st.errors != 0)
            Left(s"append: ingested ${st.rowsIngested} errors ${st.errors}")
          else Right(Sample(op, (t2 - t0) / 1e6, 0, (t2 - t0) / 1e6, Symbols, 0, startMs, None))
      }
    }
  }

  def run(ctx0: Ctx): Outcome = {
    val setups = ArrayBuffer.empty[Double]
    var lake: DataLakehouse = null
    var model: DeskModel = null
    val warmProblems = ArrayBuffer.empty[String]
    val baseModel = DeskModel.base(ctx0.seed)
    (0 until SetupRepeats).foreach { r =>
      val t0 = System.nanoTime()
      val l = build(ctx0, ctx0.work.resolve(s"desk-$r"))
      val m = baseModel.copy()
      // untimed warm-up: one op of each kind
      val g = new java.util.SplittableRandom(ctx0.seed ^ 0x5DEECE66DL)
      Seq(Point(g.nextInt(Symbols), Days - 1), Point(g.nextInt(Symbols), g.nextInt(Days - 1)),
        Range(g.nextInt(Symbols)), Agg(g.nextInt(Days)), Append)
        .foreach(op => runOp(ctx0, l, m, op).left.foreach(warmProblems += _))
      setups += (System.nanoTime() - t0) / 1e9
      lake = l; model = m
    }
    ctx0.tracer.clear()
    val setupRows = model.total
    val appendsAtStart = model.appends
    val ctx = ctx0.startProbe()
    val v0 = lake.txnLog.currentVersion()
    val ops = new OpSeq(ctx.seed)
    val samples = ArrayBuffer.empty[Sample]
    val problems = ArrayBuffer.empty[String] ++= warmProblems
    var attempted = 0L
    var failed = 0L
    Jvm.resetPeak()
    val tStart = System.nanoTime()
    // whole blocks only, so that every run has the block's exact mix: at
    // least MinBlocks, then another if, at the pace so far, it ends within
    // --seconds
    var blocks = 0
    while (blocks < MinBlocks ||
        (System.nanoTime() - tStart) * (blocks + 1L) / blocks <= ctx.seconds * 1000000000L) {
      (0 until OpSeq.BlockSize).foreach { _ =>
        attempted += 1
        val res =
          try runOp(ctx, lake, model, ops.next())
          catch { case e: Exception => Left(s"op failed: $e") }
        res match {
          case Right(s) => samples += s
          case Left(p) => failed += 1; problems += p
        }
      }
      blocks += 1
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val heapPeak = Jvm.peakHeapMb()
    // traced runs: metadata only, outside the timed phase and before the heap
    // is measured: the files each read's plan scans, and the rows the day's
    // pruned file set held when an agg ran; the plans are then let go
    if (ctx.traced) samples.mapInPlace { x =>
      val scanned = x.op match {
        case Agg(d) => lake.query(start = Some(new Timestamp(dayStartMs(d))),
          end = Some(new Timestamp(dayStartMs(d) + 86400000L - 1)),
          asOfTimestampMs = Some(x.startMs)).totalRowsScanned
        case _ => x.scanned
      }
      x.copy(scanned = scanned, files = x.plan.fold(0)(_.inputFiles.length), plan = None)
    }
    val finalRows = lake.query().df.count()
    val expectRows = setupRows + Symbols.toLong * (model.appends - appendsAtStart)
    if (finalRows != expectRows) problems += s"final rows $finalRows != set-up + appended $expectRows"
    val retained = Jvm.retainedHeapMb()

    def ms(kind: String) = samples.filter(_.kind == kind).toSeq
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    // the tail is over every read (point, range and agg): p90, because two
    // blocks hold 36 reads, too few for a p95
    val reads = samples.filter(_.kind != "append").map(_.totalMs).toSeq
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "p50_ms" -> med(ms("point").map(_.totalMs)),
      "tail_ms" -> (if (reads.isEmpty) 0.0 else Stats.percentile(reads, TailPercentile)),
      "throughput_per_s" -> samples.size / timedS,
      "retained_heap_mb" -> retained)

    val layer = if (!ctx.traced) Map.empty[String, Double] else {
      EngineProbe.settle()
      def p50(xs: Seq[Double]) = med(xs)
      val root = lake.root
      val commits = lake.txnLog.commits().filter(_.version > v0)
      val liveFiles = lake.txnLog.snapshotFiles()
      val logFiles = Files.list(Paths.get(root, "_txn_log")).iterator().asScala.toSeq
      val bytes = (rels: Seq[String]) => rels.map(r => Files.size(Paths.get(root, r))).sum
      val groups = ctx.probe.get.groups
      val (jobs, tasks, taskS, shuffleMb, spillMb) = ctx.probe.get.totals
      val perKind = Seq("point", "range", "agg").flatMap { k =>
        val xs = ms(k)
        Seq(
          s"lake.op_ms_p50.$k" -> p50(xs.map(_.totalMs)),
          s"lake.plan_ms_p50.$k" -> p50(xs.map(_.planMs)),
          s"lake.exec_ms_p50.$k" -> p50(xs.map(_.execMs)),
          s"lake.rows_scanned_per_row.$k" -> p50(xs.map(x => x.scanned.toDouble / math.max(1L, x.rows))),
          s"lake.files_read.$k" -> p50(xs.map(_.files.toDouble)))
      } ++ Kinds.flatMap { k =>
        val g = groups.get(k)
        Seq(
          s"engine.jobs.$k" -> g.map(_.jobs.toDouble / math.max(1, ms(k).size)).getOrElse(0.0),
          s"engine.task_s.$k" -> g.map(_.taskNs / 1e9 / math.max(1, ms(k).size)).getOrElse(0.0))
      }
      perKind.toMap ++ Map(
        "lake.append_ms_p50" -> p50(ms("append").map(_.totalMs)),
        "lake.files_per_commit" -> commits.map(_.added.size.toDouble).sum / math.max(1, commits.size),
        "lake.bytes_per_commit" -> bytes(commits.flatMap(_.added)).toDouble / math.max(1, commits.size),
        "lake.live_files" -> liveFiles.size.toDouble,
        "lake.dlq_rows" -> lake.deadLetterCount().toDouble,
        "lake.stored_bytes_per_bar" ->
          (bytes(liveFiles) + logFiles.map(Files.size).sum).toDouble / math.max(1L, finalRows),
        "txnlog.commits" -> commits.size.toDouble,
        "txnlog.commits_per_s" -> commits.size / timedS,
        "txnlog.checkpoints" -> logFiles.count(_.getFileName.toString.startsWith("checkpoint")).toDouble,
        "txnlog.log_bytes" -> logFiles.map(Files.size).sum.toDouble,
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
