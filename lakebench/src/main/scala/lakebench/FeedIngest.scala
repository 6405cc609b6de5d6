package lakebench

import java.io.{BufferedOutputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.sources.DataLakehouse
import graft.streaming.Streaming

/** The live-feed bar generator. Bar `i` of a run is a pure function of
  * (seed, i): symbol, prices, volume and validity never depend on timing,
  * so the same seed sends the same bars. One bar in 1,000 is invalid
  * (high < low) so the dead-letter path runs.
  */
object FeedGen {
  val Symbols = 2000
  val TickMs = 10L
  val BarsPerTick: Int = Symbols / 100 // every symbol once per 100 ticks = 1 s

  def mix(x0: Long): Long = { // splitmix64 finalizer
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def symbol(j: Int): String = f"S$j%04d"

  /** Bar index `i` is invalid iff it falls on the seed's residue mod 1000. */
  def invalid(seed: Long, i: Long): Boolean = Math.floorMod(i - seed, 1000L) == 0

  def volume(seed: Long, i: Long): Long = 100 + Math.floorMod(mix(seed * 31 + i), 9900L)

  private def cents(sb: java.lang.StringBuilder, c: Long): Unit = {
    sb.append(c / 100).append('.')
    val r = c % 100
    if (r < 10) sb.append('0')
    sb.append(r)
  }

  /** Append the CSV wire line of bar `i` for symbol `j` stamped `tsMs`. */
  def line(sb: java.lang.StringBuilder, seed: Long, i: Long, j: Int, tsMs: Long): Unit = {
    val h = mix(seed ^ (i * 0x632BE59BD9B4E019L))
    val base = 5000L + (j % 200) * 100L
    val open = base + (h & 0xff)
    val close = base + ((h >>> 8) & 0xff)
    var low = math.min(open, close) - 1 - ((h >>> 16) & 0x3f)
    var high = math.max(open, close) + 1 + ((h >>> 22) & 0x3f)
    if (invalid(seed, i)) { val t = low; low = high; high = t }
    sb.append(symbol(j)).append(',').append(tsMs).append(',')
    cents(sb, open); sb.append(','); cents(sb, high); sb.append(',')
    cents(sb, low); sb.append(','); cents(sb, close); sb.append(',')
    sb.append(volume(seed, i)).append(",equity\n")
  }
}

/** Harness-owned localhost feed: a server socket the engine's socket
  * source connects to. The harness thread writes bars on a fixed 10 ms
  * tick schedule (open loop), stamping each bar with its DUE time, and
  * records when each tick was actually written.
  */
final class FeedServer(seed: Long) extends AutoCloseable {
  private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  @volatile private var client: Socket = _
  private var out: OutputStream = _
  private var next = 0L // next bar index
  val validVolume = new Array[Long](FeedGen.Symbols)
  var sentValid = 0L
  var sentInvalid = 0L

  def sent: Long = sentValid + sentInvalid

  def accept(): Unit = {
    client = server.accept()
    client.setTcpNoDelay(true)
    out = new BufferedOutputStream(client.getOutputStream, 1 << 20)
  }

  private def account(i: Long, j: Int): Unit =
    if (FeedGen.invalid(seed, i)) sentInvalid += 1
    else { sentValid += 1; validVolume(j) += FeedGen.volume(seed, i) }

  /** Write `n` bars back to back at `dueMs` (epoch ms), bar b stamped
    * dueMs + b / Symbols; the lines are encoded before the due time.
    */
  def burst(n: Int, dueMs: Long): Unit = {
    val sb = new java.lang.StringBuilder(n * 64)
    (0 until n).foreach { b =>
      val i = next; next += 1
      val j = (i % FeedGen.Symbols).toInt
      FeedGen.line(sb, seed, i, j, dueMs + b / FeedGen.Symbols)
      account(i, j)
    }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    var wait = dueMs - System.currentTimeMillis()
    while (wait > 0) { Thread.sleep(wait); wait = dueMs - System.currentTimeMillis() }
    out.write(bytes)
    out.flush()
  }

  /** Steady open-loop phase of `seconds`: tick k is due at start + 10k ms
    * and carries BarsPerTick bars stamped with that due time. Returns the
    * due time (epoch ms) of the first and last tick and, per due time, when
    * its bars were actually written (epoch ms, fractional).
    */
  def steady(seconds: Int, tracer: Tracer): (Long, Long, Map[Long, Double]) = {
    val ticks = (seconds * 1000 / FeedGen.TickMs).toInt
    val sentAt = new Array[Double](ticks)
    val startMs = System.currentTimeMillis() + 20
    val startNs = System.nanoTime() + 20L * 1000000
    val sb = new java.lang.StringBuilder(FeedGen.BarsPerTick * 64)
    var k = 0
    while (k < ticks) {
      val dueNs = startNs + k * FeedGen.TickMs * 1000000L
      var now = System.nanoTime()
      while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
      tracer.newTrace()
      tracer.span("feed.send") {
        sb.setLength(0)
        val dueMs = startMs + k * FeedGen.TickMs
        (0 until FeedGen.BarsPerTick).foreach { m =>
          val i = next; next += 1
          val j = (k % 100) + 100 * m
          FeedGen.line(sb, seed, i, j, dueMs)
          account(i, j)
        }
        out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
        out.flush()
      }
      sentAt(k) = startMs + (System.nanoTime() - startNs) / 1e6
      k += 1
    }
    val due = (0 until ticks).map(k => startMs + k * FeedGen.TickMs)
    (due.head, due.last, due.zip(sentAt).toMap)
  }

  override def close(): Unit = {
    if (client != null) client.close()
    server.close()
  }
}

/** One micro-batch as the engine reports it. */
final case class StreamBatch(startMs: Long, rows: Long, triggerMs: Long,
    addBatchMs: Long, offsetsMs: Long)

/** Micro-batch progress as the engine reports it. */
final class ProgressLog extends StreamingQueryListener {
  val rows = new AtomicLong(0)
  private val batches = ArrayBuffer.empty[StreamBatch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    rows.addAndGet(p.numInputRows)
    synchronized {
      batches += StreamBatch(java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
        d.getOrElse("triggerExecution", 0L), d.getOrElse("addBatch", 0L),
        d.getOrElse("latestOffset", 0L) + d.getOrElse("walCommit", 0L))
    }
  }
  def all: Seq[StreamBatch] = synchronized(batches.toSeq)
  def reset(): Unit = synchronized { batches.clear(); rows.set(0) }
}

/** feed_ingest: an open-loop live feed through `Streaming.ingestSocketStream`
  * (100 ms trigger) into a fresh lake; then a back-to-back burst. Latency of
  * a bar = commit time of the txn-log commit that published it minus the
  * bar's due time, read back after the run from the log and the rows.
  */
object FeedIngest {
  val BurstBars = 50000
  val WarmBars = 2000
  val SetupRepeats = 3

  final class Live(val lake: DataLakehouse, val server: FeedServer,
      val query: StreamingQuery, val progress: ProgressLog) {
    /** Block until the engine has taken in every line sent so far. */
    def drain(timeoutS: Int = 90): Unit = {
      val until = System.nanoTime() + timeoutS * 1000000000L
      while (progress.rows.get < server.sent && query.isActive) {
        require(System.nanoTime() < until,
          s"feed not drained: ${progress.rows.get} of ${server.sent} lines taken in")
        Thread.sleep(20)
      }
      query.exception.foreach(e => throw e)
      // (a progress event is posted after its batch's commit returned)
      Thread.sleep(50)
    }
    def stop(): Unit = { query.stop(); server.close() }
  }

  private def startLive(ctx: Ctx, dir: Path): Live = {
    val spark = ctx.spark
    val lake = new DataLakehouse(spark, dir.resolve("lake").toString)
    val server = new FeedServer(ctx.seed)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val acceptor = new Thread(() => server.accept())
    acceptor.start()
    val q = Streaming.ingestSocketStream(lake, "localhost", server.port,
      dir.resolve("ckpt").toString, triggerMs = 100L)
    acceptor.join(60000)
    require(!acceptor.isAlive, "engine never connected to the feed")
    val live = new Live(lake, server, q, progress)
    // warm-up: two rounds of one bar per symbol, each drained
    (0 until 2).foreach { _ =>
      server.burst(WarmBars, System.currentTimeMillis())
      live.drain()
    }
    live
  }

  def run(ctx0: Ctx): Outcome = {
    val spark = ctx0.spark
    // set-up, repeated: fresh lake, stream start, connect, warm-up drained
    val setups = ArrayBuffer.empty[Double]
    var live: Live = null
    (0 until SetupRepeats).foreach { r =>
      if (live != null) { live.stop(); spark.streams.removeListener(live.progress) }
      val t0 = System.nanoTime()
      live = startLive(ctx0, ctx0.work.resolve(s"feed-$r"))
      setups += (System.nanoTime() - t0) / 1e9
    }
    ctx0.tracer.clear()
    val ctx = ctx0.startProbe()
    val lake = live.lake
    val server = live.server
    val v0 = lake.txnLog.currentVersion()
    live.progress.reset()
    val sentBefore = server.sent
    live.progress.rows.set(sentBefore) // progress.rows counts lines taken in since start

    Jvm.resetPeak()
    val (steadyFirstMs, steadyLastMs, sentAt) = server.steady(ctx.seconds, ctx.tracer)
    val steadySent = server.sent - sentBefore
    live.drain()
    // the batches that started inside the steady phase, not the drain's
    val steadyEndMs = steadyLastMs + FeedGen.TickMs
    val steadyBatches = live.progress.all.filter(b => b.startMs >= steadyFirstMs && b.startMs < steadyEndMs)
    val vSteady = lake.txnLog.currentVersion()

    // the engine's 100 ms trigger fires on epoch-aligned boundaries: send
    // the burst just after one, so the next micro-batch takes all of it
    val burstStartMs = (System.currentTimeMillis() / 100 + 3) * 100 + 5
    ctx.tracer.newTrace()
    ctx.tracer.span("feed.burst")(server.burst(BurstBars, burstStartMs))
    live.drain(timeoutS = 120)
    val heapPeak = Jvm.peakHeapMb()
    live.stop()
    spark.streams.removeListener(live.progress)
    val retained = Jvm.retainedHeapMb()

    steadyBatches.foreach { b =>
      ctx.tracer.record("streaming.batch", b.startMs * 1000000L, (b.startMs + b.triggerMs) * 1000000L)
    }

    // ---- read back: commit time of every committed bar
    val commits = lake.txnLog.commits().filter(_.version > v0)
    val commitOf: Map[String, Long] = commits.flatMap { c =>
      c.added.map(rel => rel.substring(rel.lastIndexOf('/') + 1) -> c.timestampMs)
    }.toMap
    val liveFiles = lake.txnLog.snapshotFiles()
    val root = lake.root
    val added = spark.read.schema(graft.model.ohlcvSchema)
      .parquet(commits.flatMap(_.added).map(r => s"$root/$r"): _*)
      .select(input_file_name().as("f"), col("timestamp"))
    def commitMs(f: String): Long = commitOf(f.substring(f.lastIndexOf('/') + 1))
    // open loop: each bar's latency runs from its due time (its timestamp)
    val steadyRows = added
      .filter(col("timestamp").between(new java.sql.Timestamp(steadyFirstMs),
        new java.sql.Timestamp(steadyLastMs)))
      .collect().map(r => (r.getTimestamp(1).getTime.toDouble, commitMs(r.getString(0)).toDouble))
      .toSeq
    val (steadyLat, late) = Stats.openLoop(steadyRows.map(_._1),
      steadyRows.map(r => sentAt(r._1.toLong)), steadyRows.map(_._2))
    val burstFiles = added.filter(col("timestamp") >= new java.sql.Timestamp(burstStartMs))
      .groupBy("f").count().collect().map(r => commitMs(r.getString(0)) -> r.getLong(1))
    val burstCommitted = burstFiles.map(_._2).sum
    val burstDoneMs = burstFiles.map(_._1).maxOption.getOrElse(burstStartMs)

    // ---- correctness
    val problems = ArrayBuffer.empty[String]
    val perSym = lake.query().df.groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum("volume").as("v")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val committed = perSym.values.map(_._1).sum
    if (committed != server.sentValid)
      problems += s"committed rows $committed != valid bars sent ${server.sentValid}"
    val badSymbols = (0 until FeedGen.Symbols).count { j =>
      val got = perSym.get(FeedGen.symbol(j)).map(_._2).getOrElse(0L)
      val bad = got != server.validVolume(j)
      if (bad) problems += s"sum(volume) of ${FeedGen.symbol(j)}: $got != ${server.validVolume(j)}"
      bad
    }
    val dlq = lake.deadLetterCount()
    if (dlq != server.sentInvalid) problems += s"deadLetterCount $dlq != invalid sent ${server.sentInvalid}"
    val steadyValid = steadySent - (0L until steadySent).count(k => FeedGen.invalid(ctx.seed, sentBefore + k))
    if (steadyLat.size != steadyValid) problems += s"steady rows read back ${steadyLat.size} != $steadyValid"
    val burstValid = BurstBars - (0L until BurstBars).count(k => FeedGen.invalid(ctx.seed, sentBefore + steadySent + k))
    if (burstCommitted != burstValid) problems += s"burst rows read back $burstCommitted != $burstValid"

    val drainS = (burstDoneMs - burstStartMs) / 1000.0
    val (_, tailV) = if (steadyLat.nonEmpty) Stats.tail(steadyLat) else (0.0, 0.0)
    val e2e = Map(
      "setup_s" -> Stats.median(setups.toSeq),
      "p50_ms" -> (if (steadyLat.nonEmpty) Stats.median(steadyLat) else 0.0),
      "tail_ms" -> tailV,
      "throughput_per_s" -> (if (drainS > 0) BurstBars / drainS else 0.0),
      "retained_heap_mb" -> retained)

    val layer = if (!ctx.traced) Map.empty[String, Double] else {
      EngineProbe.settle()
      val steadyWallMs = (steadyEndMs - steadyFirstMs).toDouble
      val sb = steadyBatches.filter(_.rows > 0)
      def p50(f: StreamBatch => Double) = if (sb.isEmpty) 0.0 else Stats.median(sb.map(f))
      val logDir = java.nio.file.Paths.get(root, "_txn_log")
      val logFiles = Files.list(logDir).iterator().asScala.toSeq
      val steadyCommits = commits.filter(_.version <= vSteady)
      val bytes = (rels: Seq[String]) => rels.map(r => Files.size(java.nio.file.Paths.get(root, r))).sum
      val (jobs, tasks, taskS, shuffleMb, spillMb) = ctx.probe.get.totals
      val phaseS = (burstDoneMs - steadyFirstMs) / 1000.0
      Map(
        "streaming.batches" -> sb.size.toDouble,
        "streaming.rows_per_batch_p50" -> p50(_.rows.toDouble),
        "streaming.trigger_ms_p50" -> p50(_.triggerMs.toDouble),
        "streaming.add_batch_ms_p50" -> p50(_.addBatchMs.toDouble),
        "streaming.offsets_ms_p50" -> p50(_.offsetsMs.toDouble),
        // the share of the steady phase a micro-batch was running: the
        // last one's time past the phase's end is not counted
        "streaming.busy_share" ->
          steadyBatches.map(b => math.min(b.triggerMs, steadyEndMs - b.startMs)).sum / steadyWallMs,
        "streaming.drain_s" -> drainS,
        "streaming.backlog_end_s" ->
          (steadyCommits.map(_.timestampMs).maxOption.getOrElse(steadyLastMs) - steadyLastMs) / 1000.0,
        "feed.late_ms_p99" -> (if (late.isEmpty) 0.0 else Stats.percentile(late, 99)),
        "feed.sent" -> (steadySent + BurstBars).toDouble,
        "feed.invalid_sent" -> server.sentInvalid.toDouble,
        "feed.rate_per_s" -> steadySent / (steadyWallMs / 1000.0),
        "lake.files_per_commit" -> commits.map(_.added.size.toDouble).sum / math.max(1, commits.size),
        "lake.bytes_per_commit" -> bytes(commits.flatMap(_.added)).toDouble / math.max(1, commits.size),
        "lake.live_files" -> liveFiles.size.toDouble,
        "lake.dlq_rows" -> dlq.toDouble,
        "lake.stored_bytes_per_bar" ->
          (bytes(liveFiles) + logFiles.map(Files.size).sum).toDouble / math.max(1L, committed),
        "txnlog.commits" -> commits.size.toDouble,
        "txnlog.commits_per_s" -> steadyCommits.size / (steadyWallMs / 1000.0),
        "txnlog.checkpoints" -> logFiles.count(_.getFileName.toString.startsWith("checkpoint")).toDouble,
        "txnlog.log_bytes" -> logFiles.map(Files.size).sum.toDouble,
        "engine.jobs" -> jobs.toDouble,
        "engine.tasks" -> tasks.toDouble,
        "engine.task_s" -> taskS,
        "engine.shuffle_mb" -> shuffleMb,
        "engine.spill_mb" -> spillMb,
        "engine.busy_share" -> taskS / (phaseS * ctx.cores),
        "jvm.heap_peak_mb" -> heapPeak,
        "phase.timed_s" -> phaseS)
    }
    val failed = (server.sentValid - committed).abs + (server.sentInvalid - dlq).abs +
      badSymbols
    Outcome(steadySent + BurstBars, failed, problems.toSeq, e2e, layer)
  }
}
