package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** Delta-style transaction log (SURVEY.md §2.1 S11/S13; the reference
  * declares but does not implement this layer — README.md:43,50,136).
  *
  * Layout: `<root>/_txn_log/v%08d.json`, one JSON commit per version:
  * `{version, timestampMs, added: [relative paths], removed: [...],
  *   batchId?: "streamId-batchId"}`.
  *
  * Snapshot(v) = replay of commits 0..v: union of `added` minus `removed`.
  * Atomicity: commits are fully written to a temp file, then PUBLISHED with
  * `Files.createLink` — hard-link creation is atomic and, unlike
  * `rename(2)`/ATOMIC_MOVE (which silently REPLACES an existing target on
  * POSIX), fails with FileAlreadyExistsException when the version is taken.
  * A concurrent writer racing to the same version therefore loses the link
  * and retries at the next version; no commit is ever overwritten. Readers
  * only ever see fully-written commit files (the link exposes complete
  * content or nothing).
  *
  * Scale note: the log stores *relative file paths*, not data; replay cost
  * is O(commits). Production-scale variants add checkpoints every N
  * commits — straightforward here because snapshots are pure folds.
  */
object TxnLog {
  /** Default checkpoint-carried tombstone horizon: 30 days, > the 7-day
    * default vacuum retention with margin for operator-chosen windows.
    */
  val DefaultTombstoneHorizonMs: Long = 30L * 24 * 3600 * 1000

  private val log =
    org.apache.logging.log4j.LogManager.getLogger("graft.TxnLog")

  /** Crash-seam hook for the kill-mid-commit recovery fuzz
    * ([[graft.CrashRecoverySpec]]): a forked child process installs a
    * `Runtime.halt` at a named seam inside the publish protocol;
    * production never sets it, so every seam costs one volatile read
    * of null. Seams mark the protocol's durability boundaries —
    * `commit:tmp-written` (commit staged, nothing published),
    * `commit:published` (version live, cleanup/caches pending),
    * `commit:recorded` (idempotence folded, checkpoint pending),
    * `ckpt:tmp-written` (checkpoint staged, not yet visible) and
    * `ckpt:published` — a kill at ANY of them must leave a log a fresh
    * reader resolves consistently and a fresh writer extends.
    */
  @volatile private[graft] var crashSeam: String => Unit = null
  @inline private[sources] def seam(name: String): Unit = {
    val h = crashSeam
    if (h != null) h(name)
  }

  /** The `expectedConstraints` check failed: the predecessor snapshot
    * carries a different constraint map than the committer validated
    * against. A subclass of the requireLive conflict so existing
    * "concurrent modification" handling still catches it, but DISTINCT
    * so data-path writers can re-validate their batch against the new
    * map and retry, while row-op (requireLive) conflicts — which need a
    * re-planned rewrite, not a retry — stay fatal.
    */
  final class ConstraintConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** The `expectedSchema` check failed: the predecessor snapshot records
    * a different schema than the committer derived its own record from.
    * Distinct from the requireLive conflict for the same reason as
    * [[ConstraintConflictException]]: an append can REPAIR this race by
    * re-merging its batch schema over the new record and retrying, while
    * schema DDL surfaces it to the caller to re-run against the new
    * schema.
    */
  final class SchemaConflictException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** The declared txn (appId, seq) is already at or below the
    * predecessor snapshot's high-water: a CONCURRENT committer of the
    * same epoch won the race (zombie driver + failover both replaying
    * one micro-batch — Delta's ConcurrentTransactionException). The
    * loser treats this as an idempotent no-op, never a double-append.
    */
  final class DuplicateTxnException(msg: String)
    extends java.util.ConcurrentModificationException(msg)

  /** Per-file clustering-column bounds recorded at commit time — the
    * log-side statistics that let `query()` prune FILES without opening
    * a single footer (the Delta-style skipping the reference describes:
    * "reads the transaction log, finds that AAPL data for that date
    * lives in specific Parquet files" — README.md:131).
    *
    * `maxSymbolRows` is the largest number of rows any one symbol holds
    * in the file: a one-symbol read returns at most that many rows from
    * it, which bounds the read's result far below the file's row count
    * when every file spans every symbol. Absent in logs written before it
    * was recorded; readers then fall back to the file's row count.
    */
  final case class FileStat(
      symbolMin: String, symbolMax: String, tsMinUs: Long, tsMaxUs: Long,
      maxSymbolRows: Option[Long] = None)

  /** Per-file Bloom filter over one column's values, recorded at commit
    * time — the log-side NEEDLE statistics. Min/max bounds prune range
    * predicates on CLUSTERED columns; a Bloom filter prunes EQUALITY
    * lookups on high-cardinality columns with no layout correlation at
    * all (find one order id across a date-partitioned year: bounds
    * can't exclude anything, the Bloom excludes almost everything).
    * `m` bits / `k` hashes; bits are the dense filter, base64. `dt` is
    * the catalog type the values were hashed AS at write time — a lookup
    * against a since-evolved column type must not consult a filter built
    * over differently-hashed values (that would false-negative and prune
    * a file that contains the value).
    */
  final case class Bloom(m: Int, k: Int, dt: String, bitsB64: String)

  /** Length and modification time of an added file, recorded at commit
    * time like Delta's AddFile `size`/`modificationTime`: a read builds
    * its file index from the log alone, with no stat per file. Data
    * files are immutable once published, so the record never goes stale.
    */
  final case class FileSize(bytes: Long, mtimeMs: Long)

  /** JSON codec for the constraint map (name -> SQL predicate), shared
    * by writers and readers of `constraintsJson` so the wire form has
    * exactly one definition.
    */
  def encodeConstraints(m: Map[String, String]): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    mapper.writeValueAsString(node)
  }

  def decodeConstraints(s: String): Map[String, String] = {
    val node = new ObjectMapper().readTree(s)
    node.fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  }
}

final class TxnLog(root: String, checkpointInterval: Int = 10,
    // How long removal tombstones stay in checkpoints (Delta's
    // deletedFileRetentionDuration analog). Vacuum retention may not
    // exceed it — see [[removedTombstones]] for the soundness argument.
    val tombstoneHorizonMs: Long = TxnLog.DefaultTombstoneHorizonMs) {
  private val mapper = new ObjectMapper()
  private val logDir: Path = Paths.get(root, "_txn_log")

  // Last version/checkpoint this process has OBSERVED to exist (-2 = not
  // yet initialized). Commit files are never deleted (vacuum reclaims data
  // files only), so the caches are monotone-safe; they are lower bounds
  // refreshed by probing FORWARD with Files.exists — one miss per lookup —
  // instead of re-listing the whole log dir, which is O(commits) per call
  // and O(commits²) cumulative at the declared 100 ms commit cadence
  // (864k commits/day, README.md:37). Cross-process commits are still
  // seen: the forward probe finds them; the cache only skips re-proving
  // versions already known to exist.
  private val cachedVersion =
    new java.util.concurrent.atomic.AtomicLong(-2L)
  private val cachedCkpt =
    new java.util.concurrent.atomic.AtomicLong(-2L)

  // Lost-race publishes this instance has retried (telemetry for the
  // multi-writer contention rung and operational dashboards): a commit
  // increments it once per FileAlreadyExistsException loop iteration,
  // so `delta / commits` is the mean extra publish attempts a writer
  // pays under contention.
  val contentionRetries = new java.util.concurrent.atomic.AtomicLong(0L)

  // Parsed commit/checkpoint caches. Both file kinds are IMMUTABLE once
  // published (exclusive-create via hard-link of a fully-written temp
  // file; vacuum reclaims data files only), so a parse result keyed by
  // version can never go stale — the cache turns the per-query metadata
  // replays (snapshotFiles + fileStatsAt + rowCountsAt + schemaAt, each
  // a checkpoint-seeded tail walk) from repeated JSON reads into map
  // hits. Bounded: blooms make parsed commits non-trivial, so the cache
  // clears wholesale past a size far above any checkpoint-seeded tail.
  private val commitCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Commit]()
  private val ckptCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Checkpoint]()
  private val MaxCachedCommits = 1024

  /** Existence probes actually issued — instrumentation for the cost
    * specs (commit cost flat in log length; cold head discovery
    * O(log commits); the log dir is never listed on any hot path — the
    * sole listing left is [[listCommitFiles]], the cold empty-log guard).
    */
  private[graft] val existsProbes =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def probeExists(p: Path): Boolean = {
    existsProbes.incrementAndGet()
    Files.exists(p)
  }

  /** The ONE permitted listing: the cold-start guard when v0 is absent,
    * verifying the log is genuinely empty rather than trimmed (see the
    * no-retention invariant at [[currentVersion]]). Runs at most once per
    * process and only on empty-looking logs, so the no-listing cost
    * argument (head discovery O(log commits), never O(commits)) stands.
    */
  private def listCommitFiles(): Seq[String] =
    if (!Files.isDirectory(logDir)) Nil
    else {
      val s = Files.list(logDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json")).toSeq
      finally s.close()
    }

  /** Commit files actually parsed from disk (cache misses) — the other
    * half of the cost instrumentation: windowed reads must parse
    * O(window) commits, snapshot resolution O(checkpoint tail).
    */
  private[graft] val commitReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  import TxnLog.{Bloom, FileSize, FileStat}

  final case class Commit(
      version: Long,
      timestampMs: Long,
      added: Seq[String],
      removed: Seq[String],
      batchId: Option[String],
      schemaJson: Option[String] = None,
      rowCounts: Map[String, Long] = Map.empty,
      fileStats: Map[String, FileStat] = Map.empty,
      blooms: Map[String, Map[String, Bloom]] = Map.empty,
      // explicit operation tag (e.g. "restore") — ADVICE r5: without it
      // history() can only INFER the op from the file delta, and a
      // restore is indistinguishable from a generic rewrite in an audit
      op: Option[String] = None,
      // FULL table-constraint map (name -> SQL predicate) as of this
      // commit, recorded by constraint-changing commits only; resolved
      // like schemaJson (newest-at-or-below wins) — the set is tiny, so
      // full-map-per-change beats replaying add/drop deltas
      constraintsJson: Option[String] = None,
      // EXPLICIT idempotence transaction (Delta's txn action): the
      // committer declares (appId, monotone sequence). Only commits
      // carrying this participate in high-water idempotence; a plain
      // batchId keeps exact set semantics whatever its shape (an id
      // merely ENDING in digits must never be inferred monotone — a
      // manual "day-20240616" backfill followed by "day-20240615" would
      // silently drop the second batch)
      txn: Option[(String, Long)] = None,
      fileSizes: Map[String, FileSize] = Map.empty)

  private def versionPath(v: Long): Path = logDir.resolve(f"v$v%08d.json")

  /** Newest committed version: ONE full listing on the cold call, then a
    * forward existence probe from the cached floor (typically a single
    * stat that misses). Keeps per-commit and per-query log resolution
    * O(1) in log length instead of O(commits).
    */
  def currentVersion(): Long = {
    val cached = cachedVersion.get()
    var v =
      if (cached != -2L) cached
      else {
        // Cold start finds the head by EXPONENTIAL + BINARY SEARCH over
        // the contiguous version sequence (exclusive-create guarantees
        // no gaps): O(log commits) existence probes. The directory
        // listing this replaced is O(commits) entries — at the declared
        // 100 ms cadence (864k commits/day, README.md:37) that is
        // seconds of cold-start latency per planner process just to
        // find the head, and it re-paid on every new reader.
        // NO-RETENTION INVARIANT: the search assumes versions are
        // contiguous FROM ZERO (exclusive-create guarantees no gaps,
        // and nothing ever deletes commit files — vacuum removes data
        // files only). A future log-retention/trim feature would break
        // this silently: a populated table whose v0 was trimmed would
        // read as EMPTY here. The guard probe below turns that silent
        // wrong answer into a loud failure.
        val found =
          if (!probeExists(versionPath(0L))) {
            val strays = listCommitFiles()
            // strays + v0 re-probe: a concurrent FIRST commit can publish
            // v0 between the miss above and this listing — a benign race,
            // not a trimmed log (the forward probe below then walks the
            // one-commit-old tail from -1). Only commit files WITHOUT v0
            // on the re-check mean trim/corruption.
            require(strays.isEmpty || probeExists(versionPath(0L)),
              s"txn log at $logDir has commit files (${strays.take(3).mkString(", ")}…) " +
                "but no v00000000.json — the log was trimmed or corrupted; " +
                "head discovery assumes versions contiguous from zero")
            -1L
          } else {
            var lo = 0L; var step = 1L
            while (probeExists(versionPath(lo + step))) {
              lo += step; step *= 2
            }
            var hi = lo + step // exists(lo), !exists(hi)
            while (hi - lo > 1) {
              val mid = lo + (hi - lo) / 2
              if (probeExists(versionPath(mid))) lo = mid else hi = mid
            }
            lo
          }
        cachedVersion.compareAndSet(-2L, found)
        found
      }
    while (probeExists(versionPath(v + 1))) v += 1
    cachedVersion.updateAndGet(c => math.max(c, v))
  }

  def commits(upTo: Long = Long.MaxValue): Seq[Commit] = {
    val cur = currentVersion()
    (0L to math.min(cur, upTo)).map(read)
  }

  /** Commits in `(fromExclusive, toInclusive]` — the WINDOWED read that
    * CDC pollers (`table_changes`, [[DataLakehouse.changes]]) and
    * incremental-view refreshes need. Cost is O(window), never O(log
    * length): a reader polling the last few versions of a 10⁵-commit log
    * must not re-read the whole log per poll (that is O(n²) cumulative
    * at the declared 100 ms commit cadence, README.md:37).
    */
  def commitsBetween(fromExclusive: Long, toInclusive: Long): Seq[Commit] = {
    val hi = math.min(currentVersion(), toInclusive)
    ((math.max(0L, fromExclusive + 1)) to hi).map(read)
  }

  private def read(v: Long): Commit = {
    val cached = commitCache.get(v)
    if (cached != null) return cached
    if (commitCache.size() >= MaxCachedCommits) commitCache.clear()
    val c = readUncached(v)
    commitCache.put(v, c)
    c
  }

  private def readUncached(v: Long): Commit = {
    commitReads.incrementAndGet()
    // A commit that exists but won't parse is TABLE corruption, not a
    // cache miss: commits are the log's source of truth (checkpoints are
    // derivable caches — see parseCheckpoint's fallback — commits are
    // not). Fail loudly with the path and the recovery options instead
    // of a bare Jackson/NPE stack.
    try readCommitNode(mapper.readTree(Files.readAllBytes(versionPath(v))))
    catch {
      case e: java.nio.file.NoSuchFileException => throw e
      case e: Exception => throw new IllegalStateException(
        s"commit v$v (${versionPath(v)}) is unreadable — commits are " +
        "the transaction log's source of truth; restore the file from " +
        s"a replica or time-travel below version $v", e)
    }
  }

  private def readCommitNode(node: JsonNode): Commit = {
    def arr(name: String): Seq[String] =
      Option(node.get(name)).map(_.elements().asScala.map(_.asText()).toSeq)
        .getOrElse(Nil)
    val counts = Option(node.get("rowCounts")).map { rc =>
      rc.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    Commit(
      node.get("version").asLong(),
      node.get("timestampMs").asLong(),
      arr("added"),
      arr("removed"),
      Option(node.get("batchId")).filter(!_.isNull).map(_.asText()),
      Option(node.get("schemaJson")).filter(!_.isNull).map(_.asText()),
      counts,
      readStats(node),
      readBlooms(node),
      Option(node.get("op")).filter(!_.isNull).map(_.asText()),
      Option(node.get("constraintsJson")).filter(!_.isNull).map(_.asText()),
      Option(node.get("txnApp")).filter(!_.isNull).flatMap(a =>
        Option(node.get("txnSeq")).filter(!_.isNull)
          .map(q => (a.asText(), q.asLong()))),
      readSizes(node))
  }

  private def readBlooms(node: JsonNode): Map[String, Map[String, Bloom]] =
    Option(node.get("blooms")).map { bs =>
      bs.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala.map { ce =>
          val v = ce.getValue
          ce.getKey -> Bloom(v.get("m").asInt(), v.get("k").asInt(),
            v.get("t").asText(), v.get("b").asText())
        }.toMap
      }.toMap
    }.getOrElse(Map.empty)

  private def writeBlooms(node: ObjectNode,
      blooms: Map[String, Map[String, Bloom]]): Unit =
    if (blooms.nonEmpty) {
      val bs: ObjectNode = node.putObject("blooms")
      blooms.foreach { case (rel, byCol) =>
        val fo = bs.putObject(rel)
        byCol.foreach { case (c, bl) =>
          val o = fo.putObject(c)
          o.put("m", bl.m); o.put("k", bl.k)
          o.put("t", bl.dt); o.put("b", bl.bitsB64)
        }
      }
    }

  private def readStats(node: JsonNode): Map[String, FileStat] =
    Option(node.get("fileStats")).map { fs =>
      fs.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> FileStat(v.get("sMin").asText(), v.get("sMax").asText(),
          v.get("tMin").asLong(), v.get("tMax").asLong(),
          Option(v.get("sRowsMax")).map(_.asLong()))
      }.toMap
    }.getOrElse(Map.empty)

  private def writeStats(node: ObjectNode, stats: Map[String, FileStat]): Unit =
    if (stats.nonEmpty) {
      val fs: ObjectNode = node.putObject("fileStats")
      stats.foreach { case (k, st) =>
        val o = fs.putObject(k)
        o.put("sMin", st.symbolMin); o.put("sMax", st.symbolMax)
        o.put("tMin", st.tsMinUs); o.put("tMax", st.tsMaxUs)
        st.maxSymbolRows.foreach(o.put("sRowsMax", _))
      }
    }

  private def readSizes(node: JsonNode): Map[String, FileSize] =
    Option(node.get("fileSizes")).map { fs =>
      fs.fields().asScala.map { e =>
        e.getKey -> FileSize(e.getValue.get("len").asLong(),
          e.getValue.get("mtime").asLong())
      }.toMap
    }.getOrElse(Map.empty)

  private def writeSizes(node: ObjectNode, sizes: Map[String, FileSize]): Unit =
    if (sizes.nonEmpty) {
      val fs: ObjectNode = node.putObject("fileSizes")
      sizes.foreach { case (k, sz) =>
        val o = fs.putObject(k)
        o.put("len", sz.bytes); o.put("mtime", sz.mtimeMs)
      }
    }

  /** Append a commit; returns the committed version. Retries on version
    * collision (optimistic concurrency via exclusive file creation).
    *
    * `requireLive`: serializable file-level conflict detection for
    * copy-on-write row operations (DELETE/UPDATE/MERGE). The listed paths
    * must still be live in the PREDECESSOR snapshot or the commit throws
    * [[java.util.ConcurrentModificationException]]. The check is sound
    * against races because versions are taken by exclusive creation: we
    * validate against snapshot(v) and then try to BECOME v+1 — if another
    * writer got there first our link fails and we re-validate against the
    * new head, so a successful commit's predecessor state is exactly the
    * one it validated. (Two writers rewriting the SAME file — e.g.
    * concurrent deletes touching one partition — therefore cannot both
    * win and silently resurrect deleted rows; the loser must re-plan its
    * rewrite from the new snapshot.)
    */
  def commit(added: Seq[String], removed: Seq[String] = Nil,
      batchId: Option[String] = None,
      schemaJson: Option[String] = None,
      rowCounts: Map[String, Long] = Map.empty,
      fileStats: Map[String, FileStat] = Map.empty,
      blooms: Map[String, Map[String, Bloom]] = Map.empty,
      fileSizes: Map[String, FileSize] = Map.empty,
      requireLive: Seq[String] = Nil,
      op: Option[String] = None,
      constraintsJson: Option[String] = None,
      // Some(expected): the PREDECESSOR snapshot's constraintsJson must
      // equal `expected` or the commit throws — read-modify-write DDL
      // (add/dropConstraint) is serializable like requireLive makes row
      // ops: validated inside the exclusive-create retry loop, so the
      // winner's predecessor state is exactly what it validated and a
      // racing DDL can never be silently clobbered
      expectedConstraints: Option[Option[String]] = None,
      // Some(expected): the PREDECESSOR snapshot's recorded schema must
      // equal `expected` or the commit throws SchemaConflictException —
      // the same serializability the constraint map has. Threaded by
      // every path that WRITES schemaJson derived from a read of the
      // current record (append's monotone merge, column DDL, restore),
      // so a concurrent schema change is never silently clobbered.
      expectedSchema: Option[Option[String]] = None,
      // explicit idempotence transaction (Delta txn action): (appId,
      // monotone seq) — see [[hasTxn]]; batchId alone keeps exact-set
      // semantics
      txn: Option[(String, Long)] = None): Long = {
    Files.createDirectories(logDir)
    var attempt = 0
    while (true) {
      val v = currentVersion() + 1
      if (requireLive.nonEmpty) {
        val live = snapshotFiles(v - 1).toSet
        val gone = requireLive.filterNot(live)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"conflicting commit: ${gone.size} file(s) no longer live " +
              s"at version ${v - 1}, e.g. ${gone.head}")
      }
      expectedConstraints.foreach { expected =>
        val actual = constraintsAt(v - 1)
        if (actual != expected)
          throw new TxnLog.ConstraintConflictException(
            s"conflicting constraint DDL: predecessor version ${v - 1} " +
              s"carries $actual, expected $expected — re-read and retry")
      }
      expectedSchema.foreach { expected =>
        val actual = schemaAt(v - 1)
        if (actual != expected)
          throw new TxnLog.SchemaConflictException(
            s"conflicting schema change: predecessor version ${v - 1} " +
              "records a different schema than this commit derived from " +
              "— re-read and retry")
      }
      // Re-validate BOTH idempotence tiers against the CURRENT head on
      // every attempt — the caller's entry check races its own staging
      // write (zombie driver + failover both replay one epoch/batch,
      // both pass the entry check, both stage; this committer must see
      // the winner here and no-op instead of landing the rows twice).
      // The refresh must run even on the FIRST attempt: a concurrent
      // same-batch commit can land between the entry check and this
      // point WITHOUT causing a version collision (our v is computed
      // after theirs), so the retry path alone cannot be relied on.
      // Cost: one amortized existence probe + cached-tail fold per
      // commit — noise next to the exclusive-create publish itself.
      if (isDuplicate(batchId, txn))
        throw new TxnLog.DuplicateTxnException(
          s"batch ${batchId.orNull} / txn ${txn.orNull} already " +
            "committed — concurrent replay of the same batch")
      val node: ObjectNode = mapper.createObjectNode()
      node.put("version", v)
      node.put("timestampMs", System.currentTimeMillis())
      val a: ArrayNode = node.putArray("added"); added.foreach(a.add)
      val r: ArrayNode = node.putArray("removed"); removed.foreach(r.add)
      batchId.foreach(node.put("batchId", _))
      txn.foreach { case (app, seq) =>
        node.put("txnApp", app); node.put("txnSeq", seq)
      }
      schemaJson.foreach(node.put("schemaJson", _))
      op.foreach(node.put("op", _))
      constraintsJson.foreach(node.put("constraintsJson", _))
      if (rowCounts.nonEmpty) {
        val rc: ObjectNode = node.putObject("rowCounts")
        rowCounts.foreach { case (k, n) => rc.put(k, n) }
      }
      writeStats(node, fileStats)
      writeBlooms(node, blooms)
      writeSizes(node, fileSizes)
      val tmp = Files.createTempFile(logDir, ".commit", ".tmp")
      Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
      TxnLog.seam("commit:tmp-written")
      try {
        publishExclusive(versionPath(v), tmp)
        TxnLog.seam("commit:published")
        Files.deleteIfExists(tmp)
        cachedVersion.updateAndGet(c => math.max(c, v))
        // fold into the in-memory idempotence view only AFTER the
        // publish succeeded — recording earlier would poison it when a
        // retry iteration later throws (conflict, contention cap): the
        // batch never persisted, yet its replay would no-op and its
        // rows would be lost in this process
        recordIdempotence(batchId, txn)
        TxnLog.seam("commit:recorded")
        // the commit IS durable at this point and checkpoints are pure
        // caches (readers fall back to an older checkpoint or a full
        // replay) — a checkpoint-write failure must not surface as a
        // failed commit: the caller would retry rows that actually
        // landed, and a txn-free batch would double-land
        try maybeCheckpoint(v)
        catch {
          case scala.util.control.NonFatal(t) => TxnLog.log.warn(
            s"checkpoint at v$v failed (cache only — commit is durable, " +
              "readers fall back to an older checkpoint or full replay)", t)
        }
        return v
      } catch {
        // ONLY the lost-race signal retries; a broader FileSystemException
        // catch would spin 100 times on a full disk or EPERM and then
        // misreport a storage failure as version contention
        case _: java.nio.file.FileAlreadyExistsException =>
          Files.deleteIfExists(tmp)
          cachedVersion.updateAndGet(c => math.max(c, v)) // v is taken
          contentionRetries.incrementAndGet()
          attempt += 1
          if (attempt > 100) sys.error(s"txn log contention at version $v")
      }
    }
    -1L // unreachable
  }

  /** True CREATE_NEW publish of a fully-written temp file: hard-link
    * creation is atomic AND exclusive (EEXIST when the version is taken) —
    * unlike ATOMIC_MOVE, whose rename(2) silently replaces an existing
    * target and would let two racing committers drop each other's commits.
    *
    * Portability: filesystems without hard links (some NFS/FUSE/
    * object-store mounts) fall back to an exclusive-create write of the
    * same bytes — CREATE_NEW keeps the no-overwrite guarantee; the only
    * property lost is link-publish's readers-see-complete-content (a
    * reader can transiently observe a partially-written commit on such
    * mounts, the same window every rename-less log format has there).
    */
  /** Delete staged `.commit*.tmp` / `.ckpt*.tmp` files older than
    * `cutoffMs` (epoch millis) from the log dir — the residue a writer
    * killed between staging and publish leaves behind (see the crash
    * seams in [[TxnLog.seam]]). Recovery never READS these (version
    * resolution matches only published `v*.json` / `checkpoint-v*.json`
    * names), so the sweep is hygiene, not correctness — but a
    * crash-looping committer at 100 ms cadence would otherwise grow the
    * dir listing without bound. Called from vacuum with the table's
    * retention cutoff: an IN-FLIGHT commit's tmp is milliseconds old and
    * can only be swept at `retainMs = 0` (the dev/test setting, where a
    * concurrent sweep makes the in-flight publish fail loudly with
    * NoSuchFileException — never silently).
    */
  def sweepStagedTmp(cutoffMs: Long): Long = {
    if (!Files.isDirectory(logDir)) return 0L
    val it = Files.list(logDir)
    try {
      it.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n.endsWith(".tmp") && (n.startsWith(".commit") ||
            n.startsWith(".ckpt") || n.startsWith(".vac"))
        }
        .count { p =>
          try Files.getLastModifiedTime(p).toMillis <= cutoffMs &&
            Files.deleteIfExists(p)
          catch { case _: java.nio.file.NoSuchFileException => false }
        }.toLong
    } finally it.close()
  }

  private def publishExclusive(target: Path, tmp: Path): Unit =
    // seam("publish:link") lets a spec throw FileSystemException here to
    // drive the no-hardlink fallback in-process (the mount itself links
    // fine); production pays one volatile null read
    try { TxnLog.seam("publish:link"); Files.createLink(target, tmp) }
    catch {
      case e: java.nio.file.FileAlreadyExistsException => throw e
      case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
        // NoSuchFileException (tmp swept by a concurrent retainMs=0
        // vacuum) is a FileSystemException and lands HERE, not just
        // genuine no-hardlink mounts — so read the staged bytes BEFORE
        // creating the target: reading first turns a vanished tmp into
        // the documented loud NoSuchFileException with no target
        // created, where create-first published a permanent EMPTY
        // commit file that bricked every future read of this version.
        val bytes = Files.readAllBytes(tmp)
        def writeInto(createOpt: java.nio.file.OpenOption,
            seamName: String): Unit = {
          val ch = java.nio.channels.FileChannel.open(target,
            createOpt, java.nio.file.StandardOpenOption.WRITE)
          try {
            // after open, before bytes: a spec-thrown exception here is
            // a simulated mid-write failure on an already-claimed slot
            TxnLog.seam(seamName)
            val buf = java.nio.ByteBuffer.wrap(bytes)
            while (buf.hasRemaining) ch.write(buf)
            ch.force(true)
          } finally ch.close()
        }
        try writeInto(java.nio.file.StandardOpenOption.CREATE_NEW,
          "publish:fallback-claimed")
        catch {
          // target created by a concurrent committer — slot genuinely
          // taken, nothing of ours exists: propagate the claim failure
          case e: java.nio.file.FileAlreadyExistsException => throw e
          // a mid-write failure (disk full) after CREATE_NEW succeeded
          // must NOT delete the claimed slot: a concurrent committer
          // that already saw FileAlreadyExists at this version treats
          // it as taken and publishes the NEXT one, so deleting leaves
          // a version GAP — and head discovery assumes contiguity, so
          // cold-start readers would resolve head BELOW the gap and
          // silently lose every later commit. Retry the bytes into the
          // slot we own; if that fails too, LEAVE the partial file — a
          // loud broken version beats silently truncated history.
          case t: Throwable =>
            try writeInto(java.nio.file.StandardOpenOption.TRUNCATE_EXISTING,
              "publish:fallback-retry")
            catch { case r: Throwable => t.addSuppressed(r); throw t }
        }
    }

  // ---- batch idempotence (T6 exactly-once: foreachBatch replays
  // become no-ops). Two EXPLICIT tiers, the Delta design:
  //   - txn (appId, seq): the committer DECLARES a per-app monotone
  //     sequence (Structured Streaming's epoch contract). State
  //     compresses to a per-app HIGH-WATER — bounded by app count at
  //     any commit rate and carried in checkpoints, so a streaming
  //     RESTART seeds in O(interval + apps) instead of replaying every
  //     commit (minutes at the declared 100 ms cadence).
  //   - plain batchId: EXACT set membership whatever the id's shape.
  //     Monotonicity is never INFERRED from the id text — a manual
  //     "day-20240616" backfill followed by "day-20240615" must append,
  //     not silently no-op. The set is recorded verbatim in checkpoints
  //     (bounded in practice: the high-rate committer is the streaming
  //     path, which uses txn).
  // Ids are never un-committed, so hits need no revalidation; a miss
  // replays only the unseen commit tail (a batch committed by a
  // concurrent sibling process is found there).

  /** Idempotence state at `v`: per-app txn high-water + exact batch-id
    * set, checkpoint-seeded like [[snapshotFiles]] — O(interval) tail,
    * never a full replay. A checkpoint written before these fields
    * existed — or written under the earlier inferred-monotonicity
    * design (old field name, not read) — falls back to the full
    * replay: correctness over speed for old logs.
    */
  private def batchStateAt(
      v: Long): (Map[String, Long], Set[String]) = {
    val upTo = math.min(currentVersion(), v)
    // batchIdsTxnFree gates the seed: an UNMARKED id array (written
    // before commits-with-txn stopped feeding it) can contain
    // txn-carried ids whose membership would wrongly veto a committer
    // reusing that id string under a strictly HIGHER sequence. Such
    // checkpoints pay the one-time full replay (the established
    // migration rule); the next checkpoint writes the marked form.
    val (from, hw0, arb0) = latestCheckpoint(upTo) match {
      case Some(ck) if ck.txnHighWater.isDefined && ck.batchIdsTxnFree =>
        (ck.version + 1, ck.txnHighWater.get, ck.batchIds.toSet)
      case _ => (0L, Map.empty[String, Long], Set.empty[String])
    }
    val hw = scala.collection.mutable.Map.empty[String, Long] ++ hw0
    val arb = scala.collection.mutable.Set.empty[String] ++ arb0
    (from to upTo).foreach { ver =>
      val c = read(ver)
      c.txn.foreach { case (app, seq) =>
        hw.update(app, math.max(hw.getOrElse(app, Long.MinValue), seq))
      }
      // a commit carrying BOTH tiers records ONLY the txn: the exact set
      // (and the checkpoint array that persists it) must stay bounded by
      // the txn-free committer population — folding txn-carried ids in
      // would grow every checkpoint linearly with commit count at the
      // declared 100 ms streaming cadence (~20 MB/day of ids, rewritten
      // every interval: O(commits²) cumulative checkpoint IO). The
      // batchId of a txn commit is audit metadata; its replay guard is
      // the high-water (see the loud note on [[hasBatch]]).
      if (c.txn.isEmpty) c.batchId.foreach(arb += _)
    }
    (hw.toMap, arb.toSet)
  }

  // In-memory idempotence view, checkpoint-seeded on first use;
  // refreshed forward by [[hasBatch]]/[[hasTxn]]. Concurrent: a
  // streaming foreachBatch committer and a driver-side flush() may
  // share this instance across threads (the same race the createLink
  // publish defends against).
  private lazy val txnHighWater =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private lazy val exactBatches: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def recordIdempotence(batchId: Option[String],
      txn: Option[(String, Long)]): Unit = {
    txn.foreach { case (app, seq) => txnHighWater.merge(app, Long.box(seq),
      (x, y) => if (x >= y) x else y) }
    // txn-free ids only — must mirror batchStateAt exactly (the in-memory
    // view and the checkpoint-seeded view must agree), and the exact set
    // must stay bounded by the txn-free committer population (see the
    // boundedness rationale at batchStateAt)
    if (txn.isEmpty) batchId.foreach(exactBatches.add)
  }
  private def recordCommit(c: Commit): Unit =
    recordIdempotence(c.batchId, c.txn)

  // newest version already folded into the in-memory view; -2 = seed
  // not yet run
  private val batchSeedVersion =
    new java.util.concurrent.atomic.AtomicLong(-2L)

  private def seedThenRefresh(check: () => Boolean): Boolean = {
    if (batchSeedVersion.get() == -2L) synchronized {
      if (batchSeedVersion.get() == -2L) {
        val cur = currentVersion()
        val (hw, arb) = batchStateAt(cur)
        hw.foreach { case (a, b) => txnHighWater.merge(a, Long.box(b),
          (x, y) => if (x >= y) x else y) }
        arb.foreach(exactBatches.add)
        batchSeedVersion.compareAndSet(-2L, cur)
      }
    }
    check() || {
      val cur = currentVersion()
      val from = batchSeedVersion.get() + 1
      if (cur >= from) {
        (from to cur).foreach(v => recordCommit(read(v)))
        batchSeedVersion.updateAndGet(c => math.max(c, cur))
      }
      check()
    }
  }

  /** Batch id `<app>-<seq>` read-through for [[hasBatch]]: the streaming
    * committer forms its batch ids as s"$appId-$batchNum" and declares
    * txn = (appId, batchNum) on the same commit, so an id whose prefix
    * is a RECORDED txn app and whose suffix is at-or-below that app's
    * high-water is a committed (or superseded) stream batch. O(1)
    * against state the checkpoint already carries — nothing new is
    * persisted. Ids whose prefix matches no recorded app never hit
    * (a txn-free "day-20240615" backfill cannot be vetoed by this path
    * unless the caller shares an id namespace with a live stream — the
    * documented trade-off of the shared `<app>-<seq>` shape).
    */
  private def txnShapedHit(batchId: String): Boolean = {
    val i = batchId.lastIndexOf('-')
    i > 0 && i < batchId.length - 1 && {
      val suffix = batchId.substring(i + 1)
      // <= 18 digits: parseable as a non-negative Long without overflow.
      // CANONICAL forms only ("0" or no leading zero): the committer
      // writes s"$appId-$batchNum" unpadded, so "stream-03" is an id it
      // can never have produced — answering true for it (03 parses to
      // 3 <= high-water) would veto a genuinely new batch from an
      // external txn-free caller using zero-padded ids in a colliding
      // app namespace.
      suffix.length <= 18 && suffix.forall(c => c >= '0' && c <= '9') &&
        (suffix == "0" || suffix.charAt(0) != '0') &&
        Option(txnHighWater.get(batchId.substring(0, i)))
          .exists(suffix.toLong <= _.longValue())
    }
  }

  /** Has this exact batch id already committed? Two tiers, no
    * monotonicity ever inferred from the id text alone:
    *  - exact set membership for ids committed WITHOUT a txn;
    *  - a read-through for txn-carried ids: an id of the streaming
    *    shape `<app>-<seq>` whose app is a recorded txn app answers via
    *    that app's per-commit high-water ([[txnShapedHit]]). Those ids
    *    are deliberately NOT in the exact set (recording them would
    *    grow every checkpoint linearly with commit count at the
    *    declared 100 ms cadence; the high-water is bounded by app
    *    count), but an external caller probing one still gets the
    *    truthful answer instead of a silent false.
    * Cross-process visibility: a miss replays only the commit tail this
    * instance has not yet seen. [[isDuplicate]]'s batch tier stays
    * exact-set-only on purpose: its callers carry the txn they commit
    * with (the txn tier answers), and read-through there would let an
    * id-namespace collision veto a genuinely new txn-free commit inside
    * the commit loop.
    */
  def hasBatch(batchId: String): Boolean =
    seedThenRefresh(() =>
      exactBatches.contains(batchId) || txnShapedHit(batchId))

  /** Has transaction (appId, seq) — or any LATER sequence of the same
    * app — already committed? Delta txn semantics: sequences are
    * monotone per app, so at-or-below the high-water means
    * already-committed or superseded, and the replay no-ops.
    */
  def hasTxn(app: String, seq: Long): Boolean =
    seedThenRefresh(() =>
      Option(txnHighWater.get(app)).exists(seq <= _.longValue()))

  /** Both idempotence tiers in ONE seed+refresh pass — the hot-path
    * form for committers that carry a batchId AND a txn (the streaming
    * append): two separate hasTxn/hasBatch calls would each pay their
    * own head probe and tail replay per micro-batch.
    */
  def isDuplicate(batchId: Option[String],
      txn: Option[(String, Long)]): Boolean =
    (batchId.isDefined || txn.isDefined) && seedThenRefresh(() =>
      // OR of both tiers. Safe and necessary BECAUSE the exact set holds
      // txn-free ids only: a committer reusing a batchId string under a
      // HIGHER sequence is not wrongly skipped (the id never entered the
      // set), while a payload first committed txn-FREE under id X and
      // replayed later WITH a txn is still vetoed by X's membership —
      // the cross-tier upgrade case a txn-only check would double-land.
      txn.exists { case (a, q) =>
        Option(txnHighWater.get(a)).exists(q <= _.longValue())
      } || batchId.exists(exactBatches.contains))

  // ---- checkpoints: O(commits) replay → O(interval) snapshot resolution.
  // Every `checkpointInterval` commits the full live file list is written
  // to checkpoint-v%08d.json; snapshot(v) replays only the tail after the
  // newest checkpoint <= v. At 100 ms flush cadence (864k commits/day,
  // README.md:37) unbounded replay would dominate query planning.

  private def checkpointPath(v: Long): Path =
    logDir.resolve(f"checkpoint-v$v%08d.json")

  private final case class Checkpoint(version: Long, files: Seq[String],
      schemaJson: Option[String], rowCounts: Option[Map[String, Long]],
      fileStats: Map[String, FileStat],
      blooms: Map[String, Map[String, Bloom]],
      fileSizes: Map[String, FileSize],
      constraintsJson: Option[String],
      // Per-app txn high-water (appId -> max DECLARED sequence) plus
      // the exact set of plain batch ids, as of `version` — the Delta
      // txn-action analog. Only commits that DECLARED txn=(app, seq)
      // feed the map; plain batch ids are recorded verbatim whatever
      // their shape. None (not empty) when the checkpoint predates the
      // field or carries only the superseded "streamTxn" name — that
      // name's state is AMBIGUOUS (written first by the inferred-
      // monotonicity design, then briefly by the declared-txn one with
      // no version marker), so it is deliberately not read and the
      // seed pays a one-time full replay per old table instead of
      // risking a misread; the next checkpoint writes the new field.
      txnHighWater: Option[Map[String, Long]],
      batchIds: Seq[String],
      // True iff `batchIds` was written under the txn-free-only rule
      // (commits carrying a txn record ONLY the high-water; their batch
      // ids never enter the array). Arrays written before the rule can
      // contain txn-carried ids, and seeding those would wrongly veto a
      // committer reusing such an id under a strictly HIGHER sequence —
      // the false-skip the txn tier exists to prevent. Same migration
      // treatment as the superseded "streamTxn" field: an unmarked
      // array is not read, and the seed pays a one-time full replay per
      // old table (the next checkpoint writes the marked form).
      batchIdsTxnFree: Boolean,
      // Latest-removal-time tombstones (rel path -> epoch ms) for files
      // removed within the tombstone horizon — the Delta deleted-file-
      // retention analog that lets vacuum age dead files from the
      // checkpoint + tail instead of replaying the whole log. INLINE
      // form, legacy: current checkpoints carry only `tombsCount` and
      // store the map in a sidecar (see writeCheckpoint). None when the
      // checkpoint predates both forms (full-replay fallback).
      removedAtMs: Option[Map[String, Long]],
      // tombsCount == 0 is authoritative "no tombstones" (never written
      // alongside a ref); None with no ref and no inline map means a
      // pre-feature checkpoint (full-replay fallback).
      tombsCount: Option[Int],
      // Head of the incremental tombstone sidecar chain (see
      // maybeCheckpoint): where resolution starts, plus the chain/base
      // bookkeeping the NEXT checkpoint's rebase policy needs.
      tombs: Option[TombsRef],
      // Largest horizon cut ever APPLIED to this tombstone state (epoch
      // ms): entries at-or-below it may have been expired. Persisted so
      // vacuum validates its cutoff against the horizon the WRITER used,
      // not this process's config — horizon knob skew between writer and
      // maintenance process must force the full-replay path, never a
      // silent retention-violating delete.
      tombsHorizonCutMs: Option[Long])

  private final case class TombsRef(ref: Long, chainEntries: Long,
      baseEntries: Long, trimMs: Long)

  /** Checkpoints carry the full derived read state — live files, newest
    * schema, per-file row counts — so EVERY per-query log resolution
    * (`snapshotFiles`, `schemaAt`, `rowCountsAt`) replays only the tail
    * after the newest checkpoint, never the whole log. At the declared
    * 100 ms flush cadence (864k commits/day, README.md:37) a full replay
    * per query would dominate planning.
    */
  private def maybeCheckpoint(v: Long): Unit =
    if (checkpointInterval > 0 && v > 0 && v % checkpointInterval == 0) {
      val node: ObjectNode = mapper.createObjectNode()
      node.put("version", v)
      val files = snapshotFiles(v)
      val a: ArrayNode = node.putArray("files")
      files.foreach(a.add)
      schemaAt(v).foreach(node.put("schemaJson", _))
      constraintsAt(v).foreach(node.put("constraintsJson", _))
      val live = files.toSet
      val rc: ObjectNode = node.putObject("rowCounts")
      rowCountsAt(v).foreach { case (k, n) => if (live(k)) rc.put(k, n) }
      writeStats(node, fileStatsAt(v).view.filterKeys(live).toMap)
      writeBlooms(node, bloomsAt(v).view.filterKeys(live).toMap)
      writeSizes(node, fileSizesAt(v).view.filterKeys(live).toMap)
      // idempotence state (Delta txn-action analog): the per-app
      // high-water of DECLARED txn=(app, seq) commits keeps the record
      // bounded by app count at any commit rate; plain batch ids are
      // recorded verbatim (exact-set semantics — monotonicity is never
      // inferred from id text). High-rate committers should declare
      // txn, the same contract Delta's txn action sets.
      val (hw, arb) = batchStateAt(v)
      val st: ObjectNode = node.putObject("txnHighWater")
      hw.toSeq.sortBy(_._1).foreach { case (k, b) => st.put(k, b) }
      val bi: ArrayNode = node.putArray("batchIds")
      arb.toSeq.sorted.foreach(bi.add)
      // rule marker: this array holds txn-FREE ids only (see the
      // Checkpoint field note — unmarked arrays are never seeded)
      node.put("batchIdsTxnFree", true)
      // Removal tombstones (the Delta deletedFileRetentionDuration
      // analog) live OUTSIDE the main checkpoint in an INCREMENTAL
      // sidecar chain (`checkpoint-v*.tombs.json`), because their cost
      // profile is unlike the rest of the checkpoint state: only vacuum
      // reads them, EVERY query parses the main checkpoint, and on a
      // rewrite-heavy table they outgrow the live state. Both simpler
      // designs were measured and rejected by the txnlog probe:
      // inlining 10k ring tombstones cost a 20× snapshot-parse
      // regression; full-sidecar rewrites cost O(tombstones²/interval)
      // cumulative IO (the 100k ring stalled — and at the declared
      // 864k-commit/day cadence even a daily-vacuumed table would pay
      // ~TB/day of checkpoint IO). Design:
      //  - per checkpoint, write only the DELTA of removals since the
      //    previous checkpoint (O(interval)), chained via a `prev`
      //    pointer in the sidecar itself (resolution follows FILE
      //    pointers, so it is correct under any publish interleaving);
      //  - REBASE to a fresh full base — dropping superseded chain
      //    files — when the chain outgrows the base (geometric, so
      //    cumulative rebase IO is O(total removals)), or when a
      //    completed vacuum advanced the trim floor (the old entries
      //    describe files that vacuum just deleted);
      //  - trim every write by horizon and vacuum floor (soundness at
      //    recordVacuumCutoff / removedTombstones); `tombsCount: 0` in
      //    the main file is authoritative emptiness, so append-only
      //    tables never touch a sidecar;
      //  - a lost/corrupt chain is a cache miss: vacuum falls back to
      //    the full commit replay, loudly.
      val horizonCut = System.currentTimeMillis() - tombstoneHorizonMs
      val vacuumTrim = lastVacuumCutoff()
      def keepT(t: Long): Boolean = t > horizonCut && t >= vacuumTrim
      val prevCk = latestCheckpoint(v - 1)
      // the largest horizon cut EVER applied to this state, persisted so
      // vacuum validates against the writer's horizon, not its own config
      node.put("tombsHorizonCutMs", math.max(horizonCut,
        prevCk.flatMap(_.tombsHorizonCutMs).getOrElse(Long.MinValue)))
      lazy val delta = latestRemovalFold(
        commitsBetween(prevCk.map(_.version).getOrElse(-1L), v))
        .filter { case (_, t) => keepT(t) }.toMap
      def writeSidecar(content: Map[String, Long], prev: Long): Unit = {
        val tn = mapper.createObjectNode()
        tn.put("prev", prev)
        val ra: ObjectNode = tn.putObject("removedAtMs")
        content.toSeq.sortBy(_._1).foreach { case (f, t) => ra.put(f, t) }
        val ttmp = Files.createTempFile(logDir, ".ckpt-tombs", ".tmp")
        Files.write(ttmp, mapper.writeValueAsString(tn)
          .getBytes(StandardCharsets.UTF_8))
        try Files.move(ttmp, tombsPath(v), StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        catch { case e: java.nio.file.FileSystemException =>
          Files.deleteIfExists(ttmp)
          // swallow only a lost same-version race (equivalent content
          // already published); a sidecar that did NOT land must fail the
          // checkpoint rather than publish a ref to a missing file
          if (!Files.exists(tombsPath(v))) throw e
        }
      }
      def seedCache(m: Map[String, Long]): Unit = {
        if (tombsCache.size() >= 8) tombsCache.clear()
        tombsCache.put(v, m)
      }
      def putRef(ref: Long, chainE: Long, baseE: Long, trim: Long): Unit = {
        node.put("tombsRef", ref)
        node.put("tombsChainEntries", chainE)
        node.put("tombsBaseEntries", baseE)
        node.put("tombsTrimMs", trim)
      }
      // superseded-chain cleanup is DEFERRED until the main checkpoint
      // publishes: dropping first would leave the still-newest previous
      // checkpoint referencing deleted files if we crash in between
      var pendingTombsDrop = -1L
      def rebase(): Unit = {
        // full resolution: chain-cached when warm; one-time full replay
        // on legacy/pre-feature checkpoints (the migration rule)
        val full = removedTombstones(v).filter { case (_, t) => keepT(t) }
        if (full.isEmpty) node.put("tombsCount", 0)
        else {
          writeSidecar(full, prev = -1L)
          putRef(v, 0L, full.size.toLong, vacuumTrim)
          seedCache(full)
        }
        pendingTombsDrop = v
      }
      prevCk.flatMap(_.tombs) match {
        case None if prevCk.exists(_.tombsCount.contains(0)) =>
          // empty-so-far is authoritative: the delta IS the full state
          if (delta.isEmpty) node.put("tombsCount", 0)
          else {
            writeSidecar(delta, prev = -1L)
            putRef(v, 0L, delta.size.toLong, vacuumTrim)
            seedCache(delta)
          }
        case None => rebase() // first checkpoint, legacy inline, or pre-feature
        case Some(tr) =>
          if (vacuumTrim > tr.trimMs) rebase()
          else if (delta.isEmpty)
            putRef(tr.ref, tr.chainEntries, tr.baseEntries, tr.trimMs)
          else if (tr.chainEntries + delta.size >=
              math.max(1000L, tr.baseEntries)) rebase()
          else {
            writeSidecar(delta, prev = tr.ref)
            putRef(v, tr.chainEntries + delta.size, tr.baseEntries, tr.trimMs)
            // seed the resolver when the previous chain is warm, so the
            // next rebase never re-parses the chain from disk
            val prevResolved = tombsCache.get(tr.ref)
            if (prevResolved != null) seedCache(prevResolved ++ delta)
          }
      }
      val tmp = Files.createTempFile(logDir, ".ckpt", ".tmp")
      Files.write(tmp, mapper.writeValueAsString(node)
        .getBytes(StandardCharsets.UTF_8))
      TxnLog.seam("ckpt:tmp-written")
      val published =
        try {
          Files.move(tmp, checkpointPath(v), StandardCopyOption.ATOMIC_MOVE)
          true
        } catch { case _: java.nio.file.FileSystemException =>
          Files.deleteIfExists(tmp)
          // lost race vs GENUINE publish failure (EIO, quota): trust
          // only what is on disk — a real failure must not run the
          // hygiene below, or it deletes the tombstone chain the
          // still-newest REAL checkpoint references and poisons
          // cachedCkpt with a version that never landed
          Files.exists(checkpointPath(v))
        }
      TxnLog.seam("ckpt:published")
      if (published) {
        cachedCkpt.updateAndGet(c => math.max(c, v))
        // rebase hygiene runs only after the new checkpoint is live; a
        // crash before this point leaves the old chain intact (still
        // referenced), a crash after leaves sweepable leftovers for the
        // NEXT rebase's listing
        if (pendingTombsDrop >= 0) dropSupersededTombs(pendingTombsDrop)
      }
      // not published: checkpointing is best-effort — the old chain and
      // cache stay intact and the next interval retries; any rebased
      // sidecar written above is an unreferenced leftover the next
      // rebase's listing sweeps
    }

  /** Newest checkpoint that exists, cache-seeded like [[currentVersion]]:
    * one listing cold, then forward probes at interval multiples (another
    * process may have checkpointed since).
    */
  private def newestCheckpointVersion(): Long = {
    val cached = cachedCkpt.get()
    var b =
      if (cached != -2L) cached
      else {
        // Cold start derives the newest checkpoint from the head instead
        // of LISTING the log dir (O(commits) entries): checkpoints live
        // at interval multiples, so probe DOWNWARD from
        // floor(head/interval)·interval — one hit in the steady state;
        // the walk only lengthens when checkpoint writes were skipped
        // (crash windows), which does not accumulate.
        val found =
          if (checkpointInterval <= 0) -1L
          else {
            var k = currentVersion() / checkpointInterval * checkpointInterval
            while (k > 0 && !probeExists(checkpointPath(k)))
              k -= checkpointInterval
            if (k > 0) k else -1L
          }
        cachedCkpt.compareAndSet(-2L, found)
        found
      }
    if (checkpointInterval > 0) {
      var k = (math.max(b, 0L) / checkpointInterval + 1) * checkpointInterval
      while (probeExists(checkpointPath(k))) { b = k; k += checkpointInterval }
    }
    cachedCkpt.updateAndGet(c => math.max(c, b))
  }

  /** Checkpoint versions that exist but failed to parse (bit rot, torn
    * external copy). Remembered so the fallback walk neither re-parses
    * nor re-warns per read; a later checkpoint at a NEW version heals
    * the table (versions are never rewritten, so a bad one stays bad).
    */
  private val badCkpts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()

  /** Newest READABLE checkpoint at or below `v`, if any. Checkpoints
    * live at fixed interval multiples, so lookups probe DOWNWARD from
    * the newest (or floor(v/interval)·interval for historical `v`) —
    * normally one hit — rather than listing the directory. A checkpoint
    * that exists but fails to parse is SKIPPED with a loud warning, not
    * fatal: checkpoints are pure caches of the commit fold, so an older
    * checkpoint — or, worst case, None = full replay — answers every
    * read identically; commits alone are the source of truth.
    */
  private def latestCheckpoint(v: Long): Option[Checkpoint] = {
    if (checkpointInterval <= 0) return None
    val newest = newestCheckpointVersion()
    var k =
      if (newest <= v) newest
      else v / checkpointInterval * checkpointInterval
    while (k > 0) {
      // k == newest is already proven to exist by newestCheckpointVersion
      // — no extra stat on the hot path (the existsProbes cost specs)
      if (!badCkpts.contains(k) &&
          (k == newest || probeExists(checkpointPath(k)))) {
        parseCheckpoint(k) match {
          case some @ Some(_) => return some
          case None => // marked bad + warned; keep walking down
        }
      }
      k -= checkpointInterval
    }
    None
  }

  private def parseCheckpoint(best: Long): Option[Checkpoint] =
    try Some({
      if (ckptCache.size() >= 64) ckptCache.clear()
      ckptCache.computeIfAbsent(best, { b =>
      val node = mapper.readTree(Files.readAllBytes(checkpointPath(b)))
      val counts = Option(node.get("rowCounts")).map { rc =>
        rc.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }
      Checkpoint(b,
        node.get("files").elements().asScala.map(_.asText()).toSeq,
        Option(node.get("schemaJson")).filter(!_.isNull).map(_.asText()),
        counts,
        readStats(node),
        readBlooms(node),
        readSizes(node),
        Option(node.get("constraintsJson")).filter(!_.isNull).map(_.asText()),
        Option(node.get("txnHighWater")).map { st =>
          st.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        },
        Option(node.get("batchIds"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil),
        Option(node.get("batchIdsTxnFree")).exists(_.asBoolean()),
        Option(node.get("removedAtMs")).map { ra =>
          ra.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        },
        Option(node.get("tombsCount")).map(_.asInt()),
        Option(node.get("tombsRef")).map { r =>
          TombsRef(r.asLong(),
            Option(node.get("tombsChainEntries")).map(_.asLong()).getOrElse(0L),
            Option(node.get("tombsBaseEntries")).map(_.asLong()).getOrElse(0L),
            Option(node.get("tombsTrimMs")).map(_.asLong())
              .getOrElse(Long.MinValue))
        },
        Option(node.get("tombsHorizonCutMs")).map(_.asLong()))
    })})
    catch {
      case e: Exception =>
        badCkpts.add(best)
        TxnLog.log.warn(s"checkpoint v$best (${checkpointPath(best)}) is " +
          s"unreadable (${e.getClass.getSimpleName}: ${e.getMessage}); " +
          "falling back to an older checkpoint or full commit replay — " +
          "checkpoints are caches, commits are the source of truth")
        None
    }

  /** Live file list (relative paths) at a version (default: latest).
    * Starts from the newest checkpoint <= version, replaying only the
    * commit tail.
    */
  def snapshotFiles(version: Long = Long.MaxValue): Seq[String] = {
    val cur = currentVersion()
    val upTo = math.min(cur, version)
    val (from, initial) = latestCheckpoint(upTo)
      .map(ck => (ck.version + 1, ck.files))
      .getOrElse((0L, Seq.empty[String]))
    val live = scala.collection.mutable.LinkedHashSet.empty[String]
    live ++= initial
    (from to upTo).map(read).foreach { c =>
      live ++= c.added
      live --= c.removed
    }
    live.toSeq
  }

  private def tombsPath(v: Long): Path =
    logDir.resolve(f"checkpoint-v$v%08d.tombs.json")

  private val tombsCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()

  /** Resolve the tombstone map whose chain head is the sidecar at `r`:
    * each sidecar carries its own delta plus a `prev` pointer; merging
    * newest-over-oldest reproduces the latest-removal fold (a later
    * delta's timestamp for the same file is by construction later).
    * None when any link is missing or corrupt — like a corrupt
    * checkpoint, the caller falls back to a full commit replay
    * (sidecars are caches of the fold); a loud warning names the file.
    */
  private def resolveTombsChain(r: Long): Option[Map[String, Long]] = {
    val head = tombsCache.get(r)
    if (head != null) return Some(head)
    // ITERATIVE walk (a long-lived chain between rebases can run to
    // thousands of links — recursion overflowed at the 100k ring probe):
    // collect deltas newest-first until a cached link or the base, then
    // fold oldest-first so newer entries win.
    try {
      val deltas = scala.collection.mutable.ArrayBuffer
        .empty[Map[String, Long]]
      var at = r
      var seedMap = Map.empty[String, Long]
      var walking = true
      while (walking) {
        val cached = tombsCache.get(at)
        if (cached != null && at != r) { seedMap = cached; walking = false }
        else {
          val node = mapper.readTree(Files.readAllBytes(tombsPath(at)))
          deltas += node.get("removedAtMs").fields().asScala
            .map(e => e.getKey -> e.getValue.asLong()).toMap
          val prev = Option(node.get("prev")).map(_.asLong()).getOrElse(-1L)
          // chain versions strictly decrease by construction: a pointer
          // that doesn't is CORRUPTION and must take the loud fallback,
          // not loop forever
          if (prev >= at) throw new IllegalStateException(
            s"tombstone chain pointer not decreasing: v$at -> v$prev")
          if (prev < 0) walking = false else at = prev
        }
      }
      val merged = deltas.reverseIterator
        .foldLeft(seedMap)((acc, d) => acc ++ d) // newer wins
      if (tombsCache.size() >= 8) tombsCache.clear()
      tombsCache.put(r, merged)
      Some(merged)
    } catch {
      case e: Exception =>
        TxnLog.log.warn(s"tombstone sidecar chain from ${tombsPath(r)} is " +
          s"unreadable (${e.getClass.getSimpleName}: ${e.getMessage}); " +
          "vacuum falls back to a full commit replay — sidecars are " +
          "caches, commits are the source of truth")
        None
    }
  }

  /** Post-rebase hygiene: sidecars strictly below the new base can never
    * be referenced by future checkpoints. Historical checkpoints lose
    * their chain and fall back to full replay — tombstones optimize
    * vacuum, which reads the head. One directory listing per rebase,
    * and rebases are geometric/vacuum-cadence rare. Crash leftovers
    * (died before deleting) are swept by the NEXT rebase's listing.
    */
  private def dropSupersededTombs(baseVer: Long): Unit = {
    if (!Files.isDirectory(logDir)) return
    val s = Files.list(logDir)
    try s.iterator().asScala
      .filter { p =>
        val n = p.getFileName.toString
        n.startsWith("checkpoint-v") && n.endsWith(".tombs.json") && {
          val d = n.stripPrefix("checkpoint-v").takeWhile(_.isDigit)
          d.nonEmpty && d.toLong < baseVer
        }
      }
      .foreach(p => Files.deleteIfExists(p))
    finally s.close()
  }

  /** Bytes a resolver must read for the CURRENT tombstone state — the
    * newest checkpoint's chain files (probe/test instrumentation).
    */
  private[graft] def tombsFootprintBytes(): Long =
    latestCheckpoint(currentVersion()).flatMap(_.tombs) match {
      case Some(tr) =>
        var r = tr.ref
        var total = 0L
        var ok = true
        while (ok && r >= 0) {
          val p = tombsPath(r)
          if (!Files.exists(p)) ok = false
          else {
            total += Files.size(p)
            val prev = Option(mapper.readTree(Files.readAllBytes(p))
              .get("prev")).map(_.asLong()).getOrElse(-1L)
            if (prev >= r) ok = false // corrupt pointer; same guard as resolve
            else r = prev
          }
        }
        total
      case None => 0L
    }

  // --- vacuum-cutoff sidecar ------------------------------------------
  private val lastVacuumPath = logDir.resolve("_last_vacuum.json")

  /** Highest COMPLETED vacuum cutoff recorded at this root (epoch ms);
    * Long.MinValue when no vacuum has completed (or the sidecar is
    * unreadable — it is an optimization hint, never load-bearing).
    */
  def lastVacuumCutoff(): Long =
    // existence probe first: tables that never vacuumed would otherwise
    // pay a thrown-and-swallowed exception per checkpoint write
    if (!Files.exists(lastVacuumPath)) Long.MinValue
    else try mapper.readTree(Files.readAllBytes(lastVacuumPath))
      .get("cutoffMs").asLong()
    catch { case _: Exception => Long.MinValue }

  /** Record that a vacuum with `cutoffMs` COMPLETED its deletion pass.
    * At that instant every DEAD data file whose latest removal is <=
    * cutoffMs is off disk (tombstoned files were deleted directly;
    * horizon-expired ones via the mtime rule, mtime <= removal; a
    * removal committed concurrently carries a timestamp past the
    * vacuum's start and so past its cutoff — same-clock-domain
    * assumption, the one retention itself already makes). Checkpoint
    * writes may therefore drop tombstones strictly BELOW this mark:
    * they can only describe files that no longer exist. This is what
    * bounds checkpoint size on rewrite-heavy tables — without it a
    * 100 ms-cadence compaction churn would accumulate every removal of
    * the last 30 days (~26M entries at the declared rate) into every
    * checkpoint; with it the tombstone set is bounded by removals since
    * the last completed vacuum.
    *
    * Monotone max, atomic replace, crash-safe: a torn or lost sidecar
    * only costs checkpoint size (no trim), never correctness. The max
    * is check-then-write with a bounded readback retry; the residual
    * cross-process race can only regress the floor (less trimming until
    * the next vacuum) — the safe direction.
    *
    * `private[graft]`: the soundness precondition (a COMPLETED deletion
    * pass) cannot be verified here, so only [[DataLakehouse.vacuum]]
    * and the probes may call it — a public caller recording a cutoff
    * without deleting would poison the trim into retention-violating
    * deletions later.
    */
  private[graft] def recordVacuumCutoff(cutoffMs: Long): Unit = {
    if (!Files.isDirectory(logDir)) return // nothing committed yet
    var attempts = 0
    while (attempts < 3 && lastVacuumCutoff() < cutoffMs) {
      attempts += 1
      val node = mapper.createObjectNode()
      node.put("cutoffMs", cutoffMs)
      val tmp = Files.createTempFile(logDir, ".vac", ".tmp")
      Files.write(tmp, mapper.writeValueAsString(node)
        .getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, lastVacuumPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Latest removal time per live-then-removed file (rel path ->
    * epoch ms) at `version` — the tombstones [[DataLakehouse.vacuum]]
    * ages dead files by. Checkpoint-seeded like [[snapshotFiles]]:
    * O(interval tail) commit reads when the newest checkpoint carries
    * the field; full replay on old checkpoints (correctness over speed,
    * the established migration rule — the next checkpoint writes it).
    *
    * SOUNDNESS of horizon expiry (why vacuum stays correct although
    * old tombstones leave the checkpoint): vacuum requires
    * retainMs <= tombstoneHorizonMs, so an expired entry's removal is
    * older than any permitted cutoff — deleting that file was already
    * legal. The file then ages through vacuum's mtime fallback, which
    * is conservative for published files (mtime = write time <= removal
    * time): mtime past the cutoff keeps the file, mtime at-or-before it
    * deletes a file whose removal was, by expiry, even further past.
    */
  def removedTombstones(version: Long = Long.MaxValue): Map[String, Long] =
    tombstoneView(version)._1

  /** Tombstones AND the trim floor they are valid above, derived from
    * ONE checkpoint resolution — the TOCTOU-free form vacuum must use.
    * Calling [[removedTombstones]] and [[tombstoneTrimFloor]] separately
    * re-resolves the newest checkpoint per call (and
    * newestCheckpointVersion forward-probes), so a concurrent checkpoint
    * publish between the two reads could hand the caller a tombstone
    * view trimmed past the floor it already validated — a silent
    * retention violation under writer/maintenance horizon skew. Here
    * floor and map describe the SAME checkpoint object: when the seed
    * resolves, the floor is that checkpoint's persisted horizon cut;
    * when resolution falls back to the full commit replay (no
    * checkpoint, pre-feature, or corrupt chain) the returned map is
    * replay-COMPLETE and the floor is Long.MinValue — trustworthy at
    * any retention cutoff.
    */
  def tombstoneView(version: Long = Long.MaxValue): (Map[String, Long], Long) = {
    val upTo = math.min(currentVersion(), version)
    val ck = latestCheckpoint(upTo)
    val seed: Option[(Long, Map[String, Long])] =
      ck.flatMap { c =>
        c.tombs match {
          case Some(tr) =>
            resolveTombsChain(tr.ref).map(m => (c.version + 1, m))
          case None if c.tombsCount.contains(0) =>
            Some((c.version + 1, Map.empty[String, Long]))
          case None => c.removedAtMs.map(m => (c.version + 1, m))
        }
      }
    val floor = seed match {
      case None => Long.MinValue // full replay below: view is complete
      case Some(_) => ck.get.tombsHorizonCutMs.getOrElse(
        // legacy tombstone state without a persisted cut: approximate
        // with this process's horizon (pre-fix semantics, migration only)
        System.currentTimeMillis() - tombstoneHorizonMs)
    }
    val (from, init) = seed.getOrElse((0L, Map.empty[String, Long]))
    (latestRemovalFold((from to upTo).map(read), init).toMap, floor)
  }

  /** The latest-removal fold: a re-added then re-removed file must age
    * from its NEWEST removal. One definition shared by every production
    * site (vacuum's full-replay path, checkpoint deltas, tombstone tail
    * resolution) so a tie-break or semantics change can never drift
    * between what checkpoints persist and what vacuum recomputes.
    */
  private[graft] def latestRemovalFold(cs: Seq[Commit],
      init: collection.Map[String, Long] = Map.empty)
      : scala.collection.mutable.HashMap[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long] ++ init
    cs.foreach { c =>
      c.removed.foreach { f =>
        if (m.getOrElse(f, Long.MinValue) < c.timestampMs)
          m(f) = c.timestampMs
      }
    }
    m
  }

  /** The floor below which [[removedTombstones]] may be INCOMPLETE: the
    * largest horizon cut ever applied by any writer of the tombstone
    * state in force at the head (persisted per checkpoint — see the
    * Checkpoint field). Vacuum must take the full-replay path when its
    * retention cutoff is below this floor; comparing against this
    * process's own horizon config would silently break retention under
    * writer/maintenance horizon skew. Long.MinValue when resolution is
    * replay-complete (no checkpoint, or a pre-feature checkpoint whose
    * tombstones were never trimmed). Vacuum-cutoff trims need no floor:
    * the files they drop are provably off disk at ANY retention.
    *
    * TOCTOU NOTE: this call and [[removedTombstones]] each resolve the
    * newest checkpoint independently — a floor read here does NOT pin
    * the checkpoint a later tombstone read resolves. Vacuum (and any
    * caller pairing the two) must use [[tombstoneView]], which derives
    * both from one checkpoint object.
    */
  def tombstoneTrimFloor(version: Long = Long.MaxValue): Long =
    latestCheckpoint(math.min(currentVersion(), version)) match {
      case None => Long.MinValue
      case Some(ck) => ck.tombsHorizonCutMs.getOrElse {
        if (ck.tombs.isDefined || ck.tombsCount.isDefined ||
            ck.removedAtMs.isDefined)
          // legacy state without a persisted cut: approximate with this
          // process's horizon (the pre-fix semantics, migration only)
          System.currentTimeMillis() - tombstoneHorizonMs
        else Long.MinValue // pre-feature: removedTombstones full-replays
      }
    }

  /** Latest version whose commit timestamp is <= tsMs (time travel
    * AS OF), by BINARY SEARCH over the version sequence — O(log commits)
    * file reads instead of replaying every commit (864k/day at the
    * declared cadence). Commit timestamps are taken under the version
    * reservation, so they are non-decreasing up to sub-ms scheduling
    * skew between racing committers — the same monotonicity contract
    * log-structured tables generally assume for AS OF TIMESTAMP.
    */
  def versionAsOf(tsMs: Long): Long = {
    val cur = currentVersion()
    if (cur < 0 || read(0L).timestampMs > tsMs) return -1L
    var lo = 0L // invariant: ts(lo) <= tsMs
    var hi = cur
    while (lo < hi) { // find the LAST version with ts <= tsMs
      val mid = lo + (hi - lo + 1) / 2
      if (read(mid).timestampMs <= tsMs) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Table schema (Spark StructType JSON) as of `version` — the newest
    * schema recorded at or below it (S13 across schema evolution: a
    * time-travel read deserializes with the schema its snapshot was
    * written under, not today's). Checkpoint-seeded: only the commit
    * tail after the newest checkpoint is replayed.
    */
  def schemaAt(version: Long = Long.MaxValue): Option[String] = {
    val upTo = math.min(currentVersion(), version)
    val ck = latestCheckpoint(upTo)
    val from = ck.map(_.version + 1).getOrElse(0L)
    (upTo to from by -1).iterator.map(read).flatMap(_.schemaJson)
      .nextOption()
      .orElse(ck.flatMap(_.schemaJson))
  }

  /** Table CHECK-constraint map (JSON of name -> SQL predicate) as of
    * `version` — resolved exactly like [[schemaAt]]: the newest
    * constraint-map recorded at or below the version, checkpoint-seeded.
    * Time-travel reads therefore see the constraints their snapshot was
    * written under.
    */
  def constraintsAt(version: Long = Long.MaxValue): Option[String] = {
    val upTo = math.min(currentVersion(), version)
    val ck = latestCheckpoint(upTo)
    val from = ck.map(_.version + 1).getOrElse(0L)
    (upTo to from by -1).iterator.map(read).flatMap(_.constraintsJson)
      .nextOption()
      .orElse(ck.flatMap(_.constraintsJson))
  }

  /** Per-file row counts recorded at commit time for the live file set at
    * `version`. Files from pre-rowCount commits are absent — callers fall
    * back to a footer read for those. Checkpoint-seeded like
    * `snapshotFiles`; a pre-rowCount checkpoint (no counts field) falls
    * back to a full replay so recorded counts are never dropped.
    */
  def rowCountsAt(version: Long = Long.MaxValue): Map[String, Long] = {
    val upTo = math.min(currentVersion(), version)
    latestCheckpoint(upTo).filter(_.rowCounts.isDefined) match {
      case Some(ck) =>
        (ck.version + 1 to upTo).map(read)
          .foldLeft(ck.rowCounts.get)((m, c) => m ++ c.rowCounts)
      case None =>
        (0L to upTo).map(read)
          .foldLeft(Map.empty[String, Long])((m, c) => m ++ c.rowCounts)
    }
  }

  /** Per-file clustering-column bounds for the live set at `version`,
    * checkpoint-seeded like [[rowCountsAt]]. Files committed before stats
    * were recorded are simply absent — pruning treats them as
    * unskippable, never wrong.
    */
  def fileStatsAt(version: Long = Long.MaxValue): Map[String, FileStat] =
    perFileAt(version)(_.fileStats, _.fileStats)

  /** Per-file column Bloom filters for the live set at `version`,
    * checkpoint-seeded like [[fileStatsAt]]. Files committed without
    * blooms are simply absent — callers must treat absence as
    * "might contain" (never prune on a missing filter).
    */
  def bloomsAt(version: Long = Long.MaxValue)
      : Map[String, Map[String, Bloom]] =
    perFileAt(version)(_.blooms, _.blooms)

  /** Per-file length and mtime for the live set at `version`,
    * checkpoint-seeded like [[fileStatsAt]]. Files committed before
    * lengths were recorded are simply absent — a read stats each such
    * file once (never lists a directory).
    */
  def fileSizesAt(version: Long = Long.MaxValue): Map[String, FileSize] =
    perFileAt(version)(_.fileSizes, _.fileSizes)

  /** One per-file record map as of `version`: the newest checkpoint's
    * map overlaid by each tail commit's, or a full replay without a
    * checkpoint.
    */
  private def perFileAt[V](version: Long)(ofCheckpoint: Checkpoint => Map[String, V],
      ofCommit: Commit => Map[String, V]): Map[String, V] = {
    val upTo = math.min(currentVersion(), version)
    val (from, seed) = latestCheckpoint(upTo)
      .map(ck => (ck.version + 1, ofCheckpoint(ck)))
      .getOrElse((0L, Map.empty[String, V]))
    (from to upTo).map(read).foldLeft(seed)((m, c) => m ++ ofCommit(c))
  }
}
