package graft.operators

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}

/** Manifest commit protocol for the durable on-disk indexes (the minhash
  * index's four parquet tables, the LSH index's three, the pair table's
  * one). An increment's partitions become reader-visible ONLY when a
  * single `_manifest.json` naming the committed appendIds is atomically
  * republished — so a reader can never observe a HALF-APPENDED increment
  * (e.g. bands without sizes, whose inner join would silently drop the
  * half-appended docs' pairs), no matter where a writer crashed. A
  * committer may additionally declare a per-app monotone (app, seq) on
  * each commit ([[commitAppend]]'s `txn`): the manifest then records a
  * never-pruned high-water per app, so replays of increments folded and
  * swept BEYOND the retention horizon still no-op (see [[hasTxn]]) —
  * the TxnLog txn-tier pattern.
  *
  * Protocol per append (single writer, the owning stream/job):
  *   1. write every table's `append=<id>` partition (any order; a crash
  *      here leaves partitions invisible — the manifest does not name
  *      the id yet);
  *   2. republish the manifest with the id added — one staged write +
  *      ATOMIC_MOVE, the txn-log publish discipline. The staged bytes
  *      are force(true)'d and the directory fsync'd where the
  *      filesystem allows, so the visibility root survives power loss,
  *      not just process crashes (an unflushed rename could otherwise
  *      land the sole visibility root empty over an intact index).
  *
  * Replay of a fully committed append is a NO-OP (the id is already in
  * the manifest and its partitions are intact); rewriting would
  * transiently empty the partitions under a concurrent out-of-band
  * reader. Replay of a crashed append overwrites partitions no reader
  * could list, then commits. The no-op record for FOLDED ids lives for
  * the tombstone-retention horizon (see [[commitFold]]); beyond it the
  * per-app txn high-water (never pruned) still catches any replay whose
  * committer declared a monotone (app, seq) — without a declared txn,
  * the contract falls back to "the streaming loop only redelivers the
  * newest batch, which compaction always keeps unfolded".
  *
  * Loaders resolve the visible partition set FROM the manifest: committed
  * ids minus the caller's `excludeAppends` (the replay-safety primitive —
  * a replaying increment must probe the pre-increment corpus). A missing
  * manifest means the initial save never completed and loading fails
  * loudly rather than exposing a torn base.
  *
  * Readers that may outlive `tombstoneRetentionMs` of index maintenance
  * take a PIN ([[acquirePin]]): a lease file recording the committed set
  * at acquisition that [[sweepUnreferenced]] honors — partitions a live
  * pin references are never deleted, so a pinned load scans intact files
  * no matter how many folds and sweeps land mid-scan. Unpinned loads are
  * protected by the retention window alone (set it above the slowest
  * expected scan), and the loaded relations are persisted, so the
  * exposure is the first materialization, not the index's lifetime.
  *
  * The underscore-prefixed manifest, pins, and markers and the
  * dot-prefixed staging temps are all invisible to Spark's file listing,
  * so they coexist with the parquet partitions at the same root.
  *
  * The three stores built on this protocol (the minhash index, the LSH
  * index, the pair table) differ only in their [[Store]] description;
  * [[save]], [[load]], [[append]] and [[compact]] are written once here.
  */
object DurableIndex {

  /** One durable store's shape — all the shared save / load / append /
    * compact paths need to know about it:
    *   - `seams`: the crash-seam prefix (`<seams>:<table>-written`
    *     between table writes, `<seams>:fold-written` before a fold
    *     commits);
    *   - `tables`: the relations' subdirectories in write order (`""`
    *     is a single relation at the root);
    *   - `counts`: the table holding per-append PARTIAL counts and the
    *     keys it re-aggregates on — an aggregated file could not be
    *     appended to, so loads and folds sum the partials (a relation of
    *     at most one row per (append, key));
    *   - `meta`: the geometry keys recorded in `index_meta.json`, so an
    *     appender re-derives the saved geometry exactly;
    *   - `createByAppend`: the first append may create the store (the
    *     streaming pair table has no initial save).
    */
  private[operators] final case class Store(
      seams: String,
      tables: Seq[String],
      counts: Option[(String, Seq[String])] = None,
      meta: Seq[String] = Nil,
      createByAppend: Boolean = false) {

    /** The count table summed over its appends into column `as`; every
      * other table passes through.
      */
    private[DurableIndex] def summed(table: String, df: DataFrame,
        as: String): DataFrame = counts match {
      case Some((`table`, keys)) =>
        df.groupBy(keys.map(col): _*).agg(sum(col("partial")).as(as))
      case _ => df
    }
  }

  /** Default retention of superseded partitions after a fold. */
  val DefaultRetentionMs: Long = 10L * 60L * 1000L

  private def tableDir(path: String, table: String): String =
    if (table.isEmpty) path else s"$path/$table"

  /** The entries of `dir` that `keep` admits, the listing stream closed. */
  private def listed(dir: Path)(keep: Path => Boolean): List[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(keep).toList finally s.close()
  }

  private def writePart(df: DataFrame, path: String, table: String,
      id: String): Unit =
    df.write.mode("overwrite").parquet(s"${tableDir(path, table)}/append=$id")

  /** The `append=<id>` partition column is a durability artifact, not
    * part of the relation — it only SELECTS the wanted appends (partition
    * pruning: unlisted appends' files are never read), then goes.
    */
  private def readParts(spark: SparkSession, path: String, table: String,
      ids: Seq[String]): DataFrame =
    spark.read.parquet(tableDir(path, table))
      .filter(col("append").isin(ids: _*)).drop("append")

  private def metaPath(path: String) = Paths.get(path, "index_meta.json")

  private def readMeta(path: String, store: Store): Map[String, Long] =
    if (store.meta.isEmpty) Map.empty
    else {
      val node = mapper.readTree(Files.readAllBytes(metaPath(path)))
      store.meta.map(k => k -> Option(node.get(k)).filter(_.isIntegralNumber)
        .getOrElse(sys.error(s"index_meta.json missing $k")).asLong()).toMap
    }

  private[operators] def requireAppendId(appendId: String): Unit =
    require(appendId.nonEmpty && appendId != "base" &&
      appendId.forall(c => c.isLetterOrDigit || c == '-' || c == '_'),
      s"appendId must be a filesystem-safe token, got '$appendId'")

  /** Initial save: every table's `append=base` partition (the count
    * table's in-memory `population` column stored as its `partial`),
    * then the meta file, and the manifest LAST — a crash anywhere before
    * it leaves a manifest-less (hence unloadable) store, never a
    * torn-but-readable one.
    */
  private[operators] def save(path: String, store: Store,
      relations: Seq[DataFrame], meta: Seq[Long] = Nil): Unit = {
    store.tables.zip(relations).foreach { case (t, df) =>
      writePart(if (store.counts.exists(_._1 == t))
        df.withColumnRenamed("population", "partial") else df, path, t, "base")
    }
    if (store.meta.nonEmpty) {
      val node = mapper.createObjectNode()
      store.meta.zip(meta).foreach { case (k, v) => node.put(k, v) }
      Files.write(metaPath(path),
        mapper.writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
    }
    initManifest(path)
  }

  /** Load a store's relations (in `tables` order, the count table summed
    * to `population`) and its meta. Visibility resolves from the
    * manifest: only committed appends minus `excludeAppends` (the
    * replay-safety primitive — a replaying increment must probe the
    * pre-increment corpus) are read, so a load concurrent with (or after
    * a crash of) an in-flight append sees the WHOLE prior store and none
    * of the increment. `pinId` (from [[acquirePin]]) resolves visibility
    * from that pin's snapshot instead, and the sweep holds the
    * snapshot's partitions for the pin's lease.
    */
  private[operators] def load(spark: SparkSession, path: String,
      store: Store, excludeAppends: Seq[String],
      pinId: Option[String]): (Map[String, Long], Seq[DataFrame]) = {
    val meta = readMeta(path, store)
    val vis = pinId.map(pinnedVisible(path, _, excludeAppends))
      .getOrElse(visible(path, excludeAppends))
    (meta, store.tables.map(t =>
      store.summed(t, readParts(spark, path, t, vis), "population")))
  }

  /** Append one increment under `append=<appendId>`, IDEMPOTENTLY: a
    * replay whose prior attempt fully committed (or whose declared
    * (app, seq) the high-water already covers) is a NO-OP — rewriting
    * intact, manifest-visible partitions would transiently empty them
    * under a concurrent reader; a replay of a crashed attempt overwrites
    * partitions no reader could list. `increment` receives the stored
    * meta and returns the tables in `tables` order plus the write-side
    * caches it persisted, released once the writes finish or fail (the
    * appender retries — that is the overwrite partition's whole point —
    * and must not strand them). The tables write sequentially, but none
    * is reader-visible until [[commitAppend]] republishes the manifest
    * as the final step.
    */
  private[operators] def append(path: String, store: Store,
      appendId: String, txn: Option[(String, Long)])(
      increment: Map[String, Long] => (Seq[DataFrame], Seq[DataFrame]))
      : Unit = {
    requireAppendId(appendId)
    // the (app, seq) high-water catches replays even after the folded-id
    // record was pruned past the retention horizon (hasTxn)
    if (isCommitted(path, appendId) ||
        txn.exists { case (a, s) => hasTxn(path, a, s) }) return
    // pre-flight the manifest invariant BEFORE any table write: appending
    // to a torn or pre-manifest store must fail loudly up front, not
    // fabricate a manifest that hides (then sweeps) legacy partitions —
    // except that a create-by-append store bootstraps a truly empty root
    if (store.createByAppend) requireCommittedOrInit(path, store.tables)
    else requireCommitted(path)
    val (relations, caches) = increment(readMeta(path, store))
    try store.tables.zip(relations).zipWithIndex.foreach {
      case ((t, df), i) =>
        writePart(df, path, t, appendId)
        if (i < store.tables.size - 1) seam(s"${store.seams}:$t-written")
    } finally caches.foreach(_.unpersist(blocking = false))
    commitAppend(path, appendId, txn)
  }

  /** Compact a store: fold the committed append HISTORY into one fresh
    * `base-<runId>` partition per table, so a perpetual incremental
    * stream keeps O(1) partitions (and manifest entries) instead of one
    * per micro-batch — the lake-compaction discipline applied to the
    * index. Returns the number of appends folded (0 = nothing worth
    * folding).
    *
    * The NEWEST append is deliberately KEPT unfolded: under the
    * streaming contract at most the latest batch can be redelivered
    * after a crash, and its replay must still be able to exclude its own
    * append when probing ([[load]]'s excludeAppends) — an exclusion that
    * cannot prune rows already merged into a folded base. Folded ids are
    * recorded in the manifest, so a LATE retry of an older increment
    * no-ops instead of double-appending rows the base already holds.
    *
    * Crash-safe and reader-safe: folded partitions are invisible until
    * [[commitFold]] atomically republishes the manifest (a crash leaves
    * orphans no reader lists); superseded partitions stay on disk for
    * `tombstoneRetentionMs` (readers that pinned the pre-fold manifest
    * keep scanning intact files) and are deleted by a LATER compaction's
    * sweep. Single maintenance caller: run from the owning writer,
    * quiescent between appends — commitFold fails loudly if the manifest
    * moved mid-fold.
    */
  private[operators] def compact(spark: SparkSession, path: String,
      store: Store, tombstoneRetentionMs: Long): Int = {
    val appends = visible(path, Nil)
    sweepUnreferenced(path, store.tables, tombstoneRetentionMs)
    // the sweep deletes files with raw IO, which Spark's session-level
    // file-status and cached-plan caches cannot see — drop them, or a
    // later same-session read can plan against a stale listing and hit
    // FAILED_READ on the swept files
    spark.catalog.refreshByPath(path)
    if (appends.size <= 2) return 0 // base (+ newest): nothing to fold
    val kept = Seq(appends.last)
    val toFold = appends.dropRight(1)
    val newId = s"base-${java.util.UUID.randomUUID().toString.take(8)}"
    store.tables.foreach { t =>
      writePart(store.summed(t, readParts(spark, path, t, toFold),
        "partial"), path, t, newId)
    }
    seam(s"${store.seams}:fold-written")
    commitFold(path, appends, newId, kept, store.tables)
    toFold.size
  }

  /** Crash-seam hook for the append-protocol specs (the
    * [[graft.sources.TxnLog.crashSeam]] pattern): a spec installs a
    * handler that throws — or a forked child `halt(9)`s — at a named
    * boundary between table commits. Production never sets it; each seam
    * costs one volatile null read.
    */
  @volatile private[graft] var crashSeam: String => Unit = null
  @inline private[operators] def seam(name: String): Unit = {
    val h = crashSeam
    if (h != null) h(name)
  }

  private val mapper = new ObjectMapper()

  private def manifestPath(path: String) = Paths.get(path, "_manifest.json")

  /** Marker stamped inside a superseded `append=<id>` partition dir at
    * [[commitFold]] (the quote-state `_SUPERSEDED` discipline): the
    * retention clock for deferred deletion runs from the marker's mtime
    * — SUPERSESSION time — never from the partition's own write time,
    * which for folded history is by definition old and would let the
    * very next sweep delete files a reader pinned moments ago.
    */
  private val SupersededMarker = "_SUPERSEDED"

  /** Default pin lease: long enough for any sane analytic scan; expired
    * pins stop holding partitions and are themselves swept.
    */
  val DefaultPinLeaseMs: Long = 6L * 60L * 60L * 1000L

  /** Staged write + force(true) + ATOMIC_MOVE + best-effort directory
    * fsync — the one durable-publish primitive the manifest and pin
    * files share. The directory fsync (the Lucene IOUtils pattern:
    * open READ, force) makes the rename itself power-loss durable on
    * filesystems that support it; where unsupported the move is still
    * atomic against process crashes.
    */
  private def atomicWrite(dir: Path, tmpPrefix: String, target: Path,
      bytes: Array[Byte]): Unit = {
    val tmp = Files.createTempFile(dir, tmpPrefix, ".tmp")
    val ch = FileChannel.open(tmp, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val buf = ByteBuffer.wrap(bytes)
      while (buf.hasRemaining) ch.write(buf)
      ch.force(true)
    } finally ch.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    try {
      val dch = FileChannel.open(dir, StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    } catch { case _: java.io.IOException => () } // dir fsync unsupported
  }

  /** One read+parse of the manifest, or None when none exists (initial
    * save incomplete, or a pre-manifest directory). The commit paths
    * derive appends/folded/txns from a SINGLE node — three separate
    * re-reads per commit would be redundant I/O at streaming cadence.
    */
  private def manifestNode(path: String): Option[JsonNode] = {
    val p = manifestPath(path)
    if (!Files.exists(p)) None
    else Some(mapper.readTree(Files.readAllBytes(p)))
  }

  /** A string-array field of a manifest or pin node (empty if absent). */
  private def texts(node: JsonNode, field: String): List[String] =
    Option(node.get(field)).toList.flatMap(_.elements().asScala.map(_.asText()))

  private def appendsOf(node: JsonNode): Seq[String] = texts(node, "appends")

  private def foldedOf(node: JsonNode): Seq[String] = texts(node, "folded")

  private def txnsOf(node: JsonNode): Map[String, Long] =
    Option(node.get("txns")).fold(Map.empty[String, Long])(
      _.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap)

  /** The committed append set, or None when no manifest exists (initial
    * save incomplete, or a pre-manifest directory). Order is commit
    * order: the LAST entry is the newest increment.
    */
  def committed(path: String): Option[Seq[String]] =
    manifestNode(path).map(appendsOf)

  /** AppendIds whose rows were folded into the current base by an index
    * compaction ([[commitFold]]). Kept in the manifest so a LATE retry
    * of an already-folded increment no-ops instead of re-appending rows
    * the base already contains; pruned once the id's superseded
    * partitions are swept past retention (the retry horizon — see
    * [[commitFold]]), so a perpetual stream's manifest stays O(window),
    * not O(every append ever folded).
    */
  def foldedIds(path: String): Seq[String] =
    manifestNode(path).fold(Seq.empty[String])(foldedOf)

  /** Per-app append high-water marks (app -> max declared sequence) —
    * the [[graft.sources.TxnLog]] txn-tier pattern carried into the
    * index manifest. Unlike the folded-id record (bounded by the
    * retention horizon, see [[foldedIds]]), this survives every fold
    * and sweep at O(#writer apps) bytes, so a replay of an append
    * folded BEYOND the horizon still no-ops when the committer declared
    * a monotone (app, seq) — the index enforces the replay contract
    * itself instead of leaning on "the stream only redelivers the
    * newest batch".
    */
  def txnHighWater(path: String): Map[String, Long] =
    manifestNode(path).fold(Map.empty[String, Long])(txnsOf)

  /** Drop the high-water entries of retired writer apps — the
    * reclamation path for the one way the O(#writer apps) record grows
    * without bound: checkpoint-scoped stream apps accrete one entry
    * (~50 bytes) per stream incarnation, and a long-lived index adopted
    * by periodic redeploys keeps every dead predecessor's. Single-writer
    * maintenance like the folds: only drop an app once its driver is
    * provably gone — a zombie of a dropped app replaying its last batch
    * loses the beyond-horizon no-op guard (the folded-id record still
    * covers replays inside the retention window).
    */
  def dropTxnApps(path: String, apps: Set[String]): Unit = {
    val node = manifestNode(path).getOrElse(noManifest(path))
    publish(path, appendsOf(node), foldedOf(node), txnsOf(node) -- apps)
  }

  /** True when (app, seq) — or any LATER sequence of the same app — has
    * already been committed: the replayed increment's rows are in the
    * index (live, folded, or folded-and-swept) and the retry must no-op.
    */
  def hasTxn(path: String, app: String, seq: Long): Boolean =
    txnHighWater(path).get(app).exists(_ >= seq)

  /** The committed set, failing loudly when no manifest has ever been
    * published — a torn initial save (or a pre-manifest legacy dir)
    * must neither read as an empty index nor be silently legitimized
    * by an append fabricating a fresh manifest over it.
    */
  def requireCommitted(path: String): Seq[String] =
    committed(path).getOrElse(noManifest(path))

  private def noManifest(path: String): Nothing = sys.error(
    s"index at $path has no committed manifest — the initial save did " +
      "not complete (or predates the manifest protocol); rebuild with " +
      "save*Index")

  /** Committed appendIds a loader should expose: manifest order minus the
    * caller's exclusions.
    */
  def visible(path: String, excludeAppends: Seq[String]): Seq[String] =
    requireCommitted(path).filterNot(excludeAppends.contains)

  /** True when the id is live-committed OR already folded into the base
    * — either way its rows are in the index and a retry must no-op.
    */
  def isCommitted(path: String, appendId: String): Boolean =
    manifestNode(path).exists(n =>
      appendsOf(n).contains(appendId) || foldedOf(n).contains(appendId))

  /** Atomically publish the committed set (and the folded-id record and
    * per-app txn high-waters).
    */
  private def publish(path: String, ids: Seq[String],
      folded: Seq[String],
      txns: Map[String, Long] = Map.empty): Unit = {
    val node = mapper.createObjectNode()
    val arr = node.putArray("appends")
    ids.distinct.foreach(arr.add)
    if (folded.nonEmpty) {
      val fa = node.putArray("folded")
      folded.distinct.foreach(fa.add)
    }
    if (txns.nonEmpty) {
      val tn = node.putObject("txns")
      txns.toSeq.sortBy(_._1).foreach { case (a, s) => tn.put(a, s) }
    }
    atomicWrite(Paths.get(path), ".manifest", manifestPath(path),
      mapper.writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
  }

  /** First publish after an initial save: exactly the base partitions. */
  def initManifest(path: String): Unit = publish(path, Seq("base"), Nil)

  /** The committed set for an APPEND entry point that supports
    * create-by-append (the streaming pair table: no initial save, the
    * first micro-batch's append creates the table). A manifest-less
    * root with NO partitions anywhere is a brand-new table and
    * bootstraps an EMPTY manifest; a manifest-less root that HAS
    * partitions is a torn initial save or a pre-manifest legacy index
    * and fails loudly like [[requireCommitted]] — silently fabricating
    * a manifest over it would hide (then sweep-delete) its partitions.
    */
  def requireCommittedOrInit(path: String,
      tableDirs: Seq[String]): Seq[String] =
    committed(path).getOrElse {
      val hasPartitions = tableDirs.exists { sub =>
        val root = Paths.get(tableDir(path, sub))
        Files.isDirectory(root) &&
          listed(root)(_.getFileName.toString.startsWith("append=")).nonEmpty
      }
      if (hasPartitions) requireCommitted(path) // loud: torn/legacy
      else {
        Files.createDirectories(Paths.get(path))
        publish(path, Nil, Nil)
        Nil
      }
    }

  /** Commit one append: republish the manifest with the id added
    * (idempotent — republishing an already-present id rewrites the same
    * set). The folded-id record carries through unchanged. Fails loudly
    * on a manifest-less index (torn initial save / legacy dir): silently
    * fabricating `base :+ id` would make every existing legacy partition
    * invisible and eventually sweep-deleted.
    *
    * `txn` optionally DECLARES a per-app monotone (app, seq) recorded as
    * a high-water in the same publish (see [[hasTxn]]): the caller's
    * replay guard then holds beyond the folded-id record's retention
    * horizon, because the high-water is never pruned.
    */
  def commitAppend(path: String, appendId: String,
      txn: Option[(String, Long)] = None): Unit = {
    seam(s"manifest:pre-commit:$appendId")
    val node = manifestNode(path).getOrElse(noManifest(path))
    val hw = txnsOf(node)
    val hw2 = txn.fold(hw) { case (app, seq) =>
      hw + (app -> math.max(hw.getOrElse(app, Long.MinValue), seq))
    }
    publish(path, appendsOf(node) :+ appendId, foldedOf(node), hw2)
  }

  /** Commit an index compaction: the visible set becomes the freshly
    * folded base plus the KEPT (unfolded) newest appends, and every
    * folded non-base id is recorded so late retries no-op. Enforces the
    * single-writer contract loudly: the manifest must still equal what
    * the compactor read at entry — an append that committed mid-fold
    * would otherwise silently vanish from visibility.
    *
    * Two retention-clock duties land here, both against `tableDirs`
    * (the per-table subdirs holding `append=<id>` partitions; `""` for
    * a single-relation root):
    *   - every superseded partition dir is stamped `_SUPERSEDED` BEFORE
    *     the manifest publish, so [[sweepUnreferenced]] ages it from
    *     supersession time, never from its (old) write time — a crash
    *     between stamp and publish leaves markers on still-referenced
    *     partitions, which the sweep ignores and a retried fold
    *     re-stamps;
    *   - folded ids whose partitions are ALL gone (swept past
    *     retention) are pruned from the manifest's no-op record: the
    *     tombstone retention IS the retry horizon, so an id that can no
    *     longer be scanned can no longer be meaningfully retried, and
    *     the record stays bounded by the retention window instead of
    *     growing with every append ever folded.
    */
  def commitFold(path: String, entryAppends: Seq[String],
      newBaseId: String, kept: Seq[String],
      tableDirs: Seq[String]): Unit = {
    seam(s"manifest:pre-fold:$newBaseId")
    val node = manifestNode(path)
    val now = node.map(appendsOf)
    require(now.contains(entryAppends),
      s"index at $path changed during compaction (manifest $now vs entry " +
        s"$entryAppends) — compaction must run from the single writer, " +
        "quiescent between appends")
    def partDirs(id: String): Seq[Path] =
      tableDirs.map(sub => Paths.get(tableDir(path, sub), s"append=$id"))
    val superseded = entryAppends.filterNot(kept.contains)
    superseded.foreach { id =>
      partDirs(id).filter(Files.isDirectory(_)).foreach { d =>
        val m = d.resolve(SupersededMarker)
        if (Files.exists(m)) // re-stamp (retried fold): restart retention
          Files.setLastModifiedTime(m,
            java.nio.file.attribute.FileTime.fromMillis(
              System.currentTimeMillis()))
        else Files.write(m, Array.emptyByteArray)
      }
    }
    val newlyFolded = superseded.filterNot(_.startsWith("base"))
    val retained = (node.map(foldedOf).getOrElse(Nil) ++ newlyFolded)
      .filter(id => partDirs(id).exists(Files.isDirectory(_)))
    publish(path, newBaseId +: kept,
      retained, node.map(txnsOf).getOrElse(Map.empty))
  }

  /** Take a reader lease on the CURRENT committed set: writes
    * `_pin-<id>.json` (atomically, like the manifest) recording the ids
    * and the lease; [[sweepUnreferenced]] never deletes a partition a
    * live pin references, so a load pinned pre-fold keeps scanning
    * intact files across any number of later folds and post-retention
    * sweeps. Pass the returned id to the load entry points to resolve
    * visibility from the pinned snapshot, and [[releasePin]] when done;
    * an abandoned pin stops holding partitions when its lease expires
    * and is swept with them.
    *
    * Acquisition is race-free against the writer's own maintenance
    * (which serializes appends, folds, and sweeps): after the pin file
    * is durably published, the manifest is re-read and the acquisition
    * RETRIES from the fresh committed set if it moved. A fold that
    * commits before the validation read is therefore observed (retry
    * pins the post-fold set); a fold that commits after it necessarily
    * precedes any sweep that could delete the pinned set's superseded
    * partitions — and that sweep's pin listing happens later still, so
    * it sees the already-published pin and spares them. A pin can thus
    * never reference partitions a sweep is free to delete, at ANY
    * retention (including zero).
    */
  def acquirePin(path: String,
      leaseMs: Long = DefaultPinLeaseMs): String = {
    var attempts = 0
    while (true) {
      val ids = requireCommitted(path)
      seam("pin:pre-publish")
      val pinId = java.util.UUID.randomUUID().toString.take(12)
      val node = mapper.createObjectNode()
      val arr = node.putArray("ids")
      ids.foreach(arr.add)
      node.put("leaseMs", leaseMs)
      atomicWrite(Paths.get(path), ".pin",
        Paths.get(path, s"_pin-$pinId.json"),
        mapper.writeValueAsString(node).getBytes(StandardCharsets.UTF_8))
      // validate AFTER the durable publish: unchanged manifest means the
      // pinned set is the committed set every later sweep also treats as
      // live; a moved manifest means a fold raced the acquisition and
      // this pin may name already-superseded partitions — discard it and
      // pin the fresh set instead
      if (requireCommitted(path) == ids) return pinId
      Files.deleteIfExists(Paths.get(path, s"_pin-$pinId.json"))
      attempts += 1
      require(attempts < 64,
        s"acquirePin at $path: manifest moved $attempts times during " +
          "acquisition — maintenance is not quiescing")
    }
    sys.error("unreachable")
  }

  /** Release a reader lease (idempotent). */
  def releasePin(path: String, pinId: String): Unit =
    Files.deleteIfExists(Paths.get(path, s"_pin-$pinId.json"))

  /** The snapshot a pin recorded at acquisition — loud when the pin is
    * missing (released, or lease-expired and swept) or expired: a
    * reader that asked for snapshot isolation must not silently read a
    * different snapshot.
    */
  def pinnedVisible(path: String, pinId: String,
      excludeAppends: Seq[String] = Nil): Seq[String] = {
    val p = Paths.get(path, s"_pin-$pinId.json")
    // read first, map the miss: an exists() probe would race a sweep
    // reclaiming an expired pin and surface a raw NoSuchFileException
    // instead of the loud re-acquire message. The mtime probe sits in
    // the SAME try — a sweep can reclaim the pin between the read and
    // the probe, and that race must map to the same message.
    val (bytes, mtimeMs) =
      try (Files.readAllBytes(p), Files.getLastModifiedTime(p).toMillis)
      catch { case _: java.nio.file.NoSuchFileException =>
        sys.error(s"pin $pinId at $path not found — released, or its " +
          "lease expired and the sweep reclaimed it; re-acquire and " +
          "re-load")
      }
    val node = mapper.readTree(bytes)
    val lease = node.get("leaseMs").asLong()
    if (mtimeMs + lease < System.currentTimeMillis())
      sys.error(s"pin $pinId at $path has expired (lease ${lease}ms) — " +
        "its partitions may already be swept; re-acquire and re-load")
    texts(node, "ids").filterNot(excludeAppends.contains)
  }

  /** Ids referenced by live (unexpired) pins; expired pin files are
    * deleted on the way.
    */
  private def pinnedIds(path: String): Set[String] = {
    val nowMs = System.currentTimeMillis()
    val pins = listed(Paths.get(path)) { p =>
      val n = p.getFileName.toString
      n.startsWith("_pin-") && n.endsWith(".json")
    }
    pins.flatMap { p =>
      // a pin vanishing between the listing and the read is a reader's
      // concurrent releasePin — the designed usage — and holds nothing;
      // unparseable content (torn out-of-band copy) likewise must not
      // abort the writer's whole maintenance pass. Any OTHER read error
      // (transient EIO on a LIVE pin) propagates and aborts the pass:
      // treating it as a released pin would let the sweep delete
      // partitions the pin still holds.
      val bytes =
        try Some(Files.readAllBytes(p))
        catch { case _: java.nio.file.NoSuchFileException => None }
      bytes.toList.flatMap { b =>
        try {
          val node = mapper.readTree(b)
          if (Files.getLastModifiedTime(p).toMillis +
              node.get("leaseMs").asLong() < nowMs) {
            Files.deleteIfExists(p); Nil
          } else texts(node, "ids")
        } catch {
          case _: com.fasterxml.jackson.core.JacksonException => Nil
          case _: NullPointerException => Nil // missing fields: not a pin
          case _: java.nio.file.NoSuchFileException => Nil // swept mid-check
        }
      }
    }.toSet
  }

  /** Deferred deletion for index compaction (the quote-state/vacuum
    * retention discipline): remove `append=<id>` partitions that the
    * manifest no longer references AND no live pin holds, once they are
    * older than `retentionMs` on the right clock — SUPERSESSION time
    * (the `_SUPERSEDED` marker [[commitFold]] stamped) for folded
    * history, write time only for orphans of crashed appends/folds,
    * which no reader could ever have listed. The retention window is
    * what lets an UNPINNED reader that loaded recently keep scanning
    * intact files; pinned readers are held explicitly. Stale staging
    * temps are swept on the same clock.
    */
  def sweepUnreferenced(path: String, tableDirs: Seq[String],
      retentionMs: Long): Unit = {
    val liveOpt = committed(path)
    if (liveOpt.isEmpty) return // no manifest: nothing is safely sweepable
    val live = liveOpt.get.toSet ++ pinnedIds(path)
    val cutoff = System.currentTimeMillis() - math.max(0L, retentionMs)
    // supersession-time aging: a partition a committed fold tombstoned
    // ages from the marker's mtime; an unmarked unreferenced partition
    // (orphan of a crashed append/fold — never reader-visible) from its
    // own write time
    def old(p: Path): Boolean = {
      val marker = p.resolve(SupersededMarker)
      val clock = if (Files.exists(marker)) marker else p
      Files.getLastModifiedTime(clock).toMillis <= cutoff
    }
    tableDirs.map(sub => Paths.get(tableDir(path, sub)))
      .filter(Files.isDirectory(_)).foreach { root =>
        val doomed = listed(root) { p =>
          val n = p.getFileName.toString
          Files.isDirectory(p) && n.startsWith("append=") &&
            !live.contains(n.stripPrefix("append=")) && old(p)
        }
        doomed.foreach { d =>
          val w = Files.walk(d)
          try w.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => Files.deleteIfExists(f))
          finally w.close()
        }
      }
    listed(Paths.get(path)) { p =>
      val n = p.getFileName.toString
      (n.startsWith(".manifest") || n.startsWith(".pin")) &&
        n.endsWith(".tmp") && Files.getLastModifiedTime(p).toMillis <= cutoff
    }.foreach(Files.deleteIfExists(_))
  }
}
