package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.UUID
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.Resolver
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileFormat, FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, MapType, StringType, StructField, StructType, TimestampType}

import graft.{AssetClass, IngestionStats, OhlcvBar, QueryResult, model}

/** The lakehouse kernel (SURVEY.md §2.1, §3): buffered validated ingest →
  * date-partitioned Parquet with a transaction log → pruned, snapshot-
  * consistent reads — the Spark-native re-expression of the reference's
  * `DataLakehouse` (lakehouse.py:216-628) plus its *declared* ACID/
  * time-travel/compaction surface (README.md:28,43,136,138).
  *
  * Write protocol (S3/S8/S11): data lands in a staging dir, files move into
  * `date=YYYY-MM-DD/` partition dirs, then ONE txn-log commit publishes
  * them with each file's row count, bounds, size and mtime. Readers
  * resolve file lists from the log and never list a directory: the scan's
  * file index is the log's snapshot (see `readRels`) — so concurrent
  * snapshot reads see either all or none of a commit (SURVEY §7.4-5),
  * planning cost does not grow with a stat per logged file, and time
  * travel is a log replay (S13). A file without a logged length (a log
  * written before lengths were recorded, or `addFiles`' pre-commit
  * constraint check over files not yet in the log) costs one stat.
  *
  * Scale design: writes repartition by the partition key so each task owns
  * whole partitions (no small-file explosion per task); files are clustered
  * by (symbol, timestamp) — the linear-clustering equivalent of the
  * declared Z-order (README.md:125,134) — so symbol predicates skip row
  * groups via parquet min/max stats; queries prune partitions by date-key
  * string range *before* Spark ever lists a file, including one-sided
  * ranges (fixing the reference's both-bounds-or-nothing miss at
  * lakehouse.py:388-390).
  */
final class DataLakehouse(
    val spark: SparkSession,
    val root: String,
    val batchSize: Int = 10000,
    val clusterOnWrite: Boolean = true,
    val format: String = "parquet",
    val codec: String = "zstd",
    val partitionCols: Seq[String] = Seq("date"),
    val zorderCols: Seq[String] = Seq.empty,
    val bloomCols: Seq[String] = Seq.empty,
    val bloomFpp: Double = 0.01,
    val bloomMaxBits: Int = 1 << 22) {

  require(format == "parquet" || format == "csv",
    s"unsupported format: $format") // S1-S4: parquet primary, CSV fallback
    // (lakehouse.py:25-32,427-452; table-level rather than per-file dispatch)

  // The reference's declared `partition_cols=['date', 'symbol']`
  // (README.md:67): `date` is always derived from `timestamp` at write;
  // any other name must be a data column. Each partition column becomes a
  // Hive `k=v/` path level, and `query()` prunes on date range AND symbol
  // equality against those path values before Spark lists a single file.
  require(partitionCols.nonEmpty, "partitionCols must not be empty")

  // The reference's declared `ZORDER BY` (README.md:125,134), generalized
  // to multiple dimensions: when set, files are clustered by the Morton
  // interleave of these columns' ranks instead of the linear
  // (symbol, timestamp) sort, so row-group min/max stats are partial in
  // EVERY listed dimension and any single-dimension predicate skips.
  // Single-column Z-order == linear clustering (SURVEY §1.3), hence off
  // by default.

  // zstd over the snappy default: ~25% smaller files at comparable write
  // speed — at 100 TB the scan is IO-bound, so smaller files ARE the
  // faster query path. CSV stays uncompressed (the reference's
  // plain-text interchange format).
  private val writeCompression = if (format == "parquet") codec else "none"

  // INT64 micros, not the INT96 legacy default: parquet writes no
  // row-group statistics for INT96, so every timestamp-range predicate
  // would read every row group — the entire point of clustering event
  // time (linear or z-order) is those stats. Scoped around each write
  // (see DataLakehouse.withMicrosTimestamps), NOT set globally in the
  // constructor: constructing a lakehouse must not silently change
  // parquet timestamp encoding for every other writer sharing the
  // session.
  private def withMicrosTimestamps[T](body: => T): T =
    DataLakehouse.withMicrosTimestamps(spark)(body)

  import DataLakehouse.{AddedMeta, deleteRecursively, maxSymbolRows, walkFiles}

  val txnLog = new TxnLog(root)
  private val buffer = ArrayBuffer.empty[OhlcvBar]
  private var totalErrors: Long = 0L

  // Pruned reads whose result is bounded by this many rows sort in ONE
  // task instead of a sampled range shuffle (see query()): 1M OHLCV rows
  // is ~150 MB — comfortably one task's work, far below where a
  // distributed sort starts paying for itself. The gate has three sides:
  // scanned rows under it → one task scans and sorts (coalesce(1));
  // scanned rows over it but a one-symbol read's logged bound under it →
  // a parallel scan, then one sorting task after a single-partition
  // exchange; else the distributed sort. Point reads keep coalesce(1):
  // their scan is a few row groups, so the exchange would cost more than
  // the parallelism saves.
  private val SmallSortRows = 1L * 1000 * 1000

  private val schemaWithDate: StructType =
    model.ohlcvSchema.add("date", StringType, nullable = true)

  // ---------------------------------------------------------------- ingest

  /** Driver-side constraint check (lakehouse.py:73-88) — single-record
    * ingest must not launch a Spark job per bar.
    */
  def isValid(b: OhlcvBar): Boolean =
    // null symbol/timestamp are rejected like the streaming admission
    // gate's guard: a null-timestamp bar would land in the default-null
    // date partition, invisible to every date-pruned read
    b.symbol != null && b.timestamp != null &&
      b.high >= b.low &&
      b.open >= b.low && b.open <= b.high &&
      b.close >= b.low && b.close <= b.high &&
      b.volume >= 0 &&
      AssetClass.all.contains(b.asset_class)

  /** Buffered single-record ingest with auto-flush at batchSize
    * (lakehouse.py:253-273, S6). Returns true if accepted. An INVALID
    * bar dead-letters immediately (one small write job — the DLQ is
    * auditable the moment the record is rejected, the spec-pinned
    * contract); a feed expecting malformed floods should use
    * [[ingestBatch]], which dead-letters each batch's rejects in one
    * write.
    */
  def ingest(bar: OhlcvBar): Boolean = {
    if (!isValid(bar)) { totalErrors += 1; deadLetter(Seq(bar)); false }
    else {
      buffer += bar
      if (buffer.size >= batchSize) flush()
      true
    }
  }

  /** Batch ingest with validation and per-op stats (lakehouse.py:275-304,
    * S7). Contract per SURVEY §3.2: stats cover the WHOLE batch (the
    * reference's auto-flush undercount quirk is not replicated).
    */
  def ingestBatch(bars: Seq[OhlcvBar]): IngestionStats = {
    val t0 = System.nanoTime()
    val (valid, invalid) = bars.partition(isValid)
    totalErrors += invalid.size
    if (invalid.nonEmpty) deadLetter(invalid)
    buffer ++= valid
    val partitions = flushInternal()
    IngestionStats(valid.size.toLong, partitions, (System.nanoTime() - t0) / 1e6,
      invalid.size.toLong)
  }

  /** Flush the buffer to one txn-log commit (lakehouse.py:306-336, S8). */
  def flush(): Long = flushInternal()

  private def flushInternal(): Long = {
    if (buffer.isEmpty) return 0L
    import spark.implicits._
    // Large batches: distribute row encoding across cores (a LocalRelation
    // from createDataset serializes on the driver single-threaded, which
    // becomes the ingest bottleneck well before the parquet write does).
    val rows = buffer.toSeq
    val df =
      if (rows.size >= 50000)
        spark.createDataset(spark.sparkContext.parallelize(rows,
          spark.sparkContext.defaultParallelism)).toDF()
      else spark.createDataset(rows).toDF()
    val partitions = appendDF(df)
    // drop the flushed rows only AFTER the commit landed: clearing first
    // silently discarded every accepted bar when the append failed
    // (constraint rejection, txn contention, IO) — not committed, not
    // buffered, not dead-lettered
    buffer.dropInPlace(rows.size)
    partitions
  }

  /** Dead-letter queue for rejected records (README.md:39-40, S10).
    * Hive-partitioned by batch so the driver path shares one layout with
    * the streaming DLQ's idempotent per-batch overwrite dirs.
    */
  private def deadLetter(bars: Seq[OhlcvBar]): Unit = {
    import spark.implicits._
    spark.createDataset(bars).toDF()
      .withColumn("_rejected_at", current_timestamp())
      .write.mode(SaveMode.Append)
      .parquet(s"$root/_dlq/batch=adhoc-${UUID.randomUUID()}")
  }

  def deadLetterCount(): Long =
    if (Files.isDirectory(Paths.get(root, "_dlq")))
      // recursiveFileLookup: counts rows whether rejects sit in batch=
      // partition dirs (streaming/idempotent path) or flat files (older
      // layouts) — partition discovery would refuse the mixed layout
      // ignoreMissingFiles: streaming replay hygiene deletes per-batch
      // DLQ dirs concurrently (an emptied replay clears its previous
      // attempt's rejects) — a listed file vanishing mid-scan must
      // lower the count, not crash it
      spark.read.option("recursiveFileLookup", "true")
        .option("ignoreMissingFiles", "true")
        .parquet(s"$root/_dlq").count()
    else 0L

  def errorCount: Long = totalErrors
  def bufferedCount: Int = buffer.size

  /** Append an OHLCV DataFrame as one atomic commit; returns the number
    * of partitions written. Idempotence tiers (T6; the Delta design):
    * `txn = Some((appId, seq))` declares a per-app MONOTONE sequence —
    * a replay at or below the committed high-water no-ops (the
    * streaming path's contract; restart seeding is O(checkpoint
    * interval)); a plain `batchId` no-ops only on an EXACT repeat —
    * no monotonicity is ever inferred from the id's text, so manual
    * out-of-order backfill tags can never silently drop a batch. The
    * entry check here skips the staging write early; the COMMIT
    * re-validates txn inside its retry loop, so two racing committers
    * of one epoch (zombie driver + failover) cannot both land — the
    * loser surfaces as a no-op through [[TxnLog.DuplicateTxnException]].
    */
  def appendDF(df: DataFrame, batchId: Option[String] = None,
      txn: Option[(String, Long)] = None): Long = {
    if (txnLog.isDuplicate(batchId, txn)) return 0L
    val withDate = df.withColumn("date", model.dateKey)
    val expected = txnLog.constraintsAt()
    enforceConstraints(withDate, "append", expected)
    val added = stageClusteredWrite(withDate)
    val meta = commitMeta(added)
    try commitMergedWrite(withDate, "append", expected, added,
      removed = Nil, requireLive = Nil, batchId = batchId, meta = meta,
      txn = txn)
    catch {
      case _: TxnLog.DuplicateTxnException =>
        // the loser's staged files were already published into live
        // partition dirs but never entered the log — delete them now
        // (they are invisible to log-resolved reads, but they'd consume
        // disk until vacuum and confuse direct-directory readers)
        added.foreach { rel =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(root, rel))
        }
        0L
    }
  }

  /** Shared commit tail of [[appendDF]] and [[overwriteDF]]: constraint
    * revalidation (commitValidated) composed with the monotone schema
    * merge under an `expectedSchema` retry loop. The schema snapshot is
    * threaded into the commit, so a schema DDL (or another evolving
    * write) landing in the read→commit window conflicts LOUDLY and the
    * merge re-derives against the new record — never clobbers it; a
    * re-typed column in the new record fails the re-merge, the correct
    * loud outcome. An UNCHANGED record is not re-written (a no-op write
    * would bloat the log and make every plain append look like a schema
    * change to concurrent DDL's expectedSchema check). Returns leaf
    * partitions touched (all k=v levels).
    */
  private def commitMergedWrite(validated: DataFrame, opName: String,
      expected: Option[String], added: Seq[String], removed: Seq[String],
      requireLive: Seq[String], batchId: Option[String], meta: AddedMeta,
      txn: Option[(String, Long)] = None): Long = {
    var expSchema = txnLog.schemaAt()
    var committed = false
    while (!committed) {
      try {
        val merged = mergedSchemaJson(expSchema, validated.schema)
        val schemaOut = if (expSchema.contains(merged)) None else Some(merged)
        commitValidated(validated, opName, expected) { exp =>
          txnLog.commit(added = added, removed = removed, batchId = batchId,
            schemaJson = schemaOut,
            op = if (opName == "append") None else Some(opName),
            rowCounts = meta.counts, fileStats = meta.stats,
            blooms = meta.blooms, fileSizes = meta.sizes,
            requireLive = requireLive,
            expectedConstraints = Some(exp),
            expectedSchema = Some(expSchema),
            txn = txn)
        }
        committed = true
      } catch { case e: TxnLog.SchemaConflictException =>
        val now = txnLog.schemaAt()
        if (now == expSchema) throw e // no actual change: don't spin
        expSchema = now // re-merge against the new record and retry
      }
    }
    added.map(r => r.take(math.max(0, r.lastIndexOf('/')))).distinct.size.toLong
  }

  /** Atomic whole-table replace (SQL `INSERT OVERWRITE`, Delta's
    * overwrite save mode): the new data stages exactly like an append,
    * then ONE commit swaps it in for the ENTIRE snapshot read at entry
    * — readers never observe a half-replaced table, and time travel to
    * the pre-overwrite version still serves the old data (nothing is
    * deleted until vacuum). Schema follows the append rules (monotone
    * merge, type conflicts loud). Concurrency: `requireLive` on the
    * replaced snapshot makes a racing row-op/compaction fail one side
    * loudly instead of silently resurrecting rows; a concurrent BLIND
    * append survives alongside the new data (the restore()/Delta
    * WriteSerializable semantics — an overwrite must not destroy a
    * racing ingest's data).
    */
  def overwriteDF(df: DataFrame): Long = {
    val withDate = df.withColumn("date", model.dateKey)
    val expected = txnLog.constraintsAt()
    enforceConstraints(withDate, "overwrite", expected)
    val removed = txnLog.snapshotFiles()
    val added = stageClusteredWrite(withDate)
    commitMergedWrite(withDate, "overwrite", expected, added,
      removed = removed, requireLive = removed, batchId = None,
      meta = commitMeta(added))
  }

  /** Cluster (per `clusterOnWrite`/`zorderCols`), write to a staging dir,
    * publish into the table root; returns the published relative paths.
    * The caller owns the txn commit — every write path (append, rewrite,
    * compaction) funnels through here so clustering and file layout stay
    * uniform.
    */
  private def stageClusteredWrite(withDate: DataFrame): Seq[String] = {
    val staging = s"$root/_staging/${UUID.randomUUID()}"
    val clustered =
      if (clusterOnWrite)
        withDate.repartition(partitionCols.map(col): _*)
          .sortWithinPartitions(clusterSortKeys(withDate): _*)
      else withDate
    withMicrosTimestamps {
      clustered.write.partitionBy(partitionCols: _*).format(format)
        .option("header", format == "csv")
        .option("compression", writeCompression).save(staging)
    }
    publishStaged(staging)
  }

  /** Schema this append RECORDS: the batch's fields merged over the
    * already-recorded schema, so the record is MONOTONE through plain
    * appends — an append whose batch lacks a previously added column
    * must not erase it from the latest schema (the file bytes were
    * never at risk, but `query()`'s fixed-schema read follows the
    * record, and a narrowing record would hide the column from every
    * reader). A name collision at a DIFFERENT type is rejected loudly
    * here: parquet's vectorized reader cannot read a file written
    * under one type as another, so the mismatch would otherwise
    * surface as a read-time crash far from the write that caused it.
    * Consequence for [[dropColumn]]: a producer still writing the
    * dropped column re-introduces it on its next append — retire the
    * column from producers before dropping it (Delta's operational
    * guidance too).
    */
  private def mergedSchemaJson(prevRaw: Option[String],
      batch: StructType): String =
    prevRaw
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType]) match {
      case None => batch.json
      case Some(prev) =>
        // Case-INSENSITIVE matching, like the DDL path and Spark's own
        // resolver: a batch column differing only in case from a
        // recorded one ('Volume' vs 'volume') must hit the conflict
        // checks here, not record a second field that every later
        // fixed-schema read rejects as a duplicate column. Locale.ROOT
        // like Spark's resolver — a locale-sensitive toLowerCase turns
        // 'I' into dotless 'ı' on a Turkish JVM and the guard misses.
        def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
        val prevByName = prev.fields.map(f => lower(f.name) -> f).toMap
        // a batch may also collide WITH ITSELF: two new columns
        // differing only in case would both pass the recorded-field
        // checks and plant the duplicate-column corruption directly
        val dupInBatch = batch.fieldNames.groupBy(lower)
          .collect { case (_, vs) if vs.length > 1 => vs.mkString("/") }
        require(dupInBatch.isEmpty,
          s"append schema conflict: batch columns collide " +
            s"case-insensitively (${dupInBatch.mkString(", ")})")
        batch.fields.foreach { f =>
          prevByName.get(lower(f.name)).foreach { pf =>
            require(pf.name == f.name,
              s"append schema conflict on '${f.name}': table records it " +
                s"as '${pf.name}' — column names are case-insensitive; " +
                "rename the batch column to the recorded casing")
            require(pf.dataType == f.dataType,
              s"append schema conflict on '${f.name}': table has " +
                s"${pf.dataType.simpleString}, batch has ${f.dataType.simpleString}")
          }
        }
        if (format == "csv") {
          // CSV files resolve POSITIONALLY against the recorded data
          // schema (partition columns are directory-encoded and matched
          // by name; everything else by position, header ignored under
          // Spark's default enforceSchema). A batch is therefore only
          // sound when its data columns present the recorded data
          // columns as an ORDERED PREFIX (trailing omissions read as
          // NULL — safe) followed by any brand-new columns. A middle
          // omission or a reorder would silently shift every later
          // field into the wrong column on read — reject it here, at
          // the write that would plant the corruption.
          val recData = prev.fieldNames.filterNot(partitionCols.contains)
          val batchData = batch.fieldNames.filterNot(partitionCols.contains)
          val known = batchData.filter(recData.contains)
          require(known.sameElements(recData.take(known.length)),
            "csv append layout mismatch: batch presents recorded columns " +
              s"(${known.mkString(",")}) but the recorded order is " +
              s"(${recData.mkString(",")}) — csv resolves positionally, " +
              "so recorded columns must appear as an ordered prefix")
          val fresh = batchData.filterNot(recData.contains)
          require(batchData.sameElements(known ++ fresh),
            "csv append layout mismatch: new columns must trail the " +
              s"recorded ones, got (${batchData.mkString(",")})")
          // A batch that ADDS a column while OMITTING a recorded one is
          // the silent-shift trap the prefix check alone misses: known
          // = (...,c1..ck) is a valid prefix and the new column trails,
          // but the merged record places the omitted recorded column
          // BEFORE the new one while the file bytes have the new
          // column in its position — the new column's values would
          // read back under the omitted column's name. New columns are
          // only sound on top of the COMPLETE recorded data schema.
          require(fresh.isEmpty || known.length == recData.length,
            "csv append layout mismatch: batch adds new columns " +
              s"(${fresh.mkString(",")}) while omitting recorded ones " +
              s"(${recData.drop(known.length).mkString(",")}) — csv " +
              "resolves positionally, so a batch introducing columns " +
              "must present every recorded data column first")
        }
        StructType(prev.fields ++
          batch.fields.filterNot(f =>
            prevByName.contains(lower(f.name)))).json
    }

  // ------------------------------------------------------- schema evolution

  /** `ALTER TABLE ADD COLUMN name type` (Delta parity): appends a
    * NULLABLE column to the recorded schema in one metadata-only commit
    * — zero data files touched; every existing row reads as NULL until
    * a write populates it, and time travel before this version never
    * sees the column. New columns land at the END of the schema, which
    * is also what keeps CSV-format tables sound (their reads resolve
    * positionally; missing trailing fields read as NULL).
    *
    * Concurrency: serializable — the commit carries the schema
    * snapshot this DDL derived from as `expectedSchema`, so a racing
    * schema change makes THIS commit throw
    * [[TxnLog.SchemaConflictException]] (re-run against the new
    * record) instead of either side being silently clobbered.
    */
  def addColumn(name: String,
      dataType: org.apache.spark.sql.types.DataType): Long =
    addColumns(Seq(name -> dataType))

  /** Test seam for the schema-read -> commit window of column DDL (the
    * restoreImpl beforeCommit pattern).
    */
  private[graft] var beforeSchemaCommit: () => Unit = () => ()

  /** Multi-column [[addColumn]] as ONE metadata commit (`ALTER TABLE …
    * ADD COLUMNS (…)` must be atomic: a duplicate in the list fails the
    * whole statement, never leaving half the columns added).
    */
  def addColumns(
      cols: Seq[(String, org.apache.spark.sql.types.DataType)]): Long = {
    require(cols.nonEmpty, "ADD COLUMNS list is empty")
    val raw = txnLog.schemaAt() // snapshot for the DDL conflict check
    val cur = decodeSchema(raw)
    val taken = scala.collection.mutable.Set(
      cur.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSeq: _*)
    cols.foreach { case (name, _) =>
      require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
        s"column name must be [A-Za-z0-9_]+: $name")
      require(taken.add(name.toLowerCase(java.util.Locale.ROOT)),
        s"column $name already exists")
    }
    val next = StructType(cur.fields ++ cols.map { case (n, dt) =>
      StructField(n, dt, nullable = true)
    })
    beforeSchemaCommit()
    // expectedSchema: racing schema DDL (or an evolving append) loses
    // loudly and re-runs, never silently clobbers — the constraint-DDL
    // serializability pattern
    txnLog.commit(added = Nil, op = Some("add-column"),
      schemaJson = Some(next.json), expectedSchema = Some(raw))
  }

  /** `ALTER TABLE DROP COLUMN name`: metadata-only — the recorded
    * schema stops projecting the column; file bytes are untouched, so
    * time travel to a pre-drop version still reads it (Delta's
    * column-mapping drop semantics, minus the mapping: resolution here
    * is by NAME against parquet footers, which is why the operation is
    * parquet-only — a CSV file resolves positionally and dropping a
    * middle column would shift every field after it). Core model
    * columns and partition keys are not droppable (`barValid` /
    * `dateKey` / the layout depend on them), and a drop that would
    * break a registered CHECK constraint is rejected HERE, not on the
    * next write far from the DDL that caused it.
    */
  def dropColumn(name: String): Long = {
    require(format == "parquet",
      s"DROP COLUMN requires name-based file resolution (parquet); " +
        s"this table's format is $format")
    val raw = txnLog.schemaAt() // snapshot for the DDL conflict check
    val cur = decodeSchema(raw)
    require(cur.fieldNames.contains(name), s"no such column: $name")
    val protect = model.ohlcvSchema.fieldNames.toSet ++ partitionCols
    require(!protect.contains(name),
      s"cannot drop core/partition column $name")
    val next = StructType(cur.fields.filterNot(_.name == name))
    // the probe validated against THIS constraint snapshot, so it is
    // threaded into the commit as expectedConstraints: a concurrent
    // addConstraint referencing the dropped column would otherwise
    // commit unchallenged (it changes no schema, this drop changes no
    // constraints — each side's single-map check passes) and leave a
    // registered CHECK over a non-existent column, wedging every later
    // append. Cross-metadata races need BOTH expectations.
    val expectedConstraints = txnLog.constraintsAt()
    val probe = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), next)
    expectedConstraints.map(TxnLog.decodeConstraints).getOrElse(Map.empty)
      .foreach { case (n, sql) =>
        try probe.filter(expr(sql)).queryExecution.analyzed
        catch { case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"cannot drop column $name: constraint $n CHECK ($sql) " +
              "references it — drop the constraint first", e)
        }
      }
    beforeSchemaCommit()
    txnLog.commit(added = Nil, op = Some("drop-column"),
      schemaJson = Some(next.json), expectedSchema = Some(raw),
      expectedConstraints = Some(expectedConstraints))
  }

  // ------------------------------------------------------------ constraints

  /** Current table CHECK constraints (name -> SQL predicate). */
  def constraints: Map[String, String] =
    txnLog.constraintsAt().map(TxnLog.decodeConstraints).getOrElse(Map.empty)

  /** `ALTER TABLE ADD CONSTRAINT name CHECK (exprSql)` (Delta parity):
    * validates that EVERY existing row satisfies the predicate (one
    * full-table aggregate — the price Delta pays too; at 100 TB this is
    * the one-off scan that buys per-append enforcement forever after),
    * then records the updated constraint map in one metadata commit.
    * From then on every append/update/merge batch is checked and a
    * violating write fails ATOMICALLY (no partial commit — the check
    * runs before any file is staged). SQL semantics: NULL passes (like
    * SQL CHECK); violation means the predicate evaluates to FALSE.
    */
  def addConstraint(name: String, exprSql: String): Long = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name must be [A-Za-z0-9_]+: $name")
    val before = txnLog.constraintsAt() // raw form for the DDL conflict check
    val cur = before.map(TxnLog.decodeConstraints).getOrElse(Map.empty)
    require(!cur.contains(name), s"constraint $name already exists")
    // schema snapshot for the CROSS-metadata conflict check: the
    // expression resolves against this schema, so a concurrent
    // dropColumn removing a referenced column must fail THIS commit
    // (dropColumn threads the mirror-image expectedConstraints; see
    // there for the wedge the pair prevents)
    val schemaBefore = txnLog.schemaAt()
    val existing = query().df
    // resolve the expression against the CURRENT schema now (a typo
    // must fail here, not on the next append) and scan for violations
    val bad = existing.filter(!coalesce(expr(exprSql), lit(true))).count()
    if (bad > 0)
      throw new IllegalStateException(
        s"cannot add constraint $name: $bad existing row(s) violate ($exprSql)")
    // expectedConstraints makes racing DDL loud instead of last-writer-
    // wins: two concurrent addConstraints would otherwise both read the
    // same base map and the second commit would silently drop the first
    beforeSchemaCommit() // test seam: the validate->commit race window
    txnLog.commit(added = Nil, op = Some("add-constraint"),
      constraintsJson = Some(TxnLog.encodeConstraints(cur + (name -> exprSql))),
      expectedConstraints = Some(before),
      expectedSchema = Some(schemaBefore))
  }

  /** `ALTER TABLE DROP CONSTRAINT name`. */
  def dropConstraint(name: String): Long = {
    val before = txnLog.constraintsAt()
    val cur = before.map(TxnLog.decodeConstraints).getOrElse(Map.empty)
    require(cur.contains(name), s"no such constraint: $name")
    txnLog.commit(added = Nil, op = Some("drop-constraint"),
      constraintsJson = Some(TxnLog.encodeConstraints(cur - name)),
      expectedConstraints = Some(before))
  }

  /** Reject `df` if any row violates a table constraint — ONE aggregate
    * pass over the increment computing every constraint's violation
    * count together (not a pass per constraint), run BEFORE any file is
    * staged so a failed write leaves no trace. Applied to the rows a
    * write introduces: the full batch on append, the rewritten file
    * contents on update/merge (a superset of the changed rows — already-
    * live rows re-checked there were validated when first written or by
    * addConstraint's table scan, so re-checking is redundant but sound).
    *
    * `raw` is the txn-log constraint snapshot the batch is validated
    * against — the SAME value the caller threads into its commit as
    * `expectedConstraints`, which closes the validate→commit TOCTOU
    * window: a constraint added concurrently (whose full-table scan ran
    * before this write's files were live) fails the commit loudly
    * instead of letting violating rows slip past both checks.
    */
  private def enforceConstraints(df: DataFrame, opName: String,
      raw: Option[String]): Unit = {
    val cs = raw.map(TxnLog.decodeConstraints).getOrElse(Map.empty)
      .toSeq.sortBy(_._1)
    if (cs.isEmpty) return
    val counts = cs.map { case (n, sql) =>
      sum(when(!coalesce(expr(sql), lit(true)), 1L).otherwise(0L)).as(n)
    }
    // validate the batch AS IT WILL BE READ: recorded columns the batch
    // does not carry read as NULL, and SQL CHECK passes NULL — so a
    // constraint over an evolved column must not break an old-shape
    // producer's append by failing ANALYSIS of a column that is merely
    // absent from this frame
    val missing = liveSchema.fields
      .filterNot(f => df.columns.exists(_.equalsIgnoreCase(f.name)))
    val asRead =
      if (missing.isEmpty) df
      else df.select((df.columns.map(col) ++
        missing.map(f => lit(null).cast(f.dataType).as(f.name))).toIndexedSeq: _*)
    val row = asRead.agg(counts.head, counts.tail: _*).collect()(0)
    cs.zipWithIndex.foreach { case ((n, sql), i) =>
      val bad = if (row.isNullAt(i)) 0L else row.getLong(i) // null = empty df
      if (bad > 0)
        throw new IllegalStateException(
          s"$opName rejected: $bad row(s) violate constraint $n ($sql)")
    }
  }

  /** Test seam for the validate→commit race window of data-path writes
    * (the restoreImpl beforeCommit pattern): invoked once, immediately
    * before the first commit attempt of append/update/merge.
    */
  private[graft] var beforeDataCommit: () => Unit = () => ()

  /** Commit a constraint-validated data write with its validation
    * snapshot threaded as `expectedConstraints` — the Delta-style
    * metadata-conflict check for the data path. When a constraint DDL
    * lands between this write's validation and its commit, the commit
    * throws [[TxnLog.ConstraintConflictException]]; the batch is then
    * RE-validated against the new map and the commit retried, so a
    * concurrent `ADD CONSTRAINT` can never be bypassed (violating rows
    * fail the re-validation loudly) and a batch that satisfies the new
    * map commits without bothering the caller. requireLive conflicts
    * propagate unchanged — a row-op loser must re-plan its rewrite, not
    * retry it.
    */
  private def commitValidated(validated: DataFrame, opName: String,
      firstExpected: Option[String])(
      doCommit: Option[String] => Long): Long = {
    var expected = firstExpected
    beforeDataCommit()
    while (true) {
      try return doCommit(expected)
      catch { case e: TxnLog.ConstraintConflictException =>
        val now = txnLog.constraintsAt()
        if (now == expected) throw e // no actual change: don't spin
        expected = now
        enforceConstraints(validated, opName, expected)
      }
    }
    -1L // unreachable
  }

  /** Register EXISTING data files into the table without rewriting them
    * (the convert-in-place path: the reference scans whatever parquet/CSV
    * files sit in a partition dir, dispatching on suffix —
    * lakehouse.py:469-475). Paths are root-relative `date=YYYY-MM-DD/...`
    * so partition pruning applies unchanged; the format of each file is
    * dispatched per suffix at read time, so parquet and CSV may coexist
    * in one table and one partition. One atomic txn commit.
    */
  def addFiles(rels: Seq[String]): Long = {
    require(rels.nonEmpty, "no files to add")
    rels.foreach { r =>
      require(Files.isRegularFile(Paths.get(root, r)), s"no such file under root: $r")
      require(r.endsWith(".parquet") || r.endsWith(".csv"),
        s"unsupported file suffix (want .parquet or .csv): $r")
      require(r.startsWith(s"${partitionCols.head}="),
        s"not under a ${partitionCols.head}= partition: $r")
    }
    // Registered files participate in every future read, so the table's
    // invariants apply to them exactly as to an appended batch:
    //  - parquet schemas pass the same case-insensitive conflict checks
    //    as an append and the merged schema is RECORDED — a re-typed
    //    column in an external file must fail HERE, loudly, not crash
    //    the vectorized reader at query time far from this call (CSV
    //    carries no schema: it reads under the live schema, so there is
    //    nothing to validate at registration);
    //  - registered CHECK constraints must hold over the files' rows —
    //    a scan, paid only when constraints exist (the same atomic
    //    promise every other write path keeps).
    val prevSchema = txnLog.schemaAt()
    val pqRels = rels.filterNot(_.endsWith(".csv"))
    val schemaOut =
      if (pqRels.isEmpty) None
      else {
        // mergeSchema folds EVERY file's footer into the inference —
        // the default samples ONE footer, so a re-typed column in a
        // non-sampled file would bypass the conflict checks below and
        // the recorded merged schema, deferring the failure to the
        // vectorized reader at query time (the exact outcome this
        // validation exists to prevent). A cross-FILE type conflict
        // surfaces as Spark's own merge failure, rethrown as the same
        // loud registration-time conflict an append would get.
        val inferred =
          try spark.read.option("basePath", root)
            .option("mergeSchema", "true")
            .parquet(pqRels.map(r => s"$root/$r"): _*).schema
          catch { case e: org.apache.spark.SparkException =>
            throw new IllegalArgumentException(
              "addFiles schema conflict: registered parquet files " +
                s"disagree on a column's type (${e.getMessage})", e)
          }
        // partition columns are directory-encoded: they carry no file
        // bytes to conflict, and reads resolve them under the RECORDED
        // schema's type — inference here would say DATE where the table
        // records STRING, a false conflict
        val fileSchema = StructType(inferred.fields.filterNot(f =>
          partitionCols.exists(_.equalsIgnoreCase(f.name))))
        val merged = mergedSchemaJson(prevSchema, fileSchema)
        if (prevSchema.contains(merged)) None else Some(merged)
      }
    val expected = txnLog.constraintsAt()
    if (expected.exists(e => TxnLog.decodeConstraints(e).nonEmpty))
      enforceConstraints(readRels(rels, liveSchema), "addFiles", expected)
    val meta = commitMeta(rels)
    txnLog.commit(added = rels, rowCounts = meta.counts,
      fileStats = meta.stats, blooms = meta.blooms, fileSizes = meta.sizes,
      schemaJson = schemaOut,
      expectedSchema = Some(prevSchema),
      expectedConstraints = Some(expected))
  }

  /** Per-file metadata for freshly published files — row counts,
    * (symbol, timestamp) bounds, length and mtime — from ONE parallel
    * footer pass at COMMIT time (files still page-cache-hot), recorded in
    * the txn log: queries never re-open footers (scan accounting stays
    * O(log replay) and file pruning is log-only, the Delta-style skipping
    * of README.md:131), and never stat a file (the scan's file index is
    * built from the logged lengths). CSV files contribute a line count
    * and no stats; footers lacking either column's stats contribute no
    * stats (pruning treats absent as unskippable).
    */
  private def commitMeta(rels: Seq[String]): AddedMeta = {
    import java.util.stream.Collectors
    val metas = rels.asJava.parallelStream()
      .collect(Collectors.toMap(
        (r: String) => r, (r: String) => fileMeta(r)))
      .asScala
    val counts = metas.map { case (k, v) => k -> v._1 }.toMap
    // Blooms ride every staged-write commit (append, compaction, row-op
    // rewrite), so rewritten files keep their skipping power. CSV files
    // get none (no cheap one-pass typed scan) — absence means "read it".
    val blooms =
      if (bloomCols.isEmpty) Map.empty[String, Map[String, TxnLog.Bloom]]
      else BloomSkipping.build(spark, root,
        rels.filterNot(_.endsWith(".csv")), bloomCols, counts,
        bloomFpp, bloomMaxBits)
    AddedMeta(counts,
      metas.flatMap { case (k, v) => v._2.map(k -> _) }.toMap,
      blooms,
      metas.map { case (k, v) => k -> v._3 }.toMap)
  }

  /** Row count, (symbol, ts) bounds and largest one-symbol row count when
    * trustworthy, and length + mtime of one published file. One Hadoop
    * stat gives the length and mtime (the same call `readRels` falls back
    * to) and opens a parquet footer; the count reads the `symbol` column
    * chunk only.
    */
  private def fileMeta(rel: String)
      : (Long, Option[TxnLog.FileStat], TxnLog.FileSize) = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new HadoopPath(s"$root/$rel")
    val st = path.getFileSystem(conf).getFileStatus(path)
    val size = TxnLog.FileSize(st.getLen, st.getModificationTime)
    if (rel.endsWith(".csv")) (footerRowCount(rel), None, size)
    else {
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        def bounds[T](col: String)(convert: Any => T)(implicit o: Ordering[T])
            : Option[(T, T)] = {
          val sts = blocks.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == col)
              .map(_.getStatistics)
          }
          if (sts.isEmpty || sts.exists(s =>
              s == null || s.isEmpty || !s.hasNonNullValue)) None
          else Some((sts.map(s => convert(s.genericGetMin)).min,
            sts.map(s => convert(s.genericGetMax)).max))
        }
        // Trust the ts bounds ONLY when the column really is INT64
        // TIMESTAMP(MICROS): addFiles can register externally-written
        // parquet where the unit is millis/nanos — read as µs those
        // bounds would be off by 1000×, silently pruning live files.
        def tsIsMicros: Boolean = {
          import org.apache.parquet.schema.LogicalTypeAnnotation
          val schema = reader.getFooter.getFileMetaData.getSchema
          schema.containsField("timestamp") &&
            (schema.getType(Seq("timestamp"): _*) match {
              case p: org.apache.parquet.schema.PrimitiveType =>
                p.getLogicalTypeAnnotation match {
                  case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                    t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
                  case _ => false
                }
              case _ => false
            })
        }
        val stat =
          try if (!tsIsMicros) None
          else for {
            (sMin, sMax) <- bounds("symbol")(
              _.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            (tMin, tMax) <- bounds("timestamp")(
              _.asInstanceOf[java.lang.Long].longValue())
          } yield TxnLog.FileStat(sMin, sMax, tMin, tMax)
          catch { case scala.util.control.NonFatal(_) => None }
        // an unreadable count keeps the bounds: reads fall back to the
        // file's row count, pruning is unaffected
        val counted = stat.map(_.copy(maxSymbolRows =
          scala.util.Try(maxSymbolRows(reader)).toOption))
        (reader.getRecordCount, counted, size)
      } finally reader.close()
    }
  }

  /** In-file clustering keys: the Morton z-key over `zorderCols` when
    * configured (min/max ranks computed on `df` itself — one narrow agg
    * job per write), else the linear (symbol, timestamp) sort, which is
    * skipping-equivalent to single-column Z-order (SURVEY §1.3).
    *
    * The partition columns LEAD the sort: a partitioned write requires
    * ordering by them, and when the plan doesn't already provide it the
    * planned-write rule stacks its own Sort(partitionCols) on top — at
    * which point EliminateSorts deletes the cluster sort as overridden
    * and files land in ARRIVAL order with useless row-group stats.
    * Prefixing makes the required ordering a prefix of ours, so no sort
    * is inserted and the clustering actually reaches the files (pinned
    * by ZOrderSpec's row-group-stats assertions).
    */
  private def clusterSortKeys(df: DataFrame): Seq[org.apache.spark.sql.Column] =
    partitionCols.map(col) ++
      (if (zorderCols.nonEmpty) Seq(graft.functions.ZOrder.zkey(df, zorderCols))
       else Seq(col("symbol"), col("timestamp")))

  /** Hive partition values parsed from a relative path's directory
    * segments (`date=2024-06-15/symbol=AAPL/part-0.parquet` →
    * `Map(date -> 2024-06-15, symbol -> AAPL)`). Values are UNESCAPED
    * (Hive %XX encoding): Spark writes `symbol=A B` as `symbol=A%20B`,
    * and pruning compares against the logical value — matching the raw
    * path would silently prune files for any symbol containing an
    * escaped character.
    */
  private def partitionValues(rel: String): Map[String, String] =
    rel.split('/').dropRight(1).iterator.flatMap { seg =>
      val i = seg.indexOf('=')
      if (i < 0) None
      else Some(seg.substring(0, i) -> unescapePath(seg.substring(i + 1)))
    }.toMap

  private def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length &&
            Character.digit(s.charAt(i + 1), 16) >= 0 &&
            Character.digit(s.charAt(i + 2), 16) >= 0) {
          sb.append((Character.digit(s.charAt(i + 1), 16) * 16 +
            Character.digit(s.charAt(i + 2), 16)).toChar)
          i += 3
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Move staged data files (under their date= dirs) into the table root;
    * returns their relative paths.
    */
  private def publishStaged(staging: String): Seq[String] = {
    val stagingPath = Paths.get(staging)
    val files = walkFiles(stagingPath)
      .filter(p => (p.toString.endsWith(".parquet") || p.toString.endsWith(".csv"))
        && Files.isRegularFile(p))
    val rels = files.map { f =>
      val rel = stagingPath.relativize(f).toString
      // Re-basename with a fresh UUID at publish: Spark's dynamic
      // partitioning reuses part-NNNNN-jobUUID per TASK, so one task
      // writing several partition dirs emits the SAME basename in each —
      // and bloom/stat bookkeeping keys files by basename (globally
      // unique basenames sidestep URI-escaping of partition dir values
      // when joining against input_file_name()).
      val dir = Option(Paths.get(rel).getParent).map(_.toString + "/").getOrElse("")
      val suffix = rel.substring(rel.lastIndexOf('.')) // ".parquet" | ".csv"
      val unique = s"${dir}part-${UUID.randomUUID()}$suffix"
      val target = Paths.get(root, unique)
      Files.createDirectories(target.getParent)
      Files.move(f, target, StandardCopyOption.ATOMIC_MOVE)
      unique
    }
    deleteRecursively(stagingPath)
    rels
  }

  // ----------------------------------------------------------------- query

  /** Pruned, snapshot-consistent read (lakehouse.py:338-372, §3.1):
    * partition pruning by date-key range → parquet scan of the live file
    * set → residual timestamp/symbol filters (pushed to row groups) →
    * deterministic (timestamp, symbol) sort.
    *
    * Planning is log-only: file list, partition values, lengths and row
    * counts come from the txn log, so a read lists no directory, stats no
    * file and starts no job before its own scan (a log written before
    * lengths were recorded costs one stat per such file).
    *
    * The sort is planned from the log's statistics too, on three sides of
    * [[SmallSortRows]]: a read that SCANS few rows (a point read) is
    * scanned and sorted by one task, `coalesce(1)`, which for a scan of a
    * few row groups beats any exchange; a one-symbol read that scans many
    * rows but RETURNS few — bounded by each pruned file's largest
    * one-symbol row count, recorded at commit — scans in parallel and
    * sorts in one task after a single-partition exchange (no sampling
    * job, the scan runs once); any other read takes the distributed
    * `orderBy`. All three return the same rows in the same order.
    *
    * `totalRowsScanned` (A2) is the row count of the pruned file set, from
    * the log's commit-time counts — metadata-only, no data IO.
    */
  def query(
      symbol: Option[String] = None,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None,
      asOfVersion: Option[Long] = None,
      asOfTimestampMs: Option[Long] = None,
      mergeSchema: Boolean = false,
      eq: Map[String, Any] = Map.empty): QueryResult = {
    val t0 = System.nanoTime()
    require(eq.values.forall(_ != null), "eq lookup values must be non-null")
    val version = resolveVersion(asOfVersion, asOfTimestampMs)
    val pruned = prunedFiles(symbol, start, end, version, eq)

    // Commit-time row counts from the log; footer IO only for files from
    // pre-rowCount commits (none in practice).
    val recorded = txnLog.rowCountsAt(version)
    val fileRows = pruned.map(r => r -> recorded.getOrElse(r, footerRowCount(r)))
    val rowsScanned = fileRows.map(_._2).sum
    // A one-symbol read returns at most each file's largest one-symbol
    // row count (recorded at commit); a file without one may return all
    // of its rows.
    val resultBound = if (symbol.isEmpty) rowsScanned else {
      val stats = txnLog.fileStatsAt(version)
      fileRows.map { case (r, n) =>
        stats.get(r).flatMap(_.maxSymbolRows).fold(n)(math.min(n, _))
      }.sum
    }

    // Schema evolution (§1.2): read with the schema RECORDED at the target
    // version — a time-travel read across a later schema change must
    // deserialize with its own epoch's schema, not today's. Per-file
    // format dispatch via the shared readRels (reference
    // lakehouse.py:469-475 scans mixed parquet/CSV within one partition
    // dir).
    val base = readRels(pruned, decodeSchema(txnLog.schemaAt(version)),
      mergeSchema, version)

    val unsorted = (Seq(
      symbol.map(s => col("symbol") === s),
      start.map(ts => col("timestamp") >= lit(ts)),
      end.map(ts => col("timestamp") <= lit(ts)))
      .flatten ++ eq.map { case (c, v) => col(c) === lit(v) })
      .foldLeft(base)((df, cond) => df.filter(cond))
    // Sort strategy picked from table METADATA (see SmallSortRows): a
    // global orderBy costs a range-partitioning sampling job + a shuffle,
    // pure overhead when the result fits one task.
    val byTime = Seq(col("timestamp"), col("symbol"))
    val filtered =
      if (rowsScanned <= SmallSortRows)
        unsorted.coalesce(1).sortWithinPartitions(byTime: _*)
      else if (resultBound <= SmallSortRows)
        unsorted.repartition(1).sortWithinPartitions(byTime: _*)
      else unsorted.orderBy(byTime: _*)

    QueryResult(filtered, (System.nanoTime() - t0) / 1e6, rowsScanned)
  }

  /** The snapshot a read targets: `asOfVersion`, else the newest version
    * committed at or before `asOfTimestampMs`, else the head
    * (`Long.MaxValue`).
    */
  private def resolveVersion(asOfVersion: Option[Long],
      asOfTimestampMs: Option[Long]): Long =
    asOfVersion
      .orElse(asOfTimestampMs.map { ms =>
        val v = txnLog.versionAsOf(ms)
        // -1 = before table history. restore() treats it as an error
        // sentinel; silently resolving it here returned an empty
        // snapshot, indistinguishable from a genuinely empty table
        require(v >= 0, s"no committed snapshot at or before " +
          s"timestamp $ms (table history starts later)")
        v
      })
      .getOrElse(Long.MaxValue)

  /** Two-stage file pruning for the lakehouse predicate shape, shared by
    * `query()` and `deleteRange()`:
    *
    * 1. Partition pruning on the Hive path values (k=v dir levels):
    *    lexicographic compare on the date key == chronological (O2),
    *    symbol equality when `symbol` is a partition column. A key absent
    *    from the layout simply doesn't prune (residual filters still
    *    apply).
    * 2. FILE pruning from commit-time log statistics (Delta-style,
    *    README.md:131): a file whose recorded (symbol, timestamp) bounds
    *    cannot overlap the predicate is dropped without any footer IO.
    *    Timestamp bounds are µs; query bounds are ms-resolution
    *    Timestamps, widened conservatively. Files without stats always
    *    survive.
    * 3. BLOOM pruning for `eq` equality lookups ([[BloomSkipping]]): a
    *    file whose commit-time filter says "definitely absent" for any
    *    looked-up value is dropped. Files or columns without a filter
    *    always survive; the residual `col === v` filter in `query()`
    *    keeps results exact either way, so the filters only ever save
    *    IO, never change answers.
    */
  private def prunedFiles(symbol: Option[String], start: Option[Timestamp],
      end: Option[Timestamp], version: Long = Long.MaxValue,
      eq: Map[String, Any] = Map.empty): Seq[String] = {
    val allFiles = txnLog.snapshotFiles(version)
    val startKey = start.map(ts => model.dateKeyOf(ts))
    val endKey = end.map(ts => model.dateKeyOf(ts))
    val partitionPruned = allFiles.filter { rel =>
      val pv = partitionValues(rel)
      pv.get("date").forall(d =>
        startKey.forall(d >= _) && endKey.forall(d <= _)) &&
        symbol.forall(s => pv.get("symbol").forall(_ == s))
    }
    val stats = txnLog.fileStatsAt(version)
    val statsPruned = partitionPruned.filter { rel =>
      stats.get(rel).forall { st =>
        symbol.forall(s => st.symbolMin <= s && s <= st.symbolMax) &&
          start.forall(ts => st.tsMaxUs >= ts.getTime * 1000L) &&
          end.forall(ts => st.tsMinUs <= ts.getTime * 1000L + 999L)
      }
    }
    if (eq.isEmpty) statsPruned
    else {
      val blooms = txnLog.bloomsAt(version)
      statsPruned.filter { rel =>
        val byCol = blooms.getOrElse(rel, Map.empty)
        eq.forall { case (c, v) =>
          byCol.get(c).forall(BloomSkipping.mightContain(_, v))
        }
      }
    }
  }

  private def footerRowCount(rel: String): Long =
    if (rel.endsWith(".csv")) {
      val lines = Files.lines(Paths.get(root, rel))
      try math.max(0L, lines.count() - 1) finally lines.close() // minus header
    } else {
      val conf = spark.sessionState.newHadoopConf()
      val in = HadoopInputFile.fromPath(new HadoopPath(s"$root/$rel"), conf)
      val reader = ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }

  /** Time-travel read (S13): full snapshot at a version. */
  def timeTravel(version: Long): DataFrame = query(asOfVersion = Some(version)).df

  /** Register a snapshot as a temp view and run SQL (S12, §3.3).
    *
    * The view is the snapshot's files under the version's schema,
    * UNSORTED: a statement without ORDER BY promises no row order, and
    * `query()`'s global sort would put a range shuffle (or, under its
    * small-read gate, a single-task coalesce) under every aggregate.
    *
    * Time travel through SQL (S13): `FROM <table> FOR VERSION AS OF n`
    * pins the view to snapshot n; `FOR TIMESTAMP AS OF
    * 'yyyy-MM-dd HH:mm:ss[.SSS]'` resolves the version by commit time.
    * The pin clause is recognized and stripped BEFORE Spark parses the
    * statement (the table is a temp view, outside the v2-catalog path
    * where Spark's native VERSION AS OF applies); one pin per statement —
    * every reference to the table reads the same snapshot, which is also
    * the only coherent semantics for a self-join.
    */
  def sql(text: String, tableName: String = "trades"): DataFrame = {
    val t = java.util.regex.Pattern.quote(tableName)
    // ALTER TABLE constraint DDL (S21's SQL surface) is intercepted
    // before Spark parses — the table is a temp view, outside the
    // v2-catalog path where Spark's native ALTER TABLE applies. Greedy
    // CHECK(...) capture: the predicate may itself contain parens.
    val addCRe =
      s"(?i)^\\s*ALTER\\s+TABLE\\s+$t\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$$".r
    val dropCRe =
      s"(?i)^\\s*ALTER\\s+TABLE\\s+$t\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*$$".r
    text match {
      case addCRe(name, exprSql) => addConstraint(name, exprSql); return spark.emptyDataFrame
      case dropCRe(name) => dropConstraint(name); return spark.emptyDataFrame
      case _ => ()
    }
    // `table_changes(start[, end])` — Delta's CDF table-valued-function
    // idiom (S19's SQL surface): each call materializes as a temp view
    // of [[changes]] and the call text rewrites to the view name. Runs
    // BEFORE the DML interception so the idiom also composes inside
    // `INSERT INTO … SELECT FROM table_changes(…)` — the canonical
    // change-feed replay. Quote-aware (SqlDml.rewriteTableChanges): a
    // literal mentioning table_changes must never be rewritten.
    val text2 = SqlDml.rewriteTableChanges(this, text, tableName)
    // Managed-table DML/utility statements (DELETE/UPDATE/MERGE/INSERT,
    // OPTIMIZE/VACUUM/DESCRIBE HISTORY/RESTORE) — same reason as the
    // constraint DDL: they act on the txn log, not on a temp view, so
    // they are routed to the engine ops before Spark ever parses. See
    // SqlDml for the grammar.
    SqlDml.intercept(this, text2, tableName).foreach(df => return df)
    val vRe = s"(?i)\\b$t\\s+FOR\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)".r
    val tsRe = s"(?i)\\b$t\\s+FOR\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'".r
    // quote-aware like the table_changes rewrite above: a string literal
    // mentioning the pin syntax must neither pin the snapshot nor be
    // rewritten (stripping inside it would corrupt the literal)
    val quotedAt = SqlDml.quotedMask(text2)
    def pins(re: scala.util.matching.Regex) =
      re.findAllMatchIn(text2).filter(m => !quotedAt(m.start)).toSeq
    val vPins = pins(vRe)
    val tsPins = pins(tsRe)
    val versions = vPins.map(_.group(1).toLong).distinct
    val stamps = tsPins.map(_.group(1)).distinct
    require(versions.size + stamps.size <= 1,
      s"at most one FOR VERSION/TIMESTAMP AS OF pin per statement, " +
        s"got versions=$versions timestamps=$stamps")
    val version = resolveVersion(versions.headOption,
      stamps.headOption.map(java.sql.Timestamp.valueOf(_).getTime))
    val snapshot = readRels(txnLog.snapshotFiles(version),
      decodeSchema(txnLog.schemaAt(version)), version = version)
    // strip ONLY the unquoted pin matches, splicing the bare table name
    // back in their place (matches are non-overlapping and disjoint
    // between the two regexes — VERSION vs TIMESTAMP keywords)
    val stripped = {
      val sb = new StringBuilder
      var pos = 0
      (vPins ++ tsPins).sortBy(_.start).foreach { m =>
        sb.append(text2.substring(pos, m.start)).append(tableName)
        pos = m.end
      }
      sb.append(text2.substring(pos)).toString
    }
    snapshot.createOrReplaceTempView(tableName)
    spark.sql(stripped)
  }

  // ---------------------------------------------------------- row-level ops
  //
  // Copy-on-write DELETE / UPDATE / MERGE (the Delta/Iceberg row-op trio;
  // the reference is append-only, so this is declared-surface extension —
  // its README frames the table as a mutable lakehouse, README.md:25,43).
  // Scale design: only files that CONTAIN an affected row are rewritten —
  // located with one column-pruned scan over the candidate set (parquet
  // row-group stats skip within files; log stats can pre-prune the
  // candidate list for symbol/time predicates) — and the swap publishes as
  // ONE commit whose `requireLive` check makes concurrent row-ops on the
  // same file serializable (loser fails loudly, never resurrects rows).

  /** The columns a SQL INSERT supplies, positionally: the live schema
    * minus the derived `date` partition key (appendDF re-derives it; an
    * INSERT can never set it inconsistently with `timestamp`).
    */
  private[sources] def dataSchema: Seq[StructField] =
    liveSchema.fields.filterNot(_.name == "date").toSeq

  /** Latest recorded table schema (falls back to the static OHLCV+date). */
  private def liveSchema: StructType = decodeSchema(txnLog.schemaAt())

  private def decodeSchema(raw: Option[String]): StructType = raw
    .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[StructType])
    .getOrElse(schemaWithDate)

  /** Read a commit's ADDED files under the schema recorded at `version`
    * (falling back to the live schema) — the incremental-view delta
    * scan. Same per-file format dispatch as the query path, so CSV
    * appends ride the delta fast path instead of forcing a rebuild;
    * basePath keeps partition-value columns.
    */
  private[sources] def readAddedRels(rels: Seq[String],
      version: Long): DataFrame =
    readRels(rels, decodeSchema(txnLog.schemaAt(version)), version = version)

  /** Files whose length the log did not record, stat'ed by a read (a log
    * written before lengths were recorded; files outside the log) —
    * instrumentation for the log-only planning specs.
    */
  private[graft] val statFallbacks = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-file format dispatch (reference lakehouse.py:469-475 scans
    * mixed parquet/CSV within one partition dir) — THE shared reader for
    * every path that materializes a rel list (query, sql, changes, merge,
    * row-ops, addFiles constraint check): the set splits by suffix and
    * each side scans a [[LogFileIndex]] of its files under its own file
    * format, then the sides union; an empty set yields an empty frame
    * WITH the schema.
    *
    * The index is built from the log: lengths and mtimes as recorded at
    * `version` (a file the log has no length for is stat'ed once),
    * partition values parsed from the rel paths and typed by `schema`.
    * Planning therefore lists no directory and stats no file (Spark's
    * generic file source, given the paths, stats every one and past 32
    * runs a listing job before the scan). `mergeSchema = true` infers
    * the parquet side's data schema from its files' footers, so later
    * commits may add columns without rewrite (§1.2).
    */
  private def readRels(rels: Seq[String], schema: StructType,
      mergeSchema: Boolean = false,
      version: Long = Long.MaxValue): DataFrame = {
    if (rels.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val conf = spark.sessionState.newHadoopConf()
    val rootPath = new HadoopPath(root)
    val fs = rootPath.getFileSystem(conf)
    val blockSize = fs.getDefaultBlockSize(rootPath)
    val resolver = spark.sessionState.conf.resolver
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val logged = txnLog.fileSizesAt(version)
    val partSchema = StructType(partitionCols.map(c =>
      schema.find(f => resolver(f.name, c)).getOrElse(StructField(c, StringType))))
    def partitionRow(rel: String): InternalRow = {
      val pv = partitionValues(rel)
      InternalRow.fromSeq(partSchema.fields.toSeq.map { f =>
        pv.collectFirst { case (k, v) if resolver(k, f.name) => v } match {
          case None | Some(ExternalCatalogUtils.DEFAULT_PARTITION_NAME) => null
          case Some(v) => Cast(Literal(v), f.dataType, Some(tz)).eval()
        }
      })
    }
    def status(rel: String): FileStatus = {
      val path = fs.makeQualified(new HadoopPath(s"$root/$rel"))
      logged.get(rel) match {
        case Some(sz) =>
          new FileStatus(sz.bytes, false, 1, blockSize, sz.mtimeMs, path)
        case None =>
          statFallbacks.incrementAndGet()
          fs.getFileStatus(path) // a vacuumed file fails loudly here
      }
    }
    def dirOf(rel: String) = rel.take(math.max(0, rel.lastIndexOf('/')))
    val (csvRels, pqRels) = rels.partition(_.endsWith(".csv"))
    val sides = Seq[(FileFormat, Seq[String])](
        new ParquetFileFormat -> pqRels, new CSVFileFormat -> csvRels)
      .filter(_._2.nonEmpty)
      .map { case (format, rs) =>
        val byDir = rs.groupBy(dirOf)
        val index = new LogFileIndex(fs.makeQualified(rootPath),
          rs.map(dirOf).distinct.map { d =>
            PartitionDirectory(partitionRow(byDir(d).head),
              byDir(d).map(status).toArray)
          }, partSchema, resolver)
        val csv = format.isInstanceOf[CSVFileFormat]
        val dataSchema =
          if (mergeSchema && !csv)
            format.inferSchema(spark, Map("mergeSchema" -> "true"),
              index.allFiles).get
          else StructType(schema.filterNot(f =>
            partitionCols.exists(resolver(_, f.name))))
        spark.baseRelationToDataFrame(HadoopFsRelation(index, partSchema,
          DataLakehouse.asNullable(dataSchema), None, format,
          if (csv) Map("header" -> "true") else Map.empty)(spark))
      }
    sides.reduce(_.unionByName(_, allowMissingColumns = mergeSchema))
  }

  /** Map `input_file_name()`'s URI back to a root-relative path. The URI
    * percent-encodes the ON-DISK name (which itself may contain Hive
    * escapes like `%20`), so exactly one decode recovers the literal
    * path — never decode twice.
    */
  private def relOf(uri: String): String = {
    val abs =
      try new java.net.URI(uri).getPath
      catch { case _: Exception => uri.stripPrefix("file:") }
    Paths.get(root).toAbsolutePath.normalize
      .relativize(Paths.get(abs).toAbsolutePath.normalize).toString
  }

  /** Files among `rels` containing at least one row matching `cond`, with
    * their match counts — ONE aggregate job over only the condition's
    * columns (column-pruned scan; row groups whose stats exclude the
    * predicate are skipped).
    */
  private def matchedFiles(rels: Seq[String], schema: StructType,
      cond: org.apache.spark.sql.Column): Seq[(String, Long)] =
    if (rels.isEmpty) Nil
    else readRels(rels, schema)
      .withColumn("_file", input_file_name())
      .filter(coalesce(cond, lit(false)))
      .groupBy(col("_file")).agg(count(lit(1)).as("n"))
      .collect()
      .map(r => relOf(r.getString(0)) -> r.getLong(1)).toSeq

  /** Copy-on-write DELETE: rows where `condition` is TRUE are removed;
    * NULL keeps the row (SQL three-valued semantics, as in Delta's
    * `DELETE WHERE`). Only matching files are rewritten; the add/remove
    * swap is one conflict-checked commit. Returns rows deleted.
    *
    * `candidates` optionally narrows the search (e.g. from log-stats
    * pruning — see [[deleteRange]]); correctness does not depend on it.
    */
  def deleteWhere(condition: org.apache.spark.sql.Column,
      candidates: Option[Seq[String]] = None): Long = {
    val schema = liveSchema
    val cands = candidates.getOrElse(txnLog.snapshotFiles())
    val matches = matchedFiles(cands, schema, condition)
    if (matches.isEmpty) return 0L
    val touched = matches.map(_._1)
    val kept = readRels(touched, schema)
      .filter(!coalesce(condition, lit(false)))
    val added = stageClusteredWrite(kept)
    val meta = commitMeta(added)
    txnLog.commit(added = added, removed = touched,
      rowCounts = meta.counts, fileStats = meta.stats, blooms = meta.blooms,
      fileSizes = meta.sizes, requireLive = touched)
    matches.map(_._2).sum
  }

  /** DELETE with the lakehouse's native predicate shape: the candidate
    * file set is pre-pruned by partition values AND commit-time log stats
    * (same two stages as `query()`), so at 100 TB the matching scan never
    * lists — let alone reads — files outside the symbol/time slice.
    */
  def deleteRange(symbol: Option[String] = None,
      start: Option[Timestamp] = None,
      end: Option[Timestamp] = None): Long = {
    val conds = Seq(
      symbol.map(s => col("symbol") === s),
      start.map(ts => col("timestamp") >= lit(ts)),
      end.map(ts => col("timestamp") <= lit(ts))).flatten
    require(conds.nonEmpty, "deleteRange needs at least one bound")
    deleteWhere(conds.reduce(_ && _), Some(prunedFiles(symbol, start, end)))
  }

  /** Copy-on-write UPDATE: for rows where `condition` is TRUE, each
    * column in `set` is replaced by its expression — all expressions
    * evaluated against the OLD row (one `select`, not chained
    * `withColumn`s, so `set` entries cannot observe each other). The date
    * partition key is re-derived afterwards, so an UPDATE that moves
    * `timestamp` across a day boundary migrates the row to its new
    * partition. Returns rows updated.
    */
  def update(condition: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    val schema = liveSchema
    require(set.nonEmpty, "update needs at least one SET column")
    require(!set.keySet.exists(partitionCols.contains),
      s"cannot SET partition column(s) ${partitionCols.mkString(",")} " +
        "directly — update `timestamp` and the date key re-derives")
    val unknown = set.keySet.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty, s"unknown SET column(s): ${unknown.mkString(",")}")
    val matches = matchedFiles(txnLog.snapshotFiles(), schema, condition)
    if (matches.isEmpty) return 0L
    val touched = matches.map(_._1)
    val src = readRels(touched, schema)
    val c = coalesce(condition, lit(false))
    val projected = src.select(src.columns.map { k =>
      set.get(k).map(v => when(c, v).otherwise(col(k)).as(k))
        .getOrElse(col(k))
    }: _*)
    val rewritten = projected.withColumn("date", model.dateKey)
    val expected = txnLog.constraintsAt()
    enforceConstraints(rewritten, "update", expected)
    val added = stageClusteredWrite(rewritten)
    val meta = commitMeta(added)
    commitValidated(rewritten, "update", expected) { exp =>
      txnLog.commit(added = added, removed = touched,
        rowCounts = meta.counts, fileStats = meta.stats, blooms = meta.blooms,
        fileSizes = meta.sizes, requireLive = touched,
        expectedConstraints = Some(exp))
    }
    matches.map(_._2).sum
  }

  /** Copy-on-write MERGE (upsert): target rows whose `keys` match a
    * source row are REPLACED by that source row; source rows matching
    * nothing are INSERTED. `source` must be unique on `keys` (checked) —
    * otherwise "the" replacement is ambiguous. Null keys never match
    * (SQL equality), so null-keyed source rows insert.
    *
    * Scale shape: the matching scan and the anti-join both join the
    * candidate files against the source KEY set only — a merge batch is
    * normally tiny next to the table, so the planner broadcasts it and
    * the target never shuffles; files without a matched key are not
    * rewritten. One conflict-checked commit publishes rewrite + insert
    * together. Returns (rowsReplaced, rowsInserted).
    */
  def merge(source: DataFrame, keys: Seq[String]): (Long, Long) = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val schema = liveSchema
    val srcKeys = source.select(keys.map(col): _*)
    // uniqueness guards REPLACE ambiguity only — null-keyed rows never
    // match (SQL equality, per the contract above) and always insert, so
    // several of them are not ambiguous; groupBy's null-safe grouping
    // would otherwise falsely reject them
    require(srcKeys.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).isEmpty,
      s"merge source must be unique on (${keys.mkString(",")})")
    val live = txnLog.snapshotFiles()
    val matches =
      if (live.isEmpty) Nil
      else readRels(live, schema)
        .withColumn("_file", input_file_name())
        .join(srcKeys, keys, "left_semi")
        .groupBy(col("_file")).agg(count(lit(1)).as("n"))
        .collect()
        .map(r => relOf(r.getString(0)) -> r.getLong(1)).toSeq
    val touched = matches.map(_._1)
    val sourceWithDate = source.withColumn("date", model.dateKey)
    val inserted =
      if (touched.isEmpty) source.count()
      else source.join(
        readRels(touched, schema).select(keys.map(col): _*),
        keys, "left_anti").count()
    val newData =
      if (touched.isEmpty) sourceWithDate
      else readRels(touched, schema).join(srcKeys, keys, "left_anti")
        .unionByName(sourceWithDate)
    val expected = txnLog.constraintsAt()
    enforceConstraints(sourceWithDate, "merge", expected) // the introduced rows
    val added = stageClusteredWrite(newData)
    val meta = commitMeta(added)
    commitValidated(sourceWithDate, "merge", expected) { exp =>
      txnLog.commit(added = added, removed = touched,
        rowCounts = meta.counts, fileStats = meta.stats, blooms = meta.blooms,
        fileSizes = meta.sizes, requireLive = touched,
        expectedConstraints = Some(exp))
    }
    (matches.map(_._2).sum, inserted)
  }

  // ------------------------------------------------------------ compaction

  /** Compact partitions with more than `maxFilesPerPartition` files into
    * `targetFiles` clustered files each, swapped in ONE commit so readers
    * never see a half-compacted table (S14, README.md:138).
    *
    * `compact(maxFilesPerPartition = 0)` rewrites EVERY partition — the
    * OPTIMIZE [ZORDER] equivalent: output files are range-partitioned on
    * the cluster key (or z-key when `zorderCols` is set) and re-sorted,
    * so a table ingested unclustered (streaming bursts, addFiles) gains
    * the full skipping layout in one call.
    */
  def compact(maxFilesPerPartition: Int = 1, targetFiles: Int = 1): Long =
    compactImpl(maxFilesPerPartition, targetFiles, () => ())

  /** [[compact]] with a test seam in the snapshot-read -> commit window
    * (the restoreImpl beforeCommit pattern) — the exact interval a
    * concurrent row op can rewrite one of this compaction's input files.
    */
  private[graft] def compactImpl(maxFilesPerPartition: Int,
      targetFiles: Int, beforeCommit: () => Unit): Long = {
    val live = txnLog.snapshotFiles()
    // group by the FULL partition directory (all k=v levels), so a
    // date,symbol layout compacts per leaf partition, not per date
    val byPartition = live.groupBy(r => r.take(math.max(0, r.lastIndexOf('/'))))
    val toCompact = byPartition.filter(_._2.size > maxFilesPerPartition)
    if (toCompact.isEmpty) return -1L

    val adds = ArrayBuffer.empty[String]
    val removes = ArrayBuffer.empty[String]
    // Latest recorded schema, not the static one: compacting an evolved
    // table must carry its added columns through the rewrite.
    val schema = liveSchema
    toCompact.foreach { case (_, rels) =>
      val staging = s"$root/_staging/${UUID.randomUUID()}"
      // read each suffix with its own source (a mixed-format partition —
      // addFiles — compacts correctly); the REWRITE normalizes to the
      // table's primary format, so compaction doubles as convert-in-place
      val compacted = readRels(rels, schema)
        // RANGE partitioning, not hash: the targetFiles output files get
        // DISJOINT cluster-key ranges (symbol, or z-range), so each file's
        // recorded stats cover a narrow slice and the log-side file
        // pruning actually skips — a hash split would give every file the
        // full symbol span. This is the reference's compaction story:
        // streaming writes small unsorted files, compaction produces the
        // optimized skipping layout (README.md:131,134).
        .transform { u =>
          val keys = clusterSortKeys(u)
          u.repartitionByRange(targetFiles, keys: _*)
            .sortWithinPartitions(keys: _*)
        }
      withMicrosTimestamps {
        compacted.write.partitionBy(partitionCols: _*).format(format)
          .option("header", format == "csv")
          .option("compression", writeCompression).save(staging)
      }
      adds ++= publishStaged(staging)
      removes ++= rels
    }
    val meta = commitMeta(adds.toSeq)
    beforeCommit()
    // requireLive: a concurrent row op (DELETE/UPDATE/MERGE) may have
    // rewritten one of this compaction's INPUT files after the snapshot
    // read — committing anyway would re-add that file's old rows
    // (resurrecting deleted data, duplicating updated data). The same
    // serializable file-level conflict check the row ops themselves use
    // makes this compaction fail loudly instead; the caller re-runs
    // against the new snapshot. (Delta resolves the same race with
    // commit-time conflict detection on rewrites.)
    txnLog.commit(added = adds.toSeq, removed = removes.toSeq,
      rowCounts = meta.counts, fileStats = meta.stats, blooms = meta.blooms,
      fileSizes = meta.sizes, requireLive = removes.toSeq)
  }

  /** Physically delete files no longer referenced by the latest snapshot
    * (post-compaction cleanup; time travel older than the vacuum horizon is
    * sacrificed, as in Delta's VACUUM).
    *
    * RETENTION (Delta parity, safe by default): a file is reclaimed only
    * when its LATEST removing commit is older than `retainMs` (default
    * 7 days, Delta's `deletedFileRetentionDuration`). On a cluster, a
    * reader that resolved its snapshot just before a compaction is still
    * streaming those files minutes later, and time travel inside the
    * window must keep working — immediate deletion breaks both. Pass
    * `retainMs = 0` for the aggressive dev/test semantics (every test
    * here does, the same way Delta tests set retention 0). Orphan files
    * that appear in NO commit (crashed publishes) age by filesystem
    * mtime, as in Delta.
    *
    * RESTORE race (ADVICE r5): a file dead in this vacuum's snapshot can
    * be re-added by a concurrent restore() before the unlink. Liveness
    * is therefore re-checked against the CURRENT head immediately before
    * deleting — a file must be dead in both views to be reclaimed. The
    * residual window between that check and the unlink is closed from
    * the other side: restore() re-verifies its re-added files after its
    * commit and compensates loudly if one was lost (see there).
    */
  def vacuum(retainMs: Long = DataLakehouse.DefaultVacuumRetainMs): Long = {
    require(retainMs >= 0, s"retainMs must be >= 0: $retainMs")
    // Pin ONE version for every log read of this pass: the live set, the
    // trim floor and the tombstone view must describe the same snapshot,
    // or a concurrent writer checkpointing mid-vacuum (possibly with a
    // smaller horizon) could expire entries past a floor this pass
    // already validated. Files removed AFTER the pin are protected by
    // the pinned live set (they are live in it, so never in `dead`).
    val pinned = txnLog.currentVersion()
    val live = txnLog.snapshotFiles(pinned).toSet
    val rootPath = Paths.get(root)
    val cutoff = System.currentTimeMillis() - retainMs
    // Latest removal time per file. Fast path (cutoff at-or-above the
    // PERSISTED trim floor — the largest horizon cut any writer ever
    // applied, not this process's config, so horizon knob skew between
    // writer and maintenance process can never delete inside retention):
    // checkpoint-seeded tombstones + commit tail, O(interval) commit
    // reads — never a full log replay per maintenance pass (minutes
    // within days at the declared 100 ms cadence); expired entries are
    // covered by the mtime fallback below (soundness argument at
    // removedTombstones). A cutoff below the floor cannot trust the
    // expired view (an expired removal may be younger than such a
    // cutoff, and file mtime under-approximates removal time), so it
    // pays the full-replay fold — correctness over speed, loudly the
    // operator's choice of window. Note retainMs > tombstoneHorizonMs is
    // legal BECAUSE of this comparison (the floor routes such cutoffs to
    // the replay fold); enforcing retainMs <= horizon statically would
    // only check this process's config, which the floor supersedes.
    // Map and floor come from ONE checkpoint resolution (tombstoneView):
    // resolving them via separate calls would let a checkpoint publish
    // between the reads (with newestCheckpointVersion forward-probing)
    // hand this pass a view trimmed past the floor it just validated —
    // version-pinning alone does not pin the checkpoint resolution.
    val (tombs, trimFloor) = txnLog.tombstoneView(pinned)
    val removedAt: collection.Map[String, Long] =
      if (cutoff >= trimFloor) tombs
      else txnLog.latestRemovalFold(txnLog.commits(pinned))
    // both data suffixes: a compacted-away CSV (mixed-format/addFiles
    // tables) must be reclaimed too, not just parquet
    val dataFiles = walkFiles(rootPath)
      .filter(p => (p.toString.endsWith(".parquet") || p.toString.endsWith(".csv"))
        && Files.isRegularFile(p))
      .filterNot(p => p.startsWith(rootPath.resolve("_dlq")) ||
        p.startsWith(rootPath.resolve("_staging")) ||
        p.startsWith(rootPath.resolve("_evicted"))) // ring-admission audit trail
    val dead = dataFiles
      .filterNot(p => live.contains(rootPath.relativize(p).toString))
      .filter { p =>
        removedAt.get(rootPath.relativize(p).toString) match {
          case Some(t) => t <= cutoff
          case None => // orphan: no commit ever referenced it
            // vanished between the walk and this stat (e.g. a losing
            // appendDF cleaning its already-published staged files):
            // nothing to delete — the same tolerance walkFiles carries
            try Files.getLastModifiedTime(p).toMillis <= cutoff
            catch { case _: java.nio.file.NoSuchFileException => false }
        }
      }
    // log-dir hygiene rides the same retention cutoff: staged commit/
    // checkpoint tmps a killed writer left behind (crash-seam residue)
    txnLog.sweepStagedTmp(cutoff)
    // A COMPLETED pass proves every dead file removed <= cutoff is off
    // disk (deleted now, or never aged into `dead` — possible only when
    // its removal is past the cutoff, since mtime <= removal). Recording
    // the cutoff lets checkpoint writes drop the tombstones of those
    // already-deleted files — the bound that keeps checkpoints small on
    // rewrite-heavy tables (see TxnLog.recordVacuumCutoff).
    if (dead.isEmpty) { txnLog.recordVacuumCutoff(cutoff); return 0L }
    // second liveness view, read AFTER the dead list was computed: spares
    // anything a concurrent commit (restore's re-adds) made live again
    val liveNow = txnLog.snapshotFiles().toSet
    val stillDead = dead.filterNot(p => liveNow.contains(rootPath.relativize(p).toString))
    stillDead.foreach(Files.deleteIfExists(_))
    txnLog.recordVacuumCutoff(cutoff)
    stillDead.size.toLong
  }

  /** Commit history as a DataFrame (Delta's DESCRIBE HISTORY): one row
    * per version with its wall-clock time, file and row deltas, and the
    * operation shape inferred from the delta (append / rewrite / schema
    * — a rewrite is any commit that both adds and removes). The audit
    * surface operators actually query ("what rewrote this table last
    * night?"), derived purely from the txn log — no data IO. Row counts
    * come from each commit's own recorded per-file counts, so history
    * cost is O(commits read), independent of table size.
    */
  def history(limit: Long = Long.MaxValue): DataFrame = {
    import spark.implicits._
    val cur = txnLog.currentVersion()
    // LIMIT reads only the newest-n commit WINDOW (Delta's DESCRIBE
    // HISTORY t LIMIT n) — the audit default against a 100 ms-cadence
    // log must not replay the whole history to show its tail
    val cs =
      if (limit > cur) txnLog.commits()
      else txnLog.commitsBetween(cur - limit, cur)
    cs.map { c =>
      // explicit tag wins (RESTORE records one — Delta audit parity:
      // "what rewound this table?"); the delta-inferred shape is the
      // fallback for commits written before tags existed
      val op = c.op.getOrElse {
        if (c.added.nonEmpty && c.removed.nonEmpty) "rewrite"
        else if (c.added.nonEmpty) "append"
        else if (c.removed.nonEmpty) "remove"
        else "metadata"
      }
      (c.version, new Timestamp(c.timestampMs), op,
        c.added.size.toLong, c.removed.size.toLong,
        c.added.flatMap(c.rowCounts.get).sum,
        c.batchId, c.schemaJson.isDefined)
    }.toDF("version", "commit_ts", "operation", "files_added",
      "files_removed", "rows_added", "batch_id", "schema_change")
      .orderBy($"version".desc)
  }

  /** Batch change-data-feed (the batch twin of the S15 CDC stream; the
    * Delta CDF / `table_changes(v1, v2)` analog): net ROW-level changes
    * between snapshot `fromVersion` (exclusive) and `toVersion`
    * (inclusive), as the data columns plus `_change_type` ∈
    * insert|delete. An update surfaces as its delete+insert pair.
    *
    * Cost model — the whole point at 100 TB:
    *   - The changed FILE sets come from the log alone (O(commits
    *     read)); a file added and removed within the range cancels
    *     before any IO.
    *   - Pure-append ranges (the overwhelmingly common case) read ONLY
    *     the net-added files and touch nothing of the old snapshot —
    *     `result.inputFiles` is exactly the added set (spec-pinned).
    *   - Ranges containing rewrites (compaction, row ops) read only the
    *     net-touched files on BOTH sides and diff them as multisets via
    *     one ±1-weighted aggregate — never a self-join, never the
    *     untouched remainder of the table. A pure compaction therefore
    *     costs its own files and yields ZERO rows (no row changed).
    *
    * Rows are read with the schema recorded at `toVersion`; files from
    * pre-evolution commits surface later-added columns as null, matching
    * `query(mergeSchema)` semantics. Net multiplicity is exact: a row
    * occurring 3× in removed files and 1× in added files yields 2
    * `delete` copies (sequence-replicated from the signed count).
    */
  def changes(fromVersion: Long, toVersion: Long = Long.MaxValue): DataFrame = {
    val hi = math.min(toVersion, txnLog.currentVersion())
    require(fromVersion <= hi,
      s"changes($fromVersion, $toVersion): from must be <= resolved to=$hi")
    val cs = txnLog.commitsBetween(fromVersion, hi)
    val added = cs.flatMap(_.added)
    val removed = cs.flatMap(_.removed)
    // MULTISET cancellation, not set: a path removed then re-added in
    // the range (deleteWhere + RESTORE) has counts add=2/remove=1 and
    // must surface as one net insert — set-based filterNot would cancel
    // both directions and silently report zero changes for live rows
    val addCnt = added.groupBy(identity).map { case (f, o) => f -> o.size }
    val remCnt = removed.groupBy(identity).map { case (f, o) => f -> o.size }
    def net(a: Map[String, Int], b: Map[String, Int]): Seq[String] =
      a.toSeq.sortBy(_._1).flatMap { case (f, c) =>
        Seq.fill(math.max(0, c - b.getOrElse(f, 0)))(f)
      }
    val netAdded = net(addCnt, remCnt)
    val netRemoved = net(remCnt, addCnt)

    val schema = txnLog.schemaAt(hi)
      .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType])
      .getOrElse(schemaWithDate)

    // lengths as logged where each side's files were live: added ones at
    // `hi`, removed ones at `fromVersion`
    if (netRemoved.isEmpty)
      readRels(netAdded, schema, version = hi)
        .withColumn("_change_type", lit("insert"))
    else {
      val cols = schema.fieldNames.toSeq
      val signed = readRels(netAdded, schema, version = hi)
        .withColumn("_w", lit(1L))
        .unionByName(readRels(netRemoved, schema, version = fromVersion)
          .withColumn("_w", lit(-1L)))
      signed.groupBy(cols.map(col): _*)
        .agg(sum(col("_w")).as("_delta"))
        .filter(col("_delta") =!= 0L)
        .withColumn("_n", explode(expr("sequence(1, abs(_delta))")))
        .withColumn("_change_type",
          when(col("_delta") > 0, "insert").otherwise("delete"))
        .select(cols.map(col) :+ col("_change_type"): _*)
    }
  }

  /** RESTORE TABLE ... TO VERSION AS OF `version` (Delta RESTORE parity):
    * rewind the LIVE state — file set and schema — to an earlier
    * snapshot, as ONE new conflict-checked commit. History is preserved
    * (a restore never deletes log entries), so the restore itself is
    * time-travelable and re-restorable; only `vacuum()` can make a
    * target unrecoverable, and that case fails loudly here before any
    * commit is written.
    *
    * Cost model: pure metadata — file sets, schema, and the re-added
    * files' row counts / column bounds / blooms all come from the log's
    * own historical record (no data IO, no footer reads, no rewrite).
    * O(commits read) regardless of table size, like [[history]].
    *
    * Concurrency — WRITE-SERIALIZABLE, not snapshot-serializable
    * (ADVICE r5, documented precisely): `requireLive` on the files this
    * restore REMOVES makes it serializable with row ops — if a
    * concurrent writer rewrote one of them between our snapshot read
    * and the commit, the commit fails (ConcurrentModificationException)
    * instead of silently resurrecting rows the other writer deleted. A
    * concurrent APPEND of new files, however, survives: post-restore
    * state = target snapshot + concurrently-added files (and when
    * `drop` is empty there is nothing to conflict on at all). This is
    * the useful semantics — a restore should not destroy a racing
    * ingest's data — and matches Delta's WriteSerializable level, where
    * blind appends commute with concurrent operations.
    *
    * vacuum() race: the pre-commit existence check cannot exclude a
    * vacuum that deletes a re-added target file in the
    * check-then-commit window (vacuum reads liveness from the PREVIOUS
    * head, where these files are dead). The guard is therefore
    * re-verified AFTER the commit succeeds: if any re-added file is
    * gone, a compensating commit (op=restore-failed) removes the
    * missing files from the live set again and the restore throws —
    * loud, and the table never stays on a snapshot referencing missing
    * files. vacuum() double-checks liveness right before each unlink
    * (see there), so the pair converges from both sides.
    *
    * Returns the new version, or -1 if the live state already equals the
    * target snapshot (no commit written).
    */
  def restore(version: Long): Long = restoreImpl(version, () => ())

  /** [[restore]] with the target resolved by COMMIT TIME (Delta's
    * `RESTORE TABLE … TO TIMESTAMP AS OF`): rewinds to the newest
    * version committed at or before `timestamp`, via the same
    * binary-searched resolution the AS OF read path uses.
    */
  def restore(timestamp: Timestamp): Long = {
    val v = txnLog.versionAsOf(timestamp.getTime)
    require(v >= 0,
      s"restore($timestamp): no version was committed at or before it " +
        "(table history starts later)")
    restore(v)
  }

  /** [[restore]] with a test seam: `beforeCommit` runs between the
    * snapshot read / pre-commit existence check and the commit attempt —
    * exactly the race window the scaladoc above reasons about — so
    * TxnSafetySpec can interleave a concurrent append / rewrite / vacuum
    * deterministically through the GENUINE restore path (no replicated
    * commit logic in the spec).
    */
  private[graft] def restoreImpl(version: Long, beforeCommit: () => Unit): Long = {
    val cur = txnLog.currentVersion()
    require(version >= 0 && version <= cur,
      s"restore($version): version must be in [0, $cur]")
    val target = txnLog.snapshotFiles(version)
    val current = txnLog.snapshotFiles()
    val (targetSet, currentSet) = (target.toSet, current.toSet)
    val reAdd = target.filterNot(currentSet)
    val drop = current.filterNot(targetSet)
    val targetSchema = txnLog.schemaAt(version)
    // constraint state read ONCE here and threaded into the commit as
    // expectedConstraints: a concurrent pure-DDL (add/dropConstraint)
    // in the read->commit window changes no files, so requireLive alone
    // would let this restore silently clobber it — the metadata check
    // makes restore-vs-DDL serializable like every other metadata race
    val curConstraints = txnLog.constraintsAt()
    // same treatment for the schema record: a concurrent column DDL in
    // the read->commit window changes no files either, and restore
    // rewinds schemaJson wholesale — expectedSchema makes the race loud
    val curSchema = txnLog.schemaAt()
    def cmap(o: Option[String]) = o.map(TxnLog.decodeConstraints).getOrElse(Map.empty)
    if (reAdd.isEmpty && drop.isEmpty && targetSchema == curSchema &&
        cmap(txnLog.constraintsAt(version)) == cmap(curConstraints))
      return -1L
    val vacuumed = reAdd.filterNot(r => Files.isRegularFile(Paths.get(root, r)))
    if (vacuumed.nonEmpty)
      sys.error(s"restore($version): ${vacuumed.size} file(s) of the target " +
        s"snapshot were vacuumed and cannot be restored, e.g. ${vacuumed.head}")
    val reAddSet = reAdd.toSet
    beforeCommit()
    val v = txnLog.commit(
      added = reAdd, removed = drop,
      // the target's schema is encoded EXPLICITLY (falling back to the
      // static model schema when the target predates any record): a
      // None would mean "no change" under the newest-at-or-below
      // resolver and leak the CURRENT schema into the restored state —
      // the constraint rewind has the same rule, below
      schemaJson = Some(targetSchema.getOrElse(schemaWithDate.json)),
      rowCounts = txnLog.rowCountsAt(version).view.filterKeys(reAddSet).toMap,
      fileStats = txnLog.fileStatsAt(version).view.filterKeys(reAddSet).toMap,
      blooms = txnLog.bloomsAt(version).view.filterKeys(reAddSet).toMap,
      fileSizes = txnLog.fileSizesAt(version).view.filterKeys(reAddSet).toMap,
      requireLive = drop,
      op = Some("restore"),
      // constraints rewind with the rest of the table state; the empty
      // map is encoded EXPLICITLY — a None here would mean "no change"
      // under the newest-at-or-below resolver and leak current
      // constraints into the restored state
      constraintsJson = Some(txnLog.constraintsAt(version)
        .getOrElse(TxnLog.encodeConstraints(Map.empty))),
      expectedConstraints = Some(curConstraints),
      expectedSchema = Some(curSchema))
    postRestoreVerify(version, v, reAdd)
    v
  }

  /** TOCTOU guard for [[restore]] (see its scaladoc): a vacuum racing
    * the window between restore's existence check and its commit (or a
    * commit retry) can have unlinked a re-added file. Called after the
    * restore commit is published; on loss, a compensating commit
    * removes the casualties from the live set again and the restore
    * fails loudly — the table never stays on a snapshot referencing
    * missing files.
    */
  private[graft] def postRestoreVerify(
      target: Long, committed: Long, reAdd: Seq[String]): Unit = {
    val lost = reAdd.filterNot(r => Files.isRegularFile(Paths.get(root, r)))
    if (lost.nonEmpty) {
      txnLog.commit(added = Nil, removed = lost, op = Some("restore-failed"))
      sys.error(s"restore($target): ${lost.size} restored file(s) were " +
        s"vacuumed concurrently (e.g. ${lost.head}); the restore commit " +
        s"$committed was compensated — re-run restore against a live target")
    }
  }

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE` analog): a
    * new independent table at `targetRoot` referencing this table's data
    * files at `version` (default: current) WITHOUT copying a data byte.
    *
    * Mechanics: every live file of the source snapshot is HARD-LINKED
    * under the same relative path in the target root (the local-FS
    * equivalent of an object-store manifest reference — correct here
    * because published data files are immutable by construction: row ops
    * and compaction always REWRITE into new files, never in place), and
    * one v0 commit in the target's own txn log records the file list
    * with the source's commit-time row counts, (symbol, ts) bounds, and
    * bloom filters — so pruning and scan accounting work on the clone
    * with zero footer IO. Cost: O(live files) metadata, zero data bytes.
    * At 100 TB this is the dev/test-branch primitive: a full-table
    * sandbox in seconds.
    *
    * Independence (both directions, spec-pinned):
    *  - writes/row-ops/compaction on either side land in that side's own
    *    new files and txn log — the other side's snapshot never moves;
    *  - `vacuum()` on the source cannot break the clone: unlinking the
    *    source path only drops one link, the clone's link keeps the
    *    inode alive (and vice versa).
    *
    * The DLQ and staging dirs are not cloned (operational state, not
    * table state). Hard-link-less filesystems fall back to a real copy —
    * semantics identical, cost O(bytes). Cloning a vacuumed historical
    * version fails loudly on the first missing file, like [[restore]].
    */
  def cloneTo(targetRoot: String,
      version: Long = Long.MaxValue): DataLakehouse = {
    val v = math.min(version, txnLog.currentVersion())
    val live = txnLog.snapshotFiles(v)
    val (rootPath, tgt) = (Paths.get(root), Paths.get(targetRoot))
    require(!Files.exists(tgt) || {
      val s = Files.list(tgt); try !s.iterator().hasNext finally s.close()
    }, s"cloneTo($targetRoot): target exists and is not empty")
    live.foreach { rel =>
      val src = rootPath.resolve(rel)
      if (!Files.isRegularFile(src))
        sys.error(s"cloneTo($targetRoot): source file $rel of snapshot $v " +
          "is missing (vacuumed?) — clone a live version")
      val dst = tgt.resolve(rel)
      Files.createDirectories(dst.getParent)
      try Files.createLink(dst, src)
      catch { // same portability fallback as publishStaged
        case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
          Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
      }
    }
    val liveSet = live.toSet
    val clone = new DataLakehouse(spark, targetRoot, batchSize,
      clusterOnWrite, format, codec, partitionCols, zorderCols,
      bloomCols, bloomFpp, bloomMaxBits)
    clone.txnLog.commit(
      added = live,
      schemaJson = txnLog.schemaAt(v),
      rowCounts = txnLog.rowCountsAt(v).view.filterKeys(liveSet).toMap,
      fileStats = txnLog.fileStatsAt(v).view.filterKeys(liveSet).toMap,
      blooms = txnLog.bloomsAt(v).view.filterKeys(liveSet).toMap,
      fileSizes = txnLog.fileSizesAt(v).view.filterKeys(liveSet).toMap,
      op = Some("clone"),
      constraintsJson = txnLog.constraintsAt(v)) // CHECK constraints ride too
    clone
  }

  /** FSCK-style integrity audit of the live snapshot (the repair tool a
    * 100-TB lake needs against silent storage failures): re-open every
    * live file's footer and diff it against the txn log's commit-time
    * record. Catches vanished files, truncated/corrupted objects
    * (parquet's footer-at-end makes any truncation unreadable), and
    * swapped files (same name, different contents → row-count or stats
    * drift). Footer IO plus the `symbol` column chunk (the one-symbol
    * count) — no other data pages are read — parallel across files like
    * `commitMeta`, and the file list is txn-log-resident like every
    * metadata op, so cost is O(live files), not O(bytes).
    *
    * Returns one row per live file, ordered by path:
    * (file, status ∈ ok|missing|unreadable|row_count_mismatch|
    * stats_mismatch, expected_rows, actual_rows). `stats_mismatch`
    * compares recomputed (symbol, ts) bounds and one-symbol count against
    * the recorded ones only when they were recorded for the file.
    */
  def verifyIntegrity(): DataFrame = {
    import java.util.stream.Collectors
    import spark.implicits._
    val live = txnLog.snapshotFiles()
    val counts = txnLog.rowCountsAt()
    val stats = txnLog.fileStatsAt()
    def audit(rel: String): (String, String, Option[Long], Option[Long]) = {
      val expected = counts.get(rel)
      if (!Files.isRegularFile(Paths.get(root, rel)))
        return (rel, "missing", expected, None)
      val meta =
        try Some(fileMeta(rel))
        catch { case scala.util.control.NonFatal(_) => None }
      meta match {
        case None => (rel, "unreadable", expected, None)
        case Some((actualRows, recomputed, _)) =>
          if (expected.exists(_ != actualRows))
            (rel, "row_count_mismatch", expected, Some(actualRows))
          // a count absent from the record (an older log) is not compared
          else if (stats.get(rel).exists(rec => !recomputed.map(r =>
              if (rec.maxSymbolRows.isEmpty) r.copy(maxSymbolRows = None) else r)
              .contains(rec)))
            (rel, "stats_mismatch", expected, Some(actualRows))
          else (rel, "ok", expected, Some(actualRows))
      }
    }
    val rows = live.asJava.parallelStream()
      .map[(String, String, Option[Long], Option[Long])](audit(_))
      .collect(Collectors.toList[(String, String, Option[Long], Option[Long])])
      .asScala.toSeq
    rows.toDF("file", "status", "expected_rows", "actual_rows")
      .orderBy($"file")
  }

  /** Partition keys present in the current snapshot, sorted (S5/O2):
    * the `k=v` values of each live leaf partition joined by `/` — for the
    * default single `date` column this is the bare date key; for a
    * `date,symbol` layout, `2024-06-15/AAPL`.
    */
  def listPartitions(): Seq[String] =
    txnLog.snapshotFiles()
      .map { rel =>
        rel.split('/').dropRight(1).iterator
          .map(seg => unescapePath(seg.substring(seg.indexOf('=') + 1)))
          .mkString("/")
      }
      .distinct.sorted

  // ------------------------------------------------------ DuckDB federation

  /** Export one committed snapshot as a DuckDB view DDL — the reference's
    * federation tier (README.md:30,45-47: "DuckDB for interactive
    * queries, Spark for distributed processing") made concrete: the txn
    * log resolves the exact live-file list at `version`, and the emitted
    * `CREATE OR REPLACE VIEW` reads precisely those files via
    * `read_parquet`/`read_csv`, so an embedded DuckDB sees the SAME rows
    * a Spark [[query]] of that version sees — same storage, no copy, no
    * export job.
    *
    * Snapshot semantics ride on file immutability: data files are never
    * rewritten in place (copy-on-write row ops publish NEW files), so a
    * manifest stays internally consistent while Spark writers keep
    * committing — it is a pinned time-travel view, valid until [[vacuum]]
    * retention (default 7 days) reclaims files the pinned version
    * references. Re-emit to follow the head.
    *
    * Partition columns live in the Hive `k=v` path levels, not in the
    * files; `hive_partitioning` recovers them, with `hive_types` pinning
    * each to the type the recorded schema gives it (DuckDB would
    * otherwise autocast `date=2024-06-15` to a DATE where the table
    * schema says string).
    *
    * The manifest lands under `<root>/_duckdb/` by default — an
    * underscore metadata dir like `_dlq`/`_staging`, invisible to vacuum
    * and scans. Returns the written path; `tools/duck_query.py` executes
    * interactive SQL against it.
    */
  def duckdbManifest(version: Long = Long.MaxValue,
      viewName: String = "trades",
      outPath: Option[String] = None): Path = {
    val v = math.min(version, txnLog.currentVersion())
    require(v >= 0, s"no committed snapshot to export (version=$version)")
    val files = txnLog.snapshotFiles(v).sorted
    require(files.nonEmpty, s"snapshot v$v has no live files")
    val schema = decodeSchema(txnLog.schemaAt(v))
    def duckType(f: StructField): String = f.dataType match {
      case StringType => "VARCHAR"
      case LongType => "BIGINT"
      case org.apache.spark.sql.types.IntegerType => "INTEGER"
      case DoubleType => "DOUBLE"
      case org.apache.spark.sql.types.FloatType => "FLOAT"
      case org.apache.spark.sql.types.BooleanType => "BOOLEAN"
      case TimestampType => "TIMESTAMP"
      case org.apache.spark.sql.types.DateType => "DATE"
      case other => other.sql // decimal etc: Spark's SQL name is ANSI
    }
    val hiveTypes = partitionCols
      .flatMap(c => schema.fields.find(_.name == c))
      .map(f => s"'${f.name}': ${duckType(f)}")
      .mkString("{", ", ", "}")
    def quote(rel: String) = // single quotes doubled per SQL string rules
      "'" + Paths.get(root).resolve(rel).toString.replace("'", "''") + "'"
    def list(rels: Seq[String]) =
      rels.map(quote).mkString("[\n    ", ",\n    ", "\n  ]")
    val (csvRels, pqRels) = files.partition(_.endsWith(".csv"))
    val sides = Seq(
      pqRels -> ((l: String) =>
        s"SELECT * FROM read_parquet($l,\n  " +
          s"hive_partitioning = true, hive_types = $hiveTypes)"),
      csvRels -> ((l: String) =>
        s"SELECT * FROM read_csv($l,\n  header = true, " +
          s"hive_partitioning = true, hive_types = $hiveTypes)"))
      .collect { case (rels, mk) if rels.nonEmpty => mk(list(rels)) }
    val ident = "\"" + viewName.replace("\"", "\"\"") + "\""
    val ddl = new StringBuilder()
      .append("-- graft DuckDB snapshot manifest\n")
      .append(s"-- root: $root\n")
      .append(s"-- version: $v (files: ${files.size})\n")
      .append("-- Pinned snapshot: valid while vacuum retention holds; ")
      .append("re-emit to follow the table head.\n")
      .append(s"CREATE OR REPLACE VIEW $ident AS\n")
      .append(sides.mkString("\nUNION ALL BY NAME\n"))
      .append(";\n").toString
    val target = outPath.map(Paths.get(_)).getOrElse {
      Files.createDirectories(Paths.get(root, "_duckdb"))
      Paths.get(root, "_duckdb", s"manifest-v$v.sql")
    }
    Option(target.getParent).foreach(Files.createDirectories(_))
    Files.write(target, ddl.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    target
  }
}

/** One snapshot's files as Spark's file index, served from the txn log:
  * `listFiles` returns the files grouped by partition dir (values parsed
  * from the rel paths) and applies the scan's partition filters to
  * those values; `inputFiles` and `sizeInBytes` come from the same
  * logged records. A snapshot never changes, so `refresh` does nothing.
  */
private final class LogFileIndex(root: HadoopPath,
    dirs: Seq[PartitionDirectory], override val partitionSchema: StructType,
    resolver: Resolver) extends FileIndex {
  private val files = dirs.flatMap(_.files)
  def allFiles: Seq[FileStatus] = files.map(_.fileStatus)
  override def rootPaths: Seq[HadoopPath] = Seq(root)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    partitionFilters.reduceOption(And) match {
      case None => dirs
      case Some(cond) =>
        val bound = Predicate.createInterpreted(cond.transform {
          case a: AttributeReference =>
            val i = partitionSchema.indexWhere(f => resolver(f.name, a.name))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        })
        dirs.filter(d => bound.eval(d.values))
    }
  override def inputFiles: Array[String] =
    files.map(_.getPath.toUri.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_.getLen).sum
}

object DataLakehouse {
  /** The largest number of non-null `symbol` values any one symbol holds
    * in an open parquet file, read from the `symbol` column chunks alone.
    * Dictionary-encoded pages are counted by dictionary id (no string is
    * decoded per row); pages that fell back to plain encoding count the
    * values themselves.
    */
  private def maxSymbolRows(reader: ParquetFileReader): Long = {
    import org.apache.parquet.column.Dictionary
    import org.apache.parquet.column.impl.ColumnReadStoreImpl
    import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
    import org.apache.parquet.schema.MessageType
    val meta = reader.getFooter.getFileMetaData
    val projected = new MessageType(meta.getSchema.getName, meta.getSchema.getType(Seq("symbol"): _*))
    reader.setRequestedSchema(projected)
    val desc = projected.getColumns.get(0)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    def add(sym: String, n: Long): Unit = counts(sym) = counts.getOrElse(sym, 0L) + n
    object symbols extends PrimitiveConverter {
      var dict: Dictionary = _
      var byId: Array[Long] = _
      override def hasDictionarySupport: Boolean = true
      override def setDictionary(d: Dictionary): Unit = {
        dict = d; byId = new Array[Long](d.getMaxId + 1)
      }
      override def addValueFromDictionary(id: Int): Unit = byId(id) += 1
      override def addBinary(v: Binary): Unit = add(v.toStringUsingUTF8, 1L)
    }
    val root = new GroupConverter {
      override def getConverter(i: Int): Converter = symbols
      override def start(): Unit = ()
      override def end(): Unit = ()
    }
    var rowGroup = reader.readNextRowGroup()
    while (rowGroup != null) {
      symbols.dict = null
      val column = new ColumnReadStoreImpl(rowGroup, root, projected, meta.getCreatedBy)
        .getColumnReader(desc)
      var left = column.getTotalValueCount
      while (left > 0) {
        if (column.getCurrentDefinitionLevel == desc.getMaxDefinitionLevel)
          column.writeCurrentValueToConverter()
        column.consume()
        left -= 1
      }
      if (symbols.dict != null)
        for (id <- symbols.byId.indices if symbols.byId(id) > 0)
          add(symbols.dict.decodeToBinary(id).toStringUsingUTF8, symbols.byId(id))
      rowGroup = reader.readNextRowGroup()
    }
    counts.values.maxOption.getOrElse(0L)
  }

  /** Per-file commit metadata of freshly published files, as the txn log
    * records it.
    */
  private final case class AddedMeta(counts: Map[String, Long],
      stats: Map[String, TxnLog.FileStat],
      blooms: Map[String, Map[String, TxnLog.Bloom]],
      sizes: Map[String, TxnLog.FileSize])

  /** Every field (nested too) nullable, as Spark's file sources read a
    * data schema: a recorded non-null column must still read a file that
    * lacks it as NULL.
    */
  private def asNullable(dt: DataType): StructType = nullable(dt).asInstanceOf[StructType]
  private def nullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType),
      valueContainsNull = true)
    case other => other
  }

  private val OutputTimestampType = "spark.sql.parquet.outputTimestampType"
  // session -> (writers inside withMicrosTimestamps, value to restore)
  private val microsWriters =
    new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]()

  /** Run `body` with parquet timestamps written as INT64 micros on
    * `spark`. The session conf is session-wide, so two writers on one
    * session share one scope: the first in sets it and remembers the
    * prior value, the last out restores it — a save/restore per writer
    * lets interleaved writers plan under the INT96 default (files that
    * can never be pruned) and leaves micros set for the session after
    * both exited.
    */
  private def withMicrosTimestamps[T](spark: SparkSession)(body: => T): T = {
    microsWriters.synchronized {
      val (n, prev) = Option(microsWriters.get(spark))
        .getOrElse((0, spark.conf.getOption(OutputTimestampType)))
      if (n == 0) spark.conf.set(OutputTimestampType, "TIMESTAMP_MICROS")
      microsWriters.put(spark, (n + 1, prev))
    }
    try body
    finally microsWriters.synchronized {
      val (n, prev) = microsWriters.get(spark)
      if (n > 1) microsWriters.put(spark, (n - 1, prev))
      else {
        microsWriters.remove(spark)
        prev match {
          case Some(v) => spark.conf.set(OutputTimestampType, v)
          case None => spark.conf.unset(OutputTimestampType)
        }
      }
    }
  }

  /** Recursive file walk that tolerates entries VANISHING mid-traversal
    * — and ONLY that: vacuum walks the whole table root while concurrent
    * writers publish (and clean) `_staging` dirs, so `Files.walk`'s lazy
    * stream — which throws UncheckedIOException(NoSuchFileException) on
    * a vanished entry — crashed live-table maintenance (caught by the
    * operations soak). A skipped-because-vanished entry is safe for
    * every caller (it no longer exists to act on). Any OTHER IOException
    * (permissions, transient device error) rethrows loudly: swallowing
    * it would silently DROP a real file — publishStaged would publish a
    * commit missing a staged data file (silent data loss), and vacuum's
    * completed-pass invariant behind recordVacuumCutoff would record
    * files as swept that were never seen. The one recursive walk of
    * the lake's own directories (vacuum, publish, the streams' per-batch
    * DLQ/evicted dirs).
    */
  private[graft] def walkFiles(p: Path): Seq[Path] = {
    val out = scala.collection.mutable.ListBuffer.empty[Path]
    def vanished(e: java.io.IOException): Boolean =
      e.isInstanceOf[java.nio.file.NoSuchFileException] ||
        e.isInstanceOf[java.io.FileNotFoundException]
    Files.walkFileTree(p, new java.nio.file.SimpleFileVisitor[Path] {
      // pre-order directory entries, matching Files.walk: the recursive
      // staging delete reverses this list to get children-before-parent
      override def preVisitDirectory(d: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        out += d
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path,
          attrs: java.nio.file.attribute.BasicFileAttributes)
          : java.nio.file.FileVisitResult = {
        out += f
        java.nio.file.FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException)
          : java.nio.file.FileVisitResult =
        if (vanished(e)) java.nio.file.FileVisitResult.CONTINUE
        else throw e // real IO error: a silent skip is silent data loss
      override def postVisitDirectory(d: Path, e: java.io.IOException)
          : java.nio.file.FileVisitResult =
        if (e == null || vanished(e)) java.nio.file.FileVisitResult.CONTINUE
        else throw e
    })
    out.toList
  }

  /** Delete `p` and everything under it, children before parents;
    * entries that vanish meanwhile (another attempt of the same batch
    * clearing the same dir) are skipped, as [[walkFiles]] describes.
    */
  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) walkFiles(p).reverse.foreach(Files.deleteIfExists)

  /** Delta's default `deletedFileRetentionDuration`: 7 days. Files
    * removed more recently than this survive [[DataLakehouse.vacuum]] so
    * in-flight readers of recent snapshots and in-window time travel
    * keep working; pass `retainMs = 0` to vacuum for dev/test semantics.
    */
  val DefaultVacuumRetainMs: Long = 7L * 24 * 3600 * 1000
}
