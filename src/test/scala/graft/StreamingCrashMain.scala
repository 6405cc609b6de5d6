package graft

import graft.sources.{DataLakehouse, TxnLog}
import graft.streaming.Streaming

/** Forked child for the hard-kill streaming exactly-once proof
  * ([[StreamingCrashSpec]]): starts a file-source ingest stream over
  * `srcDir` and `Runtime.halt(9)`s at the `commit:recorded` seam of its
  * FIRST micro-batch — after the lake txn commit is PUBLISHED but before
  * `foreachBatch` returns, i.e. before Spark writes the streaming commit
  * marker for the batch. That is the classic double-delivery window: on
  * restart Spark MUST redeliver the batch, and the txn tier's
  * (streamId, batchId) high-water must no-op it.
  *
  * The seam is installed AFTER the lake is constructed so only the
  * stream's own commit can trip it.
  */
object StreamingCrashMain {
  def main(args: Array[String]): Unit = {
    val Array(root, srcDir, ckptDir) = args
    val spark = Session.builder(2).appName("graft-streaming-crash").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lake = new DataLakehouse(spark, root)
    TxnLog.crashSeam = s =>
      if (s == "commit:recorded") Runtime.getRuntime.halt(9)
    val q = Streaming.ingestStream(lake, srcDir, ckptDir,
      streamId = "crash", triggerMs = 50, maxFilesPerTrigger = Some(1))
    q.awaitTermination(120000L)
    sys.exit(1) // the seam must have halted us long before this
  }
}
