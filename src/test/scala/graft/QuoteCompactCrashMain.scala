package graft

import graft.streaming.Streaming

/** Forked child for the hard-kill quote-state compaction proof
  * ([[StreamingCrashSpec]]): runs ONE compactQuoteState over a state dir
  * the parent prepared and `Runtime.halt(9)`s at the named protocol seam
  * (`compact:staged-written` — replacement staged, not yet visible;
  * `compact:renamed` — replacement visible, superseded partitions not yet
  * removed). Cross-process for the same reason as the other crash mains:
  * the dead JVM's caches and half-finished jobs must actually be gone
  * when the parent re-reads the state from disk.
  */
object QuoteCompactCrashMain {
  def main(args: Array[String]): Unit = {
    val Array(stateDir, seamName) = args
    val spark = Session.builder(2).appName("graft-compact-crash").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Streaming.compactSeam = s =>
      if (s == seamName) Runtime.getRuntime.halt(9)
    Streaming.compactQuoteState(spark, stateDir)
    sys.exit(1) // the seam must have halted us before the return
  }
}
