package graft

import org.apache.spark.sql.functions.col

import graft.operators.{Dedup, DurableIndex, SimilaritySearch}

/** Forked child for the hard-kill durable-index append proof
  * ([[DurableIndexSpec]]): appends one increment to a parent-prepared
  * durable index and `Runtime.halt(9)`s at the named protocol seam —
  * between two of the sequential table writes, or after every table but
  * before the manifest republish. Cross-process for the same reason as
  * the other crash mains: the dead JVM's caches and half-finished jobs
  * must actually be gone when the parent does its out-of-band load.
  */
object IndexCrashMain {
  def main(args: Array[String]): Unit = {
    val Array(kind, indexPath, sfDir, seamName, appendId) = args
    val spark = Session.builder(2).appName("graft-index-crash").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    DurableIndex.crashSeam = s =>
      if (s == seamName) Runtime.getRuntime.halt(9)
    kind match {
      case "minhash" =>
        val b = Tables.load(spark, sfDir, "documents")
          .filter(col("doc_id") % 4 === 0)
        Dedup.appendToMinhashIndex(indexPath, b, "doc_id", "text", appendId)
      case "lsh" =>
        val b = Tables.load(spark, sfDir, "embeddings")
          .filter(col("vec_id") % 4 === 0)
        SimilaritySearch.appendToLshIndex(indexPath, b, "vec_id",
          "embedding", appendId)
    }
    sys.exit(1) // the seam must have halted us before the return
  }
}
