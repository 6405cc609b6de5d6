package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Reference connected components for [[OperatorsSpec]]: the label
  * propagation that [[Dedup.connectedComponents]] must agree with, and
  * whose round count its star iteration must beat on a chain.
  */
object LabelPropCC {

  /** Min-label propagation CC — the simple O(diameter)-round variant,
    * kept as the reference implementation ([[Dedup.connectedComponents]]
    * is spec-asserted equal to it): every node starts labeled with its own
    * id; each round takes the min of its own and its neighbors' labels.
    * Each round is one shuffle (join) + one aggregation, and labels are
    * `localCheckpoint`ed to truncate the exponentially-growing iterative
    * lineage — the standard guard for loop-shaped DataFrame algorithms.
    *
    * @param pairs (srcCol, dstCol) undirected edges
    * @return (id, component) — component = min node id reachable
    */
  def connectedComponentsLabelProp(
      pairs: DataFrame,
      srcCol: String = "a_id",
      dstCol: String = "b_id",
      maxIter: Int = 50): DataFrame =
    connectedComponentsLabelPropWithRounds(pairs, srcCol, dstCol, maxIter)._1

  def connectedComponentsLabelPropWithRounds(
      pairs: DataFrame,
      srcCol: String = "a_id",
      dstCol: String = "b_id",
      maxIter: Int = 50): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(pairs.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct().persist()
    var labels = edges.select($"src".as("id")).distinct()
      .select($"id", $"id".as("component")).localCheckpoint()
    // Convergence via the label-sum invariant: min-propagation only ever
    // DECREASES a label, so "some label changed" ⇔ "the sum strictly
    // dropped" — one narrow aggregate over the already-checkpointed
    // frame, replacing the prior per-round join-with-previous (a whole
    // extra shuffle). Decimal sum: immune to long overflow at any
    // (id magnitude × node count).
    // coalesce: sum() over an EMPTY labels frame is null — an empty pair
    // set (no duplicates found) must converge cleanly, not NPE
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.select(coalesce(sum($"component".cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
        .getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val viaNeighbor = edges
        .join(labels, $"src" === $"id")
        .select($"dst".as("id"), $"component")
      val next = labels.union(viaNeighbor)
        .groupBy($"id").agg(min($"component").as("component"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      // the previous round's checkpoint has had its last read — release
      // its blocks now, or executor storage grows O(iterations × |nodes|)
      Dedup.freeLocalCheckpoint(labels)
      labels = next
      iter += 1
    }
    edges.unpersist()
    // a silent non-converged return would report one real component as
    // several clusters — fail loudly instead (diameter > maxIter means
    // the caller's graph is not near-dup-shaped; raise maxIter)
    if (!converged) sys.error(
      s"connectedComponents did not converge in $maxIter rounds " +
        "(component diameter exceeds maxIter)")
    (labels, iter)
  }
}
