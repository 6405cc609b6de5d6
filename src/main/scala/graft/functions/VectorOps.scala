package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level dense-vector math over `array<float|double>` embedding
  * columns (SURVEY.md §2.4 A11, §2.8 F10).
  *
  * Built on Spark's higher-order functions (`zip_with`/`aggregate`), which
  * evaluate element-sequentially — the same fold order DuckDB's `list_*`
  * functions use, so rounded results are oracle-stable. Everything is
  * computed in double precision regardless of the stored element type.
  */
object VectorOps {

  /** Cast any numeric array to array<double> (embeddings are stored float32). */
  def toDoubles(v: Column): Column = v.cast("array<double>")

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))
}
