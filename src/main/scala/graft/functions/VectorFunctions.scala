package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector column builders (north-star similarity surface).
  *
  * The dot product is a native codegen'd Catalyst expression
  * ([[DotProduct]]) — a sequential in-order double loop, so results are
  * deterministic and identical to the `zip_with`+`aggregate` fold it
  * replaced, but it stays inside whole-stage codegen. No UDFs, no
  * driver-side math. Call [[GraftFunctions.register]] on the session
  * before analysis (the operator packs do this).
  */
object VectorFunctions {

  def toDouble(v: Column): Column = v.cast("array<double>")

  /** Σ aᵢ·bᵢ over the common prefix, tight codegen'd loop (deterministic). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** The composable fallback formulation (interpreted HOFs) — kept for
    * cross-checking the native expression in specs.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))
}
