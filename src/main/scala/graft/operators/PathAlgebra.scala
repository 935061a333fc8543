package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Topology path algebra over denormalized path columns.
  *
  * The reference walks a `NetworkTopology` object graph; here the hierarchy
  * `root -> /dc -> /dc/rack -> /dc/rack/ip` is carried in string columns, so
  * every "walk" is a codegen'd string projection — no graph, no UDF.
  *
  * Reference semantics: `toTopRack` (`CrossAZBlockPlacementPolicy.java:723-728`).
  */
object PathAlgebra {

  /** `/even/rack_2/10.202.77.4` -> `/even` (ref `:723-728`). Paths without a
    * second separator are returned unchanged, like the reference. */
  def topRack(path: Column): Column = {
    val idx = instr(substring(path, 2, 1000000), "/") // second '/' position - 1
    when(idx > 0, substring(path, lit(1), idx)).otherwise(path)
  }
}
