package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.expressions.{IsoExpressions, VectorExpressions}

/**
 * Session extension point: registers graft's native Catalyst expressions
 * as SQL functions (`graft_iso8601`, `graft_duration`). Activated with
 * `spark.sql.extensions=graft.GraftExtensions` — done by default in
 * [[Graft.session]], so both the DataFrame and `spark.sql(...)` surfaces
 * reach the codegen'd expressions instead of UDF wrappers.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (IsoExpressions.registryEntries ++ VectorExpressions.registryEntries)
      .foreach { case (name, info, builder) =>
        ext.injectFunction((FunctionIdentifier(name), info, builder))
      }
}
