package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.expressions.{CtExpressions, IsoExpressions, VectorExpressions}

/**
 * Session extension point: registers graft's native Catalyst expressions
 * as SQL functions (`graft_iso8601`, `graft_duration`, the vector kernels,
 * and the CT primitive `graft_ct_member(value, code)` /
 * `graft_ct_lookup(value, code)`). Activated with
 * `spark.sql.extensions=graft.GraftExtensions` — done by default in
 * [[Graft.session]], so both the DataFrame and `spark.sql(...)` surfaces
 * reach the codegen'd expressions instead of UDF wrappers.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    (IsoExpressions.registryEntries ++ VectorExpressions.registryEntries ++
        CtExpressions.registryEntries)
      .foreach { case (name, info, builder) =>
        ext.injectFunction((FunctionIdentifier(name), info, builder))
      }
}
