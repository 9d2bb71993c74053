package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/**
 * Bridge to Spark's `private[sql]` schema-merge rule, `StructType.merge`:
 * the rule `mergeSchema` applies across parquet part-files (fields in
 * first-seen order, nullability OR-ed, widening only where Spark widens,
 * and an error on incompatible types). A reader that resolves parquet
 * schemas itself must merge exactly as Spark's inference would.
 */
object SchemaBridge {
  def merge(left: StructType, right: StructType, caseSensitive: Boolean): StructType =
    left.merge(right, caseSensitive)
}
