package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.types.DataType

/** The one `private[catalyst]` doorway the JSON ingest path uses:
  * [[graft.sources.ZipIngest]] infers a member's schema on the driver
  * from lines it already holds, with Spark's own [[JsonInferSchema]]
  * (`inferField`, `compatibleRootType`), instead of submitting the
  * inference job `DataFrameReader.json(Dataset)` runs. The last step of
  * that inference, `canonicalizeType` (drop empty structs, turn
  * all-null fields into strings), is package-private, so it needs one
  * forwarding call — hosted here for the same reason as
  * [[org.apache.spark.sql.GraftSqlBridge]]. Nothing is overridden or
  * monkey-patched.
  */
object GraftJsonBridge {
  def canonicalizeType(infer: JsonInferSchema, tpe: DataType, options: JSONOptions): Option[DataType] =
    infer.canonicalizeType(tpe, options)
}
