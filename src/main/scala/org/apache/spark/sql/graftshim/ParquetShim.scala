package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[spark]` / `private[sql]` helpers the
  * log-backed file index ([[graft.sources.GraftFileIndex]]) needs to
  * read data files the way a path read does.
  */
object ParquetShim {

  /** `schema` with every field nullable, nested fields too, as a path
    * read declares its data schema (`StructType.asNullable` is
    * `private[spark]`).
    */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** The Hive directory marker for a NULL partition value. */
  def defaultPartitionName: String = ExternalCatalogUtils.DEFAULT_PARTITION_NAME
}
