package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` is `private[spark]`; a file source's data
  * schema is made nullable with it, as `DataSource.resolveRelation` does
  * for every file read.
  */
object SchemaBridge {
  def nullable(schema: StructType): StructType = schema.asNullable
}
