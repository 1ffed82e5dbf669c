package org.apache.spark.graftshim

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` (`private[spark]`): a file source's relation
  * reads its data schema as all-nullable, whatever a file's footer
  * declares, so a schema taken from a footer goes through this to equal
  * the one Spark infers. */
object Nullable {
  def apply(schema: StructType): StructType = schema.asNullable
}
