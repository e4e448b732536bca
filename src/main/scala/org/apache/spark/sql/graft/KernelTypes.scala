package org.apache.spark.sql.graft

import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, TypeCollection}

/** Input types for the `graft_*` kernels' `ExpectsInputTypes` check that
  * only code in package `org.apache.spark.sql` can build: Spark keeps
  * `TypeCollection` (and `AbstractDataType`, its type) package-private.
  */
object KernelTypes {
  val FloatOrDoubleArray = TypeCollection(ArrayType(FloatType), ArrayType(DoubleType))
}
