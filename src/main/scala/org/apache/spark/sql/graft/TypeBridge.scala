package org.apache.spark.sql.graft

import org.apache.spark.sql.types.{AbstractDataType, AnyTimestampType, ArrayType, DoubleType}

/** Bridge to the `private[sql]` AbstractDataType for expressions outside
  * the spark.sql package that need to declare `inputTypes` (the
  * ImplicitCastInputTypes contract names the type in its signature, so
  * an override cannot write it down from library code — it can only
  * inherit the type through an un-annotated definition like this). */
object TypeBridge {
  /** `(ARRAY<DOUBLE>, ARRAY<DOUBLE>)` — the vector-kernel signature. */
  val doubleArrayPair: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))

  /** `TIMESTAMP` or `TIMESTAMP_NTZ` — the RFC3339Nano kernel's input. */
  val anyTimestamp: Seq[AbstractDataType] = Seq(AnyTimestampType)
}
