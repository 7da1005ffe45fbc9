package org.apache.spark.sql.catalyst.json

import org.apache.spark.sql.types.{DataType, StructType}

/** Bridge into the last step of Spark's JSON schema inference, which is
  * package-private: canonicalize the folded root type into the struct
  * `spark.read.json` reports (the same finish as `JsonInferSchema.infer`).
  */
object JsonInferBridge {
  def rootSchema(root: DataType, options: JSONOptions): StructType =
    new JsonInferSchema(options).canonicalizeType(root, options)
      .collectFirst { case s: StructType => s }
      .getOrElse(StructType(Nil))
}
