package org.apache.spark.sql.catalyst.json

import com.fasterxml.jackson.core.JsonParser
import org.apache.spark.sql.types.{DataType, StructType}

/** Spark's JSON schema inference, run on the driver one document at a
  * time. It folds documents the way `JsonInferSchema.infer` folds an
  * RDD's rows: `inferField` per document, merged with
  * `compatibleRootType`, then `canonicalizeType`. The last one is
  * package-private, which is why this class lives in Spark's package. */
final class DriverJsonInference(options: JSONOptions) {
  private val infer = new JsonInferSchema(options)
  private val merge =
    JsonInferSchema.compatibleRootType(options.columnNameOfCorruptRecord, options.parseMode)
  private var root: DataType = StructType(Nil)

  /** Folds in the document whose first token `parser` is positioned on;
    * returns with the parser on that document's last token. */
  def add(parser: JsonParser): Unit = root = merge(root, infer.inferField(parser))

  /** The schema Spark's reader would infer from the documents added. */
  def schema: StructType = infer.canonicalizeType(root, options) match {
    case Some(st: StructType) => st
    case _ => StructType(Nil)
  }
}
