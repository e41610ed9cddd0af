// A minimal visibility bridge: Column⇄Expression conversion lives behind
// private[sql] in Spark 4 (org.apache.spark.sql.classic.ExpressionUtils),
// and so do `StructType.merge`/`asNullable`, which schema inference
// uses; these objects sit inside Spark's package namespace to re-export
// exactly those calls for graft's custom expressions and lake reads.
package org.apache.spark.sql.graftglue

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.parquet.hadoop.Footer

object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Parquet schema inference's own steps, for footers read elsewhere. */
object FooterSchemas {
  /** The schema `spark`'s `mergeSchema` inference gives `footers`, in
    * order: each footer converted as `ParquetFileFormat` converts it
    * (the embedded Spark schema, else the parquet one, under the
    * session's parquet confs), then `StructType.merge`d left to right
    * under the session's case sensitivity. A conflict throws Spark's
    * merge error. Not nullable-widened: a scan widens it anyway.
    */
  def merged(spark: SparkSession, footers: Seq[Footer]): StructType = {
    val conf = spark.sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter)).distinct
      .reduce(_.merge(_, conf.caseSensitiveAnalysis))
  }

  /** `s` with every field nullable, as a file scan reports its schema. */
  def nullable(s: StructType): StructType = s.asNullable
}
