package org.apache.spark.sql.execution.datasources.parquet

import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Spark's own footer → schema conversion (`ParquetFileFormat.readSchema`
  * is `private[parquet]`), for [[graft.Tables.load]]: the same converter
  * and session flags (`nanosAsLong`, INT96, binary-as-string) that
  * schema inference applies, without inference's Spark job. One footer
  * always yields a schema. */
object FooterSchema {
  def apply(footer: Footer, spark: SparkSession): StructType =
    ParquetFileFormat.readSchema(Seq(footer), spark).get
}
