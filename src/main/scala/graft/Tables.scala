package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Canonical loaders for the driver-provided testdata tables
  * (see TESTDATA.md). One parquet file per table.
  *
  * At 100 TB these would be partitioned parquet/iceberg tables; the
  * loader stays a plain `spark.read.parquet` so DataSource V2 keeps
  * predicate pushdown + column pruning on every downstream check
  * (filters reach the scan — verified via `.explain("formatted")`).
  *
  * A table that is one regular file is read with its schema declared:
  * [[load]] reads the file's footer in the calling thread (row groups
  * skipped) and converts it with Spark's own converter
  * ([[FooterSchema]]), so the schema equals what inference returns, but
  * no Spark job runs. Schema inference runs one job per read (~80–90
  * ms), and the DQ loop re-reads the same landed tables at every stage.
  * A directory is read with plain inference, unchanged: its files may
  * hold different schemas to merge.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // NOTE: sessions keep spark.sql.legacy.parquet.nanosAsLong set (via
  // [[Sessions.builder]]) so LEGACY testdata generations that stored
  // events.ts as TIMESTAMP(NANOS) still read (as long, normalized in
  // [[events]]); current generations store timestamp[us] and ignore it.
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = p.getFileSystem(conf)
    if (!fs.isFile(p)) spark.read.parquet(path)
    else {
      val status = fs.getFileStatus(p)
      val footer = ParquetFileReader.readFooter(conf, status, SKIP_ROW_GROUPS)
      spark.read.schema(FooterSchema(new Footer(status.getPath, footer), spark))
        .parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.parquet` has shipped with two encodings of `ts` across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * only accepts as raw long via `spark.sql.legacy.parquet.nanosAsLong` —
    * set in [[Sessions.builder]]) and plain TIMESTAMP(MICROS). Branch on the
    * loaded dataType so both read to the same micro-precision TimestampType:
    * long nanos floor-divide to micros (identical to DuckDB's
    * TIMESTAMP_NS → TIMESTAMP cast), native timestamps pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy nanos-as-long: convert to micro timestamps
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case TimestampNTZType => // normalize to session-TZ TimestampType
        raw.withColumn("ts", raw("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet encoding $other — expected " +
            "long (nanos), timestamp, or timestamp_ntz; testdata contract drifted")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
