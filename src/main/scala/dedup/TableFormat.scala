package dedup

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.dedupbridge.asNullable
import org.apache.spark.sql.functions.spark_partition_id
import org.apache.spark.sql.types.StructType

/** Physical table-format seam of [[CheckpointStore]].
  *
  * The store's snapshot/manifest/time-travel/maintenance semantics are
  * format-agnostic driver logic; only four operations ever touch data
  * bytes — plain write, chunked write, read, and statistics extraction.
  * This trait is those four operations, making the SURVEY §7 claim
  * ("swap-in of real Iceberg is a TableFormat implementation away") a
  * compile-time fact: an Iceberg-runtime implementation would route
  * write/read through the Iceberg table API and take row counts from
  * Iceberg's own manifests, and [[CheckpointStore]] would not change.
  *
  * No Iceberg runtime ships in this sandbox, so [[ParquetFormat]] is the
  * one real implementation (snappy parquet + parquet-footer statistics —
  * the same O(files) no-data-scan discipline Iceberg manifests give).
  */
trait TableFormat {
  /** Overwrite `path` with `df`'s rows (plain layout). */
  def write(df: DataFrame, path: String): Unit

  /** Overwrite `path` with the chunked sink layout: repartition to
    * `parts` and partition the table by the writing partition id
    * (reference partitioned_save, fuzzy_spark2.py:302-332). */
  def writeChunked(df: DataFrame, path: String, parts: Int): Unit

  /** Read the table at `path`, stripping layout-internal columns so
    * callers see exactly the schema they committed. */
  def read(spark: SparkSession, path: String): DataFrame

  /** [[read]] of a table just written from a frame with `schema`; a
    * format that can take the schema as given skips inferring it. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    read(spark, path)

  /** (partition label, row count) per data file WITHOUT a data scan —
    * the manifest-metadata row counts backing the store's per-partition
    * lineage/metrics rows. */
  def fileRowCounts(files: Seq[FileStatus], conf: Configuration): Seq[(String, Long)]
}

/** Snappy parquet with `__pid__` chunk partitioning; row counts from
  * parquet footers (O(files) metadata reads, never a second data scan). */
object ParquetFormat extends TableFormat {
  override def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("compression", "snappy").parquet(path)

  override def writeChunked(df: DataFrame, path: String, parts: Int): Unit =
    df.repartition(parts)
      .withColumn("__pid__", spark_partition_id())
      .write.partitionBy("__pid__")
      .mode("overwrite").option("compression", "snappy").parquet(path)

  override def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("__pid__")

  /** Spark writes every column nullable, so that is the schema inference
    * would find; giving it saves inference's one-task footer job. */
  override def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(asNullable(schema)).parquet(path).drop("__pid__")

  override def fileRowCounts(
      files: Seq[FileStatus], conf: Configuration): Seq[(String, Long)] =
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        // partition label: __pid__=N dir for chunked sinks, file stem otherwise
        val parent = f.getPath.getParent.getName
        val label = if (parent.startsWith("__pid__=")) parent.stripPrefix("__pid__=")
          else f.getPath.getName.take(10).stripPrefix("part-")
        (label, r.getRecordCount)
      } finally r.close()
    }
}
