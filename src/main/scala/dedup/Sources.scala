package dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Input readers (reference operator family S1-S3, exact_spark.py:51-126,
  * fuzzy_spark.py:269-281). All return the fixed page schema — never
  * inferred (the reference's mergeSchema-style inference is a scale hazard:
  * schema drift across 10^6 files re-plans every read; a declared schema
  * also lets the vectorized parquet reader prune columns aggressively).
  */
object Sources {

  /** Parquet page table: schema-enforced scan; column pruning + predicate
    * pushdown verified in PlanSpec. `dedup.Pipeline` reads `--input` and
    * `--existing` through it. `maxFiles` mirrors the reference's
    * driver-side cap (exact_spark.py:62,100-111: sorted file list, capped). */
  def pages(spark: SparkSession, path: String, maxFiles: Option[Int] = None): DataFrame =
    maxFiles match {
      case None => spark.read.schema(Page.schema).parquet(path)
      case Some(cap) =>
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val files = fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.toString)
          .sorted.take(cap)
        spark.read.schema(Page.schema).parquet(files.toIndexedSeq: _*)
    }

  /** JSONL scan (S2): declared schema (no sampling pass), permissive mode
    * with a corrupt-record column so bad lines surface instead of vanishing. */
  def pagesJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Page.schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Text-file fallback (S3, fuzzy_spark.py:279-281): one line = one doc;
    * url is synthesized from the content hash (stable across reruns). */
  def pagesText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        concat(lit("text://"), lower(hex(xxhash64(col("value"))))).as("url"),
        lit(null).cast("timestamp").as("warc_ts"),
        lit(null).cast("binary").as("html"),
        col("value").as("text"),
        lit(null).cast("string").as("lang"))
}
