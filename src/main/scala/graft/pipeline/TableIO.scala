package graft.pipeline

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage seam for the extraction job (SURVEY §7.5): [[ExtractJob]] talks
  * to this trait only, so the deployment picks Parquet directories or
  * Iceberg tables by swapping a single format name (ExtractJob's
  * `--format`, `parquet` by default) — no job-logic change.
  *
  * Contract: `root` is a Parquet directory root or an Iceberg table-name
  * prefix; a "pass" is the job's checkpoint unit (ExtractJob commits one
  * pass at a time and resumes at pass granularity).
  */
trait TableIO {

  /** Read the transcripts input table. */
  def readInput(spark: SparkSession, path: String): DataFrame

  /** Commit one completed pass of extracted turns (bucket-partitioned,
    * pre-sorted by the caller). Must be atomic-per-pass or idempotent on
    * retry: a re-run of the same pass replaces, never duplicates.
    */
  def writePass(df: DataFrame, root: String, pass: Int): Unit

  /** Commit the per-partition lineage rows of one pass. */
  def writeLineage(df: DataFrame, root: String, pass: Int): Unit
}

object TableIO {

  def resolve(format: String): TableIO = format match {
    case "parquet" => ParquetTableIO
    case "iceberg" => IcebergTableIO
    case other =>
      throw new IllegalArgumentException(
        s"unknown table format '$other' (expected parquet or iceberg)")
  }
}

/** Directory-per-pass Parquet implementation (local/HDFS/object store).
  *
  * Both writes carry [[PosixLocalFileSystem.options]], so a local (`file:`)
  * output sets each file's and directory's mode with a syscall instead of a
  * `chmod` process; the files, their `.crc` sidecars and their modes are
  * what the stock local FileSystem writes. Other schemes and the input read
  * are untouched.
  */
object ParquetTableIO extends TableIO {

  /** Reads with the [[TranscriptTurn]] schema, so no footer job infers one;
    * columns resolve by name, and columns outside the schema are not read.
    */
  override def readInput(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Encoders.product[TranscriptTurn].schema).parquet(path)

  override def writePass(df: DataFrame, root: String, pass: Int): Unit =
    df.write.options(PosixLocalFileSystem.options).mode(SaveMode.Overwrite)
      .partitionBy("_bucket")
      .parquet(s"$root/data/pass=$pass")

  override def writeLineage(df: DataFrame, root: String, pass: Int): Unit =
    df.write.options(PosixLocalFileSystem.options).mode(SaveMode.Overwrite)
      .parquet(s"$root/_lineage/pass=$pass")
}

/** Iceberg implementation: `root` is a catalog-qualified table prefix (e.g.
  * `cat.db.extract`), passes live in `<root>_data` / `<root>_lineage`
  * partitioned by `_pass` (+ `_bucket` for data), and
  * `writeTo(...).overwritePartitions()` makes each pass commit atomically
  * as one Iceberg snapshot; resume still reads ExtractJob's progress
  * markers, as for Parquet. Uses only Spark's own DataFrameWriterV2/catalog
  * API, so this COMPILES without Iceberg on the classpath; at runtime it
  * needs the iceberg-spark-runtime jar and a configured catalog, and the
  * tables created as
  * `CREATE TABLE <root>_data (...) USING iceberg PARTITIONED BY (_pass, _bucket)`.
  */
object IcebergTableIO extends TableIO {

  override def readInput(spark: SparkSession, path: String): DataFrame =
    spark.table(path)

  override def writePass(df: DataFrame, root: String, pass: Int): Unit =
    df.withColumn("_pass", lit(pass))
      .writeTo(s"${root}_data")
      .overwritePartitions()

  override def writeLineage(df: DataFrame, root: String, pass: Int): Unit =
    df.withColumn("_pass", lit(pass))
      .writeTo(s"${root}_lineage")
      .overwritePartitions()
}
