package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format adapters beyond parquet: CSV (the reference's dimension-table
  * format, cf. the csv lookups under /root/reference/data) and JSON-lines.
  * The CSV and JSON readers take their schema from the caller — their
  * inference is a full extra pass over the data. The ORC and parquet
  * reads here infer it from file footers (one job per read;
  * `readParquetMerged` reads every footer); driver tables go through
  * [[Tables]], which infers each schema once per session.
  */
object Io {

  def readCsv(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = true,
      delimiter: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)

  def readJsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC round-trip — the other columnar format Spark ships natively
    * (predicate pushdown and column pruning work the same way as
    * parquet).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** Schema-evolution read: union parquet epochs whose schemas GREW
    * over time (columns added) into one frame — `mergeSchema` pays a
    * footer pass per file to reconcile, so it is an explicit opt-in
    * here, not a default. Columns missing in an older epoch read as
    * null — the recurring-pipeline contract that lets a 100 TB table
    * add a column without rewriting history.
    */
  def readParquetMerged(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** PERMISSIVE CSV read with an explicit quarantine column: rows
    * that fail the schema land intact in `_corrupt_record` instead of
    * killing the job (FAILFAST) or vanishing (DROPMALFORMED) — the
    * ingest-gate pattern where bad rows are counted and routed, never
    * silently lost. The passed schema must NOT contain the corrupt
    * column; it is appended here.
    */
  def readCsvQuarantine(
      spark: SparkSession,
      path: String,
      schema: StructType,
      header: Boolean = false): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("header", header.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Partitioned parquet writer — the layout that makes downstream
    * partition pruning (`WHERE year = …`) a directory skip.
    */
  def writeParquetPartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** Incremental partition refresh: overwrite ONLY the partitions
    * present in `df`, leaving every other partition untouched — the
    * write-side twin of [[graft.operators.Snapshot.diff]] for a
    * recurring pipeline (recompute the changed days/sources, never
    * rewrite the 100 TB table). Uses dynamic partitionOverwriteMode,
    * scoped to this write via the DataFrameWriter option so the
    * session default stays untouched.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file compaction: rewrite a directory into ~`targetFiles`
    * files. Streaming sinks and per-partition incremental writes leave
    * thousands of KB-sized files whose per-file open/footer cost
    * dominates scans at scale; a periodic coalesce-rewrite restores
    * scan throughput. `coalesce` (not `repartition`) — no shuffle,
    * just fewer write tasks.
    */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    val tmp = path.stripSuffix("/") + ".compact-tmp"
    spark.read.parquet(path).coalesce(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(tmp), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Bucketed + sorted table write: co-locates join keys so equi-joins
    * between tables bucketed the same way need no shuffle at all.
    * (saveAsTable because bucketing metadata lives in the catalog.)
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCol: String,
      numBuckets: Int): Unit =
    writeBucketed(df, tableName, Seq(bucketCol), numBuckets)

  /** Multi-column variant: both join sides bucketed AND joined on the
    * same column list (order matters — bucket hash is positional)
    * equi-join with no exchange.
    */
  def writeBucketed(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      numBuckets: Int): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
}
