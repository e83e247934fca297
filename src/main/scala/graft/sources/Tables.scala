package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed access to the driver-provided parquet tables plus the derived
  * domain views (evidence / ontology / weights) that realize the
  * reference's data model on the TPC-H-ish testdata (see SURVEY.md §3).
  * Every table is read with the schema [[Tables.schema]] resolved for
  * it, so a read launches no schema-inference job after the first.
  */
final case class Tables(spark: SparkSession, dir: String) {

  def table(name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(Tables.schema(spark, path)).parquet(path)
  }

  def lineitem: DataFrame = table("lineitem")
  def orders: DataFrame = table("orders")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def nation: DataFrame = table("nation")
  def region: DataFrame = table("region")
  /** events.parquet has shipped in two encodings across driver testdata
    * generations — normalize either (see [[Tables.normalizeEventTs]]).
    */
  def events: DataFrame = {
    // Inert for the timestamp[us] encoding; required to read the
    // TIMESTAMP(NANOS) one at all (Spark rejects nanos otherwise).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.normalizeEventTs(table("events"))
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")

  /** Evidence view — the reference's
    * (diseaseId, targetId, datasourceId, score, year) grain
    * (cf. /root/reference/timeseries.py evidence_dated schema).
    */
  def evidence: DataFrame = lineitem.select(
    col("l_suppkey").as("diseaseId"),
    col("l_partkey").as("targetId"),
    col("l_returnflag").as("datasourceId"),
    (col("l_discount") * 10).as("score"),
    year(col("l_shipdate")).cast("int").as("year"))

  /** Two-level "disease ontology": supplier s has ancestors
    * [100 + s_nationkey, 200 + r_regionkey]. Mirrors the reference's
    * disease table (id, ancestors) used for indirect-evidence
    * propagation (timeseries.py:342–368).
    */
  def ontology: DataFrame = supplier
    .join(nation, col("s_nationkey") === col("n_nationkey"))
    .select(
      col("s_suppkey").cast("long").as("id"),
      array(
        (col("s_nationkey") + 100).cast("long"),
        (col("n_regionkey") + 200).cast("long")).as("ancestors"))

  /** Datasource weight dimension (broadcast-sized). */
  def weights: DataFrame = {
    import spark.implicits._
    graft.GraftConf.Weights.toDF("datasourceId", "weight")
  }

  /** Drug dimension — (drugId, approvalYear), the reference's ChEMBL
    * drugs CSV (novelty_approval.py:358–364) realized on orders.
    */
  def drugs: DataFrame = orders.select(
    col("o_orderkey").as("drugId"),
    year(col("o_orderdate")).cast("int").as("approvalYear"))

  /** Drug→(target, disease) clinical links — the reference's
    * clinicalPhase==4 ChEMBL evidence (novelty_approval.py:365–371);
    * phase realized as the line number.
    */
  def drugLinks: DataFrame = lineitem
    .filter(col("l_linenumber") === 4)
    .select(
      col("l_orderkey").as("drugId"),
      col("l_partkey").as("targetId"),
      col("l_suppkey").as("diseaseId"))
    .distinct()

  /** Datasource→datatype literal dimension
    * (novelty_approval.py:324–341 get_datatype_for_datasource).
    */
  def datatypes: DataFrame = {
    import spark.implicits._
    Seq(("A", "genetic"), ("N", "literature"), ("R", "clinical"))
      .toDF("datasourceId", "datatypeId")
  }

  /** Therapeutic-area priority literal dim — ancestor ids ranked by
    * enumeration order, unranked TAs fall back to 1000 downstream
    * (novelty_distribution.py:71–92).
    */
  def taPriority: DataFrame = {
    import spark.implicits._
    Seq((202L, 0), (200L, 1), (104L, 2)).toDF("ta", "ranking")
  }

  /** Therapeutic-area display names: nation/region names keyed by the
    * ontology's ancestor ids (novelty_distribution.py:98–106).
    */
  def taNames: DataFrame = nation
    .select((col("n_nationkey") + 100).cast("long").as("ta"), col("n_name").as("taName"))
    .unionByName(region
      .select((col("r_regionkey") + 200).cast("long").as("ta"), col("r_name").as("taName")))
}

object Tables {
  import org.apache.spark.sql.types._

  /** Session confs that change what parquet schema inference returns
    * for the same files (`events` sets the first one).
    */
  private val SchemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.caseSensitive")

  /** Path, its leaf files as (path, length, mtime), and [[SchemaConfs]]. */
  private final case class SchemaKey(
      path: String, files: Seq[(String, Long, Long)], confs: Seq[Option[String]])

  /** Per session, the resolved schemas. Only `StructType`s are held — no
    * DataFrame, plan or RDD — so no query result is ever reused.
    */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, java.util.Map[SchemaKey, StructType]]()

  /** The parquet schema at `path`, inferred by Spark once per session for
    * each (path, leaf files, schema confs) key. A table rewritten at the
    * same path, or read under a flipped conf, gets a new key and is
    * inferred again; a missing path is never cached, so the read fails as
    * an unresolved one would.
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val key = SchemaKey(path, leafFiles(spark, path), SchemaConfs.map(spark.conf.getOption))
    val cache = schemas.synchronized(schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[SchemaKey, StructType]()))
    Option(cache.get(key)).getOrElse {
      val resolved = spark.read.parquet(path).schema
      cache.put(key, resolved)
      resolved
    }
  }

  private def leafFiles(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    } catch { case _: java.io.FileNotFoundException => Nil }
  }

  /** Normalize `events.ts` to a session-tz `TimestampType` regardless of
    * how the driver's generator encoded it:
    *
    *  - parquet TIMESTAMP(NANOS): Spark only reads it as int64 under
    *    `spark.sql.legacy.parquet.nanosAsLong` → `LongType` nanos;
    *    convert with integer division (ns since epoch exceeds 2^53, so
    *    double math would lose precision).
    *  - parquet timestamp[us] with isAdjustedToUTC=false → Spark reads
    *    `TIMESTAMP_NTZ`; cast to `TimestampType` (session tz is pinned
    *    to UTC, so the micros-since-epoch equal DuckDB's `epoch_us` view
    *    of the same file).
    *  - already `TimestampType` → pass through.
    *
    * Any other type fails LOUDLY — a third encoding drift must break one
    * named place, not every downstream query (see TablesDriftSpec).
    */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case _: TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _: TimestampType => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; extend Tables.normalizeEventTs")
    }
}
