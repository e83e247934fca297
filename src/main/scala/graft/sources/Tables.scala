package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed access to the driver-provided parquet tables plus the derived
  * domain views (evidence / ontology / weights) that realize the
  * reference's data model on the TPC-H-ish testdata (see SURVEY.md §3).
  */
final case class Tables(spark: SparkSession, dir: String) {

  def table(name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
