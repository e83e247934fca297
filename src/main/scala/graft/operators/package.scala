package graft

import org.apache.spark.sql.{Column, DataFrame}

package object operators {

  /** The double cast every exact statistic ends in: ratios of exact
    * integers, one written-order expression both engines mirror.
    */
  private[operators] def d(c: Column): Column = c.cast("double")

  /** The corpus-moment contract: integer sums and products that can
    * outgrow a long ride decimal(38,0) — exact and associative.
    */
  private[operators] def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Ensure at least `defaultParallelism` partitions before a
    * compute-heavy per-row stage (hashing, signatures, dot products).
    *
    * Small inputs often arrive as a single parquet row group — one Spark
    * partition — which would serialize the whole stage on one core. At
    * cluster scale inputs already have many partitions and this is a
    * no-op (no shuffle is added). The parallelism probe is an estimate
    * from logical statistics (bytes ÷ maxPartitionBytes) — an
    * `df.rdd.getNumPartitions` probe would force full physical
    * planning of the upstream query on every invocation.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPartBytes = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val estPartitions =
      df.queryExecution.optimizedPlan.stats.sizeInBytes / BigInt(maxPartBytes) + 1
    if (estPartitions < target) df.repartition(target) else df
  }
}
