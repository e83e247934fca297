package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables
import graft.streaming.StreamQueries

/** Testdata schema-drift canary (VERDICT r6 §3): the driver's
  * events.parquet has already shipped in two `ts` encodings —
  * int64 TIMESTAMP(NANOS) (rounds ≤5) and timestamp[us] TIMESTAMP_NTZ
  * (round 6) — and the silent switch broke 35 queries. This spec builds
  * tiny fixtures in BOTH encodings with the SAME instants and asserts
  * both the batch loader and the streaming loader normalize each to
  * identical session-UTC `TimestampType` micros. The next generator
  * drift fails HERE, by name, not across a third of the registry.
  */
class TablesDriftSpec extends SparkSpec {

  // Two instants, exact to the microsecond: 2024-01-01T00:00:01.500000Z
  // and 2024-06-15T12:34:56.789012Z.
  private val micros = Seq(1704067201500000L, 1718454896789012L)

  private def fixtureDir(name: String): String = {
    val d = Files.createTempDirectory(s"graft-drift-$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Write events.parquet with ts as int64 TIMESTAMP(NANOS, utc=false) —
    * the pre-r6 driver encoding, via the parquet example writer (Spark
    * cannot write nanos itself).
    */
  private def writeNanosFixture(): String = {
    val dir = fixtureDir("nanos")
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, TimeUnit.NANOS))
        .named("ts")
      .named("events")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema)
      .withConf(new Configuration())
      .build()
    micros.zipWithIndex.foreach { case (us, i) =>
      val g = new SimpleGroup(schema)
      g.add("event_id", i.toLong)
      g.add("ts", us * 1000L)
      writer.write(g)
    }
    writer.close()
    dir
  }

  /** Write events.parquet with ts as TIMESTAMP_NTZ (timestamp[us],
    * isAdjustedToUTC=false) — the r6+ driver encoding.
    */
  private def writeNtzFixture(): String = {
    val dir = fixtureDir("ntz")
    val df = spark.range(micros.size).toDF("event_id")
      .withColumn("us", element_at(typedLit(micros), (col("event_id") + 1).cast("int")))
      .withColumn("ts", timestamp_micros(col("us")).cast(TimestampNTZType))
      .select("event_id", "ts")
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  /** Jobs launched while `body` runs. Listener events arrive in order,
    * so a marker job before and after `body` brackets its jobs.
    */
  private def jobsDuring(body: => Unit): Int = {
    val key = "graft.spec.marker"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(key))).getOrElse(""))
    }
    def marker(m: String): Unit = {
      spark.sparkContext.setLocalProperty(key, m)
      try spark.range(1).count() finally spark.sparkContext.setLocalProperty(key, null)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      marker("start")
      body
      marker("end")
      val deadline = System.currentTimeMillis() + 30000L
      while (!seen.contains("end") && System.currentTimeMillis() < deadline) Thread.sleep(20)
      val jobs = seen.toArray(Array.empty[String]).toSeq
      assert(jobs.contains("end"), "the listener never saw the end marker")
      jobs.dropWhile(_ != "start").dropWhile(_ == "start").takeWhile(_ != "end").size
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def readBack(dir: String): (DataType, Seq[Long]) = {
    val ev = Tables(spark, dir).events
    val tpe = ev.schema("ts").dataType
    val vals = ev.orderBy("event_id")
      .select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq
    (tpe, vals)
  }

  test("batch loader normalizes int64-nanos encoding to TimestampType micros") {
    val (tpe, vals) = readBack(writeNanosFixture())
    assert(tpe === TimestampType)
    assert(vals === micros)
  }

  test("batch loader normalizes TIMESTAMP_NTZ encoding to TimestampType micros") {
    val dir = writeNtzFixture()
    // precondition: the fixture really is NTZ on disk
    assert(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType === TimestampNTZType)
    val (tpe, vals) = readBack(dir)
    assert(tpe === TimestampType)
    assert(vals === micros)
  }

  test("the live driver testdata parses through the loader (whatever its encoding)") {
    val ev = Tables(spark, sfDir).events
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.limit(1).count() === 1L)
  }

  test("a table's schema is inferred once per session: a second read launches no job") {
    val path = s"$sfDir/nation.parquet"
    Tables(spark, sfDir).table("nation")
    // the counter sees an unresolved read's inference job
    assert(jobsDuring(spark.read.parquet(path)) >= 1)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { again = Tables(spark, sfDir).table("nation") } === 0)
    assert(again.schema === spark.read.parquet(path).schema)
    assert(again.count() === spark.read.parquet(path).count())
  }

  test("a table rewritten at the same path is read with its new schema") {
    val dir = fixtureDir("rewrite")
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir).table("t").schema.fieldNames.toSeq === Seq("a"))
    spark.range(3).select(col("id").as("a"), col("id").cast("string").as("b"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val t = Tables(spark, dir).table("t")
    assert(t.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(t.orderBy("a").collect().map(_.getString(1)).toSeq === Seq("0", "1", "2"))
  }

  test("a flipped schema conf is resolved again, never served stale") {
    val path = s"${writeNanosFixture()}/events.parquet"
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(Tables.schema(spark, path)("ts").dataType === LongType)
      // Spark rejects TIMESTAMP(NANOS) without the conf
      spark.conf.set(key, "false")
      intercept[Exception](Tables.schema(spark, path))
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("both encodings, each read twice in one session, normalise to identical micros") {
    for (dir <- Seq(writeNanosFixture(), writeNtzFixture())) {
      val first = readBack(dir)
      assert(readBack(dir) === first)
      assert(first === ((TimestampType, micros)))
    }
  }

  test("streaming loader agrees with the batch loader on both encodings") {
    for (dir <- Seq(writeNanosFixture(), writeNtzFixture())) {
      val stream = StreamQueries.streamEvents(spark, dir)
      assert(stream.schema("ts").dataType === TimestampType)
      val out = StreamQueries.materialize(
        stream.select(col("event_id"), unix_micros(col("ts")).as("us")))
      val vals = out.orderBy("event_id").collect().map(_.getLong(1)).toSeq
      assert(vals === micros)
    }
  }
}
