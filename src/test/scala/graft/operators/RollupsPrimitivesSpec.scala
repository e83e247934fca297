package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The stats family's shared primitives (RollupsScaleForms): the
  * two-group value grain and its cap, the two doubled-midrank forms,
  * and the decimal tie cube.
  */
class RollupsPrimitivesSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    ("a", Some(1.004)), ("a", Some(0.996)), ("a", Some(2.5)), ("a", None),
    ("b", Some(1.0)), ("b", Some(3.0)), ("b", Some(3.001)),
    ("c", Some(1.0))).toDF("g", "x")

  test("twoGroupGrain collapses groups a/b to per-cent counts") {
    val got = Rollups.twoGroupGrain(fixture, "g", "x", "a", "b")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    // nulls and group c drop; 1.004 and 0.996 both round to 100 cents
    assert(got == Seq((100L, 2L, 1L), (250L, 1L, 0L), (300L, 0L, 2L)))
  }

  test("grainGuarded raises past graft.valueGrainCap, passes at the cap") {
    val pts = Rollups.twoGroupGrain(fixture, "g", "x", "a", "b")
    sys.props("graft.valueGrainCap") = "3"
    try assert(Rollups.grainGuarded(pts, Rollups.cumRows, "probe").count() == 3)
    finally sys.props.remove("graft.valueGrainCap")
    sys.props("graft.valueGrainCap") = "2"
    try {
      val ex = intercept[Exception] {
        Rollups.grainGuarded(pts, Rollups.cumRows, "probe").collect()
      }
      def msgs(e: Throwable): String =
        if (e == null) "" else e.getMessage + "|" + msgs(e.getCause)
      assert(msgs(ex).contains(
        "graft.probe: distinct-value grain exceeds ValueGrainCap=2"), msgs(ex))
    } finally sys.props.remove("graft.valueGrainCap")
  }

  test("value-grain and row-grain doubled midranks agree with hand ranks") {
    // ranks 1 | 2,3 | 4,5,6 | 7 → averages 1, 2.5, 5, 7; doubled 2, 5, 10, 14
    val hand = Map(10L -> 2L, 20L -> 5L, 30L -> 10L, 40L -> 14L)
    val rows = Seq(10L, 20L, 20L, 30L, 30L, 30L, 40L).toDF("x")
    val rowGrain = rows.select(col("x"), Rollups.rowMidrank2(Nil, col("x")).as("r2"))
      .as[(Long, Long)].collect()
    assert(rowGrain.forall { case (x, r2) => hand(x) == r2 })
    val ord = Window.orderBy("x")
    val valueGrain = rows.groupBy("x").agg(count(lit(1)).as("n"))
      .withColumn("t", Rollups.tieCount(ord, col("n")))
      .select(col("x"), col("t"), Rollups.midrank2(ord, col("n"), col("t")).as("r2"))
      .as[(Long, Long, Long)].collect()
    assert(valueGrain.map(r => r._1 -> r._3).toMap == hand)
    assert(valueGrain.map(r => r._1 -> r._2).toMap ==
      Map(10L -> 1L, 20L -> 2L, 30L -> 3L, 40L -> 1L))
  }

  test("tieCube stays exact past the long range") {
    val got = Seq(3000000L, 2L).toDF("t")
      .select(Rollups.tieCube(col("t")).as("s"))
      .as[java.math.BigDecimal].head()
    // 3e6³ − 3e6 = 26999999999997000000 > Long.MaxValue, plus 2³ − 2
    assert(got == new java.math.BigDecimal("26999999999997000006"))
    assert(Seq.empty[Long].toDF("t").select(Rollups.tieCube(col("t")))
      .as[java.math.BigDecimal].head().signum == 0)
  }

  test("mannWhitney's tie correction survives 2.2M ties of one value") {
    // Σ(t³ − t) at t = 2.2M is ~1.06e19: past Long.MaxValue, so a long
    // tie term raises ARITHMETIC_OVERFLOW under ANSI mode
    val n1 = 2200000L
    val df = spark.range(n1).select(lit("a").as("g"), lit(1.0).as("x"))
      .union(Seq(("b", 2.0), ("b", 2.0), ("b", 3.0)).toDF("g", "x"))
    val row = Rollups.mannWhitney(df, "g", "x", "a", "b").head()
    val n2 = 3L
    val n = n1 + n2
    val ties = BigInt(n1).pow(3) - n1 + BigInt(2).pow(3) - 2
    val variance = n1.toDouble * n2.toDouble / 12.0 *
      ((n + 1).toDouble - ties.toDouble / (n.toDouble * (n - 1).toDouble))
    val z = -(n1 * n2).toDouble / (2.0 * math.sqrt(variance))
    assert(row.getLong(0) == n1 && row.getLong(1) == n2)
    assert(row.getDouble(2) == 0.0) // every a sits below every b
    assert(math.abs(row.getDouble(3) - z) < 1e-4, s"z=${row.getDouble(3)} want $z")
  }
}
