package graft

import graft.functions.{BottomKSample, CanonicalUrl, HarmonicScore, PriorityTopKIds, TopKBuffer, TopKCollect}
import graft.plans.TopKRowsCollect

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateStruct}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based checks for the native kernels (no Spark session —
  * these run on the raw data structures).
  */
class PropertySpec extends AnyFunSuite {

  private val M = GraftConf.MaxScore

  private def check(prop: Prop): Unit = {
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(result.passed, result.status.toString)
  }

  test("TopKBuffer harmonic equals full-sort harmonic for any input") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(0.0, 1.0)), Gen.chooseNum(1, 60)) {
      (xs: List[Double], k: Int) =>
        val buf = new TopKBuffer(k)
        xs.foreach(buf.add)
        val viaBuffer = Option(buf.harmonic(M)).map(_.asInstanceOf[Double])
        val viaSort = Option(
          HarmonicScore.evalStatic(
            new GenericArrayData(xs.toArray.map(Double.box)), k, M))
          .map(_.doubleValue())
        viaBuffer == viaSort
    })
  }

  test("TopKBuffer ignores NaN and keeps exactly min(k, n) values") {
    check(Prop.forAll(Gen.listOf(Gen.chooseNum(-1.0, 1.0)), Gen.chooseNum(1, 10)) {
      (xs: List[Double], k: Int) =>
        val buf = new TopKBuffer(k)
        xs.foreach(buf.add)
        buf.add(Double.NaN)
        buf.size == math.min(k, xs.size)
    })
  }

  test("splitWords matches String.split semantics including empties") {
    val texts = Gen.listOf(Gen.oneOf("a", "bc", "", "d e")).map(_.mkString(" "))
    check(Prop.forAll(texts) { (t: String) =>
      val got = graft.functions.NativeText.splitWords(UTF8String.fromString(t))
        .map(_.toString).toSeq
      got == t.split(" ", -1).toSeq
    })
  }

  test("serialized TopKHarmonic buffers merge losslessly") {
    check(Prop.forAll(
      Gen.listOf(Gen.chooseNum(0.0, 1.0)), Gen.listOf(Gen.chooseNum(0.0, 1.0))) {
      (a: List[Double], b: List[Double]) =>
        val agg = graft.functions.TopKHarmonic(
          org.apache.spark.sql.catalyst.expressions.Literal(1.0))
        val b1 = new TopKBuffer(GraftConf.TopK)
        a.foreach(b1.add)
        val b2 = new TopKBuffer(GraftConf.TopK)
        b.foreach(b2.add)
        val roundTripped = agg.deserialize(agg.serialize(b2))
        val merged = agg.merge(b1, roundTripped)
        val direct = new TopKBuffer(GraftConf.TopK)
        (a ++ b).foreach(direct.add)
        Option(merged.harmonic(M)) == Option(direct.harmonic(M))
    })
  }


  test("RollingMinHash equals the direct polynomial minimum for any ASCII text") {
    val asciiText = Gen.listOf(Gen.chooseNum(32, 126).map(_.toChar)).map(_.mkString)
    check(Prop.forAll(asciiText, Gen.chooseNum(1, 24)) { (s: String, w: Int) =>
      val b = s.getBytes("UTF-8").map(_ & 0xff)
      val direct: Option[Long] =
        if (b.length < w) None
        else Some((0 to b.length - w).map { j =>
          (0 until w).foldLeft(0L)((h, k) =>
            (h * graft.functions.RollingMinHash.Base + b(j + k)) %
              graft.functions.RollingMinHash.Mod)
        }.min)
      val rolled = Option(
        graft.functions.RollingMinHash.evalStatic(UTF8String.fromString(s), w))
        .map(_.longValue())
      rolled == direct
    })
  }

  test("HllSketch nibble slicing = 64-bit bit slicing; split-merge = single pass") {
    val agg = graft.functions.HllSketch(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, org.apache.spark.sql.types.StringType, nullable = true))
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def row(s: String) =
      org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(md5hex(s)))
    check(Prop.forAll(Gen.listOf(Gen.alphaNumStr), Gen.chooseNum(0, 100)) {
      (xs: List[String], cut: Int) =>
        val full = xs.foldLeft(agg.createAggregationBuffer())((b, s) => agg.update(b, row(s)))
        // independent reference: bit arithmetic on the 64-bit hash,
        // not the production hex-substring parse
        val ref = agg.createAggregationBuffer()
        xs.foreach { s =>
          val h = new java.math.BigInteger(md5hex(s).substring(0, 16), 16)
          val idx = h.shiftRight(52).intValue()
          val w = h.and(java.math.BigInteger.ONE.shiftLeft(52).subtract(java.math.BigInteger.ONE))
          ref.add(idx, 53 - w.bitLength())
        }
        val (l, r) = xs.splitAt(if (xs.isEmpty) 0 else cut % (xs.length + 1))
        val b1 = l.foldLeft(agg.createAggregationBuffer())((b, s) => agg.update(b, row(s)))
        val b2 = r.foldLeft(agg.createAggregationBuffer())((b, s) => agg.update(b, row(s)))
        val merged = agg.merge(b1, agg.deserialize(agg.serialize(b2)))
        full.regs.sameElements(ref.regs) &&
          merged.regs.sameElements(full.regs) &&
          merged.estimate() == full.estimate()
    })
  }

  test("HllSketch estimate stays within 10% across cardinality regimes") {
    for (n <- Seq(500, 2000, 8000, 40000)) {
      val regs = new graft.functions.HllRegisters(12)
      var i = 0
      while (i < n) {
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"val:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
        val idx = Integer.parseInt(hex.substring(0, 3), 16)
        val w = java.lang.Long.parseLong(hex.substring(3, 16), 16)
        regs.add(idx, if (w == 0L) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w)))
        i += 1
      }
      val est = regs.estimate()
      assert(math.abs(est - n) / n < 0.1, s"n=$n est=$est")
    }
  }

  /** `rows` folded into two partial buffers split at `cut`, the right
    * one merged into the left through serialize/deserialize — the
    * map-side-combine path — and evaluated.
    */
  private def splitMerged[B](
      agg: TypedImperativeAggregate[B], rows: Seq[InternalRow], cut: Int): Any = {
    val (l, r) = rows.splitAt(if (rows.isEmpty) 0 else cut % (rows.length + 1))
    def fold(part: Seq[InternalRow]) = part.foldLeft(agg.createAggregationBuffer())(agg.update)
    agg.eval(agg.merge(fold(l), agg.deserialize(agg.serialize(fold(r)))))
  }

  private val D = Ordering.Double.TotalOrdering
  private def ref(i: Int, t: DataType) = BoundReference(i, t, nullable = true)

  test("TopKCollect buffer yields the sorted top-K under arbitrary merge splits") {
    // tied values included: the k best of a full sort, descending
    val score = Gen.oneOf(Gen.chooseNum(0.0, 1.0), Gen.oneOf(0.0, 0.5, 1.0))
    check(Prop.forAll(Gen.listOf(score), Gen.chooseNum(1, 20), Gen.chooseNum(0, 100)) {
      (xs: List[Double], k: Int, cut: Int) =>
        val got = splitMerged(TopKCollect(ref(0, DoubleType), k), xs.map(InternalRow(_)), cut)
        got.asInstanceOf[ArrayData].toDoubleArray().toSeq == xs.sorted(D).reverse.take(k)
    })
  }

  test("PrioIdBuffer keeps the k smallest (priority, id) under any merge split") {
    val pair = Gen.zip(Gen.oneOf(0.0, 0.25, 0.5, 1.0), Gen.chooseNum(0L, 4L))
    check(Prop.forAll(Gen.listOf(pair), Gen.chooseNum(0, 12), Gen.chooseNum(0, 100)) {
      (xs: List[(Double, Long)], k: Int, cut: Int) =>
        val agg = PriorityTopKIds(ref(0, DoubleType), ref(1, LongType), k)
        val got = splitMerged(agg, xs.map { case (p, id) => InternalRow(p, id) }, cut)
        got.asInstanceOf[ArrayData].toLongArray().toSeq ==
          xs.sorted(Ordering.Tuple2(D, Ordering.Long)).take(k).map(_._2)
    })
  }

  test("BkBuffer keeps the k smallest (hash, value) under any merge split") {
    val pair = Gen.zip(Gen.chooseNum(0L, 4L), Gen.oneOf(0.0, 0.5, 1.0))
    check(Prop.forAll(Gen.listOf(pair), Gen.chooseNum(0, 12), Gen.chooseNum(0, 100)) {
      (xs: List[(Long, Double)], k: Int, cut: Int) =>
        val agg = BottomKSample(ref(0, LongType), ref(1, DoubleType), k)
        val got = splitMerged(agg, xs.map { case (h, v) => InternalRow(h, v) }, cut)
          .asInstanceOf[GenericArrayData].array.toSeq
          .map { case r: InternalRow => (r.getLong(0), r.getDouble(1)) }
        got == xs.sorted(Ordering.Tuple2(Ordering.Long, D)).take(k)
    })
  }

  test("TopKRowsCollect keeps the k first rows in window order under any merge split") {
    // ties beyond position k are arbitrary (row_number's contract), so
    // the keys must be the k first of a full sort, and every row a
    // distinct input row carrying its own key
    val key = Gen.option(Gen.oneOf(0.0, 0.5, 1.0, 2.0))
    check(Prop.forAll(Gen.listOf(key), Gen.chooseNum(1, 8), Gen.oneOf(true, false),
      Gen.oneOf(true, false), Gen.chooseNum(0, 100)) {
      (keys: List[Option[Double]], k: Int, desc: Boolean, nullsFirst: Boolean, cut: Int) =>
        val agg = TopKRowsCollect(ref(0, DoubleType),
          CreateStruct(Seq(ref(0, DoubleType), ref(1, LongType))), k, desc, nullsFirst)
        val rows = keys.zipWithIndex.map { case (o, i) => InternalRow(o.getOrElse(null), i.toLong) }
        val got = splitMerged(agg, rows, cut).asInstanceOf[GenericArrayData].array.toSeq
          .map { case r: InternalRow =>
            (if (r.isNullAt(0)) None else Some(r.getDouble(0)), r.getLong(1).toInt) }
        val byValue = if (desc) D.reverse else D
        val order: Ordering[Option[Double]] = (a, b) => (a, b) match {
          case (None, None) => 0
          case (None, _) => if (nullsFirst) -1 else 1
          case (_, None) => if (nullsFirst) 1 else -1
          case (Some(x), Some(y)) => byValue.compare(x, y)
        }
        got.map(_._1) == keys.sorted(order).take(k) &&
          got.forall { case (o, i) => keys(i) == o } &&
          got.map(_._2).distinct.size == got.size
    })
  }

  test("BMP codec round-trips arbitrary images across all stride paddings") {
    import graft.operators.Multimodal
    val gen = for {
      w <- Gen.chooseNum(1, 37) // covers every 3w % 4 padding class
      h <- Gen.chooseNum(1, 19)
      px <- Gen.listOfN(w * h,
        for { r <- Gen.chooseNum(0, 255); g <- Gen.chooseNum(0, 255);
              b <- Gen.chooseNum(0, 255) } yield (r, g, b))
    } yield (w, h, px.toArray)
    check(Prop.forAll(gen) { case (w, h, px) =>
      val img = Multimodal.decodeBmp(Multimodal.encodeBmp(w, h, px(_)))
      img.width == w && img.height == h &&
        (0 until w * h).forall { k =>
          (img.rgb(3 * k) & 0xff, img.rgb(3 * k + 1) & 0xff,
            img.rgb(3 * k + 2) & 0xff) == px(k)
        }
    })
  }

  test("WAV codec round-trips arbitrary PCM-16 sample streams") {
    import graft.operators.Multimodal
    val gen = for {
      rate <- Gen.oneOf(8000, 16000, 44100)
      ch <- Gen.chooseNum(1, 2)
      xs <- Gen.listOf(Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (rate, ch, xs.map(_.toShort).toArray)
    check(Prop.forAll(gen) { case (rate, ch, xs) =>
      val wav = Multimodal.decodeWav(Multimodal.encodeWav(rate, ch, xs))
      wav.sampleRate == rate && wav.channels == ch && wav.samples.toSeq == xs.toSeq
    })
  }

  test("bmpResize to identical dims is the identity on pixels") {
    import graft.operators.Multimodal
    val gen = for {
      w <- Gen.chooseNum(1, 16)
      h <- Gen.chooseNum(1, 16)
      px <- Gen.listOfN(w * h, Gen.chooseNum(0, 255).map(v => (v, 255 - v, v / 2)))
    } yield (w, h, px.toArray)
    check(Prop.forAll(gen) { case (w, h, px) =>
      val out = Multimodal.decodeBmp(
        Multimodal.bmpResize(Multimodal.encodeBmp(w, h, px(_)), w, h))
      (0 until w * h).forall { k =>
        (out.rgb(3 * k) & 0xff, out.rgb(3 * k + 1) & 0xff,
          out.rgb(3 * k + 2) & 0xff) == px(k)
      }
    })
  }

  test("JaroWinkler is code-point exact: astral symbols behave as single chars") {
    import graft.functions.JaroWinkler
    def jw(a: String, b: String): Double =
      JaroWinkler.evalStatic(UTF8String.fromString(a), UTF8String.fromString(b))
    // JW depends only on the EQUALITY PATTERN of characters, so any
    // injective symbol renaming must preserve the score — including
    // astral symbols (2 UTF-16 code units) renamed to BMP ones. Under
    // code-UNIT comparison the astral side would see doubled lengths
    // and different match windows, breaking the invariance.
    val astral = Vector("\uD834\uDD1E", "\uD83D\uDE00", "a", "b") // 𝄞 😀 a b
    val bmp = Vector("w", "x", "a", "b")
    val gen = Gen.listOf(Gen.chooseNum(0, 3))
    check(Prop.forAll(gen, gen) { (s: List[Int], t: List[Int]) =>
      val (sa, ta) = (s.map(astral).mkString, t.map(astral).mkString)
      val (sb, tb) = (s.map(bmp).mkString, t.map(bmp).mkString)
      jw(sa, ta) == jw(sb, tb)
    })
    // plus the basics on the astral alphabet
    check(Prop.forAll(gen, gen) { (s: List[Int], t: List[Int]) =>
      val (sa, ta) = (s.map(astral).mkString, t.map(astral).mkString)
      val v = jw(sa, ta)
      v >= 0.0 && v <= 1.0 && v == jw(ta, sa) &&
        (sa != ta || sa.isEmpty || v == 1.0)
    })
  }

  test("CanonicalUrl is idempotent on arbitrary URL-ish strings") {
    import org.apache.spark.unsafe.types.UTF8String
    def cu(s: String): String = {
      val r = CanonicalUrl.evalStatic(UTF8String.fromString(s))
      if (r == null) null else r.toString
    }
    val scheme = Gen.oneOf("http", "HTTP", "https", "HtTpS", "ftp", "")
    val host = Gen.oneOf("A.com", "x.ORG", "Sub.Host.net", "h", "")
    val port = Gen.oneOf("", ":80", ":443", ":8080", ":0443", ":x80")
    val path = Gen.listOf(Gen.oneOf("/A", "/b", "//", "/", "")).map(_.mkString)
    val qseg = Gen.oneOf("utm_source=x", "UTM_X=1", "gclid=2", "ref",
      "id=3", "a=b=c", "", "k")
    val query = Gen.listOf(qseg).map(s =>
      if (s.isEmpty) "" else "?" + s.mkString("&"))
    val frag = Gen.oneOf("", "#f", "#a#b")
    val url = for {
      sc <- scheme; h <- host; p <- port
      pa <- path; q <- query; f <- frag
    } yield s"$sc://$h$p$pa$q$f"
    check(Prop.forAll(url) { (u: String) =>
      val once = cu(u)
      // non-URLs (empty scheme) go null; canonicals are fixed points
      once == null || cu(once) == once
    })
  }
}
