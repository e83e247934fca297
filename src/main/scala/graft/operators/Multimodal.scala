package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing over REAL public byte formats: media
  * payloads ride as opaque `binary` columns; decode / resize / frame
  * sampling / feature extraction run per-partition (one codec instance
  * per partition), the shape of a production media pipeline
  * (cf. /root/reference README's evidence "images" discussion — the
  * reference itself carries no media, so this is the scale extension).
  *
  * The codecs are pure-JVM parsers of PUBLIC formats — 24-bit
  * uncompressed BMP (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up
  * padded BGR rows) and RIFF/WAVE PCM-16 — no native libraries. The
  * DuckDB oracle recomputes the decoded statistics from first
  * principles, so a header-offset, stride-padding, row-order, or
  * endianness mistake in the decoder fails the correctness gate.
  *
  * Heavier codecs (JPEG, H.264) slot in behind the same per-partition
  * contract; they are absent only because this container has no codec
  * libraries.
  */
object Multimodal {

  // ---------- BMP codec (Windows V3, 24 bpp, BI_RGB) ----------

  private def putI16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
  }
  private def putI32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v & 0xff).toByte; b(o + 1) = ((v >> 8) & 0xff).toByte
    b(o + 2) = ((v >> 16) & 0xff).toByte; b(o + 3) = ((v >> 24) & 0xff).toByte
  }
  private def rdU16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def rdI32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)

  /** 24-bit BMP rows pad to 4-byte boundaries. */
  def bmpStride(width: Int): Int = ((3 * width + 3) / 4) * 4

  /** Encode top-down row-major logical pixels (`rgb(k)` = (r, g, b) of
    * pixel k = y*width+x) as a real 24-bit BMP: 14-byte file header,
    * 40-byte BITMAPINFOHEADER, bottom-up stride-padded BGR rows.
    */
  def encodeBmp(width: Int, height: Int, rgb: Int => (Int, Int, Int)): Array[Byte] = {
    val stride = bmpStride(width)
    val size = 54 + stride * height
    val out = new Array[Byte](size)
    out(0) = 'B'; out(1) = 'M'
    putI32(out, 2, size)
    putI32(out, 10, 54)      // pixel-array offset
    putI32(out, 14, 40)      // BITMAPINFOHEADER size
    putI32(out, 18, width)
    putI32(out, 22, height)  // positive height = bottom-up rows
    putI16(out, 26, 1)       // planes
    putI16(out, 28, 24)      // bits per pixel
    // compression (off 30) stays 0 = BI_RGB
    var y = 0
    while (y < height) {
      val rowOff = 54 + (height - 1 - y) * stride
      var x = 0
      while (x < width) {
        val (r, g, b) = rgb(y * width + x)
        out(rowOff + 3 * x) = b.toByte
        out(rowOff + 3 * x + 1) = g.toByte
        out(rowOff + 3 * x + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decoded image: top-down row-major RGB triples. */
  final case class Bmp(width: Int, height: Int, rgb: Array[Byte])

  /** Decode a 24-bit BI_RGB BMP: validate the magic / bpp /
    * compression fields, honor the declared pixel-array offset, the
    * stride padding, the bottom-up row order, and the BGR byte order.
    */
  def decodeBmp(bytes: Array[Byte]): Bmp = {
    require(bytes.length >= 54 && bytes(0) == 'B' && bytes(1) == 'M',
      "not a BMP payload")
    val off = rdI32(bytes, 10)
    val width = rdI32(bytes, 18)
    val height = rdI32(bytes, 22)
    require(width > 0 && height > 0, "degenerate/top-down BMP unsupported")
    // Bound dims by the payload before ANY arithmetic on them —
    // bmpStride's 3*width would itself overflow Int for width > ~715M.
    require(width.toLong * 3 <= bytes.length && height <= bytes.length,
      "declared dimensions exceed payload")
    require(rdU16(bytes, 28) == 24, s"unsupported bpp ${rdU16(bytes, 28)}")
    require(rdI32(bytes, 30) == 0, "compressed BMP unsupported")
    val stride = bmpStride(width)
    // Size checks in Long: adversarial width/height headers overflow
    // Int (off + stride*height can wrap negative and slip past an Int
    // compare, then crash on the array allocation below).
    require(off >= 54 &&
      off.toLong + stride.toLong * height <= bytes.length &&
      3L * width * height <= Int.MaxValue,
      "truncated or oversized pixel array")
    val rgb = new Array[Byte](width * height * 3)
    var y = 0
    while (y < height) {
      val rowOff = off + (height - 1 - y) * stride
      var x = 0
      while (x < width) {
        val p = (y * width + x) * 3
        rgb(p) = bytes(rowOff + 3 * x + 2)     // R
        rgb(p + 1) = bytes(rowOff + 3 * x + 1) // G
        rgb(p + 2) = bytes(rowOff + 3 * x)     // B
        x += 1
      }
      y += 1
    }
    Bmp(width, height, rgb)
  }

  /** Nearest-neighbor resize, BMP in → BMP out: decode, sample source
    * pixel (x*srcW/outW, y*srcH/outH) (floor), re-encode.
    */
  def bmpResize(bytes: Array[Byte], outW: Int, outH: Int): Array[Byte] = {
    val src = decodeBmp(bytes)
    encodeBmp(outW, outH, { k =>
      val sx = (k % outW) * src.width / outW
      val sy = (k / outW) * src.height / outH
      val p = (sy * src.width + sx) * 3
      (src.rgb(p) & 0xff, src.rgb(p + 1) & 0xff, src.rgb(p + 2) & 0xff)
    })
  }

  // ---------- WAV codec (RIFF/WAVE, PCM, 16-bit little-endian) ----------

  def encodeWav(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1)                                   // PCM
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2)             // byte rate
      .putShort((channels * 2).toShort)              // block align
      .putShort(16)                                  // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(buf.putShort)
    buf.array()
  }

  final case class Wav(sampleRate: Int, channels: Int, samples: Array[Short])

  /** Chunk-walking RIFF parser (PCM-16 only): finds the fmt/data
    * chunks wherever they sit, honoring chunk sizes and the RIFF
    * odd-length pad byte — a fixed-offset reader would break on files
    * with LIST/INFO chunks.
    */
  def decodeWav(bytes: Array[Byte]): Wav = {
    def tag(o: Int) = new String(bytes, o, 4, "US-ASCII")
    require(bytes.length >= 12 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "not a RIFF/WAVE payload")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = 12
    var rate = -1
    var channels = -1
    var samples: Array[Short] = null
    while (pos + 8 <= bytes.length) {
      val id = tag(pos)
      val len = buf.getInt(pos + 4)
      // A hostile/corrupt length field must fail the codec's own
      // require, not loop forever (len <= -8 keeps pos fixed) or throw
      // a raw AIOOBE past the buffer end.
      require(len >= 0 && pos.toLong + 8 + len <= bytes.length,
        s"corrupt RIFF chunk '$id' length $len at offset $pos")
      if (id == "fmt ") {
        require(buf.getShort(pos + 8) == 1, "non-PCM WAV unsupported")
        channels = buf.getShort(pos + 10)
        rate = buf.getInt(pos + 12)
        require(buf.getShort(pos + 22) == 16, "only 16-bit PCM supported")
      } else if (id == "data") {
        samples = Array.tabulate(len / 2)(i => buf.getShort(pos + 8 + 2 * i))
      }
      pos += 8 + len + (len & 1) // RIFF chunks pad to even offsets
    }
    require(rate > 0 && samples != null, "missing fmt/data chunk")
    Wav(rate, channels, samples)
  }

  // ---------- Dataset-level operators ----------

  final case class Media(doc_id: Long, payload: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long,
      n_bytes: Int,
      width: Int,
      height: Int,
      r_mean: Double,
      g_mean: Double,
      b_mean: Double)
  final case class AudioFeatures(
      doc_id: Long,
      sample_rate: Int,
      n_samples: Int,
      mean_abs: Double)

  /** Synthesize REAL BMP payloads from the text bytes — logical pixel
    * k takes (r, g, b) = bytes ((3k+2) mod n, (3k+1) mod n, 3k mod n).
    * Dimensions derive from the byte count: w = 8 + n mod 8,
    * h = 8 + (n div 8) mod 8. This is the encode half of the pipeline;
    * everything downstream sees only the opaque binary column, exactly
    * as if the payloads were slurped from an object store.
    */
  def textToBmp(documents: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[Media] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spread(documents.select(col(idCol).cast("long").as("doc_id"),
        encode(col(textCol), "UTF-8").as("payload")))
      .as[Media]
      .mapPartitions { it =>
        it.map { m =>
          val bytes = if (m.payload.isEmpty) Array[Byte](0) else m.payload
          val n = bytes.length
          val w = 8 + n % 8
          val h = 8 + (n / 8) % 8
          Media(m.doc_id, encodeBmp(w, h, k =>
            (bytes((3 * k + 2) % n) & 0xff,
             bytes((3 * k + 1) % n) & 0xff,
             bytes(3 * k % n) & 0xff)))
        }
      }
  }

  /** Synthesize REAL PCM-16 WAV payloads from the text bytes: sample i
    * = (byte(2i mod n) << 8 | byte((2i+1) mod n)) − 32768, mono.
    */
  def textToWav(documents: DataFrame, nSamples: Int = 200,
      sampleRate: Int = 8000, idCol: String = "doc_id",
      textCol: String = "text"): Dataset[Media] = {
    val spark = documents.sparkSession
    import spark.implicits._
    spread(documents.select(col(idCol).cast("long").as("doc_id"),
        encode(col(textCol), "UTF-8").as("payload")))
      .as[Media]
      .mapPartitions { it =>
        it.map { m =>
          val bytes = if (m.payload.isEmpty) Array[Byte](0) else m.payload
          val n = bytes.length
          val samples = Array.tabulate(nSamples) { i =>
            (((bytes(2 * i % n) & 0xff) << 8 |
              (bytes((2 * i + 1) % n) & 0xff)) - 32768).toShort
          }
          Media(m.doc_id, encodeWav(sampleRate, 1, samples))
        }
      }
  }

  /** Batch image feature extraction over a binary column: REAL BMP
    * decode + per-channel means. Runs per-partition (one decoder
    * instance per partition, amortized setup) — the Scala analogue of
    * a pandas-batched UDF pipeline.
    */
  def extractFeatures(df: Dataset[Media]): Dataset[MediaFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val img = decodeBmp(m.payload)
        val px = img.width * img.height
        var rs = 0L; var gs = 0L; var bs = 0L
        var k = 0
        while (k < px) {
          rs += img.rgb(3 * k) & 0xff
          gs += img.rgb(3 * k + 1) & 0xff
          bs += img.rgb(3 * k + 2) & 0xff
          k += 1
        }
        MediaFeatures(m.doc_id, m.payload.length, img.width, img.height,
          rs.toDouble / px / 255.0,
          gs.toDouble / px / 255.0,
          bs.toDouble / px / 255.0)
      }
    }
  }

  /** Batch image resize over a binary column: BMP in → BMP out, same
    * row count, real decode/re-encode via [[bmpResize]].
    */
  def resize(df: Dataset[Media], outW: Int, outH: Int): Dataset[Media] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions(it => it.map(m => Media(m.doc_id, bmpResize(m.payload, outW, outH))))
  }

  /** Batch audio feature extraction: REAL WAV decode + mean |sample|. */
  def wavFeatures(df: Dataset[Media]): Dataset[AudioFeatures] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val wav = decodeWav(m.payload)
        var s = 0L
        wav.samples.foreach(v => s += math.abs(v.toLong))
        AudioFeatures(m.doc_id, wav.sampleRate, wav.samples.length,
          s.toDouble / wav.samples.length)
      }
    }
  }

  final case class ImageHash(doc_id: Long, dhash_hi: Long, dhash_lo: Long)

  /** Perceptual difference hash (dHash, 64 bit): nearest-neighbor
    * downsample to a 9×8 integer-grayscale grid, bit (y·8+x) set iff
    * gray(x+1, y) > gray(x, y). Identical frames collide exactly;
    * re-encodes/crops of the same frame differ in a few bits, so the
    * hash is both the image-level exact-dedup key and (via hamming
    * distance) the near-dup relaxation. Returned as two unsigned
    * 32-bit halves carried in longs, so a signed-64 SQL replay needs
    * no unsigned arithmetic.
    */
  def dhash(df: Dataset[Media]): Dataset[ImageHash] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val img = decodeBmp(m.payload)
        def gray(x: Int, y: Int): Int = {
          val sx = x * img.width / 9
          val sy = y * img.height / 8
          val p = (sy * img.width + sx) * 3
          ((img.rgb(p) & 0xff) + (img.rgb(p + 1) & 0xff) +
            (img.rgb(p + 2) & 0xff)) / 3
        }
        var hi = 0L
        var lo = 0L
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            if (gray(x + 1, y) > gray(x, y)) {
              val j = y * 8 + x
              if (j < 32) lo |= 1L << j else hi |= 1L << (j - 32)
            }
            x += 1
          }
          y += 1
        }
        ImageHash(m.doc_id, hi, lo)
      }
    }
  }

  /** Near-duplicate image pairs by dHash hamming distance — the image
    * counterpart of MinHash-LSH text dedup: split the 64-bit hash
    * into four 16-bit bands, bucket-join on any shared band, then
    * keep candidates with exact hamming ≤ `maxHamming`. By
    * pigeonhole, any pair within hamming 3 shares at least one of the
    * 4 bands intact, so recall is EXACT for maxHamming ≤ 3 (and the
    * band join is only a pruner, never the verdict).
    *
    * Scale shape: the shuffle carries (id, band, value) triples —
    * four rows per image, never pixels; candidate expansion follows
    * [[Dedup.minhashLshPairs]]' capped-bucket contract (a degenerate
    * bucket — flat images hashing identically — is dropped before any
    * pair expansion, with observe()d drop metrics); the hamming
    * verify is one codegen'd xor/bit_count per candidate pair.
    *
    * Output: (idA, idB, hamming), idA < idB.
    */
  def dhashPairs(
      hashes: DataFrame,
      maxHamming: Int = 3,
      bucketCap: Int = graft.GraftConf.LshBucketCap): DataFrame = {
    val bands = hashes.select(
      col("doc_id").as("id"),
      posexplode(array(
        shiftright(col("dhash_hi"), 16),
        col("dhash_hi").bitwiseAND(lit(65535L)),
        shiftright(col("dhash_lo"), 16),
        col("dhash_lo").bitwiseAND(lit(65535L)))).as(Seq("band", "bv")))
    val sized = bands
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("band", "bv")))
    val candidates = PairForms
      .memberPairs(PairForms.capDrop(sized, "dhash_bucket", col("bn"), bucketCap),
        Seq("band", "bv"), col("id"), pair = _ < _, as = ("idA", "idB"))
      .distinct()
    val h = hashes.select(col("doc_id"), col("dhash_hi"), col("dhash_lo"))
    candidates
      .join(h.select(col("doc_id").as("idA"),
        col("dhash_hi").as("hiA"), col("dhash_lo").as("loA")), Seq("idA"))
      .join(h.select(col("doc_id").as("idB"),
        col("dhash_hi").as("hiB"), col("dhash_lo").as("loB")), Seq("idB"))
      .withColumn("hamming",
        (expr("bit_count(hiA ^ hiB)") + expr("bit_count(loA ^ loB)")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("idA"), col("idB"), col("hamming"))
  }

  final case class AudioWindow(doc_id: Long, win_idx: Int, energy: Long, rms: Double)

  /** Tumbling-window audio energy: split the decoded PCM stream into
    * fixed `win`-sample windows, per window the exact integer energy
    * Σ s² and the RMS — the voice-activity / silence-detection
    * primitive. Energy stays in exact longs so any engine sums it
    * identically; only the final RMS touches floating point (IEEE
    * sqrt is correctly rounded everywhere).
    */
  def wavWindows(df: Dataset[Media], win: Int): Dataset[AudioWindow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.flatMap { m =>
        val wav = decodeWav(m.payload)
        val nWin = wav.samples.length / win
        (0 until nWin).iterator.map { w =>
          var e = 0L
          var i = w * win
          while (i < (w + 1) * win) {
            val s = wav.samples(i).toLong
            e += s * s
            i += 1
          }
          AudioWindow(m.doc_id, w, e, math.sqrt(e.toDouble / win))
        }
      }
    }
  }

  final case class AudioQuality(
      doc_id: Long, n_samples: Long, n_clipped: Long, n_mean_cross: Long)

  /** Audio quality screen per clip (G117) — the two ingestion gates a
    * speech pipeline runs before wasting ASR/feature compute:
    * clipping (|s| ≥ `clipLevel` — saturated capture, distortion) and
    * the MEAN-crossing count (the activity/oscillation measure; the
    * textbook zero-crossing rate degenerates on any DC-offset signal,
    * so the crossing reference is the clip's own mean, compared in
    * EXACT integers via the multiply-through s·n vs Σs — no mean
    * rounding).
    *
    * Scale shape: the [[wavFeatures]] contract — one decoder pass per
    * partition (two in-memory passes over the decoded samples: sum,
    * then flips), payload bytes never ride an exchange.
    */
  def wavQuality(
      df: Dataset[Media],
      clipLevel: Int = 20000): Dataset[AudioQuality] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val wav = decodeWav(m.payload)
        val n = wav.samples.length
        var sum = 0L
        var clipped = 0L
        var i = 0
        while (i < n) {
          val s = wav.samples(i).toLong
          sum += s
          if (math.abs(s) >= clipLevel) clipped += 1
          i += 1
        }
        var cross = 0L
        var i2 = 1
        while (i2 < n) {
          val a = wav.samples(i2 - 1).toLong * n >= sum
          val b = wav.samples(i2).toLong * n >= sum
          if (a != b) cross += 1
          i2 += 1
        }
        AudioQuality(m.doc_id, n.toLong, clipped, cross)
      }
    }
  }

  final case class ImageHist(
      doc_id: Long, width: Int, height: Int, channel: String, bin: Int,
      cnt: Long)

  /** Per-channel luminance histogram over a decoded image (G118) —
    * the decode side of the image-quality screen: REAL BMP decode,
    * each channel's bytes binned at `binWidth` levels. Returns the
    * HISTOGRAM ROWS (doc × channel × occupied bin — ≤ 256/binWidth
    * rows each) so the analytics (entropy, dominant-bin share,
    * washed-out/black-frame flags) stay declarative Spark expressions
    * over an aggregate-grain frame — the "decode in the codec
    * contract, analyze in the engine" split of G11/G12.
    */
  def imageHistogram(
      df: Dataset[Media],
      binWidth: Int = 32): Dataset[ImageHist] = {
    require(binWidth > 0 && 256 % binWidth == 0, "binWidth must divide 256")
    val spark = df.sparkSession
    import spark.implicits._
    val nBins = 256 / binWidth
    df.mapPartitions { it =>
      it.flatMap { m =>
        val img = decodeBmp(m.payload)
        val px = img.width * img.height
        val counts = Array.ofDim[Long](3, nBins)
        var k = 0
        while (k < px) {
          counts(0)((img.rgb(3 * k) & 0xff) / binWidth) += 1
          counts(1)((img.rgb(3 * k + 1) & 0xff) / binWidth) += 1
          counts(2)((img.rgb(3 * k + 2) & 0xff) / binWidth) += 1
          k += 1
        }
        for {
          (ch, ci) <- Seq("r" -> 0, "g" -> 1, "b" -> 2)
          bin <- 0 until nBins
          if counts(ci)(bin) > 0
        } yield ImageHist(m.doc_id, img.width, img.height, ch, bin,
          counts(ci)(bin))
      }
    }
  }

  final case class AudioGain(
      doc_id: Long, n_samples: Long, rms: Double,
      gain_mu: Option[Long], n_clipped: Long)

  /** Loudness-normalization plan per clip — the pre-flight report an
    * audio pipeline computes BEFORE rewriting payloads: REAL WAV
    * decode → full-clip RMS → the gain that brings the clip to
    * `targetRms` (capped at `maxGain`), plus how many samples would
    * clip int16 at that gain. The gain publishes in integer
    * MICRO-units and the clip test runs in exact integers against the
    * published value (|s|·gain_mu > 32767·10⁶) — threshold
    * comparisons never ride raw doubles (the q198 contract). A silent
    * clip (rms = 0) gets a null gain and clips nothing.
    *
    * Scale shape: the [[wavFeatures]] contract — one decoder pass per
    * partition, payload bytes never ride an exchange.
    */
  def wavGain(
      df: Dataset[Media],
      targetRms: Double = 10000.0,
      maxGain: Double = 4.0): Dataset[AudioGain] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val wav = decodeWav(m.payload)
        val n = wav.samples.length
        var e = 0L
        wav.samples.foreach(v => e += v.toLong * v.toLong)
        val rms = math.sqrt(e.toDouble / n)
        if (rms == 0) AudioGain(m.doc_id, n.toLong, 0.0, None, 0L)
        else {
          // positive domain: floor(x+0.5) == SQL round-away-from-zero
          val gainMu = math.round(math.min(maxGain, targetRms / rms) * 1000000.0)
          val clipped = wav.samples.count(v =>
            math.abs(v.toLong) * gainMu > 32767000000L)
          AudioGain(m.doc_id, n.toLong, rms, Some(gainMu), clipped.toLong)
        }
      }
    }
  }

  final case class AudioResample(
      doc_id: Long, n_in: Long, n_out: Long, energy_out: Long, rms_out: Double)

  /** Sample-rate DECIMATION plan per clip — the "convert everything
    * to 16 kHz mono" stage every speech pipeline runs before
    * featurization: REAL WAV decode, then `factor`:1 downsampling by
    * block averaging (the box-filter anti-alias, the standard cheap
    * decimator). Each output sample is floor-of-double of the block
    * mean — the engine-portable division (integer div rounds toward
    * zero on negatives and is NOT portable); the output energy Σs'²
    * is exact integer, so the report hash-gates bit-identically and
    * only the final RMS is a float.
    *
    * Scale shape: the [[wavFeatures]] contract — one decoder pass per
    * partition, payload bytes never ride an exchange; output is one
    * doc-grain row per clip.
    */
  def wavResample(df: Dataset[Media], factor: Int = 2): Dataset[AudioResample] = {
    require(factor >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val wav = decodeWav(m.payload)
        val n = wav.samples.length
        val nOut = n / factor
        var e = 0L
        var j = 0
        while (j < nOut) {
          var acc = 0L
          var i = j * factor
          while (i < (j + 1) * factor) { acc += wav.samples(i); i += 1 }
          val s = math.floor(acc.toDouble / factor).toLong
          e += s * s
          j += 1
        }
        val rms = if (nOut == 0) 0.0 else math.sqrt(e.toDouble / nOut)
        AudioResample(m.doc_id, n.toLong, nOut.toLong, e, rms)
      }
    }
  }

  final case class Frame(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling for "video" payloads: emit every `stride`-th
    * fixed-size window of the payload as a frame row — the one-to-many
    * expansion shape (explode at the typed level) a real video pipeline
    * needs. Runs per-partition like [[extractFeatures]].
    */
  def sampleFrames(
      df: DataFrame,
      frameBytes: Int = 64,
      stride: Int = 4,
      idCol: String = "doc_id",
      binCol: String = "payload"): Dataset[Frame] = {
    val spark = df.sparkSession
    import spark.implicits._
    spread(df.select(col(idCol).cast("long"), col(binCol)))
      .as[Media]
      .mapPartitions { it =>
        it.flatMap { m =>
          val nFrames = m.payload.length / frameBytes
          (0 until nFrames by stride).iterator.map { f =>
            Frame(m.doc_id, f,
              java.util.Arrays.copyOfRange(m.payload, f * frameBytes, (f + 1) * frameBytes))
          }
        }
      }
  }

  /** Video near-duplicate pairs by frame-fingerprint overlap — the
    * content-ID primitive: a "video" is its grid of fixed-size frame
    * payloads; each frame fingerprints to md5; two videos sharing >=
    * `minShared` distinct frames are near-dup candidates scored by
    * frame-set Jaccard (reorder/trim tolerant), plus the MODAL frame
    * OFFSET between shared frames — the "where does the duplicated
    * clip sit" alignment a set score alone can't give. Here frames are
    * byte windows of the text payload; on real video the same flow
    * consumes decoder-emitted frames ([[sampleFrames]]) with a
    * perceptual [[dhash]] instead of md5 — identical orchestration.
    *
    * Scale shape: fingerprints are computed in the scan projection —
    * payload bytes never ride an exchange (only (id, pos, md5) do);
    * per-video distinct-frame collapse is an (id, sig) combine;
    * candidate pairs come from df-capped posting lists on the frame
    * sig (hot boilerplate frames dropped BEFORE pair expansion,
    * observe()d, never silent); the offset histogram and modal pick
    * ride ONE (pair) window; set sizes attach id-keyed.
    *
    * Output: (idA, idB, shared, jaccard, offset_mode), idA < idB.
    */
  def videoNearDup(
      df: DataFrame,
      frameBytes: Int = 16,
      minShared: Int = 3,
      dfCap: Int = 16,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(frameBytes >= 1 && minShared >= 1)
    val t = col(textCol)
    val frames = spread(df)
      .filter(length(t) >= frameBytes)
      .select(col(idCol).as("id"),
        posexplode(transform(
          sequence(lit(0), (length(t).cast("long").divide(frameBytes))
            .cast("long") - 1),
          f => md5(t.substr(f.cast("int") * frameBytes + 1, lit(frameBytes))))))
      .select(col("id"), col("pos").cast("long").as("pos"), col("col").as("sig"))
    // distinct frame set per video, first-occurrence position
    val ff = frames.groupBy("id", "sig").agg(min("pos").as("pos"))
    val sizes = ff.groupBy("id").agg(count(lit(1)).as("nf"))
    val posting = ff.groupBy("sig")
      .agg(count(lit(1)).as("dfc"), collect_list(struct(col("id"), col("pos"))).as("vs"))
    val pairs = PairForms
      .listPairs(
        PairForms.capDrop(posting, "video_df", col("dfc"), dfCap, largest = Some("max_df")),
        "vs")
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        (col("b.pos") - col("a.pos")).as("off"))
    val w = Window.partitionBy("idA", "idB")
    val scored = pairs
      .groupBy("idA", "idB", "off").agg(count(lit(1)).as("cnt"))
      .withColumn("shared", sum(col("cnt")).over(w))
      .withColumn("__rn", row_number().over(w.orderBy(col("cnt").desc, col("off"))))
      .filter(col("__rn") === 1 && col("shared") >= minShared)
    scored
      .join(sizes.select(col("id").as("idA"), col("nf").as("__na")), Seq("idA"))
      .join(sizes.select(col("id").as("idB"), col("nf").as("__nb")), Seq("idB"))
      .select(col("idA"), col("idB"), col("shared"),
        round(col("shared").cast("double") /
          (col("__na") + col("__nb") - col("shared")), 3).as("jaccard"),
        col("off").as("offset_mode"))
  }

  /** Demo pipeline on the documents table: encode each text as a real
    * BMP, then decode it back and extract channel statistics — the
    * full binary-column round trip the oracle recomputes byte-exactly.
    */
  def documentFeatures(documents: DataFrame): DataFrame =
    extractFeatures(textToBmp(documents))
      .toDF()
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
        round(col("r_mean"), 4).as("r_mean"),
        round(col("g_mean"), 4).as("g_mean"),
        round(col("b_mean"), 4).as("b_mean"))

  final case class ImageGrayHist(
      doc_id: Long, width: Int, height: Int, gray: Int, cnt: Long)

  /** Per-image GRAY histogram (full 256 levels) over a decoded image —
    * the luminance frame for threshold analytics (Otsu, exposure):
    * gray = (299r + 587g + 114b) div 1000, the integer ITU-R 601
    * luma. Emits occupied-level rows (≤ min(256, pixels) per image)
    * so the threshold search stays declarative over an
    * aggregate-grain frame — the G118 decode/analyze split.
    */
  def imageGrayHistogram(df: Dataset[Media]): Dataset[ImageGrayHist] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.flatMap { m =>
        val img = decodeBmp(m.payload)
        val px = img.width * img.height
        val counts = Array.ofDim[Long](256)
        var k = 0
        while (k < px) {
          val r = img.rgb(3 * k) & 0xff
          val g = img.rgb(3 * k + 1) & 0xff
          val b = img.rgb(3 * k + 2) & 0xff
          counts((299 * r + 587 * g + 114 * b) / 1000) += 1
          k += 1
        }
        for (gy <- 0 until 256 if counts(gy) > 0)
          yield ImageGrayHist(m.doc_id, img.width, img.height, gy, counts(gy))
      }
    }
  }

  final case class ImageColorMoments(
      doc_id: Long, n_px: Long, s_rg: Long, s_rg2: Long, s_yb2: Long,
      s_yb22: Long)

  /** Per-image opponent-channel moment sums for the Hasler–Süsstrunk
    * colorfulness metric: rg = R − G and DOUBLED yb2 = R + G − 2B
    * (so the half stays exact), with Σ and Σ² accumulated in exact
    * longs inside the decoder — one row per image, the analytics
    * chain stays declarative. The G11 per-partition codec contract:
    * payload bytes never ride an exchange.
    */
  def imageColorMoments(df: Dataset[Media]): Dataset[ImageColorMoments] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.mapPartitions { it =>
      it.map { m =>
        val img = decodeBmp(m.payload)
        val px = img.width * img.height
        var sRg = 0L; var sRg2 = 0L; var sYb = 0L; var sYb2 = 0L
        var k = 0
        while (k < px) {
          val r = img.rgb(3 * k) & 0xff
          val g = img.rgb(3 * k + 1) & 0xff
          val b = img.rgb(3 * k + 2) & 0xff
          val rg = (r - g).toLong
          val yb = (r + g - 2 * b).toLong
          sRg += rg; sRg2 += rg * rg; sYb += yb; sYb2 += yb * yb
          k += 1
        }
        ImageColorMoments(m.doc_id, px.toLong, sRg, sRg2, sYb, sYb2)
      }
    }
  }
}
