package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

// Reference twins of production kernels and operators. Each is the
// interpreted or typed form of a compiled path in src/main; the specs
// compare the production path against it, row for row or bit for bit.
// They live in package graft.ops so package-private members stay in reach.

/** Interpreted HOF forms of [[TextAnalysis]]'s native statistics (one
  * array scan per statistic); TextOpsSpec pins the kernel equal to them.
  */
object TextAnalysisRef {
  import TextAnalysis.{langMarkers, stopwords, words}

  /** HOF spec form of [[TextAnalysis.tokenCount]]. */
  def tokenCountHof(text: Column): Column = size(words(text))

  /** HOF spec form of [[TextAnalysis.punctRatio]]. */
  def punctRatioHof(text: Column): Column =
    when(length(text) > 0,
      length(regexp_replace(text, "[^.!?,;:]", "")).cast("double") / length(text))
      .otherwise(lit(0.0))

  /** HOF spec form of [[TextAnalysis.stopwordRatio]]. */
  def stopwordRatioHof(text: Column): Column = {
    val ws = words(text)
    when(size(ws) > 0,
      size(filter(ws, w => w.isInCollection(stopwords))).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /** HOF spec form of [[TextAnalysis.meanWordLen]]. */
  def meanWordLenHof(text: Column): Column = {
    val ws = words(text)
    when(size(ws) > 0,
      aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / size(ws))
      .otherwise(lit(0.0))
  }

  /** HOF spec form of [[TextAnalysis.langScores]]. */
  def langScoresHof(text: Column): Seq[(String, Column)] = {
    val ws = words(text)
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(ws, w => w.isInCollection(markers)))
    }
  }

  /** HOF reference form of [[TextAnalysis.fingerprint]] (kept for kernel
    * equivalence tests).
    */
  def fingerprintHof(text: Column): Column =
    aggregate(
      transform(split(text, ""), c => ascii(c).cast("long")),
      lit(0L),
      (h, c) => (h * 31L + c) % 1000000007L)
}

/** Interpreted HOF form of [[Dedup.simhash]]. */
object DedupRef {
  import Dedup.{DefaultSimhashBits, P}

  /** HOF reference form of [[Dedup.simhash]] (kept for kernel equivalence tests).
    * Mirrors the kernel's vote source exactly, including the WIDE path: for
    * bits > 32 the votes past bit 29 come from the second-level remix
    * h2 = (h² mod P · 2654435761 + 11) mod P — the same 60-bit widening
    * [[graft.functions.TextFunctions.simHash]] documents (bits ≤ 32 reads
    * only h, so bits 30-31 vote constant −1 in both forms).
    */
  def simhashHof(text: Column, bits: Int = DefaultSimhashBits): Column = {
    require(bits <= 60, s"simhashHof supports at most 60 bits, got $bits")
    val wide = bits > 32
    val ws = TextAnalysis.words(text)
    val hashes = transform(ws, w => TextAnalysis.fingerprint(w))
    def bitOf(h: Column, j: Int): Column =
      if (j < 30) shiftright(h, j).bitwiseAND(1L)
      else if (!wide) lit(0L)
      else shiftright((h * h % P * 2654435761L + 11L) % P, j - 30).bitwiseAND(1L)
    val bitCols = (0 until bits).map { j =>
      val contrib = aggregate(hashes, lit(0L),
        (acc, h) => acc + (bitOf(h, j) * 2L - 1L))
      when(contrib > 0, lit(1L)).otherwise(lit(0L)) * lit(1L << j)
    }
    bitCols.reduce(_ + _)
  }
}

/** Row shape for the typed OR-levels variant. */
case class OrInputRow(symbol: String, session_date: java.sql.Date,
                      ts: java.sql.Timestamp, high: Double, low: Double, close: Double,
                      or_start: java.sql.Timestamp, or_end: java.sql.Timestamp,
                      in_or: Boolean, after: Boolean)

case class OrLevelRow(symbol: String, session_date: java.sql.Date, tz: String,
                      or_start: java.sql.Timestamp, or_end: java.sql.Timestamp,
                      or_high: Double, or_low: Double, break_dir: String,
                      break_ts: Option[java.sql.Timestamp],
                      retest_ts: Option[java.sql.Timestamp],
                      retest_price: Option[Double])

/** Direct form of the sample-quantile sketch that
  * [[Quantiles.sampleQuantileMerge]] folds to; PropertySpec and
  * SketchesSpec pin the fold equal to it.
  */
object QuantilesRef {
  import Quantiles.{sampleQuantileMerge, sampleQuantileState}

  /** Direct (single-pass) form of the sample-quantile sketch: bottom-k
    * sample of the whole input per group, then interpolated percentiles of
    * the sample. Defined AS state+merge over a constant partition key so
    * the fold-equivalence is structural, not re-derived arithmetic.
    */
  def sampleQuantiles(df: DataFrame, groupCols: Seq[String], idCol: String,
                      valueCol: String, k: Int,
                      specs: Seq[(Double, String)]): DataFrame = {
    val st = sampleQuantileState(df.withColumn("_part", lit(0)),
      groupCols, "_part", idCol, valueCol, k)
    sampleQuantileMerge(st, groupCols, "_part", k, specs)
  }
}

/** Typed twin of [[OrLevels.build]]. */
object OrLevelsRef {

  /** Typed variant (SURVEY §2.10's direct mapping of the reference's
    * per-session loop): `groupByKey(session).flatMapGroups` with an in-group
    * sort — the Scala analogue of applyInPandas. Semantically identical to
    * [[OrLevels.build]] (an equivalence property test pins this); kept
    * because (a) it is the natural home for per-session logic too
    * imperative for conditional aggregation, and (b) it cross-validates the
    * expression implementation on arbitrary data. Scale: one shuffle on (symbol,
    * session_date); each group is one session of bars (<=1440 rows), sorted
    * in memory per group.
    */
  def buildTyped(df: DataFrame, tz: String = "UTC", orWindow: String = "00:00-01:00"): DataFrame = {
    val hms = orWindow.split("-")
    def hm(s: String): (Int, Int) = { val a = s.split(":"); (a(0).toInt, a(1).toInt) }
    val (sh, sm) = hm(hms(0))
    val (eh, em) = hm(hms(1))
    val spark = df.sparkSession
    import spark.implicits._

    val local = from_utc_timestamp(col("ts"), tz)
    val orStartLocal = make_timestamp(year(local), month(local), dayofmonth(local), lit(sh), lit(sm), lit(0))
    val orEndLocal = make_timestamp(year(local), month(local), dayofmonth(local), lit(eh), lit(em), lit(0))
    val prepared = df.select(
      col("symbol"),
      to_date(local).as("session_date"),
      col("ts"), col("high"), col("low"), col("close"),
      to_utc_timestamp(orStartLocal, tz).as("or_start"),
      to_utc_timestamp(orEndLocal, tz).as("or_end"),
      (local >= orStartLocal && local < orEndLocal).as("in_or"),
      (local >= orEndLocal).as("after"),
    ).as[OrInputRow]

    prepared
      .groupByKey(r => (r.symbol, r.session_date.toString))
      .flatMapGroups { (key: (String, String), it: Iterator[OrInputRow]) =>
        val sym = key._1
        val rows = it.toArray.sortBy(_.ts.getTime)
        val orSlice = rows.filter(_.in_or)
        if (orSlice.isEmpty) Iterator.empty
        else {
          val orHigh = orSlice.map(_.high).max
          val orLow = orSlice.map(_.low).min
          val after = rows.filter(_.after)
          val up = after.find(_.close > orHigh).map(_.ts)
          val dn = after.find(_.close < orLow).map(_.ts)
          val (dir, breakTs) = (up, dn) match {
            case (Some(u), Some(d)) => if (u.getTime <= d.getTime) ("UP", Some(u)) else ("DOWN", Some(d))
            case (Some(u), None) => ("UP", Some(u))
            case (None, Some(d)) => ("DOWN", Some(d))
            case _ => ("NONE", None)
          }
          val retest = dir match {
            case "UP" => after.find(_.low <= orHigh)
            case "DOWN" => after.find(_.high >= orLow)
            case _ => None
          }
          val head = rows.head
          Iterator.single(OrLevelRow(sym, head.session_date, tz,
            head.or_start, head.or_end, orHigh, orLow, dir, breakTs,
            retest.map(_.ts), retest.map(_.close)))
        }
      }
      .toDF()
  }
}

/** Per-band column composition of random-hyperplane LSH keys: the reference
  * for the [[graft.functions.BandedLshKeys]] kernel.
  */
object SimilarityRef {
  import graft.functions.VectorFunctions.dotNative

  /** Deterministic pseudo-random hyperplanes: component j of plane p is
    * derived from a portable integer hash, mapped to [-1, 1).
    *
    * The hash is the SPLITMIX64 finalizer over the flat index — the
    * xor-shift-multiply cascade matters, not just any arithmetic: the
    * previous affine form (`seed·K1 + idx·K2`) made plane p+1 a tiny phase
    * shift of plane p (at dim = 64, adjacent planes differ by 64·K2 mod
    * 2^64 ≈ 0.5% of the domain per component), so all nPlanes sign bits
    * almost always agreed and the bucket key collapsed to ~1 effective
    * bit — LSH degenerated to one giant bucket (r14 review finding;
    * SimilaritySpec pins plane decorrelation via bucket dispersion).
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      // delegates to the ONE plane-value source (r15) so the composition
      // form and the BandedLshKeys kernel can never drift
      (0 until dim).map(j => graft.functions.VectorKernels.planeValue(seed, p, dim, j))
    }

  /** Random-hyperplane LSH bucket key: sign bits of dot(v, plane_p). */
  def lshKey(vec: Column, planes: Seq[Seq[Double]]): Column = {
    val bits = planes.zipWithIndex.map { case (plane, p) =>
      val pl = array(plane.map(lit): _*)
      when(dotNative(vec, pl) > 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}

/** Fixture encoder for the JPEG arm of [[Multimodal.ImageIoCodec]]. */
object ImageIoRef {

  /** JPEG fixture encoder (JDK writer). Lossy by nature — fixtures built
    * with it pin determinism and tolerance bands, never exact sums.
    */
  def encodeJpeg(width: Int, height: Int, pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    require(width > 0 && height > 0, "need positive dimensions")
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until height; x <- 0 until width) {
      val (r, g, b) = pixel(x, y)
      img.setRGB(x, y, (r & 0xff) << 16 | (g & 0xff) << 8 | (b & 0xff))
    }
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, "jpg", bos), "no JPEG writer available")
    bos.toByteArray
  }
}
