package graft

import graft.ops.{ImageIoRef, Multimodal}
import graft.ops.Multimodal.{BmpCodec, ImageIoCodec, PngCodec}
import org.scalatest.funsuite.AnyFunSuite

/** ImageIoCodec (JDK `javax.imageio`) against the hand-rolled codecs: two
  * entirely independent decoder implementations must agree BIT-FOR-BIT on
  * the lossless formats (the strongest cross-codec evidence either decoder
  * can get), JPEG must be deterministic-within-JDK and near-exact, and the
  * mixed-format Spark stage must sniff all of them in one pass.
  */
class ImageIoCodecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val px = (x: Int, y: Int) =>
    ((x * 37 + y * 101) % 256, (x * 7 + y * 151) % 256, (x * 201 + y * 13) % 256)

  test("cross-codec PNG: ImageIO's decode of PngCodec.encode == PngCodec's own decode, bit-for-bit") {
    for (w <- Seq(1, 3, 7); h <- Seq(1, 2, 6)) {
      val bytes = PngCodec.encode(w, h, px)
      val ours = PngCodec.decode(bytes)
      val jdk = ImageIoCodec.decode(bytes)
      assert((jdk.width, jdk.height, jdk.rSum, jdk.gSum, jdk.bSum) ===
        (ours.width, ours.height, ours.rSum, ours.gSum, ours.bSum),
        s"codec disagreement at ${w}x$h")
    }
  }

  test("cross-codec BMP: ImageIO's decode of BmpCodec.encode == BmpCodec's own decode, bit-for-bit") {
    for (w <- Seq(1, 2, 5, 8); h <- Seq(1, 3)) {
      val bytes = BmpCodec.encode(w, h, px)
      val ours = BmpCodec.decode(bytes)
      val jdk = ImageIoCodec.decode(bytes)
      assert((jdk.width, jdk.height, jdk.rSum, jdk.gSum, jdk.bSum) ===
        (ours.width, ours.height, ours.rSum, ours.gSum, ours.bSum),
        s"codec disagreement at ${w}x$h (row padding / BGR / bottom-up)")
    }
  }

  test("JPEG: deterministic within this JDK, dims exact, uniform color within the lossy band") {
    // a uniform 16x16 image: JPEG's DC-only blocks reconstruct it almost
    // exactly; per-channel error bounded by quantization of the DC term
    val w = 16; val h = 16
    val bytes = ImageIoRef.encodeJpeg(w, h, (_, _) => (120, 60, 200))
    val d1 = ImageIoCodec.decode(bytes)
    val d2 = ImageIoCodec.decode(bytes)
    assert(d1 === d2, "same bytes, same JDK -> identical features")
    assert((d1.width, d1.height) === (w, h))
    val wtSum = (for (y <- 0 until h; x <- 0 until w) yield 1L + x + y.toLong * w).sum
    def band(sum: Long, channel: Int, tol: Int): Unit = {
      val exact = wtSum * channel
      assert(math.abs(sum - exact) <= wtSum * tol,
        s"channel $channel drifted past ±$tol per pixel: got $sum expected ~$exact")
    }
    band(d1.rSum, 120, 3); band(d1.gSum, 60, 3); band(d1.bSum, 200, 3)
  }

  test("non-image bytes are refused loudly") {
    intercept[IllegalArgumentException](
      ImageIoCodec.decode("definitely not an image".getBytes("UTF-8")))
    intercept[IllegalArgumentException](ImageIoCodec.decode(Array.emptyByteArray))
  }

  test("extractImageFeatures sniffs a MIXED-format column (PNG + BMP + JPEG) in one stage") {
    import spark.implicits._
    val media = (0L until 30L).map { id =>
      val w = 1 + (id % 5).toInt; val h = 1 + (id % 3).toInt
      val pixel = (x: Int, y: Int) =>
        (((id * 31 + x) % 256).toInt, ((id * 17 + y) % 256).toInt, ((id + x + y) % 256).toInt)
      val bytes = (id % 3) match {
        case 0 => PngCodec.encode(w, h, pixel)
        case 1 => BmpCodec.encode(w, h, pixel)
        case _ => ImageIoRef.encodeJpeg(w, h, pixel)
      }
      (id, bytes)
    }
    val got = Multimodal.extractImageFeatures(media.toDF("id", "media").repartition(5))
      .toDF().orderBy("id")
      .as[(Long, Long, Int, Int, Long, Long, Long)].collect().toSeq
    val expected = media.map { case (id, bytes) =>
      val d = ImageIoCodec.decode(bytes)
      (id, bytes.length.toLong, d.width, d.height, d.rSum, d.gSum, d.bSum)
    }
    assert(got === expected)
  }
}
