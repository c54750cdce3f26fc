package lakebench

import scala.collection.mutable

/** Seeded, stateless hashing: every generated value is a pure function of
  * (seed, coordinates), so any bar or document can be regenerated on demand
  * by the reference checks without storing it.
  */
object Mix {
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed))((acc, x) => mix(acc ^ x))
  /** Uniform in [0, 1). */
  def unit(seed: Long, xs: Long*): Double = (h(seed, xs: _*) >>> 11) * (1.0 / (1L << 53))
  def below(n: Int, seed: Long, xs: Long*): Int = (unit(seed, xs: _*) * n).toInt
}

/** One M1 bar. `minute` is epoch minutes of the bar's open time. */
case class Bar(sym: Int, minute: Long, open: Double, high: Double, low: Double,
               close: Double, volume: Double, synth: Boolean = false) {
  def tsMs: Long = minute * 60000L
  /** Content hash over every value the lake stores for the bar. */
  def checksum: Long = Mix.h(sym.toLong, minute, java.lang.Double.doubleToLongBits(open),
    java.lang.Double.doubleToLongBits(high), java.lang.Double.doubleToLongBits(low),
    java.lang.Double.doubleToLongBits(close), java.lang.Double.doubleToLongBits(volume),
    if (synth) 1L else 0L)
}

/** Candle generator. Prices are cents-rounded and volumes whole numbers, so
  * OHLCV folds are exact in any summation order. Version 1 is the original
  * bar; a restated bar carries version >= 2 with a shifted close and volume.
  */
case class CandleGen(seed: Long) {
  val symbols: Seq[String] = Seq("BTC-USD", "ETH-USD", "SOL-USD", "ADA-USD",
    "XRP-USD", "DOT-USD", "LTC-USD", "BNB-USD")
  /** Binance API symbol -> index, matching graft's SymbolMap (X-USD -> XUSDT). */
  def apiIndex(api: String): Int = symbols.indexWhere(s => s.stripSuffix("-USD") + "USDT" == api)

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  private def mid(sym: Int, minute: Long): Double = {
    val base = 100.0 * (sym + 1)
    base * (1.0 + 0.04 * math.sin(2 * math.Pi * minute / 10080.0 + sym) +
      0.01 * math.sin(2 * math.Pi * minute / 97.0)) +
      (Mix.unit(seed, sym, minute, 1) - 0.5) * 0.002 * base
  }

  def bar(sym: Int, minute: Long, version: Int = 1): Bar = {
    val base = 100.0 * (sym + 1)
    val open = r2(mid(sym, minute))
    val close0 = r2(mid(sym, minute + 1))
    val close = if (version <= 1) close0 else r2(close0 + 0.13 * version)
    val high = r2(math.max(open, close) + Mix.unit(seed, sym, minute, 2) * 0.001 * base)
    val low = r2(math.min(open, close) - Mix.unit(seed, sym, minute, 3) * 0.001 * base)
    val vol = (1 + Mix.below(1000, seed, sym, minute, 4) + (if (version <= 1) 0 else 17 * version)).toDouble
    Bar(sym, minute, open, high, low, close, vol)
  }
}

/** OHLCV fold over M1 bars into left-labelled buckets of `minutes`. */
object Fold {
  def ohlcv(bars: Seq[Bar], minutes: Int): Map[(Int, Long), Bar] =
    bars.groupBy(b => (b.sym, Math.floorDiv(b.minute, minutes.toLong) * minutes)).map {
      case (k, bs) =>
        val s = bs.sortBy(_.minute)
        k -> Bar(k._1, k._2, s.head.open, s.map(_.high).max, s.map(_.low).min,
          s.last.close, s.map(_.volume).sum)
    }
}

/** One synthetic document of a curation shard. `group` is the planted
  * near-duplicate group (-1 for none); `contaminated` marks a document that
  * carries a word trigram copied from the eval set.
  */
case class Doc(id: Long, lang: String, text: String, group: Int, contaminated: Boolean)

/** Document generator: per-language syllable vocabularies, planted
  * near-duplicate groups (a base text plus copies with one word replaced),
  * long-text outliers, and eval-set contamination.
  */
case class DocGen(seed: Long, shardSize: Int, dupShare: Double = 0.3,
                  contamShare: Double = 0.05, evalSize: Int = 40) {
  val langs: Seq[String] = Seq("en", "de", "fr")
  private val syll = Seq(
    Seq("ba", "ko", "ri", "te", "lu", "ma", "sen", "dor", "pi", "va", "no", "ter"),
    Seq("sch", "ei", "un", "ber", "gen", "ach", "lie", "ster", "zu", "wa", "kel", "or"),
    Seq("que", "lo", "mon", "ette", "ri", "vous", "ai", "tre", "ju", "pel", "on", "sa"))
  private def word(lang: Int, k: Long): String = {
    val s = syll(lang)
    val n = 2 + Mix.below(2, seed, 11, lang, k)
    (0 until n).map(i => s(Mix.below(s.size, seed, 12, lang, k, i))).mkString + (k % 97).toString
  }
  private def words(lang: Int, count: Int, salt: Long*): Array[String] =
    Array.tabulate(count)(i => word(lang, Math.floorMod(Mix.h(seed, (salt :+ i.toLong): _*), 20000L)))

  /** Eval-set documents: a vocabulary no corpus language uses. */
  lazy val evalDocs: Seq[Doc] = (0 until evalSize).map { e =>
    val ws = Array.tabulate(12)(i => "zq" + Mix.below(5000, seed, 21, e, i))
    Doc(1000000L + e, "xx", ws.mkString(" "), -1, contaminated = false)
  }

  /** Shard `shard`: ids are `shard * 10^6 + i`, ascending by position. */
  def shard(shard: Int): Seq[Doc] = {
    val out = mutable.ArrayBuffer.empty[Doc]
    var group = 0
    while (out.size < shardSize) {
      val i = out.size
      val lang = Mix.below(3, seed, 31, shard, i)
      // a group event emits three documents on average
      val grouped = Mix.unit(seed, 32, shard, i) < dupShare / (3.0 - 2.0 * dupShare)
      if (grouped) {
        val len = 40 + Mix.below(40, seed, 33, shard, i)
        val base = words(lang, len, 34, shard, i)
        val copies = 1 + Mix.below(3, seed, 35, shard, i)
        (0 to copies).foreach { c =>
          val ws = base.clone()
          if (c > 0) {
            val pos = 1 + Mix.below(len - 2, seed, 36, shard, i, c)
            ws(pos) = word(lang, 20000 + Mix.below(20000, seed, 37, shard, i, c))
          }
          out += Doc(0, langs(lang), ws.mkString(" "), group, contaminated = false)
        }
        group += 1
      } else {
        val outlier = Mix.unit(seed, 38, shard, i) < 0.02
        val len = if (outlier) 300 + Mix.below(100, seed, 39, shard, i)
                  else 12 + Mix.below(60, seed, 39, shard, i)
        val ws = words(lang, len, 40, shard, i)
        val contam = Mix.unit(seed, 41, shard, i) < contamShare
        if (contam) {
          val ev = evalDocs(Mix.below(evalSize, seed, 42, shard, i)).text.split(' ')
          val at = Mix.below(ev.length - 2, seed, 43, shard, i)
          val pos = Mix.below(len - 3, seed, 44, shard, i)
          (0 until 3).foreach(j => ws(pos + j) = ev(at + j))
        }
        out += Doc(0, langs(lang), ws.mkString(" "), -1, contam)
      }
    }
    out.take(shardSize).zipWithIndex.map { case (d, i) => d.copy(id = shard * 1000000L + i) }.toSeq
  }
}
