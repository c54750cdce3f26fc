package lakebench

import graft.core.Timeframe
import graft.lake.{Aggregates, LakeLayout, LakeReader, LakeWriter}
import graft.ops.{Gaps, Qc}
import graft.sources.{BinanceSource, RawBar}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.sql.Timestamp
import java.time.{Instant, LocalDate}
import scala.collection.mutable

/** `ingest`: each op lands one new UTC day of M1 bars for `symbols` symbols
  * into a lake holding `historyMonths` months, through the whole write path
  * (fetch through BinanceSource with a seeded page fetcher -> gap repair
  * and QC -> upsert -> aggregate refresh of the touched months -> read-after-
  * write), then serves the backtester's request for the day just landed
  * (see [[Backtester]]): the lake is kept fresh and read back the way the
  * paper's backtester consumes it.
  *
  * Every op has the same shape: each symbol's day carries 1-3 planted
  * minute-gap islands, a duplicate re-send of the symbol's last six hours
  * before the day, and a late correction restating a 1-4 hour slice of the
  * previous month (a second month cell).
  */
final class Ingest(spark: SparkSession, tr: Tracer, seed: Long, cores: Int) extends Workload {
  import Workload._

  private val symbols = 1
  private val historyMonths = 1
  private val gen = CandleGen(seed)
  private val histStart = LocalDate.of(2024, 1, 1)
  private val ingestStart = histStart.plusMonths(historyMonths)
  private val histFrom = minuteOf(histStart)
  private val histTo = minuteOf(ingestStart)
  private val aggTf = Timeframe.M5

  private var root = ""
  // source model: the page fetcher serves the current version of every
  // minute it has, and nothing for a planted gap minute
  private val versions = mutable.Map.empty[(Int, Long), Int]
  private val gapMinutes = mutable.Set.empty[(Int, Long)]
  // reference lake state: every bar landed by an op or restated; other
  // history minutes hold version 1
  private val landed = mutable.Map.empty[(Int, Long), Bar]
  private var days = 0
  private var liveBars = 0L

  private val source = new BinanceSource((api, _, startMs, endMs, limit) => {
    val s = gen.apiIndex(api)
    val from = Math.floorDiv(startMs + 59999L, 60000L)
    val to = Math.floorDiv(endMs + 59999L, 60000L)
    (from until to).iterator.filterNot(m => gapMinutes((s, m))).take(limit).map { m =>
      val b = gen.bar(s, m, versions.getOrElse((s, m), 1))
      RawBar(b.tsMs, b.open, b.high, b.low, b.close, b.volume)
    }.toSeq
  })

  def build(root: String): Unit = {
    this.root = root
    versions.clear(); gapMinutes.clear(); landed.clear()
    days = 0
    liveBars = symbols.toLong * (histTo - histFrom)
    val m1 = history(spark, gen, 0 until symbols, histFrom, histTo, cores)
    LakeWriter.upsert(spark, root, m1)
    Aggregates.materialize(spark, root, m1, aggTf)
  }

  private def expected(s: Int, m: Long): Option[Bar] =
    landed.get((s, m)).orElse(if (m >= histFrom && m < histTo) Some(gen.bar(s, m)) else None)

  private def ts(m: Long) = new Timestamp(m * 60000L)

  private def fetch(s: Int, from: Long, to: Long): DataFrame = tr.frame("sources.fetch") {
    source.fetch(spark, gen.symbols(s), Timeframe.M1, Instant.ofEpochMilli(from * 60000L),
      Instant.ofEpochMilli(to * 60000L))
  }

  /** Every op lands a new day; `again` changes nothing, ops share one shape. */
  def op(i: Int, again: Boolean): Outcome = {
    val day = ingestStart.plusDays(days.toLong)
    days += 1
    val d0 = minuteOf(day)
    val d1 = d0 + 1440
    val syms = 0 until symbols
    val r = new scala.util.Random(Mix.h(seed, 101, i))

    // plant this op's traffic properties in the source model
    val planted = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (sym, first, last) gap islands
    syms.foreach { s =>
      val used = mutable.Set.empty[Long]
      (0 until 1 + r.nextInt(3)).foreach { _ =>
        val len = 1 + r.nextInt(15)
        val a = d0 + r.nextInt(1440 - len)
        if (!(a - 1 to a + len).exists(used)) {
          (a until a + len).foreach { m => gapMinutes += ((s, m)); used += m }
          planted += ((s, a, a + len - 1))
        }
      }
    }
    val overlap: Seq[(Int, Long, Long)] = syms.map(s => (s, d0 - 360, d0))
    // the restated slice ends on or before the previous month's second-last
    // day, so it never meets the re-sent overlap (which falls in that
    // month's last day when the op lands the first of a month)
    val pm = day.minusMonths(1).withDayOfMonth(1)
    val restate: Seq[(Int, Long, Long)] = syms.map { s =>
      val a = minuteOf(pm.plusDays(r.nextInt(pm.lengthOfMonth() - 1).toLong)) + r.nextInt(1200)
      val b = a + 60 + r.nextInt(180)
      (a until b).filterNot(m => gapMinutes((s, m)))
        .foreach(m => versions((s, m)) = versions.getOrElse((s, m), 1) + 1)
      (s, a, b)
    }

    // ---- the op: fetch -> repair + QC -> upsert -> refresh -> read back ----
    val dayBatch = syms.map(s => fetch(s, d0, d1)).reduce(_ unionByName _)
    val extra = (overlap ++ restate).map { case (s, a, b) => fetch(s, a, b) }
    val grid = Some((ts(d0), ts(d1 - 1)))
    val gaps = tr.collect("ops.gaps") { Gaps.minuteGaps(dayBatch, Seq("symbol"), 60L, grid) }
    val repaired =
      if (gaps.isEmpty) dayBatch
      else tr.frame("ops.gaps") {
        Gaps.synthFill(dayBatch, Seq("symbol"), 60L, grid)
          .withColumn("source", lit("binance")).withColumn("timeframe", lit("M1"))
          .withColumn("exchange", lit("BINANCE"))
      }
    val qc = tr.collect("ops.qc") { Qc.dayCompleteness(repaired, Timeframe.M1, Seq("symbol")) }
    val batch = (repaired +: extra).reduce(_ unionByName _)
    tr.span("lake.upsert") { LakeWriter.upsert(spark, root, batch) }
    val months = (Seq(day) ++ restate.map { case (_, a, _) =>
      LocalDate.ofEpochDay(Math.floorDiv(a, 1440L)) }).map(d => (d.getYear, d.getMonthValue)).distinct
    tr.span("lake.refresh") { Aggregates.refreshMonths(spark, root, aggTf, months) }
    tr.note("lake.refresh", "months", months.size)
    val ranges: Seq[(Int, Long, Long)] = syms.map(s => (s, d0, d1)) ++ overlap ++ restate
    val readback = tr.collect("lake.read") {
      ranges.map { case (s, a, b) =>
        LakeReader.readRange(spark, root, "binance", gen.symbols(s), "M1", Some(ts(a)), Some(ts(b)))
      }.reduce(_ unionByName _)
    }
    // the backtester's read of the day just landed (one symbol, in
    // rotation when there are several): M1 exec bars, context closes from the refreshed M5
    // aggregates and from M15 resampled on the fly
    val q = Backtester.Request(Math.floorMod(i + seed, symbols.toLong).toInt, d0, d1, "M1", Seq("M5", "M15"))
    val served = Backtester.run(spark, tr, root, gen, q)

    val added = symbols * 1440L
    liveBars += added
    tr.note("lake.upsert", "new_bars", added.toDouble)
    def real(s: Int, a: Long, b: Long) = (a until b).filterNot(m => gapMinutes((s, m)))
    val sent = added + (overlap ++ restate).map { case (s, a, b) => real(s, a, b).size }.sum

    Outcome(sent, () => {
      // reference model update: what the lake must now hold
      val before = overlap.map { case (s, a, b) => (a until b).flatMap(m => expected(s, m)).map(_.checksum).sum }
      syms.foreach { s =>
        val bars = real(s, d0, d1).map(m => gen.bar(s, m))
        bars.foreach(b => landed((s, b.minute)) = b)
        (d0 until d1).filter(m => gapMinutes((s, m))).foreach { m =>
          val px = bars.filter(_.minute < m).lastOption.map(_.close)
            .orElse(bars.find(_.minute > m).map(_.open)).getOrElse(0.0)
          landed((s, m)) = Bar(s, m, px, px, px, px, 0.0, synth = true)
        }
      }
      restate.foreach { case (s, a, b) =>
        real(s, a, b).foreach(m => landed((s, m)) = gen.bar(s, m, versions((s, m))))
      }
      val errs = mutable.ArrayBuffer.empty[String]
      errs ++= Backtester.check(q, served, m => expected(q.sym, m).get).map("backtester " + _)
      // 1. gaps found == gaps planted
      val found = gaps.map(g => (gen.symbols.indexOf(g.getAs[String]("symbol")),
        g.getAs[Timestamp]("gap_start").getTime / 60000L, g.getAs[Timestamp]("gap_end").getTime / 60000L)).toSet
      if (found != planted.toSet) errs += s"gaps: found ${found.size} islands, planted ${planted.size}"
      // 2. QC: every symbol's repaired day is complete
      if (qc.length != symbols || !qc.forall(q => q.getAs[Long]("n_bars") == 1440L && q.getAs[Boolean]("complete")))
        errs += s"qc: ${qc.map(q => q.getAs[Long]("n_bars")).mkString(",")}"
      // 3. read-after-write: exactly the expected bars (restated bars win)
      val got = readback.map { x =>
        val s = gen.symbols.indexOf(x.getAs[String]("symbol"))
        Bar(s, x.getAs[Timestamp]("ts").getTime / 60000L, x.getAs[Double]("open"), x.getAs[Double]("high"),
          x.getAs[Double]("low"), x.getAs[Double]("close"), x.getAs[Double]("volume"),
          Option(x.getAs[java.lang.Boolean]("is_synth")).exists(_.booleanValue))
      }
      val want = ranges.flatMap { case (s, a, b) => (a until b).flatMap(m => expected(s, m)) }
      if (got.length != want.size) errs += s"readback: ${got.length} rows, expected ${want.size}"
      val gotMap = got.map(b => (b.sym, b.minute) -> b).toMap
      val bad = want.count(w => !gotMap.get((w.sym, w.minute)).contains(w))
      if (bad > 0) errs += s"readback: $bad bars differ from the reference"
      // 4. a re-sent slice leaves the content checksum unchanged
      val after = overlap.map { case (s, a, b) => (a until b).flatMap(m => gotMap.get((s, m))).map(_.checksum).sum }
      if (after != before) errs += "dup: a re-sent slice changed the stored content"
      // 5. refreshed aggregates == OHLCV fold of the reference M1 bars
      val aggRanges = syms.map(s => (s, d0, d1)) ++ restate.map { case (s, a, b) =>
        (s, Math.floorDiv(a, 5L) * 5, Math.floorDiv(b + 4, 5L) * 5) }
      val aggRows = spark.read.parquet(LakeLayout.aggregatesRoot(root))
        .where(col("timeframe") === aggTf.code && col("source") === "binance")
        .where(aggRanges.map { case (s, a, b) => col("symbol") === gen.symbols(s) &&
          col("ts") >= lit(ts(a)) && col("ts") < lit(ts(b)) }.reduce(_ || _))
        .select("symbol", "ts", "open", "high", "low", "close", "volume").collect()
      val wantAgg = Fold.ohlcv(aggRanges.flatMap { case (s, a, b) => (a until b).flatMap(m => expected(s, m)) }
        .distinct, aggTf.minutes)
      val gotAgg = aggRows.map(x => (gen.symbols.indexOf(x.getString(0)), x.getTimestamp(1).getTime / 60000L) ->
        (x.getDouble(2), x.getDouble(3), x.getDouble(4), x.getDouble(5), x.getDouble(6))).toMap
      val aggBad = wantAgg.count { case (k, b) => !gotAgg.get(k).contains((b.open, b.high, b.low, b.close, b.volume)) }
      if (gotAgg.size != wantAgg.size || aggBad > 0)
        errs += s"aggregates: ${gotAgg.size} bars vs ${wantAgg.size} expected, $aggBad differ"
      errs.toSeq
    })
  }

  override def traceExtras(): Map[String, Double] = {
    val bytes = treeBytes(new java.io.File(LakeLayout.dataRoot(root))) +
      treeBytes(new java.io.File(LakeLayout.aggregatesRoot(root)))
    Map("lake_bytes_per_bar" -> bytes.toDouble / liveBars)
  }
}
