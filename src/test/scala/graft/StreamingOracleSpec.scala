package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Oracle-adjacent gate for the stateful streaming twins: run them to
  * COMPLETION on the real (bounded) events table via foreachBatch into
  * parquet, then compare that parquet against the DuckDB-oracled batch
  * queries' results (q12 sessionize, q49 range join). Stateful streams have
  * no SQL oracle of their own; equality with an oracled batch query is the
  * strongest check available, and it runs on the driver-generated data, not
  * hand-picked rows.
  */
class StreamingOracleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** events with µs ts (the same grain SparkEntry.loadEvents exposes). */
  private def events() = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val ns = raw.schema("ts").dataType.typeName match {
      case "long" => raw.withColumnRenamed("ts", "ts_ns")
      case "timestamp_ntz" =>
        raw.withColumn("ts_ns", unix_micros(col("ts").cast("timestamp")) * 1000L)
      case _ => raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
    ns.withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
  }

  test("SessionStream run to completion on real events == oracled q12 aggregate") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = events().select(col("user_id"), col("ts"))
      .as[(Long, Timestamp)].collect().toSeq
    val maxTs = ev.map(_._2.getTime).max
    val outDir = java.nio.file.Files.createTempDirectory("sess_stream").toString
    val in = MemoryStream[(Long, Timestamp)]
    val q = graft.streaming.SessionStream
      .sessions(in.toDF().toDF("user_id", "ts"), gapSeconds = 1800L, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.SessionStream.ClosedSession], _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    try {
      // one batch carries ALL real events: the watermark only advances
      // after a batch, so nothing is late-dropped and every intra-batch
      // session split exercises the sorted fold
      in.addData(ev: _*)
      q.processAllAvailable()
      // sentinel user advances the watermark past every last+gap...
      in.addData((-1L, new Timestamp(maxTs + 3 * 1800 * 1000L)))
      q.processAllAvailable()
      // ...and one more batch fires the event-time timeouts under it
      in.addData((-1L, new Timestamp(maxTs + 6 * 1800 * 1000L)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outDir/data")
      .where(col("user_id") >= 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), max(col("n_events")).as("max_session_events"),
        sum(col("n_events")).as("n_events_total"))
      .orderBy(col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = SparkEntry.queries("q12_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed === batch)
  }

  test("TransitionStream over time-ordered micro-batches == oracled q84 counts") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // chunk the real events into three TIME-ORDERED micro-batches on the
    // batch op's own ordering key, so cross-batch state carry is exercised
    // on every user whose stream straddles a boundary
    val ev = events().select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, Timestamp)].collect().toSeq
      .sortBy { case (_, id, _, ts) => (ts.getTime / 1000L, id) }
    val chunks = ev.grouped((ev.size + 2) / 3).toSeq
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    chunks.foreach(c => in.addData(c: _*))
    val streamed = graft.streaming.StreamDrains
      .transitionsFinal(in.toDF().toDF("user_id", "event_id", "event_type", "ts"),
        gapSeconds = 1800L, queryName = "trans_out")
      .orderBy(col("from_type"), col("to_type"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    val batch = SparkEntry.queries("q84_session_paths")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed === batch)
  }

  test("Scd2Stream drops cross-batch LATE changes instead of emitting inverted intervals") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    // REAL batch boundaries (addData before start can merge into one
    // batch, which the in-batch sort would handle — not the late path):
    // start first, then one processAllAvailable per add
    val q = graft.streaming.Scd2Stream
      .history(in.toDF().toDF("key", "id", "attr", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("scd2_late").start()
    try {
      in.addData((1L, 1L, "A", t(100))); q.processAllAvailable() // open A@100
      in.addData((1L, 2L, "B", t(50))); q.processAllAvailable()  // LATE
      in.addData((1L, 3L, "C", t(200))); q.processAllAvailable() // legitimate
    } finally q.stop()
    val closed = spark.table("scd2_late")
      .orderBy(col("version"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // the late B is dropped (no valid_to=50 inversion); C closes A at 200
    assert(closed === Seq(("A", 100L, 200L, 1L)),
      "a late change must not close the open version backwards")
  }

  test("TransitionStream does not attribute a late conversion to a FUTURE touch") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Long, String, Timestamp, Double)]
    val q = graft.streaming.TransitionStream
      .attributions(in.toDF().toDF("user_id", "event_id", "event_type", "ts", "value"),
        gapSeconds = 1800L, targetType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_late").start()
    try {
      in.addData((1L, 1L, "ad_click", t(200), 0.0)); q.processAllAvailable() // touch at 200
      in.addData((1L, 2L, "purchase", t(100), 5.0)); q.processAllAvailable() // LATE conversion
    } finally q.stop()
    val got = spark.table("attr_late")
      .collect().map(r => (r.getString(1), 1L)).toSeq
    assert(got === Seq(("direct", 1L)),
      "negative touch->conversion delta must fall back to direct")
  }

  test("TransitionStream drops a cross-batch LATE event instead of inverting the pair") {
    // round-13 review fix: without the monotone guard the late B passes
    // `e.tsec - p.tsec <= gap` with a NEGATIVE delta, emitting A->B (a
    // transition FROM an event that happened AFTER the to-event) and
    // regressing the state so C then pairs as B->C instead of A->C
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    val q = graft.streaming.TransitionStream
      .transitions(in.toDF().toDF("user_id", "event_id", "event_type", "ts"),
        gapSeconds = 1800L)
      .writeStream.outputMode("append").format("memory")
      .queryName("trans_late").start()
    try {
      in.addData((1L, 1L, "A", t(1000))); q.processAllAvailable() // state A@1000
      in.addData((1L, 2L, "B", t(500))); q.processAllAvailable()  // LATE: dropped
      in.addData((1L, 3L, "C", t(1100))); q.processAllAvailable() // pairs with A
    } finally q.stop()
    val got = spark.table("trans_late")
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    assert(got === Seq(("A", "C")),
      "the late B must neither emit an inverted pair nor regress the lag state")
  }

  test("TransitionStream attribution state is monotone: a LATE touch cannot steal credit") {
    // round-13 review fix: the conversion-side guard alone did not stop a
    // late touch from REGRESSING the last-touch state — a conversion after
    // it was then credited to the stale channel, where batch credits the
    // most recent prior touch
    implicit val sql = spark.sqlContext
    import spark.implicits._
    def t(sec: Long) = new Timestamp(sec * 1000L)
    val in = MemoryStream[(Long, Long, String, Timestamp, Double)]
    val q = graft.streaming.TransitionStream
      .attributions(in.toDF().toDF("user_id", "event_id", "event_type", "ts", "value"),
        gapSeconds = 1800L, targetType = "purchase")
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_regress").start()
    try {
      in.addData((1L, 1L, "chA", t(1000), 0.0)); q.processAllAvailable() // touch A@1000
      in.addData((1L, 2L, "chB", t(500), 0.0)); q.processAllAvailable()  // LATE touch
      in.addData((1L, 3L, "purchase", t(1100), 5.0)); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("attr_regress")
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSeq
    assert(got === Seq(("chA", 5.0)),
      "credit goes to the newest touch; the late chB must not displace chA")
  }

  test("TransitionStream.attributions over time-ordered micro-batches == oracled q92") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = events()
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"), col("value"))
      .as[(Long, Long, String, Timestamp, Double)].collect().toSeq
      .sortBy { case (_, id, _, ts, _) => (ts.getTime / 1000L, id) }
    val chunks = ev.grouped((ev.size + 2) / 3).toSeq
    val in = MemoryStream[(Long, Long, String, Timestamp, Double)]
    chunks.foreach(c => in.addData(c: _*))
    val streamed = graft.streaming.StreamDrains
      .attributionsFinal(in.toDF().toDF("user_id", "event_id", "event_type", "ts", "value"),
        gapSeconds = 1800L, targetType = "purchase", queryName = "attr_out")
      .orderBy(col("attributed"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = SparkEntry.queries("q92_attribution")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed === batch)
  }

  test("Scd2Stream over time-ordered micro-batches == oracled q93 history") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = events().select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, Timestamp)].collect().toSeq
      .sortBy { case (_, id, _, ts) => (ts.getTime / 1000L, id) }
    val chunks = ev.grouped((ev.size + 2) / 3).toSeq
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    chunks.foreach(c => in.addData(c: _*))
    val closed = graft.streaming.StreamDrains
      .historyFinal(in.toDF().toDF("key", "id", "attr", "ts"), queryName = "scd2_out")
    val streamed = graft.streaming.Scd2Stream
      .withOpenVersions(closed, ev.toDF("key", "id", "attr", "ts"))
      .orderBy(col("key"), col("version"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).toSeq
    val batch = SparkEntry.queries("q93_scd2")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4))).toSeq
    assert(streamed === batch)
  }

  test("EnrichStream run to completion on real events == oracled q49 counts") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = events().cache()
    val pts = ev.select(col("event_id"), col("ts"))
      .as[(Long, Timestamp)].collect().toSeq
    val opens = ev.where(col("event_type") === "purchase" && col("value") > 220.0)
      .select(col("event_id"), col("ts"))
      .as[(Long, Timestamp)].collect().toSeq
    val outDir = java.nio.file.Files.createTempDirectory("enrich_stream").toString
    val pIn = MemoryStream[(Long, Timestamp)]
    val oIn = MemoryStream[(Long, Timestamp)]
    val joined = graft.streaming.EnrichStream.pointsInWindows(
      pIn.toDF().toDF("event_id", "ts"), "ts",
      oIn.toDF().toDF("interval_id", "open_ts"), "open_ts",
      windowSeconds = 3600L, keys = Nil)
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    try {
      oIn.addData(opens: _*)
      pIn.addData(pts: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outDir/data")
      .groupBy(col("interval_id"))
      .agg(count(lit(1)).as("n_in_window"))
      .orderBy(col("interval_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = SparkEntry.queries("q49_range_join")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    ev.unpersist()
    assert(streamed === batch)
  }

  test("DocumentStream.scored with a frozen LM == oracled q102 scores") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docsB = spark.read.parquet(s"$sf/documents.parquet")
    // the frozen artifact: trained once on the batch snapshot, then only
    // broadcast — exactly what the stream scores against
    val (lm, oov) = graft.ops.Corpus.unigramLm(docsB, "text", minCount = 5L)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = docsB.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
      .map { case (id, t) => (base, id, t) }
    val outDir = java.nio.file.Files.createTempDirectory("ppl_stream").toString
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.DocumentStream
      .scored(in.toDF().toDF("ts", "doc_id", "text"), lm, oov,
        watermark = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      // sentinel docs push the watermark past the single real window...
      in.addData((new Timestamp(base.getTime + 3600L * 1000), -1L, "x"))
      q.processAllAvailable()
      // ...and the next batch emits the finalized per-doc rows under it
      in.addData((new Timestamp(base.getTime + 7200L * 1000), -1L, "x"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outDir/data")
      .where(col("doc_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    val batch = SparkEntry.queries("q102_perplexity_filter")(spark, sf)
      .select(col("doc_id"), col("n_tokens"), col("nll"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(streamed === batch)
  }

  test("DocumentStream.decontaminated with a frozen benchmark == oracled q61 overlaps") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docsB = spark.read.parquet(s"$sf/documents.parquet")
    val benchmark = docsB.where(col("doc_id") % 10 === 0)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = docsB.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
      .map { case (id, t) => (base, id, t) }
    val outDir = java.nio.file.Files.createTempDirectory("decon_stream").toString
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = graft.streaming.DocumentStream
      .decontaminated(in.toDF().toDF("ts", "doc_id", "text"), benchmark,
        n = 3, watermark = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      // sentinel docs advance the watermark past the single real window,
      // then one more batch fires the finalization under it
      in.addData((new Timestamp(base.getTime + 3600L * 1000), -1L, "x y z"))
      q.processAllAvailable()
      in.addData((new Timestamp(base.getTime + 7200L * 1000), -1L, "x y z"))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$outDir/data")
      .where(col("doc_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val batch = SparkEntry.queries("q61_bloom_decontaminate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(streamed === batch)
    assert(batch.nonEmpty, "expected contaminated docs in the corpus")
  }

  test("RateStream hourly counts + batch z-gate == oracled q59 anomalies") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = events().select(col("event_type"), col("ts"))
      .as[(String, Timestamp)].collect().toSeq
    val maxTs = ev.map(_._2.getTime).max
    val outDir = java.nio.file.Files.createTempDirectory("rate_stream").toString
    val in = MemoryStream[(String, Timestamp)]
    val q = graft.streaming.RateStream
      .hourlyCounts(in.toDF().toDF("event_type", "ts"), delay = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    try {
      in.addData(ev: _*)
      q.processAllAvailable()
      // sentinel advances the watermark past the last real window's end...
      in.addData(("_sentinel", new Timestamp(maxTs + 2 * 3600L * 1000)))
      q.processAllAvailable()
      // ...and the next batch emits the closed windows under it
      in.addData(("_sentinel", new Timestamp(maxTs + 4 * 3600L * 1000)))
      q.processAllAvailable()
    } finally q.stop()
    val hourly = spark.read.parquet(s"$outDir/data")
      .where(col("event_type") =!= "_sentinel")
    // the streamed hourly table IS the batch one...
    val hStream = hourly.orderBy(col("event_type"), col("hour_sec"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val hBatch = graft.ops.EventOps.hourlyCounts(events())
      .orderBy(col("event_type"), col("hour_sec"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(hStream === hBatch)
    // ...so the unchanged batch z-gate over it reproduces oracled q59
    val streamed = graft.ops.EventOps.rateAnomalies(hourly)
      .orderBy(col("event_type"), col("hour_sec"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val batch = SparkEntry.queries("q59_rate_anomaly")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(streamed === batch)
  }

  test("DriftStream windowed term counts + shared KL gate == oracled q117") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docsBatch = spark.read.parquet(s"$sf/documents.parquet")
    val ref = graft.streaming.DriftStream.reference(docsBatch, "text", vocab = 200)
    // the same deterministic doc_id-minute clock q117 uses
    val docs = docsBatch.select(col("doc_id"), col("text"))
      .collect().map(r => (new Timestamp((1704067200L + r.getLong(0) * 60L) * 1000L),
        r.getString(1))).toSeq
    val maxTs = docs.map(_._1.getTime).max
    val outDir = java.nio.file.Files.createTempDirectory("drift_stream").toString
    val in = MemoryStream[(Timestamp, String)]
    val q = graft.streaming.DriftStream
      .termCounts(in.toDF().toDF("ts", "text"), ref, delay = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    try {
      // two time-ordered micro-batches so cross-batch window state carries
      val chunks = docs.sortBy(_._1.getTime).grouped((docs.size + 1) / 2).toSeq
      chunks.foreach { c => in.addData(c: _*); q.processAllAvailable() }
      // sentinels advance the watermark past the last real window, then
      // flush the closed windows
      in.addData((new Timestamp(maxTs + 2 * 3600 * 1000L), "zz_sentinel"))
      q.processAllAvailable()
      in.addData((new Timestamp(maxTs + 4 * 3600 * 1000L), "zz_sentinel"))
      q.processAllAvailable()
    } finally q.stop()
    val lastRealWin = (maxTs / 1000L) / 3600L * 3600L
    val counts = spark.read.parquet(s"$outDir/data")
      .where(col("win_sec") <= lastRealWin)
    // the same batch KL gate both faces share reproduces oracled q117
    val streamed = graft.streaming.DriftStream.klByWindow(counts, ref)
      .orderBy(col("win_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = SparkEntry.queries("q117_drift_windows")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed === batch)
  }
}
