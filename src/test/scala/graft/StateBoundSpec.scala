package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** State-store SIZE audits for the stateful streaming faces: every face
  * argues a state bound in its scaladoc (buckets ≤ keyspace, SCD2 ≤ keys,
  * sketches ≤ groups, sessions ≤ active users); these tests read the
  * actual state store back through Spark's state data source
  * (`format("statestore")` over the checkpoint) after a replay and pin the
  * row count against the documented bound — the difference between "the
  * comment says bounded" and "the store is bounded".
  */
class StateBoundSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** Rows in operator-0 state at the checkpoint's latest committed batch. */
  private def stateRows(ckpt: String): Long =
    spark.read.format("statestore").load(ckpt).count()

  /** Set session state-store confs for `body`, restoring the previous
    * values after — the restart matrix below runs each scenario under both
    * the default store and [[graft.streaming.StateStores.Recommended]]
    * (RocksDB + changelog checkpointing, the deployment config).
    */
  private def withStateStoreConf(pairs: Seq[(String, String)])(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("DedupStream.simhashBuckets state ≤ fixed keyspace (16384 at the wide 48-bit default) and == touched buckets") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val docsDf = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = docsDf.as[(Long, String)].collect().toSeq
    val in = MemoryStream[(Long, String)]
    docs.grouped(math.max(1, docs.size / 3 + 1)).foreach(c => in.addData(c: _*))
    val dir = java.nio.file.Files.createTempDirectory("dedup_state").toString
    val q = graft.streaming.DedupStream
      .simhashBuckets(in.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .writeStream.outputMode("update").format("memory")
      .queryName("state_buckets")
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val rows = stateRows(s"$dir/_ckpt")
    assert(rows <= 16384L,
      s"bucket state $rows exceeds the 4x4096 keyspace (48-bit default)")
    // exact: one state row per TOUCHED bucket = the batch registry's rows
    val touched = graft.ops.Dedup
      .simhashBucketRegistry(docsDf, "doc_id", "text").count()
    assert(rows === touched)
  }

  test("changelog checkpoint FOOTPRINT is bounded by retention, not by batch " +
    "count — the pinned MinBatchesToRetain vacuums old versions (r16)") {
    // The r15 scale probe read monotone checkpoint growth on the kmv face
    // at FLAT state: unvacuumed backlog, not a leak — every commit writes
    // an O(touched-keys) changelog and Spark's default retention (100)
    // never triggered inside a short probe. The r16 retention sweep
    // (PLANS.md, "Changelog checkpoint retention") measured the steady state and StateStores.Recommended now pins
    // minBatchesToRetain = 20; this spec pins the INVARIANT at spec scale:
    // after maintenance settles, changelog files per partition track the
    // retention knob, not the number of batches ever run.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // the maintenance task is a JVM SINGLETON whose interval is captured
    // when the first stateful store of the JVM loads — an earlier suite's
    // query pins it at the 60 s default and this test's 1 s conf would
    // never apply (the vacuum then misses the 30 s settle window). Unload
    // all providers and stop the task; the next store load restarts it
    // with THIS test's interval. Suites run sequentially, so no live query
    // is affected.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    val retain = 6
    val batches = 72
    withStateStoreConf(graft.streaming.StateStores.Recommended ++ Seq(
      graft.streaming.StateStores.MinBatchesToRetainKey -> retain.toString,
      // fast maintenance so the vacuum lands within the spec's seconds —
      // production keeps the 60 s default (cadence, not bound)
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "1s")) {
      val in = MemoryStream[(String, Long)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_retain").toString
      val q = graft.streaming.SketchStream
        .kmvDistinct(in.toDF().toDF("g", "v"), "g", "v", k = 16).toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", s"$ckpt/_ckpt")
        .format("noop").start()
      try {
        (0 until batches).foreach { b =>
          in.addData((0 until 200).map(i =>
            (s"g${(b * 200 + i) % 100}", (b * 200 + i).toLong * 2654435761L)))
          q.processAllAvailable()
        }
        def changelogs(): Seq[Int] = {
          val stateRoot = new java.io.File(s"$ckpt/_ckpt/state/0")
          Option(stateRoot.listFiles()).getOrElse(Array.empty).toSeq
            .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
            .map(p => Option(p.listFiles()).getOrElse(Array.empty)
              .count(f => f.getName.endsWith(".changelog")))
        }
        val parts = changelogs()
        assert(parts.nonEmpty, "no state partition dirs found")
        // poll: the vacuum is async — give maintenance up to 30 s to settle.
        // The settled floor is (latest − last UPLOADED snapshot) + retention:
        // changelogs are replayable only from a snapshot, snapshots upload
        // every minDeltasForSnapshot (10) commits on the async maintenance
        // thread, and the final upload can lag one full cadence when the
        // stream goes idle — so the bound is retention + 2×minDeltas + slack
        // (measured: 17/partition at 36 batches = versions since the v20
        // snapshot), still far below the unvacuumed batch count.
        val bound = retain + 2 * 10 + 5
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        var current = parts
        while (current.exists(_ > bound) && System.nanoTime() < deadline) {
          Thread.sleep(1000); current = changelogs()
        }
        assert(current.forall(_ <= bound),
          s"changelog files per partition $current exceed retention bound " +
            s"$bound after settling — ran $batches batches, retention $retain; " +
            "unbounded backlog means the footprint grows with batch count")
        // and the settled count is far below the batch count — the vacuum
        // actually ran (without it every partition would hold ~36 files)
        assert(current.forall(_ < batches / 2))  // 31 < 36: vacuum ran
      } finally q.stop()
    }
  }

  /** Restart scenario 1 (mapGroupsWithState fold): stop, resume from the
    * same checkpoint, resumed fold == batch over ALL data.
    */
  private def kmvRestartScenario(): Unit = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_rocks").toString
    val in = MemoryStream[(String, Long)]
    // the memory sink refuses checkpoint RECOVERY ("does not support
    // recovering from checkpoint location"), so the restart leg needs a
    // recoverable sink — foreachBatch, collecting into a driver buffer
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
    def start() = graft.streaming.SketchStream
      .kmvDistinct(in.toDF().toDF("g", "v"), "g", "v", k = 8)
      .writeStream.outputMode("update")
      .option("checkpointLocation", s"$ckptDir/_ckpt")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.SketchStream.KmvEstimate], _: Long) =>
        val rows = df.collect().map(e => (e.group, e.n_seen, e.kth, e.est_distinct))
        buf.synchronized { buf ++= rows }; ()
      }
      .start()
    val batch1 = (0 until 40).map(i => ("a", i.toLong)) ++ Seq(("b", 1L), ("b", 2L))
    val q1 = start()
    try { in.addData(batch1: _*); q1.processAllAvailable() } finally q1.stop()
    // restart from the SAME checkpoint; the second batch touches both
    // groups, so the post-restart emissions are each group's final estimate
    buf.synchronized(buf.clear())
    val batch2 = (40 until 50).map(i => ("a", i.toLong)) :+ (("b", 3L))
    val q2 = start()
    try { in.addData(batch2: _*); q2.processAllAvailable() } finally q2.stop()
    val got = buf.synchronized(buf.toSeq).sortBy(_._1)
    val whole = ops.Sketches.kmvDistinct((batch1 ++ batch2).toDF("g", "v"), "g", "v", 8)
      .orderBy("g").as[(String, Long, Long, Long)].collect().toSeq
    assert(got === whole, "resumed fold must equal the batch sketch over ALL data")
    // and it genuinely CONTINUED (not restarted fresh on batch 2): a
    // fresh fold would see only b=3 -> n_seen 1; the resumed one sees 3
    assert(got.find(_._1 == "b").get._2 === 3L,
      "pre-restart state did not survive the checkpoint round trip")
  }

  test("stateful stream resumes from its checkpoint on the RocksDB store: fold across a restart == batch") {
    // the two operational axes every other streaming spec holds constant:
    // (a) the query is STOPPED and a new query resumes from the same
    // checkpoint — state must round-trip through the store, not just live
    // in memory for one run; (b) the store is the RocksDB provider (the
    // backend a 100 TB deployment runs) instead of the default HDFS-backed
    // maps — provider choice must not alter a single bit of the fold.
    withStateStoreConf(Seq(graft.streaming.StateStores.ProviderKey ->
      graft.streaming.StateStores.RocksDbProvider)) {
      kmvRestartScenario()
    }
  }

  /** Restart scenario 2 (flatMapGroupsWithState event-time timeout):
    * recovery has two parts — the value AND the registered timeout
    * timestamp; losing the latter would leave resumed sessions open
    * forever. Open a session, stop, resume from the same checkpoint, then
    * advance the watermark past last+gap from the NEW query: the
    * pre-restart session must emit, with its pre-restart bounds.
    */
  private def sessionTimeoutRestartScenario(): Unit = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_sess_rs").toString
    val in = MemoryStream[(Long, Timestamp)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    def t(sec: Long) = new Timestamp(sec * 1000L)
    def start() = graft.streaming.SessionStream
      .sessions(in.toDF().toDF("user_id", "ts"), gapSeconds = 1800L, watermark = "30 minutes")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckptDir/_ckpt")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[graft.streaming.SessionStream.ClosedSession], _: Long) =>
        val rows = df.collect().map(c => (c.user_id, c.session_start, c.session_end, c.n_events))
        buf.synchronized { buf ++= rows }; ()
      }
      .start()
    val q1 = start()
    try {
      in.addData((1L, t(1000)), (1L, t(1200))) // one open session for user 1
      q1.processAllAvailable()
    } finally q1.stop()
    assert(buf.synchronized(buf.isEmpty), "nothing may close before the watermark says so")
    val q2 = start() // resume from the same checkpoint
    try {
      // user 2's events advance the watermark past 1200+1800 (+30 min
      // delay); the SECOND batch then fires the recovered timeout
      in.addData((2L, t(1200 + 1800 + 1800 + 100))); q2.processAllAvailable()
      in.addData((2L, t(1200 + 1800 + 1800 + 200))); q2.processAllAvailable()
    } finally q2.stop()
    assert(buf.synchronized(buf.toSeq) === Seq((1L, 1000L, 1200L, 2L)),
      "the pre-restart session must close with its pre-restart bounds (user 2's stays open)")
  }

  test("SessionStream's event-time TIMEOUT survives a restart: a session opened before the stop closes after resume") {
    sessionTimeoutRestartScenario()
  }

  /** Restart scenario 3 (dropDuplicatesWithinWatermark): state is keyed on
    * the content hash; losing it across a restart would re-admit every
    * duplicate arriving after the resume — the silent-corpus-pollution
    * failure mode.
    */
  private def dedupRestartScenario(): Unit = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_doc_rs").toString
    val in = MemoryStream[(Timestamp, Long, String)]
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    def t(sec: Long) = new Timestamp(sec * 1000L)
    def start() = graft.streaming.DocumentStream
      .cleaned(in.toDF().toDF("ts", "doc_id", "text"), minQuality = 0.0)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$ckptDir/_ckpt")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = df.select("doc_id").collect().map(_.getLong(0))
        buf.synchronized { buf ++= ids }; ()
      }
      .start()
    val q1 = start()
    try { in.addData((t(1000), 1L, "the quick brown fox")); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start() // resume from the same checkpoint
    try {
      in.addData(
        (t(1060), 2L, "the quick brown fox"), // DUPLICATE content, within watermark
        (t(1070), 3L, "an entirely different document"))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(buf.synchronized(buf.toSeq).sorted === Seq(1L, 3L),
      "the re-delivered duplicate must be dropped by the RECOVERED dedup state")
  }

  test("DocumentStream dedup state survives a restart: a duplicate re-delivered after resume is still dropped") {
    dedupRestartScenario()
  }

  /** Restart scenario 4 (WINDOWED STATEFUL AGGREGATION — partial
    * per-window term counts live in the store between batches): stop the
    * query mid-stream with windows still OPEN, resume from the same
    * checkpoint, finish; the pre-restart partial counts must carry, so the
    * shared KL gate still reproduces oracled q117 bit-for-bit. A fresh
    * (state-lost) resume would undercount every window spanning the stop
    * and the KL would differ.
    */
  private def driftRestartScenario(): Unit = {
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
    val outDir = java.nio.file.Files.createTempDirectory("drift_restart").toString
    val in = MemoryStream[(Timestamp, String)]
    def start() = graft.streaming.DriftStream
      .termCounts(in.toDF().toDF("ts", "text"), ref, delay = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$outDir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$outDir/data")
      }
      .start()
    val chunks = docs.sortBy(_._1.getTime).grouped((docs.size + 1) / 2).toSeq
    val q1 = start()
    // first half only, then STOP — every window the second half also
    // touches is open in the store at this point
    try { in.addData(chunks.head: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start() // resume from the same checkpoint
    try {
      chunks.tail.foreach { c => in.addData(c: _*); q2.processAllAvailable() }
      in.addData((new Timestamp(maxTs + 2 * 3600 * 1000L), "zz_sentinel"))
      q2.processAllAvailable()
      in.addData((new Timestamp(maxTs + 4 * 3600 * 1000L), "zz_sentinel"))
      q2.processAllAvailable()
    } finally q2.stop()
    val lastRealWin = (maxTs / 1000L) / 3600L * 3600L
    val counts = spark.read.parquet(s"$outDir/data")
      .where(col("win_sec") <= lastRealWin)
    val streamed = graft.streaming.DriftStream.klByWindow(counts, ref)
      .orderBy(col("win_sec"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = SparkEntry.queries("q117_drift_windows")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed === batch,
      "windowed state lost across the restart: resumed KL diverges from the oracled batch twin")
  }

  test("DriftStream's windowed-aggregation state survives a restart: run-to-completion KL == oracled q117") {
    driftRestartScenario()
  }

  test("the FULL restart matrix is green under the deployment config (RocksDB + changelog checkpointing)") {
    // graft.streaming.StateStores.Recommended is the config a 100 TB
    // deployment runs (measured 35–45% per-commit cost cut, PLANS.md round
    // 13) — every restart mechanism must recover from CHANGELOG replay
    // exactly as it does from full snapshots: mapGroupsWithState fold,
    // flatMapGroups event-time timeout, dedup-within-watermark, and the
    // windowed aggregation. Before round 14 the matrix pinned only the
    // changelog-off path.
    withStateStoreConf(graft.streaming.StateStores.Recommended) {
      kmvRestartScenario()
      sessionTimeoutRestartScenario()
      dedupRestartScenario()
      driftRestartScenario()
    }
  }

  test("Scd2Stream state == distinct keys (one open version per key, forever)") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // synthetic change stream: 40 keys, 300 changes across 3 micro-batches
    val rnd = new scala.util.Random(7)
    val changes = (1 to 300).map { i =>
      (rnd.nextInt(40).toLong, i.toLong, s"v${rnd.nextInt(5)}",
        new Timestamp(1700000000000L + i * 60000L))
    }
    val in = MemoryStream[(Long, Long, String, Timestamp)]
    changes.grouped(100).foreach(c => in.addData(c: _*))
    val dir = java.nio.file.Files.createTempDirectory("scd2_state").toString
    val q = graft.streaming.Scd2Stream
      .history(in.toDF().toDF("key", "id", "attr", "ts"))
      .writeStream.outputMode("append").format("memory")
      .queryName("state_scd2")
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val keys = changes.map(_._1).distinct.size.toLong
    assert(stateRows(s"$dir/_ckpt") === keys)
  }

  test("SketchStream.sampleQuantiles state == groups, each state value capped at k samples") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = (1 to 2000).map { i =>
      (s"g${i % 5}", i.toLong, (i * 37 % 1000).toDouble)
    }
    val in = MemoryStream[(String, Long, Double)]
    ev.grouped(700).foreach(c => in.addData(c: _*))
    val dir = java.nio.file.Files.createTempDirectory("sq_state").toString
    val q = graft.streaming.SketchStream
      .sampleQuantiles(in.toDF().toDF("event_type", "event_id", "value"),
        "event_type", "event_id", "value", k = 64)
      .writeStream.outputMode("update").format("memory")
      .queryName("state_sq")
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val st = spark.read.format("statestore").load(s"$dir/_ckpt")
    assert(st.count() === 5L, "one state row per group")
    // the value payload is the bottom-k sample: arrays capped at k even
    // though each group saw 400 rows
    val sizes = st.select(size(col("value.groupState.hv")).as("n")).as[Int].collect()
    assert(sizes.forall(n => n > 0 && n <= 64), s"sample arrays exceed k: ${sizes.toSeq}")
  }

  test("SessionStream state ≤ active users and SHRINKS when event-time timeouts fire") {
    assume(new java.io.File(sf).isDirectory)
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ev = (1 to 400).map { i =>
      (i % 50L, new Timestamp(1700000000000L + i * 1000L))
    }
    val maxTs = ev.map(_._2.getTime).max
    val in = MemoryStream[(Long, Timestamp)]
    in.addData(ev: _*)
    val dir = java.nio.file.Files.createTempDirectory("sess_state").toString
    val q = graft.streaming.SessionStream
      .sessions(in.toDF().toDF("user_id", "ts"), gapSeconds = 1800L,
        watermark = "0 seconds")
      .writeStream.outputMode("append").format("memory")
      .queryName("state_sess")
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try {
      q.processAllAvailable()
      val open = stateRows(s"$dir/_ckpt")
      assert(open <= 50L, s"open-session state $open exceeds active users")
      assert(open === 50L, "all 50 users have an open session mid-stream")
      // sentinel advances the watermark past every last+gap, next batch
      // fires the timeouts: the 50 user sessions must LEAVE the store
      in.addData((-1L, new Timestamp(maxTs + 3 * 1800 * 1000L)))
      q.processAllAvailable()
      in.addData((-1L, new Timestamp(maxTs + 6 * 1800 * 1000L)))
      q.processAllAvailable()
      val after = stateRows(s"$dir/_ckpt")
      assert(after <= 1L, s"timed-out sessions still in the store: $after")
    } finally q.stop()
  }
}
