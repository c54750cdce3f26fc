package graft
import org.apache.spark.sql.SparkSession

/** Benchmark runner. Prints ONE compact JSON line on stdout (the driver
  * keeps only the last ~2000 chars) and writes a full-precision record with
  * raw per-repeat samples to BENCH_RAW.json.
  *
  * Wall-clock budget (round-8): three consecutive driver benches produced no
  * numbers (r05 load-inflated, r06 stdout overflow, r07 rc=124 timeout). The
  * suite's steady-state cost is ~58 s, but under concurrent box load queries
  * inflate 5-30x, so an un-bounded warmup + min-of-2 pass can outlive any
  * plausible driver timeout. SPARK_GRAFT_BUDGET_S (default 365 s) bounds the
  * run: as the budget is consumed the runner degrades gracefully -
  *   1. skip the remaining sf0.01 warmup pass          (>30% consumed)
  *   2. drop to repeat=1 for the remaining queries     (>70% consumed)
  *   3. stop timing entirely, count the rest skipped   (>100% consumed)
  * - and ALWAYS emits the compact line, flagging "degraded":true and
  * "skipped":N when it had to shed work. A JVM shutdown hook additionally
  * emits the partial line on SIGTERM — best-effort only: under `sbt run`
  * (forked) the child's stdout pipe dies with sbt, so the budget finishing
  * BEFORE any external timeout is the primary defense; the hook still
  * persists the partial BENCH_RAW.json either way, and delivers stdout when
  * the JVM is signalled directly (java -cp invocation).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    // Default sized against the observed driver envelope: the round-7 kill
    // arrived at 7+ minutes of wall clock, and JVM+sbt startup costs ~40 s
    // on top of this in-process budget — 355 s keeps the whole run inside
    // ~6.6 min (vs the ~7 min kill) while funding min-of-2 for the WHOLE
    // suite on a typical host phase: measured round 11, a full first pass
    // costs ~173 s idle and the complete resample pass ~175 s, so the old
    // 330 s default sat exactly on the cliff where a 10% host dip dropped
    // the cheap tail to single samples (calib 0.206 -> clean, 0.227 ->
    // 67 single-sampled). Round 12: 365 — the "40 s startup" in the 355
    // model was a cold-compile estimate; the driver always runs Verify
    // (sbt) before Bench, so Bench compiles warm and sbt adds ~8-10 s of
    // wall (r11/r12 runs: [success] at budget+3 s). 365 keeps worst-case
    // wall ~6.3 min vs the observed 7+ min kill. Budget exhaustion still
    // bounds the run hard — work is shed, the line always emits — so the
    // extra seconds only ever extend useful measurement, never the
    // worst-case wall clock past the envelope.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Budget derivation (round 14): when the env is unset, scale the 365 s
    // default by the corpus size relative to the driver's sf0.1 — the sf1
    // sweep (10x the bytes) measured a ~900 s budget for full min-of-2
    // (550 left ~100 single samples; 365 skipped queries), and hand-setting
    // SPARK_GRAFT_BUDGET_S per scale was the round-13 verdict's "heroic
    // manual run" complaint. Linear-ish rule 365 + 60*(ratio-1): ratio 1 ->
    // 365 (driver runs unchanged), ratio 10 -> 905 (the measured sf1 need),
    // capped at 1800 so a runaway ScaleGen dir cannot park the bench for
    // hours. Explicit env always wins.
    // NonFatal-guarded: a file vanishing mid-walk (concurrent ScaleGen/
    // write) or an unreadable subdir must degrade to the 365 s constant,
    // never kill the bench before a single query runs
    def dirBytes(d: String): Long = try {
      val root = java.nio.file.Paths.get(d)
      if (!java.nio.file.Files.isDirectory(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try s.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally s.close()
      }
    } catch { case scala.util.control.NonFatal(_) => 0L }
    val budget = sys.env.get("SPARK_GRAFT_BUDGET_S").map(_.toDouble).getOrElse {
      val base = dirBytes("/root/testdata/sf0.1")
      val mine = dirBytes(sfDir)
      if (base > 0 && mine > base)
        math.min(1800.0, 365.0 + 60.0 * (mine.toDouble / base - 1.0))
      else 365.0
    }
    // default to the machine's cores, not a constant: an unset
    // SPARK_GRAFT_CPUS used to mean local[4] on a 32-core box — a 4-8x
    // wall-clock tax on exactly the runs (driver benches) that have a
    // timeout to beat
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // skip _SUCCESS marker files (r16, guide §6): nothing in the engine
      // or its readers consumes them, and the lake/state pipeline queries
      // commit dozens of small datasets per run — one fewer driver-side
      // create+close per commit, on any filesystem (object stores included)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec logs "No Partition Defined" at WARN for the bounded carry
    // tables in Fill/Packing/Quantiles (groups x chunks rows, never
    // data-sized - machine-checked by PlanAuditSpec's no-unpartitioned-
    // data-window audit). Benign but it spams the bench tail the driver
    // grades, so silence that one logger here (bench runner only).
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
    // warm the session (codegen, file listing) so the first timed query
    // doesn't absorb fixed startup cost
    spark.range(1000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(1).collect()
    catch { case _: Throwable => () }
    // LAKE-WRITE PRE-WARM (round 12): the lake-flow queries' FIRST samples
    // carried 4-6 s of one-time cost each (q124 12.7 s vs 6.4 s min,
    // q76 similar) — parquet committer + zstd codec + dynamic-partition-
    // overwrite commit logic + localCheckpoint machinery all class-load on
    // first use. Under min-of-2 that inflation washes out of the MINIMA but
    // not out of PASS-1 WALL CLOCK, and pass-1 cost is what decides whether
    // the second pass fits the budget (the round-11 degraded flag). One
    // tiny write exercising the exact upsert write path (partitionBy +
    // dynamic overwrite + zstd + localCheckpoint + refreshByPath + a
    // replace-existing second overwrite) moves that cost into ~1-2 s of
    // setup, once, before timing starts.
    try {
      import org.apache.spark.sql.functions.col
      val warmPath = s"${sys.props("java.io.tmpdir")}/graft_bench_warm_${ProcessHandle.current().pid()}"
      val wdf = spark.range(64).selectExpr("id", "CAST(id % 2 AS INT) AS p")
      wdf.localCheckpoint(eager = true)
      def warmWrite(): Unit = wdf.repartition(col("p"))
        .sortWithinPartitions(col("id"))
        .write.mode("overwrite").partitionBy("p")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd").parquet(warmPath)
      warmWrite()
      spark.read.parquet(warmPath).queryExecution.toRdd.count()
      spark.catalog.refreshByPath(warmPath)
      warmWrite() // the replace-existing dynamic-overwrite path
      val p = new org.apache.hadoop.fs.Path(warmPath)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
    } catch { case _: Throwable => () }
    // HOST-SPEED CALIBRATION PROBE: a fixed synthetic workload (the q18
    // SimHash kernel over 200k generated 12-word docs — no file I/O, no
    // shuffle, pure codegen'd map+agg) timed min-of-2 and emitted as
    // "calib" / "calib_sec". Round-10's lesson: a slow host phase silently
    // inflated the whole suite ~1.6x and the evidence had to be re-derived
    // from PLANS.md prose — this field lets any reader normalize totals
    // across host phases directly (idle steady state ≈ 0.25 s; divide
    // the suite total by calib/idle-calib to compare rounds).
    val calibSec: Double = {
      import org.apache.spark.sql.functions._
      def once(): Double = {
        val s = System.nanoTime()
        spark.range(200000)
          .select(concat_ws(" ", (0 until 12).map(i =>
            pmod(col("id") * (i * 7 + 3), lit(997)).cast("string")): _*).as("t"))
          // bits PINNED at 32: calib_sec is the cross-round host-speed
          // yardstick — it must measure the HOST, never a library-default
          // change (r16 widened the pipeline default to 48)
          .select(graft.ops.Dedup.simhash(col("t"), bits = 32).as("sig"))
          .selectExpr("sum(sig)").queryExecution.toRdd.count()
        (System.nanoTime() - s) / 1e9
      }
      once() // codegen warm
      math.min(once(), once())
    }
    // I/O-SPEED CALIBRATION PROBE (round 13): the CPU calib above is blind
    // to storage phases — round 12 measured identical code at 137.7 vs
    // 177.1 s across runs while calib_sec read NORMAL both times; the whole
    // swing was host I/O, concentrated in the lake-flow queries
    // (q124/q76/q55/q121). This probe times a fixed parquet write+read
    // (256k rows, zstd, 4 files — the upsert write path's shape at a
    // fraction of its size) min-of-2, so artifacts carry BOTH axes: compare
    // totals across rounds only when both calibs match; when io_calib is
    // inflated, normalize the I/O-heavy queries by io-calib-ratio and the
    // rest by calib-ratio (PLANS.md "Bench normalization" rule). Idle
    // steady state ≈ 0.4-0.6 s on this host class.
    val ioCalibSec: Option[Double] = {
      val dir = s"${sys.props("java.io.tmpdir")}/graft_bench_iocalib_${ProcessHandle.current().pid()}"
      def once(): Double = {
        val s = System.nanoTime()
        spark.range(262144)
          .selectExpr("id", "CAST(id AS STRING) AS s", "id * 1.5 AS v")
          .repartition(4)
          .write.mode("overwrite").option("compression", "zstd").parquet(dir)
        spark.read.parquet(dir).queryExecution.toRdd.count()
        (System.nanoTime() - s) / 1e9
      }
      // NonFatal only: an OOM/VM error mid-probe means the JVM is dying —
      // let it propagate instead of running the timed suite on a sick VM.
      // A failed probe emits JSON null (round 14; it was -1.0 before) so a
      // consumer normalizing by io_calib fails loudly on the missing value
      // instead of silently dividing by a negative sentinel.
      val r = try Some { once(); math.min(once(), once()) }
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] io-calib probe failed (${e.getClass.getSimpleName}: ${e.getMessage}) — emitting null")
          None // a broken tmpdir must not kill the bench
        }
      try {
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      } catch { case scala.util.control.NonFatal(_) => () }
      r
    }
    // Local-profiling hooks (unset in driver runs): comma-separated query
    // filter and a repeat count so one query's steady-state cost can be
    // isolated without running the whole suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Default min-of-2: a single-shot run is hostage to box noise (round-4's
    // driver bench showed individual queries 2-20x their steady-state cost
    // under concurrent load; min-of-2 recovered the true numbers). min, not
    // mean — external interference only ever ADDS time.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(2)
    // WORKLOAD VERSION, emitted in every artifact: round 11 moved the
    // declared-exact quadratic gates to deterministic subsets (q16/q87/q129
    // half corpus, q27/q97 quarters) and q110 from 10 to 6 pagerank rounds,
    // so suite TOTALS are only comparable within the same workload tag —
    // a cross-tag comparison confounds code speed with workload shrinkage
    // even after calib normalization. Bump this whenever a query's timed
    // volume or iteration count changes (oracle moving in lockstep keeps
    // correctness gates valid but does NOT keep totals comparable).
    // "r12" = the round-11 subset shape minus the q126/q129 fold (the
    // round-11 verdict's sanctioned candidates — compositions of
    // still-oracled stages, pinned in IncrementalDedupSpec like
    // q56/q58/q120; ~2.7 s steady reclaimed). A measured half-month trim
    // of q124/q76 was rejected: their cost is commit/job overhead, not row
    // volume — min-of-3 A/B showed no normalized gain.
    val workloadVersion = "r12"
    val failed = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
                dir: String, name: String): Unit =
      // Force FULL evaluation of every output column: a plain count() lets
      // ColumnPruning drop un-consumed projections, so a projection-heavy
      // query (text stats, simhash signatures) would bench as a bare scan.
      // toRdd executes the final plan exactly as written. A throwing query
      // must NOT silently time as a fast one (round-8's testdata timestamp
      // regeneration broke every events query and the bench recorded them
      // all at 0.06 s) — record and report it.
      try { fn(spark, dir).queryExecution.toRdd.count(); () } catch {
        case e: Throwable =>
          if (failed.add(name))
            System.err.println(s"[bench] $name FAILED: ${e.toString.linesIterator.next()}")
      }
    // EXPENSIVE-FIRST coverage pass: static cost hints (idle sf0.1 clean-run
    // seconds for every query over ~1.5 s; everything else defaults cheap)
    // order pass 1 so that when the budget runs out mid-pass, what gets
    // skipped is the sub-second tail — round-10's degraded artifact skipped
    // 10 queries costing 0.18-1.3 s each while the expensive head had
    // already been timed; this ordering makes the worst case "the cheap
    // tail is single-sampled", never "queries are missing".
    val costHint: Map[String, Double] = Map(
      "q124_incremental_agg" -> 6.2, "q76_repair_day" -> 5.1,
      "q55_lake_roundtrip" -> 4.5, "q110_pagerank" -> 2.2,
      "q90_mad_outliers" -> 3.3, "q72_indicators" -> 3.2,
      "q31_ffill_multi_symbol" -> 3.2, "q121_lambda_read" -> 2.9,
      "q79_asof_directed" -> 2.4, "q28_quantiles" -> 2.4,
      "q94_pq_topk" -> 2.2, "q40_dedup_clusters" -> 2.2,
      "q73_macd" -> 2.1,
      "q01_pricing_summary" -> 1.8, "q127_rfm_segments" -> 1.8,
      "q139_incremental_capstone" -> 3.6, "q111_winsorize" -> 1.7,
      "q99_fk_audit" -> 1.7, "q74_rolling_corr" -> 1.7,
      "q13_segment_revenue" -> 1.6, "q131_sample_quantile_sketch" -> 1.6,
      "q06_or_levels" -> 1.6, "q109_bm25_topk" -> 1.6,
      "q61_bloom_decontaminate" -> 1.5, "q87_prefix_jaccard" -> 2.4,
      "q138_incremental_clusters" -> 2.6, "q145_ann_index" -> 4.3)
    val queries = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .sortBy { case (n, _) => (-costHint.getOrElse(n, 0.75), n) }

    // ---- incremental state, visible to the shutdown hook ----------------
    val done = new java.util.concurrent.ConcurrentHashMap[String, Seq[Double]]()
    @volatile var degraded = false
    @volatile var skipped = 0
    val emitted = new java.util.concurrent.atomic.AtomicBoolean(false)

    def f(d: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, d)
    def fp(dec: Int)(d: Double): String =
      s"%.${dec}f".formatLocal(java.util.Locale.ROOT, d)
    // Compact line must fit the driver's ~2000-char stdout window WITH
    // sbt's [info] prefix and [success] trailer; per-query precision
    // degrades adaptively as the query count grows (BENCH_RAW.json always
    // keeps full precision + raw repeats). Query NAMES dominate the length,
    // so past ~85 queries the map drops out of stdout entirely and lives
    // only in BENCH_RAW.json.
    def buildLine(): String = {
      import scala.jdk.CollectionConverters._
      val results = done.asScala.toVector.sortBy(_._1)
      // A failed query's sample is its time-to-THROW, not a real cost —
      // including it understates the suite total exactly the way round-8's
      // swallowed-exception bench did. Headline total sums successes only;
      // the failed names still appear in `errors`/`failed`.
      val total = results.collect {
        case (k, v) if !failed.contains(k) => v.min
      }.sum
      val flags = List(s""""calib":${fp(2)(calibSec)}""",
        s""""io_calib":${ioCalibSec.map(fp(2)).getOrElse("null")}""",
        s""""workload":"$workloadVersion"""") ++
        (if (degraded) List("\"degraded\":true") else Nil) ++
        (if (skipped > 0) List(s"\"skipped\":$skipped") else Nil) ++
        (if (!failed.isEmpty) List(s"\"errors\":${failed.size}") else Nil)
      val flagStr = if (flags.isEmpty) "" else flags.mkString(",", ",", "")
      def lineWith(qs: String): String =
        s"""{"metric":"total","value":${f(total)},"unit":"sec","queries":$qs$flagStr,"sf":"$sfDir"}"""
      // Name-shortening fallback: "q16_jaccard_pairs" -> "q16". The qNN
      // prefix is unique across the suite, and at 100+ queries full names
      // alone exceed the stdout window — short names keep a per-query map
      // in the graded line instead of dropping to a bare count.
      def shortName(k: String): String = {
        val cut = k.indexOf('_')
        if (cut > 0) k.substring(0, cut) else k
      }
      val unambiguous = results.map(r => shortName(r._1)).distinct.size == results.size
      val variants = Iterator((identity[String] _, 2), (identity[String] _, 1)) ++
        (if (unambiguous) Iterator((shortName _, 2), (shortName _, 1)) else Iterator.empty)
      variants
        .map { case (nm, dec) => lineWith(results.map { case (k, v) =>
          s"\"" + nm(k) + "\":" + fp(dec)(v.min)
        }.mkString("{", ",", "}")) }
        .find(_.length <= 1900)
        .getOrElse(lineWith(s"""{"n":${results.size}}"""))
    }
    def writeRaw(): Unit = {
      import scala.jdk.CollectionConverters._
      val results = done.asScala.toVector.sortBy(_._1)
      val total = results.collect {
        case (k, v) if !failed.contains(k) => v.min
      }.sum
      val fullQs = results.map { case (k, v) => s"\"" + k + "\":" + f(v.min) }
        .mkString("{", ",", "}")
      val raw = results.map { case (k, v) =>
        s"\"" + k + "\":" + v.map(f).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      val errs = {
        import scala.jdk.CollectionConverters._
        failed.asScala.toVector.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
      }
      val rawLine =
        s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":${f(calibSec)},"io_calib_sec":${ioCalibSec.map(f).getOrElse("null")},"workload":"$workloadVersion","queries":$fullQs,"raw_repeats":$raw,"degraded":$degraded,"skipped":$skipped,"failed":$errs,"sf":"$sfDir"}"""
      try {
        val p = java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_RAW_OUT",
          "/root/repo/BENCH_RAW.json"))
        java.nio.file.Files.write(p, (rawLine + "\n").getBytes("UTF-8"))
      } catch { case _: Throwable => () }
    }
    def emit(viaFd: Boolean): Unit = if (emitted.compareAndSet(false, true)) {
      writeRaw()
      if (viaFd) {
        // shutdown-hook path: sbt's logger redirects System.out and may be
        // mid-teardown when the hook fires, silently dropping a println —
        // write the line straight to the process's fd 1 (the stdout the
        // driver captures), bypassing every wrapper.
        try {
          val out = new java.io.FileOutputStream(java.io.FileDescriptor.out)
          out.write((buildLine() + "\n").getBytes("UTF-8"))
          out.flush()
        } catch { case _: Throwable => () }
      } else {
        println(buildLine())
        System.out.flush()
      }
    }
    // Backstop: if an external `timeout` SIGTERMs this JVM mid-suite, still
    // print whatever was measured so far — a partial artifact with
    // "degraded":true beats rc=124 with no numbers at all (round-7's fate).
    val hook = new Thread(() => { degraded = true; emit(viaFd = true) })
    Runtime.getRuntime.addShutdownHook(hook)

    // TARGETED warm of the expensive head at the smallest scale factor
    // (round 12, default ON when the sibling sf0.001 dir exists): the
    // head queries run FIRST in pass 1 (expensive-first ordering), so
    // their first samples absorb the session's remaining first-run costs —
    // after the lake-write pre-warm, q124's first sample still carried
    // ~5.5 s (plan codegen + AQE + committer paths specific to its chain)
    // against a 0.3-1 s cost to run the same chain once at sf0.001. Only
    // queries with a cost hint >= 3 s warm (7 of 137): for the cheap tail
    // a tiny-SF run costs about what it saves. Budget-guarded.
    val headWarmDir = "/root/testdata/sf0.001"
    if (new java.io.File(headWarmDir).isDirectory) {
      val it = queries.iterator.filter { case (n, _) => costHint.getOrElse(n, 0.0) >= 3.0 }
      var warmCut = false
      while (it.hasNext && !warmCut) {
        val (_, fn) = it.next()
        // NOT runOnce: a warm-only failure (tiny-SF quirk) must never mark
        // the query failed — that would exclude its REAL timing from the
        // headline total even though the sf0.1 run succeeds
        try { fn(spark, headWarmDir).queryExecution.toRdd.count(); () }
        catch { case _: Throwable => () }
        if (elapsed > budget * 0.15) warmCut = true // warm is optional work:
        // shedding it is not degradation, pass 1 still covers everything
      }
    }
    def timeOnce(name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val s = System.nanoTime()
      runOnce(fn, sfDir, name)
      (System.nanoTime() - s) / 1e9
    }
    // Coverage-first scheduling: a complete pass of single samples, THEN
    // repeat passes for precision while budget remains. Under a tight
    // budget this degrades to "every query timed once" — strictly better
    // than the old per-query repeat loop, whose worst case was "first 80%
    // of queries min-of-2, the tail skipped entirely" (round-9's first
    // 114-query run skipped 21).
    def clearAndTime(name: String,
                     fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // Drop every cached lineage the previous query pinned: queries x
      // repeats otherwise accumulate all .cache()/localCheckpoint blocks
      // ever taken, so late queries run under storage-memory pressure no
      // real single-query deployment would see.
      spark.catalog.clearCache()
      timeOnce(name, fn)
    }
    for ((name, fn) <- queries) {
      if (elapsed > budget) { skipped += 1; degraded = true }
      else done.put(name, Vector(clearAndTime(name, fn)))
    }
    // Re-sample passes, MOST-EXPENSIVE-FIRST with a per-query feasibility
    // check (its own last-known cost + 30% headroom must fit the remaining
    // budget): the single-sample inflation to burn down is codegen + first
    // -execution overhead, which is largest in absolute terms for the
    // queries that dominate the total — and a blanket elapsed-fraction
    // barrier (the old rule) left half the budget unused the moment pass 1
    // crossed it.
    for (_ <- 2 to repeat) {
      val order = queries.toSeq.filter(q => done.containsKey(q._1))
        .sortBy { case (n, _) => -done.get(n).min }
      for ((name, fn) <- order) {
        if (elapsed + done.get(name).min * 1.3 <= budget)
          done.put(name, done.get(name) :+ clearAndTime(name, fn))
        else degraded = true
      }
    }
    // If a query's samples disagree by >2x the box was busy during one of
    // them; take a tie-breaking extra sample (budget permitting) so
    // min-of-N reflects steady state.
    for ((name, fn) <- queries if done.containsKey(name)) {
      val base = done.get(name)
      if (base.size >= 2 && base.max > 2 * base.min &&
          elapsed + base.min * 1.3 <= budget)
        done.put(name, base :+ clearAndTime(name, fn))
    }
    Runtime.getRuntime.removeShutdownHook(hook)
    emit(viaFd = false)
    spark.stop()
  }
}
