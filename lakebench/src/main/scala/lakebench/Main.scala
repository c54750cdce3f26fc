package lakebench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Lake benchmark entry point: one JVM, Spark local[N] with N = the number
  * of available processors, one closed-loop client. Usage:
  *
  *   lakebench.Main --workload ingest|curate --seed N --seconds S
  *                  --trace 0|1 --work DIR --out FILE
  *                  [--trace-out FILE]
  *
  * Set-up is timed apart from the measured phase: session start, the
  * starting state built [[Builds]] times in fresh roots under DIR (the
  * median build counts; the last one is kept), and one warm-up op. The measured phase
  * runs ops until their summed latency reaches S seconds. Every op's outputs
  * are checked against plain-Scala folds over the generator's own data.
  *
  * With `--trace 1` the measured phase runs pairs of one untraced and one
  * traced op, on equal input where the workload allows it (`curate`; an
  * `ingest` pair lands two days); per-layer metrics come from the traced ops and
  * the tracing overhead from the pairs. Results go to FILE as JSON; the
  * spans and counters of a traced run go to the trace file.
  */
object Main {
  /** Set-up repetitions per run; setup_s counts the median build. */
  val Builds = 3
  val spanNames: Seq[String] = Seq("sources.fetch", "lake.upsert", "lake.refresh", "lake.read",
    "ops.gaps", "ops.qc", "ops.asof", "ops.indicators", "ops.orlevels", "ops.text", "ops.dedup",
    "ops.quantiles", "ops.corpus")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val work = new File(a("work")).getAbsoluteFile
    val out = new File(a("out"))
    require(Set("ingest", "curate")(workload), s"unknown workload $workload")

    val t0 = System.nanoTime()
    def log(msg: String): Unit = System.err.println(f"[lakebench ${(System.nanoTime() - t0) / 1e9}%8.3f s] $msg")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tr = new Tracer(spark)
    if (trace) tr.install()

    val w: Workload = workload match {
      case "ingest" => new Ingest(spark, tr, seed, cores)
      case "curate" => new Curate(spark, tr, seed)
    }

    // ---- set-up: build the starting state Builds times, keep the last ----
    val buildS = (0 until Builds).map { r =>
      val root = new File(work, s"lake-$r")
      val b0 = System.nanoTime()
      w.build(root.getPath)
      val dt = (System.nanoTime() - b0) / 1e9
      if (r > 0) deleteTree(new File(work, s"lake-${r - 1}"))
      log(f"build $r took $dt%.3f s")
      dt
    }
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val checkS = mutable.ArrayBuffer.empty[Double]
    def runOp(i: Int, traced: Boolean, again: Boolean = false): (Double, Long) = {
      tr.enabled = traced
      tr.beginOp(i)
      val o0 = System.nanoTime()
      val res = scala.util.Try(tr.span(s"op:$workload")(w.op(i, again)))
      val dt = (System.nanoTime() - o0) / 1e9
      tr.enabled = false
      attempted += 1
      val c0 = System.nanoTime()
      val errs = res.map(o => scala.util.Try(o.check()).fold(e => Seq(s"check threw $e"), identity))
        .fold(e => Seq(s"op threw $e"), identity)
      checkS += (System.nanoTime() - c0) / 1e9
      if (errs.nonEmpty) { failed += 1; failures ++= errs.take(3).map(e => s"op $i: $e") }
      tr.releasePins()
      log(f"op $i${if (traced) " (traced)" else ""} took $dt%.3f s, ${errs.size} check failures")
      (dt, res.map(_.rows).getOrElse(0L))
    }
    val w0 = System.nanoTime()
    runOp(0, traced = false)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + median(buildS) + warmS

    // ---- measured phase: untraced ops until their latencies sum to
    // `seconds`; traced, pairs of an untraced op and a traced op on equal
    // input, until the pairs sum to `seconds` ----
    tr.markPhase()
    val gcBefore = gcMs()
    val p0 = System.nanoTime()
    val lat = mutable.ArrayBuffer.empty[Double]
    val pairs = mutable.ArrayBuffer.empty[(Double, Double)]
    var rows = 0L
    var busy = 0.0
    var i = 1
    while (busy < seconds) {
      // in a pair, which side runs first alternates (starting side from the
      // seed), since the later op of a pair runs on a warmer JVM
      val tracedFirst = trace && (seed + pairs.size) % 2 == 1
      val t = if (tracedFirst) runOp(i, traced = true)._1 else 0.0
      val (dt, n) = runOp(i, traced = false, again = tracedFirst)
      lat += dt
      rows += n
      busy += dt + t
      if (trace) {
        val tdt = if (tracedFirst) t else runOp(i, traced = true, again = true)._1
        pairs += ((dt, tdt))
        busy += (if (tracedFirst) 0.0 else tdt)
      }
      i += 1
    }
    val phaseS = (System.nanoTime() - p0) / 1e9
    val gcS = (gcMs() - gcBefore) / 1000.0

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "builds_s" -> buildS,
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "failures" -> failures.take(20), "latencies_s" -> lat, "check_s" -> checkS)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    val plain = lat.sorted.toIndexedSeq
    if (!trace) {
      val (p, tail, beyond) = tailOf(plain)
      put("setup_s", setupS, "s")
      put("op_p50_s", median(plain), "s")
      put("op_tail_s", tail, "s")
      put("throughput_rows_per_s", rows / busy, "rows/s")
      info ++= Map("samples" -> plain.size, "tail_percentile" -> p, "tail_beyond" -> beyond,
        "rows" -> rows, "failed_ratio" -> failed.toDouble / attempted)
    } else {
      tr.drain()
      val (aggs, ops, global) = tr.report("op:")
      val tracedLat = pairs.map(_._2).sorted.toIndexedSeq
      spanNames.foreach { s =>
        val g = aggs.get(s)
        def m(k: String, v: Agg => Double, unit: String): Unit =
          put(s"$s.$k", g.map(v).getOrElse(0.0), unit)
        m("self_s", _.selfS, "s"); m("calls", _.calls.toDouble, "count")
        m("jobs", _.jobs, "count"); m("tasks", _.tasks, "count")
        m("plan_s", _.planS, "s"); m("idle_s", _.idleS, "s")
        m("shuffle_mb", _.shuffleMb, "MB"); m("scan_mb", _.scanMb, "MB")
      }
      def ex(s: String, k: String): Double = aggs.get(s).flatMap(_.extra.get(k)).getOrElse(0.0)
      def sumEx(s: String, k: String): Double = aggs.get(s).map(g => g.extra.getOrElse(k, 0.0)).getOrElse(0.0)
      val upCalls = aggs.get("lake.upsert").map(_.calls).getOrElse(0)
      put("lake.upsert.files_written", if (upCalls == 0) 0.0 else ex("lake.upsert", "_files") / upCalls, "count")
      put("lake.upsert.bytes_written_per_bar",
        if (upCalls == 0) 0.0 else ex("lake.upsert", "_out_bytes") / (ex("lake.upsert", "new_bars") * upCalls), "B")
      put("lake.refresh.months", ex("lake.refresh", "months"), "count")
      val readRows = sumEx("lake.read", "_rows_out")
      put("lake.read.rows_scanned_per_row",
        if (readRows == 0) 0.0 else sumEx("lake.read", "_in_records") / readRows, "ratio")
      put("spark.gc_s", gcS, "s")
      put("spark.storage_peak_mb", global("storage_peak_mb"), "MB")
      put("spark.core_util", global("task_run_s") / (phaseS * cores), "ratio")
      val overhead = pairs.map { case (u, t) => t - u }.sum / pairs.size
      put("trace.overhead_s", overhead, "s")
      put("lake_bytes_per_bar", w.traceExtras().getOrElse("lake_bytes_per_bar", 0.0), "B")
      info ++= Map("traced_ops" -> tracedLat.size, "untraced_ops" -> plain.size,
        "traced_p50_s" -> median(tracedLat), "untraced_p50_s" -> median(plain))
      a.get("trace-out").foreach { f =>
        write(new File(f), Json.obj(mutable.LinkedHashMap[String, Any](
          "info" -> info, "overhead_s" -> overhead,
          "layers" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
          "ops" -> ops)))
      }
    }
    write(out, Json.obj(mutable.LinkedHashMap[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "info" -> info)))
    log("result written")
    spark.stop()
    log("session stopped")
    // do not wait for stray non-daemon threads: the result is written
    System.exit(0)
  }

  def median(xs: collection.Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it:
    * (percentile, value, samples beyond). Falls back to the maximum.
    */
  def tailOf(sorted: collection.Seq[Double]): (Double, Double, Int) = {
    val n = sorted.size
    Seq(0.99, 0.95, 0.9, 0.8, 0.75, 0.5).map { p =>
      val k = math.max(1, math.ceil(p * n).toInt)
      (p, k, n - k)
    }.find(_._3 >= 10).map { case (p, k, b) => (p, sorted(k - 1), b) }
      .getOrElse((1.0, if (n == 0) 0.0 else sorted.last, 0))
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def write(f: File, s: String): Unit = {
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val p = new java.io.PrintWriter(f, "UTF-8")
    try p.write(s) finally p.close()
  }
}

/** Minimal JSON emitter for the result and trace files. */
object Json {
  def obj(m: collection.Map[String, Any]): String = value(m)
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(value).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 => value(Seq(p.productElement(0), p.productElement(1)))
    case other => value(other.toString)
  }
}
