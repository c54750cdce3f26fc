package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev scratchpad (not part of the API).
  *
  * Modes:
  *  - (no args): repair-plan surface probe (gappy lake -> Cli repair/check)
  *  - explain <queryName> [sfDir]: print the formatted physical plan of a
  *    SparkEntry query — the docs/PLANS.md evidence generator.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false") // no _SUCCESS consumers (see Bench)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.toList match {
      case "explain" :: name :: rest =>
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.001")
        println(s"== $name @ $sfDir ==")
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
      case "explain-many" :: outDir :: names =>
        // batch plan dump: one JVM, one formatted-plan file per query —
        // the plans/r16 evidence generator (single-query `explain` pays
        // ~30 s of JVM+sbt per plan)
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        for (name <- names) {
          val plan = try SparkEntry.queries(name)(spark, sfDir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"FAILED: $e" }
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$name.txt"),
            (s"== $name @ $sfDir ==\n" + plan).getBytes("UTF-8"))
          println(s"[explain-many] wrote $outDir/$name.txt")
        }

      case "rows" :: name :: rest =>
        // output cardinality of a SparkEntry query at a given sf dir —
        // distinguishes true-result growth from plan cost in scale probes
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
        println(s"[rows] $name @ $sfDir = " +
          SparkEntry.queries(name)(spark, sfDir).count())
      case "shuffle" :: name :: rest =>
        // total shuffle-write bytes of one query execution — the evidence
        // mode for exchange-volume claims in PLANS.md
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
        val bytes = new java.util.concurrent.atomic.AtomicLong
        val rows = new java.util.concurrent.atomic.AtomicLong
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
            rows.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          }
        }
        spark.sparkContext.addSparkListener(l)
        SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
        // listener bus is async: poll until the counters hold still (the
        // fixed-sleep version under-reported on loaded hosts)
        var prev = (-1L, -1L); var cur = (bytes.get(), rows.get()); var spins = 0
        while (cur != prev && spins < 30) {
          prev = cur; Thread.sleep(100); cur = (bytes.get(), rows.get()); spins += 1
        }
        spark.sparkContext.removeSparkListener(l)
        println(f"[shuffle] $name @ $sfDir = ${bytes.get() / 1048576.0}%.1f MB / ${rows.get()} rows shuffle-written")

      case "shuffle-all" :: rest =>
        // per-query shuffle-write volume across the whole suite, one JVM —
        // the exchange-volume ranking behind PLANS.md's shuffle audit.
        // Volume (bytes/rows written) is partition-count-insensitive, so
        // the local[8] scratch session is a fair proxy for the bench shape.
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
        val bytes = new java.util.concurrent.atomic.AtomicLong
        val rows = new java.util.concurrent.atomic.AtomicLong
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
            rows.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
          }
        })
        def drain(): (Long, Long) = {
          // listener bus is async: poll until the counters hold still
          var prev = (-1L, -1L); var cur = (bytes.get(), rows.get()); var spins = 0
          while (cur != prev && spins < 30) {
            prev = cur; Thread.sleep(100); cur = (bytes.get(), rows.get()); spins += 1
          }
          cur
        }
        val out = Seq.newBuilder[(String, Double, Long, Double)]
        for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
          spark.catalog.clearCache()
          drain(); bytes.set(0); rows.set(0)
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).queryExecution.toRdd.count()
            val (b, r) = drain()
            val sec = (System.nanoTime() - t0) / 1e9
            out += ((name, b / 1048576.0, r, sec))
            println(f"[shuffle-all] $name%-34s ${b / 1048576.0}%9.1f MB ${r}%12d rows ${sec}%6.2f s")
          } catch {
            case e: Throwable => println(s"[shuffle-all] $name FAILED: ${e.getMessage}")
          }
        }
        println("==== top 25 by shuffle-write MB ====")
        out.result().sortBy(-_._2).take(25).foreach { case (n, mb, r, sec) =>
          println(f"$n%-34s $mb%9.1f MB $r%12d rows $sec%6.2f s")
        }

      case "jobs" :: name :: rest =>
        // per-JOB wall-clock breakdown of one SparkEntry query (the lake/
        // state chains run many physical jobs — probe collects, writes,
        // checkpoint materializations; this shows where the seconds go).
        // Repeats 3x so one-time costs (codegen, committer class-load) are
        // distinguishable from steady state.
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
        val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
        val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        val l = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            jobs.put(j.jobId, (j.time,
              // last stage's callSite (the action: collect at Lake.scala:455,
              // parquet at ..., isEmpty at ...) + the job description — the
              // attribution for jobs the description alone misses
              j.stageInfos.lastOption.map(_.name.take(44)).getOrElse("").padTo(45, ' ') +
                Option(j.properties)
                  .flatMap(p => Option(p.getProperty("spark.job.description")))
                  .getOrElse(""),
              j.stageInfos.size))
          override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            jobEnd.put(j.jobId, j.time)
        }
        for (i <- 1 to 3) {
          spark.catalog.clearCache()
          jobs.clear(); jobEnd.clear()
          spark.sparkContext.addSparkListener(l)
          val wall0 = System.currentTimeMillis()
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
          val wall = (System.nanoTime() - t0) / 1e9
          Thread.sleep(500) // listener bus drain
          spark.sparkContext.removeSparkListener(l)
          import scala.jdk.CollectionConverters._
          val rows = jobs.asScala.toSeq.sortBy(_._1)
          println(f"== $name pass $i: wall=$wall%.2f s, ${rows.size} jobs ==")
          // overlap attribution (r17, verdict item 7): print each job's
          // [start → end] offset from the query's t0 so CONCURRENT spans
          // (inParallel writes, overlapped artifact builds) are visible as
          // overlapping intervals instead of being inferred from wall-clock
          // deltas; `concurrency` = job-wall-seconds / timeline-seconds
          // actually covered by ≥1 running job
          var covered = 0.0
          val spans = rows.map { case (id, (st, desc, nst)) =>
            val en = jobEnd.getOrDefault(id, st)
            (id, st, en, desc, nst)
          }
          spans.foreach { case (id, st, en, desc, nst) =>
            val d = (en - st) / 1e3
            covered += d
            val s0 = (st - wall0) / 1e3
            val e0 = (en - wall0) / 1e3
            println(f"  job $id%3d [$s0%6.2f -> $e0%6.2f] ${d}%7.3f s  stages=$nst%2d  ${desc.take(84)}")
          }
          // union of job intervals — time with at least one job running
          val busy = {
            val iv = spans.map(s => (s._2, s._3)).sortBy(_._1)
            var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
            iv.foreach { case (s, e) =>
              if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
              else curE = math.max(curE, e)
            }
            (total + math.max(0L, curE - curS)) / 1e3
          }
          println(f"  [sum of job walls = $covered%.2f s over $busy%.2f s busy " +
            f"(concurrency ${if (busy > 0) covered / busy else 0.0}%.2f); " +
            f"idle driver gaps = ${math.max(0.0, wall - busy)}%.2f s]")
        }

      case "profile" :: name :: rest =>
        // split a query's cost into plan-build / analysis+optimization /
        // execution, repeated so JIT warmup is visible
        val sfDir = rest.headOption.getOrElse("/root/testdata/sf0.1")
        for (i <- 1 to 3) {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // forces analysis + optimization + planning
          val t2 = System.nanoTime()
          df.queryExecution.toRdd.count()
          val t3 = System.nanoTime()
          def s(a: Long, b: Long) = f"${(b - a) / 1e9}%.2f"
          println(s"[$i] build=${s(t0, t1)} plan=${s(t1, t2)} exec=${s(t2, t3)} total=${s(t0, t3)}")
        }
      case _ =>
        val root = java.nio.file.Files.createTempDirectory("gappy_lake").toString
        val day = graft.sources.SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
        // two gaps: 10 min (one 600s window) and 90 min (two 3600s-window steps)
        val gappy = day.where(!(col("ts") >= lit("2025-08-01 03:00:00") &&
          col("ts") < lit("2025-08-01 03:10:00")) &&
          !(col("ts") >= lit("2025-08-01 10:00:00") && col("ts") < lit("2025-08-01 11:30:00")))
        graft.lake.LakeWriter.upsert(spark, root, gappy)
        Cli.run(spark, List("repair", root, "BTC-USD"))
        Cli.run(spark, List("check", root, "BTC-USD", "M1"))
    }
    spark.stop()
  }
}
