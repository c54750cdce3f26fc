package lakebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One span: a call into one layer (or a whole op, for the root spans). */
final case class Span(id: Int, name: String, parent: Int, op: Int, startMs: Long,
                      var endMs: Long = 0L, var rowsOut: Long = -1L,
                      var extra: Map[String, Double] = Map.empty)

/** Per-call means of one layer's spans in a traced run. */
final case class Agg(calls: Int, selfS: Double, jobs: Double, tasks: Double, planS: Double,
                     idleS: Double, shuffleMb: Double, scanMb: Double, extra: Map[String, Double])

/** Span recorder plus the Spark listeners that attribute counters to spans.
  *
  * Each span runs its body under a job group of its own, so every job, task,
  * shuffle and scan byte the body causes is attributed through the job
  * group. Planning time comes from the QueryExecutionListener's
  * `tracker.phases`, attributed by phase start time to the innermost open
  * span. Everything stays in memory until [[report]].
  */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var currentOp = -1
  /** RDD ids of the tracer's own span-boundary checkpoints, kept out of the
    * storage peak so tracing does not inflate what the program caches.
    */
  private val tracerRdds = mutable.Set.empty[Int]
  private val tracerPins = mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  // ---- listener state (written on the listener bus thread) ----
  private case class JobRec(group: String, start: Long, var end: Long = -1L)
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  final class Counters {
    var tasks = 0L; var runMs = 0L; var shuffleW = 0L
    var inBytes = 0L; var inRecs = 0L; var outBytes = 0L; var files = 0L
  }
  private val byGroup = mutable.Map.empty[String, Counters]
  private val totals = new Counters
  private val fileAccums = mutable.Set.empty[Long]
  private val pendingFiles = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val blocks = mutable.ArrayBuffer.empty[(Int, String, Long)]
  private val phases = mutable.ArrayBuffer.empty[(Long, Long)]
  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean]())
  @volatile private var sentinelSeen = false
  private val Sentinel = "lakebench-sentinel"

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val g = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(g, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).foreach(id => execGroup(id.toLong) = g)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        if (j.group == Sentinel) sentinelSeen = true
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val g = stageJob.get(e.stageId).flatMap(jobs.get).map(_.group).getOrElse("")
        Seq(byGroup.getOrElseUpdate(g, new Counters), totals).foreach { c =>
          c.tasks += 1
          c.runMs += m.executorRunTime
          c.shuffleW += m.shuffleWriteMetrics.bytesWritten
          c.inBytes += m.inputMetrics.bytesRead
          c.inRecs += m.inputMetrics.recordsRead
          c.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      val i = e.blockUpdatedInfo
      i.blockId.asRDDId.foreach { r =>
        blocks += ((r.rddId, i.blockId.name, i.memSize + i.diskSize))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          def walk(p: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
            p.metrics.foreach(m => if (m.name == "number of written files") fileAccums += m.accumulatorId)
            p.children.foreach(walk)
          }
          walk(s.sparkPlanInfo)
        case u: SparkListenerDriverAccumUpdates =>
          u.accumUpdates.foreach { case (id, v) => pendingFiles += ((u.executionId, id, v)) }
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      if (seenQe.add(qe))
        qe.tracker.phases.values.foreach(p => phases += ((p.startTimeMs, p.durationMs)))
    }
  }

  def install(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def beginOp(op: Int): Unit = currentOp = op

  /** Run `body` as span `name`. Untraced, it is a plain call. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption.map(_.id).getOrElse(-1)
    val s = Span(spans.size, name, parent, currentOp, System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s"lakebench-${s.id}", name)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  /** A span whose DataFrame result is materialized at the span boundary
    * (traced only), so the layer's work runs, and is counted, inside it.
    */
  def frame(name: String)(body: => DataFrame): DataFrame = {
    if (!enabled) return body
    val idx = spans.size
    span(name) {
      val ck = body.localCheckpoint(eager = true)
      ck.queryExecution.logical.collectFirst { case l: LogicalRDD => l.rdd }.foreach { r =>
        tracerRdds += r.id
        tracerPins += r
      }
      spans(idx).rowsOut = ck.count()
      ck
    }
  }

  /** A span that collects `df` to the driver and records the row count. */
  def collect(name: String)(df: => DataFrame): Array[Row] = {
    if (!enabled) return df.collect()
    val idx = spans.size
    val rows = span(name)(df.collect())
    spans(idx).rowsOut = rows.length
    rows
  }

  /** Storage peaks count from here on (the measured phase). */
  def markPhase(): Unit = synchronized { blocks += ((-1, "", -1L)) }

  /** Set a per-call extra metric on the most recent span named `name`. */
  def note(name: String, key: String, v: Double): Unit =
    if (enabled) spans.reverseIterator.find(_.name == name).foreach(s => s.extra += key -> v)

  /** Drop the span-boundary checkpoints of the finished op. */
  def releasePins(): Unit = { tracerPins.foreach(_.unpersist(blocking = false)); tracerPins.clear() }

  /** Wait until the listener bus has delivered everything posted so far. */
  def drain(): Unit = {
    sentinelSeen = false
    sc.setJobGroup(Sentinel, Sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000L
    while (!sentinelSeen && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }

  /** Per-span-name aggregates (per-call means) and per-op remainders. */
  def report(opSpanPrefix: String): (Map[String, Agg], Seq[Map[String, Any]], Map[String, Double]) =
    synchronized {
      // files written: accumulator updates -> SQL execution -> job group
      pendingFiles.foreach { case (exec, acc, v) =>
        if (fileAccums.contains(acc)) execGroup.get(exec).foreach { g =>
          byGroup.getOrElseUpdate(g, new Counters).files += v
        }
      }
      val children = spans.groupBy(_.parent)
      def dur(s: Span): Long = s.endMs - s.startMs
      def selfMs(s: Span): Long = dur(s) - children.getOrElse(s.id, Nil).map(dur).sum
      def group(s: Span) = s"lakebench-${s.id}"
      def jobUnionMs(s: Span): Long = {
        val iv = jobs.values.filter(_.group == group(s)).map(j =>
          (math.max(j.start, s.startMs), math.min(if (j.end < 0) s.endMs else j.end, s.endMs)))
          .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
        var covered = 0L; var curA = -1L; var curB = -1L
        iv.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        covered
      }
      def innermostAt(t: Long): Option[Span] =
        spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => dur(s)).headOption
      val planMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
      phases.foreach { case (t, d) => innermostAt(t).foreach(s => planMs(s.id) += d) }

      val layerSpans = spans.filterNot(_.name.startsWith(opSpanPrefix))
      val aggs = layerSpans.groupBy(_.name).map { case (name, ss) =>
        val n = ss.size.toDouble
        val groups = ss.map(group).toSet
        val cs = ss.map(s => byGroup.getOrElse(group(s), new Counters))
        val extras = ss.flatMap(_.extra.keys).distinct.map { k =>
          k -> ss.flatMap(_.extra.get(k)).sum / ss.count(_.extra.contains(k))
        }.toMap
        name -> Agg(ss.size,
          ss.map(selfMs).sum / 1000.0 / n,
          jobs.values.count(j => groups.contains(j.group)) / n,
          cs.map(_.tasks).sum / n,
          ss.map(s => planMs(s.id)).sum / 1000.0 / n,
          ss.map(s => dur(s) - jobUnionMs(s)).sum / 1000.0 / n,
          cs.map(_.shuffleW).sum / 1e6 / n,
          cs.map(_.inBytes).sum / 1e6 / n,
          extras ++ Map(
            "_in_records" -> cs.map(_.inRecs).sum.toDouble,
            "_rows_out" -> ss.map(_.rowsOut.max(0L)).sum.toDouble,
            "_out_bytes" -> cs.map(_.outBytes).sum.toDouble,
            "_files" -> cs.map(_.files).sum.toDouble))
      }
      val opRows = spans.filter(_.name.startsWith(opSpanPrefix)).map { o =>
        val kids = children.getOrElse(o.id, Nil)
        Map[String, Any]("op" -> o.op, "name" -> o.name, "wall_s" -> dur(o) / 1000.0,
          "layers_s" -> kids.map(dur).sum / 1000.0,
          "unattributed_s" -> selfMs(o) / 1000.0,
          "spans" -> kids.map(k => Map[String, Any]("name" -> k.name, "dur_s" -> dur(k) / 1000.0,
            "plan_s" -> planMs(k.id) / 1000.0,
            "jobs" -> jobs.values.count(_.group == group(k)),
            "idle_s" -> (dur(k) - jobUnionMs(k)) / 1000.0)))
      }
      // storage peak over the program's own RDD blocks (tracer pins excluded)
      val live = mutable.Map.empty[String, Long]
      var cur = 0L; var peak = 0L; var measuring = false
      blocks.foreach { case (rdd, name, size) =>
        if (rdd == -1) { measuring = true; peak = cur }
        else if (!tracerRdds.contains(rdd)) {
          cur += size - live.getOrElse(name, 0L)
          if (size == 0L) live.remove(name) else live(name) = size
          if (measuring) peak = math.max(peak, cur)
        }
      }
      val global = Map("storage_peak_mb" -> peak / 1e6, "task_run_s" -> totals.runMs / 1000.0)
      (aggs, opRows.toSeq, global)
    }
}
