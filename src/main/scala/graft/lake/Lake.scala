package graft.lake

import graft.core.CandleSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Partitioned-Parquet candle lake.
  *
  * Layout is the Spark-native form of the reference's hive tree
  * (reference: src/datalake/read/api.py:6, docs/specs/partitioning.md —
  * data/source=…/market=…/timeframe=…/symbol=…/year=…/month=…/part-*.parquet).
  * Spark's hive-partition discovery makes the reference's hand-rolled glob +
  * month enumeration (read/paths.py:4-24, read/reader.py:8-15) unnecessary:
  * partition-column predicates prune directories natively, and we derive
  * year/month predicates from the ts range so pruning always fires (the
  * reference's api.py glob misses month pruning — SURVEY §4 O1).
  */
object LakeLayout {
  val partitionCols: Seq[String] = Seq("source", "market", "timeframe", "symbol", "year", "month")
  def dataRoot(root: String) = s"$root/data"
  def aggregatesRoot(root: String) = s"$root/aggregates"
  def levelsRoot(root: String) = s"$root/levels"
}

/** Filesystem probes through the Hadoop FileSystem API so lake roots work on
  * any scheme (file:, hdfs:, s3a:, …) — java.io.File only understands local
  * paths and silently reports object-store trees as absent.
  */
object LakeFs {

  /** year/month partition values MUST be the UTC calendar fields of ts —
    * but year(ts)/month(ts) resolve under spark.sql.session.timeZone, and a
    * non-UTC session would shift rows near month boundaries into the wrong
    * partition (which the reader's UTC-derived pruning then skips). Derive
    * them session-independently instead: epoch DIV 86400 is the UTC day
    * number, date_add from 1970-01-01 gives the UTC date, and year/month on
    * a DATE are timezone-free. No session-conf mutation, so concurrent
    * queries on the same session are unaffected.
    */
  def withUtcYearMonth(df: DataFrame): DataFrame = {
    val utcDate = date_add(lit(java.sql.Date.valueOf("1970-01-01")),
      floor(col("ts").cast("long") / 86400L).cast("int"))
    df.withColumn("year", year(utcDate)).withColumn("month", month(utcDate))
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Read a parquet tree that may be absent or still empty (a zero-row
    * first batch leaves a directory with no data files): None in exactly
    * those two first-write cases. Any OTHER failure — permissions, corrupt
    * footers, transient store errors — propagates, because treating it as
    * "first write" would let a dynamic-partition overwrite silently replace
    * existing partitions with only the new batch.
    */
  def readParquetIfData(spark: SparkSession, path: String): Option[DataFrame] =
    if (!exists(spark, path)) None
    else try Some(spark.read.parquet(path))
    catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => None
    }

  /** All file paths under `dir`, relative to it (recursive). */
  def listFilesRelative(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return Nil
    val base = fs.makeQualified(p).toString
    val out = Seq.newBuilder[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      out += f.getPath.toString.stripPrefix(base).stripPrefix("/")
    }
    out.result()
  }
}

/** Range reads with the global half-open [from, to) contract
  * (reference: src/datalake/read/api.py:12-74 `read_range_df`; contract
  * api.py:13-19 "fin EXCLUSIVO"). The legacy closed [from, to] readers
  * (reader.py:35-37) are expressed as [from, to+1s) per SURVEY §7.5 item 2.
  */
object LakeReader {

  /** Partition-pruned range scan: filter on partition columns
    * (source/timeframe/symbol + derived year/month) reaches the directory
    * listing; the ts predicate reaches parquet row-group stats
    * (PushedFilters). Output sorted by ts, deduped keep-first on the key
    * (reference: api.py:67-72 drop_duplicates keep='first').
    */
  def readRange(spark: SparkSession, root: String, source: String, symbol: String,
                timeframe: String, from: Option[Timestamp], to: Option[Timestamp],
                columns: Seq[String] = Nil): DataFrame = {
    // one range exchange on ts serves the keep-first dedupe and the sort:
    // every row of a key shares its ts, so RangePartitioning(ts) already
    // clusters the dedupe window (no hash exchange), and orderBy(ts) then
    // sorts within those partitions. The file-order id is taken below the
    // exchange.
    val scan = scanRange(spark, root, source, symbol, timeframe, from, to)
      .withColumn("_mid", monotonically_increasing_id())
    val sorted = keepFirstById(scan.repartitionByRange(col("ts")), rangeKey)
      // sort BEFORE the caller's projection: a columns list without "ts"
      // must still read back ts-ordered (the reference sorts then projects,
      // api.py:67-74) — ordering by a column the projection already dropped
      // is an AnalysisException, not a contract
      .orderBy(col("ts"))
    if (columns.nonEmpty) sorted.select(columns.map(col): _*) else sorted
  }

  /** [[readRange]] without the trailing global ts sort — for callers that
    * union/re-shuffle the result anyway ([[readUnified]]): the range sort is
    * a full range-partition exchange whose output order the next shuffle
    * destroys, so paying it before a union is pure waste.
    */
  private def readRangeUnsorted(spark: SparkSession, root: String, source: String,
                symbol: String, timeframe: String,
                from: Option[Timestamp], to: Option[Timestamp]): DataFrame =
    dedupeKeepFirst(scanRange(spark, root, source, symbol, timeframe, from, to), rangeKey)

  /** The range reads' dedupe key. It INCLUDES market: the tree is
    * partitioned by it, and a symbol legitimately present under two markets
    * must keep both rows — a market-less key would collapse them to one
    * arbitrary market's bar. */
  private val rangeKey = Seq("source", "market", "symbol", "timeframe", "ts")

  /** The partition-pruned scan of one (source, symbol, timeframe) range,
    * before the dedupe. */
  private def scanRange(spark: SparkSession, root: String, source: String,
                        symbol: String, timeframe: String,
                        from: Option[Timestamp], to: Option[Timestamp]): DataFrame = {
    val path = LakeLayout.dataRoot(root)
    // empty-lake short-circuit: an absent tree reads as an empty canonical
    // frame, not an error (reference: api.py:23-24, tests/test_read_api.py)
    if (!LakeFs.exists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], partitionedSchema)
    else applyRange(
      spark.read.schema(partitionedSchema).parquet(path)
        .where(col("source") === source && col("symbol") === symbol && col("timeframe") === timeframe),
      from, to)
  }

  /** Legacy closed-range read [from, to] — implemented as [from, to+1s) per
    * SURVEY §7.5 item 2 (reference: read/reader.py:35-37 inclusive bounds).
    */
  def readRangeClosed(spark: SparkSession, root: String, source: String, symbol: String,
                      timeframe: String, from: Option[Timestamp], to: Option[Timestamp],
                      columns: Seq[String] = Nil): DataFrame =
    readRange(spark, root, source, symbol, timeframe, from,
      to.map(t => new Timestamp(t.getTime + 1000L)), columns)

  private def partitionedSchema = {
    import org.apache.spark.sql.types._
    StructType(CandleSchema.schema.fields.toSeq :+
      StructField("year", IntegerType) :+ StructField("month", IntegerType))
  }

  /** Half-open ts range WITH the derived year/month partition predicates,
    * so directory pruning always fires (SURVEY O1). Shared by this reader
    * and [[LakeProvider.readTree]] — a ts-only filter cannot prune year=/
    * month= directories and degrades a one-month read over a decade-deep
    * tree into a full-tree listing (r14: the provider had its own ts-only
    * copy).
    */
  private[lake] def applyRange(df0: DataFrame, from: Option[Timestamp],
                               to: Option[Timestamp]): DataFrame = {
    var df = df0
    from.foreach { f =>
      val c = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
      c.setTime(f)
      val (y, m) = (c.get(java.util.Calendar.YEAR), c.get(java.util.Calendar.MONTH) + 1)
      df = df.where(col("year") > y || (col("year") === y && col("month") >= m))
      df = df.where(col("ts") >= lit(f))
    }
    to.foreach { t =>
      val c = java.util.Calendar.getInstance(java.util.TimeZone.getTimeZone("UTC"))
      c.setTime(t)
      val (y, m) = (c.get(java.util.Calendar.YEAR), c.get(java.util.Calendar.MONTH) + 1)
      df = df.where(col("year") < y || (col("year") === y && col("month") <= m))
      df = df.where(col("ts") < lit(t))
    }
    df
  }

  /** keep-first dedupe with a deterministic tiebreaker (SURVEY §7.5 item 4:
    * bare dropDuplicates keeps an arbitrary row).
    */
  def dedupeKeepFirst(df: DataFrame, key: Seq[String]): DataFrame =
    keepFirstById(df.withColumn("_mid", monotonically_increasing_id()), key)

  /** The row of each `key` with the least `_mid`, without `_mid`. */
  private def keepFirstById(df: DataFrame, key: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(col("_mid"))
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn", "_mid")
  }

  /** Lambda read: the batch tree unioned with a streaming APPEND directory
    * (the flat parquet a `writeStream`/`foreachBatch` append sink lands
    * before the periodic batch job folds it into the tree via
    * [[LakeWriter.upsert]]) — so readers see fresh bars immediately without
    * waiting for the fold, and a bar restated by the stream shadows the
    * batch copy under the SAME new-beats-old precedence the upsert will
    * apply when it runs. Either side may be absent.
    *
    * Scale shape: the batch side keeps readRange's partition pruning and ts
    * pushdown untouched; the append side is small by definition (bounded by
    * the fold interval) and gets the same ts/key predicates pushed into its
    * scan; the precedence dedupe shuffles on the candle key like every
    * other keep-last in the engine.
    */
  def readUnified(spark: SparkSession, root: String, streamDir: String,
                  source: String, symbol: String, timeframe: String,
                  from: Option[Timestamp], to: Option[Timestamp],
                  columns: Seq[String] = Nil): DataFrame = {
    val key = Seq("source", "market", "symbol", "timeframe", "ts")
    val base = CandleSchema.schema.fieldNames.toSeq
    val batch = readRangeUnsorted(spark, root, source, symbol, timeframe, from, to)
      .select(base.map(col): _*)
    val stream = LakeFs.readParquetIfData(spark, streamDir).map { raw =>
      var s = CandleSchema.enforce(raw)
        .where(col("source") === source && col("symbol") === symbol &&
          col("timeframe") === timeframe)
      from.foreach(f => s = s.where(col("ts") >= lit(f)))
      to.foreach(t => s = s.where(col("ts") < lit(t)))
      // append-side duplicates carry NO recency marker (append mode emits
      // each finalized bar once; duplicates only arise from replays, which
      // re-emit identical rows) — so dedupe on the VALUE TUPLE, not on
      // monotonically_increasing_id's file-listing order: two listings of
      // the same directory must serve the same row even if a replay ever
      // disagreed
      val valueCols = base.filterNot(key.contains)
      val wst = Window.partitionBy(key.map(col): _*)
        .orderBy(struct(valueCols.map(col): _*).desc)
      s.select(base.map(col): _*)
        .withColumn("_rn", row_number().over(wst))
        .where(col("_rn") === 1).drop("_rn")
    }
    val unified = stream match {
      case None => batch
      case Some(ss) =>
        val tagged = batch.withColumn("_prec", lit(0))
          .unionByName(ss.withColumn("_prec", lit(1)))
        val w = Window.partitionBy(key.map(col): _*).orderBy(col("_prec").desc)
        tagged.withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn", "_prec")
    }
    val projected =
      if (columns.nonEmpty) unified.select(columns.map(col): _*) else unified
    projected.orderBy(col("ts"))
  }
}

/** Idempotent merge-dedupe upsert, the engine's K1/K2/K3
  * (reference: src/datalake/ingestors/ibkr/writer.py:126-233 `write_month` —
  * read existing ∪ new, sort ts, drop_duplicates keep='last';
  * binance/ingest_cli.py:47-80 with composite key;
  * aggregates/aggregate.py:48-66 atomic month write).
  *
  * Spark design: keep-"last" needs an explicit precedence column (new beats
  * old) because Spark's dropDuplicates keeps an arbitrary row. We read the
  * affected partitions, union with the new batch tagged at higher precedence,
  * keep row_number()==1 per key ordered by precedence desc, and rewrite ONLY
  * the touched partitions via dynamic partition overwrite — the Spark commit
  * protocol provides the atomic tmp+rename the reference does by hand
  * (aggregate.py:64). Re-running the same ingest is a no-op (O8 idempotence).
  *
  * ==Concurrency contract==
  * ONE writer per partition cell (source, market, timeframe, symbol, year,
  * month) at a time. Concurrent upserts into DIFFERENT cells are safe and
  * spec-pinned (LakeSpec: each writer's probe reads only its own cells via
  * the literal partition predicate, and dynamic overwrite replaces only the
  * partitions its batch touches — both corrections land, no row loss).
  * Concurrent upserts into the SAME cell are a lost-update race: each runs
  * read-merge-overwrite without a transaction, so the second commit can
  * replace rows the first one merged. This matches the reference's own
  * model — writer.py:202-208 assumes a single ingest process per month tree
  * — and the engine DETECTS the violation rather than prevent it: mergeWrite
  * snapshots each touched cell's committed-files fingerprint at probe time
  * and re-checks it immediately before launching the publish job, aborting
  * with [[ConcurrentWriteException]] when another commit landed in between —
  * shrinking the undetected window from the whole probe-merge-publish span
  * to the publish job alone. Detection is FULL — every touched cell
  * snapshotted — for batches up to the 10⁴-cell listing budget (r16;
  * >1000-cell batches still fall back to the SEMI-JOIN probe for pruning,
  * but no longer to sampled detection); only past the budget does the
  * snapshot degrade to a deterministic sample, WARN-disclosed and
  * spec-pinned. True prevention needs a transactional table format or an
  * external per-cell lock — out of scope by design, not by omission.
  */
object LakeWriter {

  def upsert(spark: SparkSession, root: String, batch: DataFrame): Unit =
    upsertCandles(spark, LakeLayout.dataRoot(root), batch)

  /** The candle-tree merge-dedupe upsert into `path`: the data tree's
    * [[upsert]] and the aggregates tree ([[Aggregates.materialize]]) share
    * it, so both trees key, partition and fuse their exchange alike.
    */
  private[lake] def upsertCandles(spark: SparkSession, path: String, batch: DataFrame): Unit = {
    val enforced = LakeFs.withUtcYearMonth(CandleSchema.enforce(batch))
    // market IS part of the bar's identity (r14): the readers' dedupe key
    // includes it (readRangeUnsorted/readUnified — "a market-less key
    // would collapse them to one arbitrary market's bar"), so the writer's
    // merge must too — a batch carrying the same (source, symbol, tf, ts)
    // under two markets is two different instruments' bars, not a
    // duplicate to keep-last over.
    UpsertCore.mergeWrite(spark, path, enforced,
      LakeLayout.partitionCols,
      Seq("source", "market", "symbol", "timeframe", "ts"), "ts",
      // year/month = f(ts), every other partition column ∈ key — the
      // exchange-fusion precondition (see mergeWrite)
      partColsDeterminedByKey = true)
  }
}

/** Another committer published into a partition cell this upsert had already
  * read and merged — publishing anyway would silently drop the other
  * writer's rows (lost update). The caller's repair is to re-run the upsert:
  * it re-reads the now-current cell contents and the merge is idempotent.
  */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** The ONE merge-dedupe upsert implementation, shared by the data tree
  * ([[LakeWriter]]), the aggregates tree ([[Aggregates]]), and the levels
  * tree ([[LevelsWriter]]) — same probe, precedence merge, keep-last dedupe,
  * and dynamic-partition overwrite everywhere, so a fix lands once.
  */
private[lake] object UpsertCore {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // cap on the touched-partition tuples inlined as a literal pruning
  // predicate (a daily/monthly batch touches a handful of cells; 1000 ≈
  // 80 symbols × 12 months); beyond it the probe falls back to the
  // semi-join form. Conflict DETECTION is a separate, larger budget —
  // see [[SnapshotBudgetCells]].
  private val MaxTouchedPartitions = 1000

  // listing budget for the same-cell conflict-detection snapshot (r16;
  // was: detection sampled at MaxTouchedPartitions past the literal
  // probe). Detection stays FULL — every touched cell snapshotted before
  // the merge and re-checked before the publish — up to this many cells:
  // 2 × 10⁴ listStatus calls, parallelized 32-wide, is seconds even on an
  // object store, against a write job that rewrites those same 10⁴
  // partitions. Only past the budget does detection degrade to a
  // deterministic SAMPLE (first budget dirs by path order), disclosed by
  // the WARN — at that batch shape the listing time would rival the write.
  private val SnapshotBudgetCells = 10000

  /** True when any expression anywhere in the frame's analyzed plan is
    * non-deterministic (rand(), uuid(), shuffle(), a UDF marked
    * asNondeterministic, …). Expression.deterministic already recurses
    * into children, so scanning each plan node's top-level expressions
    * covers the whole tree.
    */
  private[lake] def hasNonDeterministicExpr(df: DataFrame): Boolean =
    df.queryExecution.analyzed
      .find(p => p.expressions.exists(e => !e.deterministic)).isDefined

  /** (file name, length, mtime) per data file in each touched cell dir —
    * the cheapest observable that changes on EVERY commit into the cell
    * (the committer renames new part files in and deletes replaced ones).
    * One listStatus RPC per touched cell, ≤ [[MaxTouchedPartitions]].
    */
  private def cellSnapshot(spark: SparkSession, dirs: Seq[String]): Map[String, Seq[(String, Long, Long)]] = {
    val conf = spark.sessionState.newHadoopConf()
    def one(d: String): (String, Seq[(String, Long, Long)]) = {
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      val files =
        if (!fs.exists(p)) Seq.empty[(String, Long, Long)]
        else fs.listStatus(p).toSeq.filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
          .map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
          .sortBy(_._1)
      d -> files
    }
    // full detection snapshots up to SnapshotBudgetCells dirs (r16) — at
    // object-store listing latency a sequential loop would take minutes,
    // so fan the listStatus calls over a bounded pool; order-independent
    // (result is a map) and Hadoop FileSystem instances are thread-safe
    if (dirs.size <= 64) dirs.map(one).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(32)
      try dirs.map(d => pool.submit(
          new java.util.concurrent.Callable[(String, Seq[(String, Long, Long)])] {
            def call(): (String, Seq[(String, Long, Long)]) = one(d)
          }))
        .map(_.get()).toMap
      finally pool.shutdown()
    }
  }

  /** Distinct values of `cols`, collected in ONE job with no shuffle
    * (r17, guide §1.2/§2.4): the old `select(cols).distinct().limit(cap+1)
    * .collect()` form cost a partial-agg stage + exchange + final stage —
    * two AQE jobs — and needed a session-global
    * `spark.sql.limit.initialNumPartitions` mutation (plus restore) to
    * avoid executeTake's 1→4→16 wave escalation, a set/restore that was
    * one refactor away from racing the engine's concurrent writes (r16
    * verdict item 2). This form dedupes per partition inside a single
    * `toRdd` job and finishes the dedupe on the driver as task results
    * arrive — no limit, no conf mutation, nothing session-global.
    *
    * Memory bounds: each task returns at most `cap` distinct narrow tuples
    * (partition columns only — strings and ints); the driver keeps at most
    * `cap` merged plus one in-flight task result. Every task consumes its
    * WHOLE partition even after hitting the cap — when the input is a lazy
    * localCheckpoint this materializes every partition exactly once, which
    * is what lets the publish job reuse the probe's evaluation.
    *
    * Returns up to `cap` distinct rows; `result.length == cap` means the
    * true count MAY exceed it (callers pass cap = budget + 1 and treat a
    * full result as over-budget, exactly the old limit(cap) contract).
    */
  private def collectDistinctCapped(spark: SparkSession, batch: DataFrame,
                                    cols: Seq[String], cap: Int,
                                    jobDesc: String): Array[org.apache.spark.sql.Row] = {
    val proj = batch.select(cols.map(col): _*)
    val schema = proj.schema
    val rdd = proj.queryExecution.toRdd
    val merged = new java.util.LinkedHashSet[org.apache.spark.sql.catalyst.InternalRow]()
    spark.sparkContext.setJobDescription(jobDesc)
    try spark.sparkContext.runJob(rdd,
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        // normalize to UnsafeRow before hashing: only UnsafeRow has
        // value-based equals/hashCode (bytes); a GenericInternalRow from an
        // exotic scan would dedupe by identity and silently overflow the cap
        val unsafe = org.apache.spark.sql.catalyst.expressions
          .UnsafeProjection.create(schema)
        val seen = new java.util.LinkedHashSet[org.apache.spark.sql.catalyst.InternalRow]()
        while (it.hasNext) { // full consumption — see the materialization note
          val r = unsafe(it.next())
          if (seen.size < cap && !seen.contains(r)) seen.add(r.copy())
        }
        seen.toArray(Array.empty[org.apache.spark.sql.catalyst.InternalRow])
      },
      (_: Int, part: Array[org.apache.spark.sql.catalyst.InternalRow]) =>
        part.foreach(r => if (merged.size < cap) merged.add(r)))
    finally spark.sparkContext.setJobDescription(null)
    val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    import scala.jdk.CollectionConverters._
    merged.iterator().asScala
      .map(r => toScala(r).asInstanceOf[org.apache.spark.sql.Row]).toArray
  }

  /** `beforePublish` is a test seam (defaults to a no-op): it runs between
    * the merge-plan construction and the conflict re-check, where a
    * concurrent committer would land — specs use it to interleave a
    * same-cell writer deterministically. `maxTouched` is the semi-join
    * fallback threshold ([[MaxTouchedPartitions]] in production; a seam so
    * the spec pinning the fallback's sampled-detection contract doesn't
    * have to write 1001 partition cells).
    *
    * REQUIREMENT (ENFORCED since r16; was prose): `batch` must be
    * DETERMINISTIC under re-evaluation. The touched-cell probe, the merge
    * plan, and the write job evaluate the batch lineage separately; a
    * non-deterministic batch (rand()/uuid()-derived partition values
    * upstream) can touch cells at write time that the probe never listed —
    * the dynamic overwrite would then replace a cell whose old rows were
    * never unioned into the merge (silent row loss), and the conflict
    * snapshot never covered it. mergeWrite now SCANS the batch's analyzed
    * plan for non-deterministic expressions and eagerly localCheckpoints
    * offending batches, so the probe, merge, and write all see ONE
    * evaluation. Deterministic batches — every engine-internal caller
    * (upsert, repair, aggregate refresh, levels) — pay nothing: the r12/
    * r14 lazy-checkpoint cost model is preserved, and the ~2 s eager
    * materialization lands only on the callers that actually need it.
    * Residual (documented, not detected): operators whose output depends
    * on physical partitioning rather than an expression flag — e.g.
    * `df.sample(seed)` under a changed upstream layout — remain the
    * caller's contract.
    *
    * `snapshotBudget` bounds the conflict-detection listing (r16): every
    * touched cell is snapshotted and re-checked — FULL detection — up to
    * this many cells; past it, detection degrades to the first
    * `snapshotBudget` dirs by path order (sampled, WARN-disclosed).
    */
  def mergeWrite(spark: SparkSession, path: String, batch: DataFrame,
                 partCols: Seq[String], key: Seq[String], sortCol: String,
                 beforePublish: () => Unit = () => (),
                 maxTouched: Int = MaxTouchedPartitions,
                 snapshotBudget: Int = SnapshotBudgetCells,
                 partColsDeterminedByKey: Boolean = false): Unit = {
    // Tree-existence gate FIRST (one getFileStatus, no listing): a brand-new
    // tree has nothing to conflict with or merge against, so the probe —
    // which costs one evaluation of the batch lineage — is skipped
    // entirely on the bootstrap write, exactly the pre-r14 cost model
    // (measured: running it unconditionally added ~2 s to q124's chain of
    // first-writes at the bench shape).
    val treeExists = LakeFs.exists(spark, path)
    // Batch pinning (lazy localCheckpoint — materializes per partition, on
    // first computation, inside whatever job computes it first):
    //  - non-deterministic lineage: REQUIRED (r16) — see the note above;
    //  - tree exists (r17, guide §1.2): the probe and the publish both
    //    evaluate the batch; un-pinned, that is two full evaluations of the
    //    batch lineage (for an aggregate-refresh batch, two scans of the
    //    touched base months + two resamples). The pin makes the probe's
    //    full scan THE materialization and the publish a checkpoint read —
    //    one evaluation total, at the cost of buffering one BATCH (ingest-
    //    grain, never tree-sized) in local block storage.
    //    Bootstrap writes (no probe) stay un-pinned: single consumer.
    val batchPinned =
      if (hasNonDeterministicExpr(batch)) {
        log.warn("mergeWrite batch lineage contains non-deterministic " +
          "expressions — materializing it (localCheckpoint) so the " +
          "touched-cell probe, the merge, and the write job see ONE " +
          "evaluation; without this, write-time rows could land in cells " +
          "the probe never listed and the dynamic overwrite would drop " +
          "those cells' pre-existing rows")
        batch.localCheckpoint(eager = false)
      } else if (treeExists) batch.localCheckpoint(eager = false)
      else batch
    // Touched-cell probe — computed from the BATCH alone, so it runs
    // BEFORE the tree is listed: the conflict-detection snapshot below
    // must precede every read of the existing files, or a commit landing
    // between the read's eager file listing and the snapshot would pass
    // the pre-publish re-check (both sides post-commit) while the merge
    // plan still reads the stale listing (r14 review — with the snapshot
    // first, the undetected window genuinely IS the publish job alone, as
    // the contract note claims). Collecting the touched tuples (bounded —
    // a batch spans few (source, symbol, tf, year, month) cells; cap
    // guarded below) buys deterministic FILE-level partition pruning,
    // where a broadcast semi-join prunes files only when dynamic file
    // pruning happens to fire. At 100 TB that is the difference between
    // scanning the touched months and scanning the tree — and it confines
    // this writer's reads to its own partitions, which is what makes
    // concurrent writers to different months safe (LakeSpec's contract):
    // this job never opens files a different-month writer's commit is
    // about to replace.
    val distinctTouched = batchPinned.select(partCols.map(col): _*).distinct()
    // ONE probe job serves both decisions: literal-vs-semi-join pruning
    // (cutoff maxTouched) and full-vs-sampled conflict detection (cutoff
    // snapshotBudget) — collecting up to snapshotBudget+1 narrow tuples is
    // a few MB driver-side at the 10⁴ default, cheaper than a second pass
    val touched =
      if (treeExists)
        collectDistinctCapped(spark, batchPinned, partCols,
          math.max(maxTouched, snapshotBudget) + 1, s"mergeWrite:probe $path")
      else Array.empty[org.apache.spark.sql.Row]
    val literalProbe = treeExists && touched.nonEmpty && touched.length <= maxTouched
    def cellDir(row: org.apache.spark.sql.Row): String =
      // build each cell dir EXACTLY as the parquet writer will: Spark
      // Hive-escapes partition values in paths (e.g. symbol EUR/USD →
      // symbol=EUR%2FUSD, null/empty → __HIVE_DEFAULT_PARTITION__).
      // Raw interpolation here would point the snapshot at directories
      // that never exist, and the conflict check would silently pass
      // for any cell whose value needs escaping — failing OPEN on the
      // exact contract it exists to enforce.
      path + "/" + partCols.zipWithIndex.map { case (c, i) =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(c, Option(row.get(i)).map(_.toString).orNull)
      }.mkString("/")
    val touchedDirs: Seq[String] =
      if (!literalProbe) Nil else touched.toSeq.map(cellDir)
    // conflict-detection snapshot scope (r16): EVERY touched cell is
    // snapshotted — on the literal path trivially, and on the >maxTouched
    // fallback too, up to `snapshotBudget` cells (the r15 version sampled
    // at maxTouched, so a conflict in cell #1001 of a 2000-cell batch
    // published undetected). Only a batch touching MORE than the budget
    // degrades to the deterministic sample — first `snapshotBudget` dirs
    // by path order — and the WARN below says so.
    val snapshotDirs: Seq[String] =
      if (literalProbe) touchedDirs
      else if (treeExists && touched.nonEmpty)
        touched.toSeq.map(cellDir).sorted.take(snapshotBudget)
      else Nil
    val detectionSampled = !literalProbe && touched.length > snapshotBudget
    // snapshot FIRST (see above); on a first write the dirs don't exist
    // yet and the snapshots are empty — two racing first-writers into one
    // cell then trip the re-check, which is the correct outcome
    val probeSnapshot: Option[Map[String, Seq[(String, Long, Long)]]] =
      if (snapshotDirs.nonEmpty) Some(cellSnapshot(spark, snapshotDirs)) else None
    // first-write probe, NOT a catch-all (see LakeFs.readParquetIfData):
    // a transient/corruption read error aborts the upsert instead of being
    // mistaken for a first write and dropping pre-existing rows
    val existing = LakeFs.readParquetIfData(spark, path).map { cur =>
      if (!treeExists)
        // the tree appeared between the existence check and the read (a
        // racing bootstrap writer landed first): merge its rows for this
        // batch's cells via the semi-join probe rather than drop them —
        // detection is off for this race, like any semi-join-probe run
        cur.join(broadcast(distinctTouched), partCols, "left_semi")
      else if (touched.isEmpty) cur.where(lit(false))
      else if (!literalProbe) {
        // a batch touching >maxTouched partition cells: fall back to the
        // semi-join rather than build a kilometer-long predicate. Conflict
        // detection stays FULL up to the snapshot budget (r16; r15 sampled
        // at maxTouched); only past the budget does it degrade to the
        // deterministic sample — say which at runtime.
        log.warn(s"upsert touches >$maxTouched partition cells — " +
          "falling back to the semi-join probe; same-cell concurrent-write " +
          (if (detectionSampled)
            s"detection is SAMPLED (first $snapshotBudget of >$snapshotBudget " +
              "touched cells by path order) for this run — a conflict landing " +
              "only in an unsampled cell publishes undetected"
          else
            s"detection stays FULL (${touched.length} cells snapshotted and " +
              "re-checked)"))
        cur.join(broadcast(distinctTouched), partCols, "left_semi")
      } else {
        cur.where(touched.map { row =>
          partCols.zipWithIndex.map { case (c, i) => col(c) <=> lit(row.get(i)) }
            .reduce(_ && _)
        }.reduce(_ || _))
      }
    }

    val tagged = batchPinned.withColumn("_prec", lit(1))
    val merged = existing match {
      case Some(old) => old.withColumn("_prec", lit(0)).unionByName(tagged, allowMissingColumns = true)
      case None => tagged
    }
    // precedence first (new beats old), then a DETERMINISTIC value-tuple
    // tiebreak: duplicate keys WITHIN one batch (both _prec = 1) would
    // otherwise be broken by shuffle order, so the same ingest re-run could
    // land a different survivor — violating O8 idempotence. Well-formed
    // batches have unique keys and never reach the tiebreak.
    val valueCols = merged.columns.filterNot(c => key.contains(c) || c == "_prec")
    // Exchange fusion (r16, guide §2.4 "two operations keyed the same way
    // can share one exchange"): when the caller asserts every partition
    // column is functionally determined by the dedupe key (data/aggregates
    // trees: year/month = f(ts), every other partCol ∈ key), repartition
    // by partCols FIRST and extend the window's partitionBy with the
    // partCols. The dedupe groups are identical (the extra columns are
    // constant within a key group), HashPartitioning(partCols) satisfies
    // the window's ClusteredDistribution (partCols ⊆ window keys), and the
    // publish plan carries ONE data-sized exchange instead of two
    // (window-key shuffle + layout repartition) — at 100 TB that is one
    // full network pass of existing ∪ batch saved per upsert. Levels keeps
    // the two-exchange form: its `market` partCol is NOT determined by its
    // (session_date, symbol) key, so fusing would split dedupe groups.
    val (preparted, windowKeys) =
      if (partColsDeterminedByKey)
        (merged.repartition(partCols.map(col): _*),
          (key ++ partCols.filterNot(key.contains)).map(col))
      else (merged, key.map(col))
    val w = Window.partitionBy(windowKeys: _*)
      .orderBy(col("_prec").desc, struct(valueCols.toSeq.map(col): _*).desc)
    // Break the lineage BEFORE the overwrite: the batch's lineage may read
    // the very files the dynamic overwrite replaces (e.g. repair flows that
    // derive the fill from the lake itself) — without this, the write job
    // fails with FAILED_READ_FILE on its own input. LAZY checkpoint
    // (eager = false, round 12): the analyzer-level lineage break is
    // identical, but materialization happens inside the write job's tasks —
    // which read the old files while they still exist (the dynamic-overwrite
    // commit only swaps partitions at job END, after every task has
    // succeeded) — instead of as a separate up-front job. Saves one full
    // job per upsert across every lake flow (upsert, materialize, refresh,
    // levels), which is where the bench's lake queries spend their time
    // (the data volume is trivial; the job count is not). On a cluster, a
    // staging-dir write + swap (or a transactional table format) is the
    // equivalent.
    val deduped = preparted.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn", "_prec")
      .localCheckpoint(eager = false)

    beforePublish()
    // same-cell lost-update DETECTION: if any touched cell's committed files
    // changed since the probe listed them, a concurrent committer has
    // published rows this merge never read — publishing now would silently
    // replace them. Abort instead; the re-run re-reads the current state and
    // the merge is idempotent. The remaining undetected window is the
    // publish job below (its tasks re-read the old files lazily, and the
    // dynamic-overwrite commit swaps partitions at job end) — closing that
    // too needs a transactional table format, which this engine deliberately
    // does not reimplement.
    probeSnapshot.foreach { before =>
      val now = cellSnapshot(spark, snapshotDirs)
      val changed = snapshotDirs.filter(d => before(d) != now(d))
      if (changed.nonEmpty)
        throw new ConcurrentWriteException(
          s"concurrent commit detected in ${changed.size} touched partition cell(s) " +
            s"since this upsert's probe (first: ${changed.head}) — " +
            "single-writer-per-cell contract violated; re-run the upsert")
    }
    spark.sparkContext.setJobDescription(s"mergeWrite:publish $path")
    // fused mode already hash-clustered by partCols before the window (and
    // the window preserves its child's partitioning), so each cell is
    // wholly inside one task — a second repartition would be a pure extra
    // shuffle of the same bytes
    val laidOut = if (partColsDeterminedByKey) deduped
      else deduped.repartition(partCols.map(col): _*)
    try laidOut
      .sortWithinPartitions(col(sortCol)) // ordered within files (reference O6)
      .write.mode("overwrite")
      .partitionBy(partCols: _*)
      // write-scoped dynamic overwrite (only touched partitions replaced) —
      // a DataFrameWriter option, NOT a session-conf mutation, so concurrent
      // writers/queries on the same session are unaffected
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", "zstd") // reference: config.py:12 ZSTD
      .parquet(path)
    finally spark.sparkContext.setJobDescription(null)
    // the session caches the file listing for this path; the overwrite just
    // replaced those files, so readers in the same session must re-list
    spark.catalog.refreshByPath(path)
  }
}
