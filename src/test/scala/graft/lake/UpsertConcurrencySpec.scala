package graft.lake

import graft.SparkTestSession
import graft.core.CandleSchema
import graft.sources.SynthSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.Timestamp

/** The upsert's concurrency + commit-timing contract (LakeWriter scaladoc):
  * ONE writer per partition cell at a time; a same-cell violation is
  * DETECTED (ConcurrentWriteException) rather than silently losing the
  * other writer's update; different-cell interleavings publish untouched;
  * and a repair flow whose lineage reads the very files it overwrites keeps
  * working (the lazy-localCheckpoint commit-timing assumption ADVICE r12
  * asked to pin).
  *
  * Lives in package graft.lake to drive [[UpsertCore.mergeWrite]]'s
  * `beforePublish` test seam directly — the only way to interleave a
  * concurrent committer deterministically.
  */
class UpsertConcurrencySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  /** mergeWrite with LakeWriter.upsert's exact arguments + the test seam. */
  private def upsertWithSeam(root: String, batch: org.apache.spark.sql.DataFrame,
                             beforePublish: () => Unit): Unit =
    UpsertCore.mergeWrite(spark, LakeLayout.dataRoot(root),
      LakeFs.withUtcYearMonth(CandleSchema.enforce(batch)),
      LakeLayout.partitionCols, Seq("source", "symbol", "timeframe", "ts"), "ts",
      beforePublish)

  test("a SAME-cell commit landing mid-upsert is detected, not silently lost") {
    val root = Files.createTempDirectory("lake_conflict").toString
    val day = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
    LakeWriter.upsert(spark, root, day)
    // writer B's update: one bar's close -> 777, committed while writer A
    // is between its probe and its publish
    val patchB = day.where(col("ts") === lit("2025-08-01 09:00:00"))
      .withColumn("close", lit(777.0))
    // writer A's update into the SAME (source,market,tf,symbol,year,month)
    // cell — without detection its publish would rewrite the cell from the
    // pre-B files and erase B's 777
    val patchA = day.where(col("ts") === lit("2025-08-01 10:00:00"))
      .withColumn("close", lit(111.0))
    val e = intercept[ConcurrentWriteException] {
      upsertWithSeam(root, patchA, () => LakeWriter.upsert(spark, root, patchB))
    }
    assert(e.getMessage.contains("concurrent commit detected"))
    // writer B's commit SURVIVED (A aborted before publishing)...
    val readBack = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(readBack.where(col("ts") === lit("2025-08-01 09:00:00"))
      .head().getAs[Double]("close") === 777.0)
    // ...and the documented repair — re-run the aborted upsert — lands A's
    // update on top of the now-current cell, preserving B's
    LakeWriter.upsert(spark, root, patchA)
    val after = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(after.count() === 1440)
    assert(after.where(col("ts") === lit("2025-08-01 09:00:00"))
      .head().getAs[Double]("close") === 777.0)
    assert(after.where(col("ts") === lit("2025-08-01 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
  }

  test("same-cell detection survives partition values that need path escaping") {
    // Spark Hive-escapes partition values in directory names (EUR/USD →
    // symbol=EUR%2FUSD). The detector must snapshot the dirs the WRITER
    // produces — a raw-interpolated path would not exist, the before/after
    // snapshots would both read empty, and the conflict would pass silently
    // (fail-open). Same interleaving as the first test, escaping-hostile
    // symbol.
    val root = Files.createTempDirectory("lake_escape").toString
    val day = SynthSource.m1(spark, "EUR/USD", "2025-08-01", "2025-08-01")
    LakeWriter.upsert(spark, root, day)
    val patchB = day.where(col("ts") === lit("2025-08-01 09:00:00"))
      .withColumn("close", lit(777.0))
    val patchA = day.where(col("ts") === lit("2025-08-01 10:00:00"))
      .withColumn("close", lit(111.0))
    val e = intercept[ConcurrentWriteException] {
      upsertWithSeam(root, patchA, () => LakeWriter.upsert(spark, root, patchB))
    }
    assert(e.getMessage.contains("concurrent commit detected"))
    val readBack = LakeReader.readRange(spark, root, "synth", "EUR/USD", "M1", None, None)
    assert(readBack.where(col("ts") === lit("2025-08-01 09:00:00"))
      .head().getAs[Double]("close") === 777.0)
  }

  test("a DIFFERENT-cell commit mid-upsert does NOT trip the detector") {
    // the detector lists only the cells THIS batch touches — a concurrent
    // writer in another month must never abort it (that interleaving is the
    // proven-safe contract, LakeSpec's different-months test)
    val root = Files.createTempDirectory("lake_diffcell").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    val patchJan = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .withColumn("close", lit(111111.0))
    val patchFeb = feb.where(col("ts") === lit("2025-02-10 10:00:00"))
      .withColumn("close", lit(222222.0))
    // writer A (January) sees writer B (February) commit mid-flight: fine
    upsertWithSeam(root, patchJan, () => LakeWriter.upsert(spark, root, patchFeb))
    val all = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(all.count() === 2880)
    assert(all.where(col("ts") === lit("2025-01-10 10:00:00"))
      .head().getAs[Double]("close") === 111111.0)
    assert(all.where(col("ts") === lit("2025-02-10 10:00:00"))
      .head().getAs[Double]("close") === 222222.0)
  }

  test("two TRULY concurrent different-cell mergeWrites both publish; " +
      "the probe leaves no session conf behind (r17)") {
    // r16's probe mutated spark.sql.limit.initialNumPartitions (set +
    // restore-in-finally, session-global) — racy once writes run
    // concurrently on one session. r17's single-job runJob probe has no
    // conf to mutate; this pins BOTH the behavior (concurrent
    // different-cell writers each probe, merge and publish correctly) and
    // the absence of any leaked/raced session conf.
    val root = Files.createTempDirectory("lake_parprobe").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb) // both trees exist: probes WILL run
    val patchJan = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .withColumn("close", lit(333333.0))
    val patchFeb = feb.where(col("ts") === lit("2025-02-10 10:00:00"))
      .withColumn("close", lit(444444.0))
    val confKey = "spark.sql.limit.initialNumPartitions"
    val before = spark.conf.getOption(confKey)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.DurationInt
    Await.result(Future.sequence(Seq(
      Future(LakeWriter.upsert(spark, root, patchJan)),
      Future(LakeWriter.upsert(spark, root, patchFeb)))), 120.seconds)
    assert(spark.conf.getOption(confKey) === before,
      "the upsert probe must not touch session confs")
    val all = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(all.count() === 2880)
    assert(all.where(col("ts") === lit("2025-01-10 10:00:00"))
      .head().getAs[Double]("close") === 333333.0)
    assert(all.where(col("ts") === lit("2025-02-10 10:00:00"))
      .head().getAs[Double]("close") === 444444.0)
  }

  test("the >maxTouched fallback DETECTS a conflict landing in a sampled cell (r15)") {
    // r15 upgrades the fallback from no-detection to SAMPLED detection:
    // the first maxTouched cell dirs (path order) are snapshotted and
    // re-checked exactly like the literal path. With maxTouched = 1 the
    // sample is the January cell (month=1 sorts before month=2), so a
    // concurrent commit into January must abort the publish.
    val root = Files.createTempDirectory("lake_fallback").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    // writer A touches TWO cells -> exceeds maxTouched = 1 -> fallback
    val patchA = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .unionByName(feb.where(col("ts") === lit("2025-02-10 10:00:00")))
      .withColumn("close", lit(111.0))
    // writer B lands in the SAMPLED (January) cell mid-flight: detected
    val patchB = jan.where(col("ts") === lit("2025-01-10 09:00:00"))
      .withColumn("close", lit(777.0))
    intercept[ConcurrentWriteException] {
      UpsertCore.mergeWrite(spark, LakeLayout.dataRoot(root),
        LakeFs.withUtcYearMonth(CandleSchema.enforce(patchA)),
        LakeLayout.partitionCols, Seq("source", "symbol", "timeframe", "ts"), "ts",
        beforePublish = () => LakeWriter.upsert(spark, root, patchB),
        maxTouched = 1)
    }
    // the abort left B's commit intact; A's re-run (no interleaver) merges
    // both — the documented repair path
    UpsertCore.mergeWrite(spark, LakeLayout.dataRoot(root),
      LakeFs.withUtcYearMonth(CandleSchema.enforce(patchA)),
      LakeLayout.partitionCols, Seq("source", "symbol", "timeframe", "ts"), "ts",
      maxTouched = 1)
    val after = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(after.count() === 2880)
    assert(after.where(col("ts") === lit("2025-01-10 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
    assert(after.where(col("ts") === lit("2025-02-10 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
    assert(after.where(col("ts") === lit("2025-01-10 09:00:00"))
      .head().getAs[Double]("close") === 777.0, "B's commit must survive the abort+retry")
  }

  test("the >maxTouched fallback DETECTS a conflict in EVERY touched cell " +
    "within the snapshot budget — the r15 sampled hole is closed (r16)") {
    // r15 sampled detection at maxTouched: with maxTouched = 1 the
    // February cell was unsampled and a concurrent commit there published
    // undetected (the test that stood here pinned the miss). r16 snapshots
    // every touched cell up to the snapshot budget, so the same
    // interleaving now aborts.
    val root = Files.createTempDirectory("lake_fallback2").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    val patchA = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .unionByName(feb.where(col("ts") === lit("2025-02-10 10:00:00")))
      .withColumn("close", lit(111.0))
    // writer B lands in the cell BEYOND maxTouched (February): detected now
    val patchB = feb.where(col("ts") === lit("2025-02-10 09:00:00"))
      .withColumn("close", lit(777.0))
    intercept[ConcurrentWriteException] {
      UpsertCore.mergeWrite(spark, LakeLayout.dataRoot(root),
        LakeFs.withUtcYearMonth(CandleSchema.enforce(patchA)),
        LakeLayout.partitionCols, Seq("source", "symbol", "timeframe", "ts"), "ts",
        beforePublish = () => LakeWriter.upsert(spark, root, patchB),
        maxTouched = 1)
    }
    // B's commit survived the abort; A's re-run merges both (the repair)
    UpsertCore.mergeWrite(spark, LakeLayout.dataRoot(root),
      LakeFs.withUtcYearMonth(CandleSchema.enforce(patchA)),
      LakeLayout.partitionCols, Seq("source", "symbol", "timeframe", "ts"), "ts",
      maxTouched = 1)
    val after = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(after.count() === 2880)
    assert(after.where(col("ts") === lit("2025-02-10 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
    assert(after.where(col("ts") === lit("2025-02-10 09:00:00"))
      .head().getAs[Double]("close") === 777.0,
      "a conflict past maxTouched but within the snapshot budget must abort, not lose B")
  }

  test("past the SNAPSHOT BUDGET detection degrades to the deterministic " +
    "sample — the residual miss is pinned and disclosed") {
    // With snapshotBudget = 1 the sample is the January cell (path order),
    // so a concurrent commit landing ONLY in February publishes undetected
    // and is lost — the WARN-disclosed residual for batches touching more
    // cells than the listing budget. If this starts detecting, the
    // contract improved: update the docs.
    val root = Files.createTempDirectory("lake_fallback3").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    val patchA = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .unionByName(feb.where(col("ts") === lit("2025-02-10 10:00:00")))
      .withColumn("close", lit(111.0))
    val patchB = feb.where(col("ts") === lit("2025-02-10 09:00:00"))
      .withColumn("close", lit(777.0))
    UpsertCore.mergeWrite(spark, LakeLayout.dataRoot(root),
      LakeFs.withUtcYearMonth(CandleSchema.enforce(patchA)),
      LakeLayout.partitionCols, Seq("source", "symbol", "timeframe", "ts"), "ts",
      beforePublish = () => LakeWriter.upsert(spark, root, patchB),
      maxTouched = 1, snapshotBudget = 1)
    val after = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(after.count() === 2880)
    assert(after.where(col("ts") === lit("2025-02-10 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
    val origB = feb.where(col("ts") === lit("2025-02-10 09:00:00"))
      .head().getAs[Double]("close")
    assert(after.where(col("ts") === lit("2025-02-10 09:00:00"))
      .head().getAs[Double]("close") === origB,
      "beyond-budget unsampled-cell conflict is documented to be lost — " +
      "if preserved, the contract improved: update the docs")
  }

  test("a NON-DETERMINISTIC batch is pinned to one evaluation — rand()-derived " +
    "partition values can no longer drop pre-existing rows (r16, enforced)") {
    // Before r16 the deterministic-batch requirement was prose: the probe,
    // merge, and write evaluated the batch lineage separately, so a batch
    // whose ts (hence year/month partition values) depended on rand() could
    // write into a cell the probe never listed, and dynamic overwrite
    // replaced that cell WITHOUT its old rows in the merge — silent loss.
    // Now mergeWrite scans the plan and eagerly localCheckpoints such
    // batches, so all three consumers see one evaluation.
    val root = Files.createTempDirectory("lake_nondet").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    // 60 update rows whose MONTH flips on rand(): each row keys to an
    // existing bar in January or February depending on the coin
    val wild = jan.where(col("ts") >= lit("2025-01-10 10:00:00") &&
        col("ts") < lit("2025-01-10 11:00:00"))
      .withColumn("ts",
        when(rand() < 0.5, col("ts"))
          .otherwise(col("ts") + expr("INTERVAL 31 DAYS")))
      .withColumn("close", lit(999.0))
    assert(UpsertCore.hasNonDeterministicExpr(wild),
      "the rand()-bearing plan must be classified non-deterministic")
    assert(!UpsertCore.hasNonDeterministicExpr(jan),
      "a deterministic batch must not be reclassified (no eager pin cost)")
    LakeWriter.upsert(spark, root, wild)
    val after = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    // single-evaluation invariant: no pre-existing row lost (2880 keys) and
    // exactly the batch's 60 rows carry the update, wherever the coin put
    // them — divergent evaluations could drop a cell's old rows entirely
    assert(after.count() === 2880,
      "a rand()-bearing batch must not drop pre-existing rows")
    assert(after.where(col("close") === 999.0).count() === 60)
  }

  test("a write job CRASHING mid-publish leaves every old cell readable; a re-run heals") {
    // The scaladoc leans on "the dynamic-overwrite commit swaps partitions
    // at job END, after every task has succeeded" — pin it with task-failure
    // injection: a two-cell batch whose February rows poison the write job
    // (raise_error evaluates only in the write tasks; the partition-probe
    // prunes every non-partition column, so the probe never trips it).
    // January's tasks may well have completed when February's throw — the
    // commit protocol must still leave BOTH cells exactly as they were.
    val root = Files.createTempDirectory("lake_crash").toString
    val jan = SynthSource.m1(spark, "BTC-USD", "2025-01-10", "2025-01-10")
    val feb = SynthSource.m1(spark, "BTC-USD", "2025-02-10", "2025-02-10")
    LakeWriter.upsert(spark, root, jan)
    LakeWriter.upsert(spark, root, feb)
    val origJan = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .head().getAs[Double]("close")
    val poisoned = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .unionByName(feb.where(col("ts") === lit("2025-02-10 10:00:00")))
      .withColumn("close",
        when(month(col("ts")) === 2, raise_error(lit("injected task failure")))
          .otherwise(lit(111.0)))
    val e = intercept[Throwable] { LakeWriter.upsert(spark, root, poisoned) }
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(_.toString).mkString("\n")
    assert(chain.contains("injected task failure"), s"unexpected failure: $chain")
    // NOTHING was swapped: both cells read back their pre-crash contents
    val after = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(after.count() === 2880, "crash mid-publish must not lose or duplicate rows")
    assert(after.where(col("ts") === lit("2025-01-10 10:00:00"))
      .head().getAs[Double]("close") === origJan,
      "January's cell must keep its OLD contents even if its tasks finished first")
    // and the documented repair — re-run without the failure — heals
    val healthy = jan.where(col("ts") === lit("2025-01-10 10:00:00"))
      .unionByName(feb.where(col("ts") === lit("2025-02-10 10:00:00")))
      .withColumn("close", lit(111.0))
    LakeWriter.upsert(spark, root, healthy)
    val healed = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(healed.count() === 2880)
    assert(healed.where(col("ts") === lit("2025-01-10 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
    assert(healed.where(col("ts") === lit("2025-02-10 10:00:00"))
      .head().getAs[Double]("close") === 111.0)
  }

  test("a repair flow whose lineage READS the partitions it overwrites publishes cleanly") {
    // ADVICE r12 (Lake.scala:320): the lazy localCheckpoint's safety rests
    // on dynamic-partition-overwrite deleting old files only at job COMMIT,
    // after every task has read them. Pin that assumption with the exact
    // shape that would break first: a batch derived from readRange over the
    // same cell it upserts into — the write job's tasks read the very files
    // its commit replaces. A refactor that splits the write into two actions
    // (or drops the lineage break) turns this into FAILED_READ_FILE.
    val root = Files.createTempDirectory("lake_selfread").toString
    val day = SynthSource.m1(spark, "BTC-USD", "2025-08-01", "2025-08-01")
    LakeWriter.upsert(spark, root, day)
    // lineage reads the lake's OWN files — no collect/checkpoint in between
    val fromLake = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1",
      Some(ts("2025-08-01 00:00:00")), Some(ts("2025-08-02 00:00:00")))
    val patched = fromLake.where(col("ts") >= lit("2025-08-01 10:00:00") &&
        col("ts") < lit("2025-08-01 11:00:00"))
      .withColumn("close", col("close") + 5.0)
    LakeWriter.upsert(spark, root, patched) // overwrites the partition it reads
    val back = LakeReader.readRange(spark, root, "synth", "BTC-USD", "M1", None, None)
    assert(back.count() === 1440, "no row loss, no duplicates")
    val orig = day.where(col("ts") === lit("2025-08-01 10:30:00"))
      .head().getAs[Double]("close")
    assert(back.where(col("ts") === lit("2025-08-01 10:30:00"))
      .head().getAs[Double]("close") === orig + 5.0)
    // rows outside the patched hour kept their original values
    val orig2 = day.where(col("ts") === lit("2025-08-01 12:00:00"))
      .head().getAs[Double]("close")
    assert(back.where(col("ts") === lit("2025-08-01 12:00:00"))
      .head().getAs[Double]("close") === orig2)
  }
}
