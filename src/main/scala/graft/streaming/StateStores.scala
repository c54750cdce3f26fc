package graft.streaming

import org.apache.spark.sql.SparkSession

/** The ONE state-store knob for the streaming faces: every stateful face in
  * this package (DedupStream, SessionStream, Scd2Stream, SketchStream,
  * DriftStream, DocumentStream, …) is a plain Dataset transformation, so
  * the store backend is decided by the session that STARTS the query — and
  * a 100 TB deployment should start them on RocksDB with CHANGELOG
  * checkpointing:
  *
  *  - RocksDB provider: state lives off-heap/on-disk per executor instead
  *    of in JVM maps — the only backend whose state size is not bounded by
  *    executor heap (the restart matrix in StateBoundSpec runs on it).
  *  - Changelog checkpointing: each commit uploads O(changed-keys) changelog
  *    files instead of O(total-state) snapshots. Measured on this engine
  *    (PLANS.md round 13, "RocksDB changelog checkpointing"): build time
  *    10.4→5.6 s / 16.3→11.6 s at 100k/200k groups, checkpoint size 33→24 / 97→68 MB —
  *    a 35–45% per-commit cost cut — for recovery 0.86→1.93 s (replaying
  *    changelogs since the last snapshot; bounded by
  *    `minDeltasForSnapshot`, the background snapshot cadence). Commits
  *    happen every micro-batch and recovery happens once per failure, so
  *    the trade is right for any long-running face.
  *
  * Session-scoped: applies to queries STARTED after the call (a running
  * query keeps the provider its checkpoint was created with — Spark
  * refuses provider changes across a restart of the same checkpoint).
  * StateBoundSpec runs the full checkpoint-restart matrix (mapGroups fold,
  * event-time timeout, dedup-within-watermark, windowed aggregation) under
  * this exact config.
  */
object StateStores {

  val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  val ChangelogKey =
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  val MinBatchesToRetainKey = "spark.sql.streaming.minBatchesToRetain"

  /** Checkpoint RETENTION, the knob that bounds changelog-checkpoint
    * FOOTPRINT (r16, PLANS.md "Changelog checkpoint retention", measured
    * on the worst changelog shape — a kmv face whose every batch touches
    * every key): steady-state checkpoint bytes ≈ retained versions ×
    * per-commit changelog + kept snapshots, and the Spark default (100)
    * let the r15 streaming decade probe (PLANS.md) read 1.3→8 MB of
    * monotone "growth" that was really unvacuumed backlog. At 120 batches: default 197 MB and still
    * climbing vs 51 MB settled at 20 — flat from 60 to 120 batches, the
    * bound. 20 recoverable versions is a generous restart window (restart
    * uses the LATEST committed batch; older versions serve forensics
    * only), and `minDeltasForSnapshot` stays at Spark's default 10 — the
    * sweep's 20-delta cadence settles ~8% smaller but doubles the
    * changelogs a recovery replays (PLANS.md r13: ~1-2 s at 10) and
    * carries a 1.8× in-run backlog peak.
    */
  val MinBatchesToRetain = 20

  /** The recommended deployment config as conf pairs (exposed so callers —
    * and the spec — can set/restore them individually).
    */
  val Recommended: Seq[(String, String)] = Seq(
    ProviderKey -> RocksDbProvider,
    ChangelogKey -> "true",
    MinBatchesToRetainKey -> MinBatchesToRetain.toString)

  /** Switch the session's streaming state store to RocksDB with changelog
    * checkpointing — call once before starting the faces' queries.
    */
  def enableChangelogRocksDb(spark: SparkSession): Unit =
    Recommended.foreach { case (k, v) => spark.conf.set(k, v) }
}
