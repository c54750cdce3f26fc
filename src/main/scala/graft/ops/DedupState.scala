package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Versioned, atomically-committed persistence for the incremental-dedup
  * standing state (the three tables `Cli dedup-build`/`dedup-ingest` keep:
  * component labels, anchor bucket registry, anchor texts).
  *
  * Why versions instead of in-place swap: the round-11 CLI renamed the
  * three live directories one by one — a crash between renames left
  * MIXED-day state, and the documented "re-run the ingest" repair then
  * violated [[Dedup.mergeBucketRegistries]]'s disjoint-corpora
  * precondition (the replayed delta double-merged, silently inflating
  * registry `n_docs` forever). Here every ingest writes a brand-new
  * generation directory `stateDir/v<N>/{components,registry,anchors}` and
  * commits it with ONE atomic marker-file RENAME (`v<N>/_COMMITTED`,
  * written complete under a tmp name first — see [[commit]]):
  *
  *   - readers resolve the highest COMMITTED generation, so all three
  *     tables always flip together;
  *   - a crash BEFORE the marker leaves an uncommitted `v<N>` that readers
  *     never see and the next ingest deletes and rewrites — replay reads
  *     the OLD generation, so the delta is merged exactly once;
  *   - a crash AFTER the marker (but before the caller's own success
  *     signal — the run "looks failed" to an orchestrator, whose repair is
  *     to re-run) is covered by BATCH IDENTITY: the marker file carries
  *     the committed batch's fingerprint, and the ingest skips as a no-op
  *     when the current generation already records the batch it is about
  *     to apply — without this, the replay would re-merge the delta
  *     registry and violate mergeBucketRegistries' disjointness;
  *   - the new generation's write never overlaps the files its own
  *     lineage reads (different directory), so no staging dance is needed.
  *
  * Retention: a year of daily folds must not accumulate 365 generations —
  * [[commit]] vacuums all but the newest `keep` committed generations
  * (default 3: current + two rollback points). Generation dirs are
  * generation-grain, so vacuum cost is O(deleted dirs), never data-sized.
  *
  * Backward compatibility: a pre-versioned state (tables flat at the
  * stateDir root) reads as generation 0 when no committed `v<N>` exists;
  * the first versioned commit supersedes it and vacuum removes the flat
  * tables like any other superseded generation.
  */
object DedupState {

  val Tables: Seq[String] = Seq("components", "registry", "anchors")
  val DefaultKeep = 3
  private val Marker = "_COMMITTED"
  /** Version of the TOKENIZER whose signatures/shingles the standing
    * state was built with. v2 = the r15 `\s`-aware trim
    * ([[graft.ops.TextAnalysis.WsChars]]); v1 (implicit — pre-r15 states
    * have no version file) = the space-only trim, whose simhash
    * signatures differ for `\n`/`\t`-padded documents. An ingest folding
    * NEW-tokenizer signatures against an OLD-tokenizer registry would
    * silently miss duplicates of padded docs (different signature →
    * different bucket → kept as unique), so `Cli dedup-ingest` refuses a
    * version mismatch and demands a `dedup-build` rebuild (override:
    * SPARK_GRAFT_ACCEPT_TOKENIZER_MISMATCH=1). Bump this whenever
    * tokenize/wordShingles/simHash arithmetic changes.
    */
  val TokenizerVersion = 2
  private val TokVerFile = "_tokenizer_version"

  /** Width (in bits) of the SimHash signatures a pre-r16 state was built
    * with — before r16 the library default was 32 and no width was
    * recorded, so a state dir without a `_sig_bits` file reads as 32.
    */
  val LegacySigBits = 32
  private val SigBitsFile = "_sig_bits"

  /** The SimHash signature width recorded by the CURRENT committed
    * generation. Unlike the tokenizer version, the width lives INSIDE the
    * generation directory and is written BEFORE the commit marker, so the
    * marker rename publishes tables and width atomically — a root-level
    * file written after the marker would fail OPEN: a crash in the gap
    * leaves a committed 48-bit generation whose absent width file reads as
    * legacy 32, and the next ingest would sign at 32 against a 48-bit
    * registry (signatures match nothing, every duplicate silently kept).
    * Pre-r16 generations (and the legacy flat gen 0) never recorded one
    * and read as [[LegacySigBits]] — correct, every pre-r16 build signed
    * at the then-default 32. `Cli dedup-ingest` signs and routes new
    * batches at THIS width — signatures must match the standing registry's
    * bit-for-bit — and warns when it is narrower than
    * [[Dedup.DefaultSimhashBits]] (32-bit signatures saturate by birthday
    * collision at corpus scale; the remedy is a dedup-build rebuild, which
    * re-signs at the wide default).
    */
  def sigBits(spark: SparkSession, stateDir: String): Int = {
    val hfs = fs(spark, stateDir)
    currentGen(hfs, stateDir).filter(_ > 0)
      .flatMap(g => readMarkerFile(hfs, new Path(genDir(stateDir, g), SigBitsFile)))
      .map(s => scala.util.Try(s.trim.toInt).getOrElse(
        sys.error(s"unreadable $SigBitsFile '${s.trim}' under $stateDir — " +
          "refusing to guess a signature width; restore the file or rebuild " +
          "with dedup-build")))
      .getOrElse(LegacySigBits)
  }

  /** Sentinel recorded instead of a version number when a commit was
    * admitted under SPARK_GRAFT_ACCEPT_TOKENIZER_MISMATCH: the state now
    * holds signatures from MORE THAN ONE tokenizer, which no single number
    * can describe. It never parses as an Int, so [[tokenizerVersion]]
    * reads None and the ingest guard keeps firing — one override must not
    * permanently re-stamp a mixed state as current (r15 ADVICE).
    */
  val TokenizerMixed = "mixed"

  /** The raw tokenizer-version string recorded by the state dir (a version
    * number, [[TokenizerMixed]], or None for a pre-r15/pre-versioned state
    * that never recorded one). The ingest guard's error message shows this
    * verbatim so the operator can tell "never versioned" from "mixed".
    */
  def tokenizerVersionRaw(spark: SparkSession, stateDir: String): Option[String] = {
    val hfs = fs(spark, stateDir)
    readMarkerFile(hfs, new Path(s"$stateDir/$TokVerFile")).map(_.trim)
  }

  /** The tokenizer version recorded by the state dir, None for a pre-r15
    * (or pre-versioned) state that never recorded one — and None for a
    * [[TokenizerMixed]] state, which must keep failing the ingest guard.
    */
  def tokenizerVersion(spark: SparkSession, stateDir: String): Option[Int] =
    tokenizerVersionRaw(spark, stateDir)
      .flatMap(s => scala.util.Try(s.toInt).toOption)

  // markers OUTLIVE their table generations (r15 ADVICE): vacuum copies a
  // deleted generation's marker into this directory first, so the replay
  // guard consults every batch id EVER committed — without it, a
  // crashed-after-marker ingest replayed after `keep` subsequent commits
  // had its proving marker vacuumed and double-merged (the window widened
  // as keep shrank). Tombstones are tiny (one fingerprint line per commit,
  // ~60 bytes); a daily ingest grows this by ~22 KB/year, and the guard's
  // read cost stays one listStatus + O(commits) tiny reads.
  private val MarkerArchive = "_applied_markers"

  def fs(spark: SparkSession, stateDir: String): FileSystem =
    new Path(stateDir).getFileSystem(spark.sessionState.newHadoopConf())

  private def genDir(stateDir: String, gen: Int) = new Path(s"$stateDir/v$gen")

  /** Committed generations, ascending. Generation 0 = the legacy flat
    * layout (counts only when present and no marker protocol applies to
    * it: its presence IS its commit, the pre-versioned contract).
    */
  def committedGens(fs: FileSystem, stateDir: String): Seq[Int] = {
    val root = new Path(stateDir)
    if (!fs.exists(root)) return Seq.empty
    val versioned = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.length > 1 && n.length <= 10 &&
          n.startsWith("v") && n.drop(1).forall(_.isDigit) =>
        n.drop(1).toInt }
      .filter(g => fs.exists(new Path(genDir(stateDir, g), Marker)))
    val legacy =
      if (fs.exists(new Path(s"$stateDir/registry"))) Seq(0) else Seq.empty
    (legacy ++ versioned).sorted
  }

  def currentGen(fs: FileSystem, stateDir: String): Option[Int] =
    committedGens(fs, stateDir).lastOption

  def tablePath(stateDir: String, gen: Int, table: String): String =
    if (gen == 0) s"$stateDir/$table" else s"$stateDir/v$gen/$table"

  /** Read one state table from the current committed generation. For a
    * multi-table read use [[readAll]] — calling this three times resolves
    * the generation three times, and a commit landing in between would
    * hand the caller tables from DIFFERENT generations.
    */
  def read(spark: SparkSession, stateDir: String, table: String): DataFrame = {
    val cur = currentGen(fs(spark, stateDir), stateDir).getOrElse(
      sys.error(s"no committed dedup state under $stateDir"))
    spark.read.parquet(tablePath(stateDir, cur, table))
  }

  /** All three state tables from ONE generation resolution — the
    * consistent-snapshot read (`Cli dedup-ingest` uses this). The frames
    * are lazy: they list/read their files at action time, so they remain
    * valid as long as the generation's directory lives — with the default
    * retention (`keep` = 3) a reader's snapshot survives two subsequent
    * commits before vacuum can touch it; the writer itself is single
    * (one daily ingest), matching the reference's single-writer model.
    */
  def readAll(spark: SparkSession, stateDir: String): Map[String, DataFrame] = {
    val cur = currentGen(fs(spark, stateDir), stateDir).getOrElse(
      sys.error(s"no committed dedup state under $stateDir"))
    Tables.map(t => t -> spark.read.parquet(tablePath(stateDir, cur, t))).toMap
  }

  /** Fingerprints recorded by EVERY generation ever committed: archived
    * markers of vacuumed generations (oldest first), then the retained
    * generations' live markers. The replay guard must consult all of them,
    * not just the current one: a crashed-after-marker ingest of batch B
    * that is only re-run AFTER a subsequent batch C has committed would
    * compare fp(B) against fp(C), miss, and double-merge B's delta — and
    * since r15 the same holds even when B's generation has been VACUUMED
    * (its marker survives in the [[MarkerArchive]] tombstones; before,
    * a replay delayed past `keep` commits failed open). O(commits) tiny
    * reads, one extra listStatus.
    */
  def committedBatchIds(spark: SparkSession, stateDir: String): Seq[String] = {
    val hfs = fs(spark, stateDir)
    val archDir = new Path(s"$stateDir/$MarkerArchive")
    val archived =
      if (!hfs.exists(archDir)) Seq.empty[String]
      else hfs.listStatus(archDir).toSeq
        .filter(s => s.isFile && !s.getPath.getName.endsWith(".tmp"))
        .sortBy(_.getPath.getName)
        .flatMap(s => readMarkerFile(hfs, s.getPath))
    archived ++ committedGens(hfs, stateDir).filter(_ > 0)
      .flatMap(g => readMarker(hfs, stateDir, g))
  }

  private def readMarker(hfs: FileSystem, stateDir: String, g: Int): Option[String] =
    readMarkerFile(hfs, new Path(genDir(stateDir, g), Marker))

  private def readMarkerFile(hfs: FileSystem, m: Path): Option[String] = {
    try {
      val in = hfs.open(m)
      try {
        // drain, never a single read(): InputStream.read may legally
        // return fewer bytes than available (HDFS/S3A streams do), and a
        // TRUNCATED fingerprint reads as a batch-identity mismatch —
        // which un-skips the replay and double-merges the delta, the
        // exact failure the marker protocol exists to prevent
        val bytes = new Array[Byte](4096)
        var total = 0
        var n = in.read(bytes, 0, bytes.length)
        while (n > 0 && total + n < bytes.length) {
          total += n
          n = in.read(bytes, total, bytes.length - total)
        }
        if (n > 0) total += n
        Option(new String(bytes, 0, total, "UTF-8").trim).filter(_.nonEmpty)
      } finally in.close()
    } catch {
      // ONLY a vanished marker (vacuum raced the read) means "no recorded
      // batch". Any other I/O failure must PROPAGATE: mapping a transient
      // store error to None would un-skip a genuine replay and
      // double-merge the delta registry — the exact failure the marker
      // protocol exists to prevent. Better the ingest aborts and is
      // re-run than the state silently corrupts.
      case _: java.io.FileNotFoundException => None
    }
  }

  /** Write all three tables as the next generation and commit atomically;
    * then vacuum generations older than the newest `keep`. Returns the
    * committed generation number. `batchId` (the applied batch's
    * fingerprint) is recorded IN the marker file, which is written
    * complete under a tmp name and RENAMED into place — the rename carries
    * both the commit and the identity at once, so there is no window where
    * the generation is live but unidentified.
    */
  def commit(spark: SparkSession, stateDir: String,
             tables: Map[String, DataFrame],
             keep: Int = DefaultKeep,
             batchId: Option[String] = None,
             mixedTokenizer: Boolean = false,
             sigBits: Int = Dedup.DefaultSimhashBits): Int = {
    require(keep >= 1, "need keep >= 1")
    require(tables.keySet == Tables.toSet,
      s"need exactly ${Tables.mkString("/")}, got ${tables.keySet}")
    val hfs = fs(spark, stateDir)
    val next = currentGen(hfs, stateDir).getOrElse(0) + 1
    val dir = genDir(stateDir, next)
    hfs.delete(dir, true) // uncommitted leftovers from a crashed attempt
    // write every table BEFORE the marker: order within the generation is
    // irrelevant because nothing reads an unmarked generation
    Tables.foreach { t =>
      tables(t).write.mode("overwrite").parquet(tablePath(stateDir, next, t))
    }
    // the generation's signature WIDTH goes inside the generation dir,
    // BEFORE the marker: the marker rename then publishes tables and width
    // as one atomic unit (see [[sigBits]] for why a root-level,
    // after-the-marker file would fail open to the legacy width). No
    // tmp+rename needed here — nothing reads an unmarked generation.
    val bw = hfs.create(new Path(dir, SigBitsFile), true)
    try bw.write(sigBits.toString.getBytes("UTF-8")) finally bw.close()
    // The marker must become visible ATOMICALLY WITH ITS CONTENT: a bare
    // create() exposes a zero-length _COMMITTED before the fingerprint
    // bytes land, so a crash between create and close would publish the
    // generation with an EMPTY identity — committedGens sees it committed,
    // committedBatchIds omits its batch, and the orchestrator's re-run of the
    // "failed" ingest double-merges the delta (the exact corruption this
    // protocol exists to prevent). Write a tmp name, then rename: rename
    // within a directory is atomic on the local FS and HDFS, and
    // committedGens only ever tests the final name.
    val tmp = new Path(dir, Marker + ".tmp")
    val out = hfs.create(tmp, false)
    try batchId.foreach(id => out.write(id.getBytes("UTF-8")))
    finally out.close()
    if (!hfs.rename(tmp, new Path(dir, Marker))) // the atomic commit
      sys.error(s"failed to commit dedup-state generation v$next (rename $tmp)")
    // record (or refresh) the tokenizer version the state's signatures
    // were computed with — the ingest guard reads it (same tmp+rename
    // atomicity; content is idempotent so overwrite is safe). Written
    // AFTER the generation commit: a crash in between leaves a committed
    // generation with a stale/absent version file, which fails CLOSED at
    // the next ingest (a rebuild prompt, never a silent mixed-tokenizer
    // fold). A commit admitted under the mismatch override records the
    // [[TokenizerMixed]] sentinel instead of re-stamping the state as
    // current (r15 ADVICE): the fold just mixed two tokenizers' signatures,
    // and the guard must keep surfacing that on every later ingest until a
    // dedup-build rebuild makes the state single-tokenizer again.
    val recordedVersion =
      if (mixedTokenizer) TokenizerMixed else TokenizerVersion.toString
    val vtmp = new Path(stateDir, TokVerFile + ".tmp")
    val vout = hfs.create(vtmp, true)
    try vout.write(recordedVersion.getBytes("UTF-8")) finally vout.close()
    hfs.delete(new Path(stateDir, TokVerFile), false)
    if (!hfs.rename(vtmp, new Path(stateDir, TokVerFile)))
      sys.error(s"failed to record tokenizer version under $stateDir")
    // retention: drop all but the newest `keep` committed generations —
    // ARCHIVING each vacuumed generation's marker first (r15: markers
    // outlive tables, see MarkerArchive), with the same tmp+rename
    // atomicity as the live marker so a crash mid-archive never publishes
    // a torn tombstone. Archive-write failures PROPAGATE: deleting the
    // generation after losing its marker would reopen the beyond-retention
    // replay hole this mechanism closes.
    val gens = committedGens(hfs, stateDir)
    gens.dropRight(keep).foreach { g =>
      if (g == 0) Tables.foreach(t => hfs.delete(new Path(s"$stateDir/$t"), true))
      else {
        readMarker(hfs, stateDir, g).foreach { id =>
          val archDir = new Path(s"$stateDir/$MarkerArchive")
          hfs.mkdirs(archDir)
          val fin = new Path(archDir, f"v$g%09d")
          if (!hfs.exists(fin)) { // idempotent under commit re-runs
            val atmp = new Path(archDir, f"v$g%09d.tmp")
            val aout = hfs.create(atmp, true)
            try aout.write(id.getBytes("UTF-8")) finally aout.close()
            if (!hfs.rename(atmp, fin))
              sys.error(s"failed to archive marker of vacuumed generation v$g ($atmp)")
          }
        }
        hfs.delete(genDir(stateDir, g), true)
      }
    }
    next
  }
}
