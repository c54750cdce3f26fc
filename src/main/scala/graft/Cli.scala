package graft

import graft.core.Timeframe
import graft.lake.{Aggregates, LakeProvider, LakeReader, LakeWriter}
import graft.ops.{AsofJoin, Gaps, OrLevels, Qc, Resample}
import graft.sources.SynthSource
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.sql.Timestamp

/** CLI entry points mirroring the reference's command surface
  * (reference: src/datalake/read/cli.py read/join-mtf K5/K6 output,
  * aggregates/cli.py, levels CLI or_levels.py, tools/check_day.py strict
  * gate, synth ingest via DATALAKE_SYNTH).
  *
  * Usage: sbt "runMain graft.Cli <cmd> <lakeRoot> [args...]"
  *   ingest-synth <root> <symbol> <dayFrom> <dayTo>
  *   read         <root> <symbol> <tf> <fromTs> <toTs> [--csv out] [--head n]
  *   join-mtf     <root> <symbol> <execTf> <ctxTf,...> <fromTs> <toTs>
  *   aggregate    <root> <symbol> <tf>
  *   levels       <root> <symbol> <tz> <HH:MM-HH:MM>
  *   levels       <root> <symbol> <profileName>   (daily_open_utc | us_equity_open | asia_open)
  *   check        <root> <symbol> <tf>         (exit 1 on incomplete days, like check_day)
  *   corpus       <documents.parquet>          (stats + dedup + split report)
  *   dedup-build  <documents.parquet> <stateDir>  (persist registry+anchors+components)
  *   dedup-ingest <documents.parquet> <stateDir>  (route/verify/fold a new batch into it)
  */
object Cli {

  /** A CLI gate outcome (nonzero exit) raised from [[run]] as a typed
    * exception instead of `sys.exit`: `run` doubles as an in-process
    * library/test entry point (IncrementalDedupSpec drives it), and a
    * bare System.exit there would kill the embedding JVM and skip every
    * enclosing finally — including main's own `spark.stop()`.
    */
  final class CliExit(val code: Int, msg: String) extends RuntimeException(msg)

  private def exit(code: Int, msg: String): Nothing = throw new CliExit(code, msg)

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def ts(s: String) = Timestamp.valueOf(s.replace("T", " "))

  def main(args: Array[String]): Unit = {
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try { run(spark, args.toList); 0 }
      catch {
        case e: CliExit =>
          Option(e.getMessage).filter(_.nonEmpty).foreach(System.err.println)
          e.code
      } finally spark.stop()
    if (code != 0) sys.exit(code)
  }

  private def show(df: DataFrame, rest: List[String]): Unit = rest match {
    case "--csv" :: path :: _ =>
      // K5 CSV sink (reference read/cli.py:8-9)
      df.coalesce(1).write.option("header", "true").mode("overwrite").csv(path)
      println(s"[cli] wrote csv to $path")
    case "--head" :: n :: _ => df.show(n.toInt, truncate = false) // K6 preview
    case _ => df.show(20, truncate = false)
  }

  def run(spark: SparkSession, args: List[String]): Unit = args match {
    case "ingest-synth" :: root :: symbol :: dayFrom :: dayTo :: Nil =>
      val bars = SynthSource.m1(spark, symbol, dayFrom, dayTo)
      LakeWriter.upsert(spark, root, bars)
      println(s"[cli] ingested ${bars.count()} synth M1 bars for $symbol")

    case "read" :: root :: symbol :: tf :: from :: to :: rest =>
      val df = LakeReader.readRange(spark, root, "synth", symbol,
        Timeframe(tf).code, Some(ts(from)), Some(ts(to)))
      show(df, rest)

    case "join-mtf" :: root :: symbol :: execTf :: ctxTfs :: from :: to :: rest =>
      val provider = new LakeProvider(spark, root)
      val exec = provider.loadTf(symbol, execTf, Some(ts(from)), Some(ts(to)))
      val ctx = ctxTfs.split(",").map { c =>
        Timeframe(c).code -> provider.loadTf(symbol, c, Some(ts(from)), Some(ts(to)))
      }.toMap
      val joined = AsofJoin.mtf(
        exec.select("ts", "open", "high", "low", "close", "volume"), ctx)
      show(joined.orderBy("ts"), rest)

    case "aggregate" :: root :: symbol :: tf :: Nil =>
      val provider = new LakeProvider(spark, root)
      Aggregates.materialize(spark, root, provider.loadM1(symbol, None, None), Timeframe(tf))
      println(s"[cli] materialized ${Timeframe(tf).code} aggregates for $symbol")

    case "levels" :: root :: symbol :: tz :: window :: Nil =>
      val m1 = new LakeProvider(spark, root).loadM1(symbol, None, None)
      val levels = OrLevels.build(m1, tz, window)
      levels.orderBy("session_date").show(50, truncate = false)
      // K4: persist into the levels tree (yearly partitions, keep-last)
      graft.lake.LevelsWriter.upsert(spark, root, levels)
      println(s"[cli] upserted ${levels.count()} level rows for $symbol")

    // levels by named liquidity profile (reference liquidity_profiles.py)
    case "levels" :: root :: symbol :: profile :: Nil =>
      val m1 = new LakeProvider(spark, root).loadM1(symbol, None, None)
      val levels = graft.ops.LiquidityProfiles(m1, profile)
      levels.orderBy("session_date").show(50, truncate = false)
      graft.lake.LevelsWriter.upsert(spark, root, levels)
      println(s"[cli] upserted ${levels.count()} level rows for $symbol (profile $profile)")

    // end-to-end document-pipeline report over a documents parquet:
    // corpus health (per-lang stats), exact-dup groups, LSH-verified
    // near-dup pairs, and the train/val/test split profile
    case "corpus" :: docsParquet :: Nil =>
      import org.apache.spark.sql.functions.{col, count, lit, md5, round => rnd, sum}
      val docs = spark.read.parquet(docsParquet)
      println("[cli] per-language corpus stats:")
      val stats = docs
        .withColumn("n_tokens", graft.ops.TextAnalysis.tokenCount(col("text")).cast("long"))
        .withColumn("q", graft.ops.TextAnalysis.qualityScore(col("text")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
          rnd(org.apache.spark.sql.functions.avg(col("q")), 4).as("mean_quality"))
      stats.orderBy("lang").show(20, truncate = false)
      val nDups = docs.groupBy(md5(col("text"))).count().where(col("count") > 1).count()
      println(s"[cli] exact-duplicate text groups: $nDups")
      val nearDups = graft.ops.Dedup.verifiedNearDups(docs, "doc_id", "text",
        threshold = 0.5).count()
      println(s"[cli] verified near-dup pairs (jaccard >= 0.5): $nearDups")
      println("[cli] dataset split profile:")
      docs.withColumn("split", graft.ops.TextAnalysis.datasetSplit(col("text")))
        .groupBy("split").count().orderBy("split").show(5)

    case "funnel" :: docsParquet :: Nil =>
      // quality-filter funnel (q66 shape)
      println("[cli] hygiene-cascade survivor counts:")
      graft.ops.TextAnalysis.filterFunnel(spark.read.parquet(docsParquet), "text")
        .orderBy("stage").show(10, truncate = false)

    case "sketch" :: sfDir :: Nil =>
      // cardinality + frequency sketches over events (q63/q64 shapes)
      import org.apache.spark.sql.functions.col
      val ev = SparkEntry.loadEventsFor(spark, sfDir)
      println("[cli] KMV distinct-user estimates per event type (k=64):")
      graft.ops.Sketches.kmvDistinct(ev, "event_type", "user_id", k = 64)
        .orderBy("event_type").show(20, truncate = false)
      println("[cli] count-min frequency estimates, users 0-19 (4x1024):")
      val keys = ev.select(col("user_id")).where(col("user_id") < 20).distinct()
      graft.ops.Sketches.countMinFrequencies(ev, "user_id", keys)
        .orderBy("user_id").show(20, truncate = false)

    case "kmeans" :: sfDir :: k :: iters :: Nil =>
      // embedding clustering report (q65 shape)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      println(s"[cli] k-means (k=$k, iters=$iters) cluster sizes + inertia:")
      graft.ops.Similarity.kmeansReport(emb, "vec_id", "embedding",
          k.toInt, iters.toInt)
        .orderBy("cluster").show(50, truncate = false)

    case "embed-qc" :: sfDir :: Nil =>
      // embedding-space QC: per-label centroid cohesion (q57 shape)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      println("[cli] per-label centroid cohesion (mean/min cosine to own centroid):")
      graft.ops.Similarity.labelCentroidStats(emb, "embedding", "label")
        .orderBy("label").show(50, truncate = false)

    case "xsource" :: docsParquet :: Nil =>
      // cross-source contamination matrix (q56 shape)
      import org.apache.spark.sql.functions.{col, count, greatest, least, lit}
      val docs = spark.read.parquet(docsParquet)
      val pairs = graft.ops.Dedup.verifiedNearDups(docs, "doc_id", "text", threshold = 0.1)
      val src = docs.select(col("doc_id"), col("source"))
      println("[cli] verified near-dup pairs per source pair:")
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("_sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("_sb")), "id_b")
        .groupBy(least(col("_sa"), col("_sb")).as("source_lo"),
          greatest(col("_sa"), col("_sb")).as("source_hi"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("n_pairs").desc, col("source_lo"))
        .show(30, truncate = false)

    case "ann" :: sfDir :: k :: Nil =>
      // approximate nearest neighbors over the embeddings table (IVF cells)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val res = graft.ops.Similarity.ivfTopK(
        emb.where(org.apache.spark.sql.functions.col("vec_id") < 3),
        emb, "vec_id", "embedding", k.toInt)
      res.orderBy("query_id", "rank").show(3 * k.toInt)

    case "check" :: root :: symbol :: tf :: Nil =>
      val df = new LakeProvider(spark, root).loadTf(symbol, tf, None, None)
      val report = Qc.dayCompleteness(df, Timeframe(tf))
      report.orderBy("day").show(50)
      // per-day scan like check_day, on the TIMEFRAME's grid (an M5 lake has
      // one bar per 300 s — a 60 s grid would report 4/5 slots "missing")
      val gaps = Gaps.dayScopedMinuteGaps(df.select("ts"), Timeframe(tf).seconds)
      val nBad = report.where(!org.apache.spark.sql.functions.col("complete")).count()
      println(s"[cli] incomplete days: $nBad; gap islands: ${gaps.count()}")
      if (nBad > 0) // strict gate like tools/check_day.py:84-88
        exit(1, s"check: $nBad incomplete day(s)")

    // gap repair: detect missing minutes, synth-fill them, upsert the fills
    // (reference: src/datalake/commands/repair_day.py gap-detect + refetch +
    // K1 merge; with no live feed the fill is the synth fallback the
    // reference uses under DATALAKE_SYNTH / _synth_fill)
    case "repair" :: root :: symbol :: Nil =>
      val m1 = new LakeProvider(spark, root).loadM1(symbol, None, None)
      // day-scoped like the reference's repair_day: islands never cross
      // midnight, and whole missing days inside the range are caught
      // three consumers below (sum, count, collect) — materialize the
      // island table once (it is islands-sized, never lake-sized) instead
      // of re-running the day-window gap scan per action
      val gaps = Gaps.dayScopedMinuteGaps(m1.select("ts")).localCheckpoint()
      val nGaps = gaps.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_missing"))).head()
      val missing = if (nGaps.isNullAt(0)) 0L else nGaps.getLong(0)
      println(s"[cli] missing minutes: $missing")
      if (missing > 0) {
        // the refetch plan a live IBKR connector would execute (reference
        // repair windows 3600/1800/600/300 s); offline we synth-fill instead
        val planner = new graft.sources.IbkrSource((_, _, _) => Nil)
        // bounded driver pull: islands are few by construction, but cap the
        // printed plan anyway so a pathological lake can't OOM the CLI —
        // deterministically (earliest first) and with a truncation notice
        val nIslands = gaps.count()
        if (nIslands > 1000)
          println(s"[cli] showing first 1000 of $nIslands gap islands")
        gaps.orderBy("gap_start").limit(1000).collect().foreach { g =>
          val plan = planner.repairPlan(
            g.getAs[Timestamp]("gap_start").toInstant,
            g.getAs[Timestamp]("gap_end").toInstant.plusSeconds(60))
          println(s"[cli] gap ${g.getAs[Timestamp]("gap_start")}..${g.getAs[Timestamp]("gap_end")}: " +
            s"${plan.length} refetch window(s)")
        }
        val filled = Gaps.synthFill(m1)
          .where(org.apache.spark.sql.functions.col("is_synth"))
        val n = filled.count() // act on the pre-overwrite lineage first
        LakeWriter.upsert(spark, root, graft.core.CandleSchema.enforce(
          filled.withColumn("symbol", org.apache.spark.sql.functions.lit(symbol))
            .withColumn("timeframe", org.apache.spark.sql.functions.lit("M1"))
            .withColumn("source", org.apache.spark.sql.functions.lit("synth"))))
        println(s"[cli] upserted $n synth fill bars")
      }

    // incremental-dedup standing state, the operable face of the
    // q137/q138/q139 stack: `dedup-build` signs a corpus ONCE and persists
    // the state a daily pipeline keeps (anchor registry + anchor TEXTS —
    // ≤ keyspace rows, so day-2 verification never re-reads day-1 — and
    // the min-label component table); `dedup-ingest` dispositions a new
    // batch against that state and folds it in: route (broadcast probe) ->
    // exact-Jaccard verify vs anchor texts -> incrementalClusters fold ->
    // mergeBucketRegistries, writing the state back. Daily cost is
    // O(new batch); the full batch pass stays the periodic reconciler.
    case "dedup-build" :: docsParquet :: stateDir :: Nil =>
      import org.apache.spark.sql.functions.col
      import graft.ops.DedupState
      val docs = spark.read.parquet(docsParquet)
      // keyspace-bounded (≤ 4·2^(bits/4) rows) — checkpoint so the anchor
      // projection and the state write don't re-sign the corpus twice.
      // Signed at the WIDE default (r16): this registry is the standing
      // state a 100 TB incremental pipeline keeps forever, exactly where a
      // 32-bit signature saturates; the width is recorded in the committed
      // generation so every later ingest signs to match.
      val buildBits = graft.ops.Dedup.DefaultSimhashBits
      val reg = graft.ops.Dedup.simhashBucketRegistrySigs(docs, "doc_id", "text",
          bits = buildBits)
        .localCheckpoint()
      val anchors = reg.select(col("anchor_id").as("doc_id")).distinct()
        .join(docs.select(col("doc_id"), col("text")), "doc_id")
      val comps = graft.ops.Dedup
        .nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"), col("cluster_id"))
      val gen = DedupState.commit(spark, stateDir,
        Map("registry" -> reg, "anchors" -> anchors, "components" -> comps),
        sigBits = buildBits)
      val nb = DedupState.read(spark, stateDir, "registry").count()
      val nc = DedupState.read(spark, stateDir, "components").count()
      println(s"[cli] dedup state built: $nb registry buckets ($buildBits-bit " +
        s"signatures), $nc docs labeled -> $stateDir (gen v$gen)")

    case "dedup-ingest" :: docsParquet :: stateDir :: rest if rest.lengthIs <= 1 =>
      import org.apache.spark.sql.functions._
      import graft.ops.DedupState
      // optional trailing arg: committed generations to retain (default 3)
      // — validated at PARSE time: a typo must print usage, not throw a
      // raw NumberFormatException, and keep=0 must fail before the
      // expensive merge/verify work runs, not at commit
      val keep = rest.headOption.map { k =>
        val v = scala.util.Try(k.toInt).getOrElse(-1)
        if (v < 1)
          exit(2, s"dedup-ingest: invalid keep '$k' (need a positive integer)")
        v
      }.getOrElse(DedupState.DefaultKeep)
      // FAIL FAST on a missing/typo'd state dir — one listStatus — before
      // the batch fingerprint below runs a full scan+hash of the batch
      if (DedupState.currentGen(DedupState.fs(spark, stateDir), stateDir).isEmpty)
        exit(2, s"dedup-ingest: no committed dedup state under $stateDir " +
          "(run dedup-build first)")
      // TOKENIZER-VERSION guard (r15): the standing registry's signatures
      // were computed by the tokenizer version recorded in the state dir;
      // folding THIS library's signatures against a state built by a
      // different one (e.g. the pre-r15 space-only trim) silently fails
      // to match duplicates of whitespace-padded documents — a recall
      // hole no downstream check can see. Mismatch (or a pre-r15 state
      // with no version file) demands a dedup-build rebuild.
      val stateTokV = DedupState.tokenizerVersion(spark, stateDir)
      // an override-admitted mismatch is remembered (r15 ADVICE): the
      // commit below records the "mixed" sentinel instead of re-stamping
      // the state as current, so the NEXT ingest surfaces the mismatch
      // again — one override admits one batch, not all future ones
      val tokMismatch = !stateTokV.contains(DedupState.TokenizerVersion)
      if (tokMismatch &&
          !sys.env.get("SPARK_GRAFT_ACCEPT_TOKENIZER_MISMATCH").contains("1"))
        exit(4, s"dedup-ingest: state under $stateDir was built with " +
          s"tokenizer version ${DedupState.tokenizerVersionRaw(spark, stateDir)
            .getOrElse("pre-r15 (unversioned)")} " +
          s"but this library tokenizes at version ${DedupState.TokenizerVersion} — " +
          "its signatures would not match the standing registry's for " +
          "whitespace-padded documents (silently kept as uniques). Rebuild " +
          "the state with dedup-build, or override with " +
          "SPARK_GRAFT_ACCEPT_TOKENIZER_MISMATCH=1 if you have verified the " +
          "corpus has no such documents.")
      val newDocs = spark.read.parquet(docsParquet)
      // BATCH IDENTITY (replay guard): order-insensitive fingerprint of the
      // batch — row count + mod-P checksums of ids and of the texts' CONTENT
      // hashes (xxhash64 of the bytes, not length: two batches with the same
      // ids whose edited texts happen to length-collide must NOT read as the
      // same batch — only byte-identical batches may skip), decimal-summed
      // so no batch size overflows. If ANY RETAINED generation's commit
      // marker already records this fingerprint, a previous run committed
      // this batch and then "looked failed": re-applying would re-merge
      // the delta registry (mergeBucketRegistries' disjointness), so the
      // replay is a no-op instead. All retained markers, not just the
      // current one (r14): a delayed replay arriving AFTER a subsequent
      // ingest committed would otherwise compare against the newer batch's
      // fingerprint, miss, and double-merge — while the older retained
      // marker still proves the batch was applied.
      // Fingerprints are versioned ("h=" term): a marker written by
      // the pre-content-hash format never string-matches, and an AMBIGUOUS
      // legacy marker (same n=/id=, content term absent) aborts via the
      // legacy-marker guard below rather than failing open to a re-apply.
      val P = 1000000007L
      val fpRow = newDocs.agg(
        count(lit(1)),
        sum(pmod(col("doc_id"), lit(P)).cast("decimal(38,0)")) % P,
        sum(pmod(xxhash64(col("text")), lit(P)).cast("decimal(38,0)")) % P).head()
      val nNew = fpRow.getLong(0)
      val idSum = s"${Option(fpRow.get(1)).getOrElse(0)}"
      val batchId = s"n=$nNew;id=$idSum;h=${Option(fpRow.get(2)).getOrElse(0)}"
      val retainedMarkers = DedupState.committedBatchIds(spark, stateDir)
      // LEGACY-MARKER guard (round 14): the pre-r13 fingerprint format
      // recorded a text-LENGTH checksum ("tx=" term) where the current one
      // records a content hash ("h="). A legacy marker whose n=/id= terms
      // match this batch MIGHT be this very batch, committed by the old
      // library just before a crash — re-applying would double-merge the
      // delta registry, and the content term needed to decide is simply
      // not in the marker. Abort with a clear upgrade-mid-replay error
      // instead of failing open (the pre-r14 behavior); an operator who
      // has verified the batch was NOT applied can override with
      // SPARK_GRAFT_ACCEPT_LEGACY_MARKER=1. Markers with differing n=/id=
      // are provably a different batch and proceed normally — so the
      // ordinary upgrade path (new data after the upgrade) is unaffected.
      retainedMarkers.foreach { m =>
        // ORDER-INDEPENDENT term compare (r15 ADVICE): parse the marker's
        // k=v terms into a map and compare the n=/id= VALUES — the old
        // rebuilt-string equality assumed the legacy writer's term order,
        // so a reordered/interleaved legacy marker slipped past the guard
        // and the ingest proceeded into the exact double-merge the guard
        // exists to prevent (failing OPEN on its own contract). The
        // legacy-format test itself is the parsed tx key, not a ";tx="
        // substring (which missed a tx-first term order the same way).
        val terms = m.split(";").iterator.map(_.split("=", 2))
          .collect { case Array(k, v) => k -> v }.toMap
        if (terms.contains("tx") &&
            terms.get("n").contains(nNew.toString) &&
            terms.get("id").contains(idSum) &&
            !sys.env.get("SPARK_GRAFT_ACCEPT_LEGACY_MARKER").contains("1"))
          exit(3,
            "dedup-ingest: upgrade mid-replay — a retained generation's " +
            "commit marker uses the legacy fingerprint format (tx= term) " +
            "and its n=/id= terms match this batch, so this run cannot " +
            "tell a crash replay (must no-op) from a coincidental match " +
            "(must apply). Refusing to risk a double-merge. If you have " +
            "verified this batch was never applied, re-run with " +
            "SPARK_GRAFT_ACCEPT_LEGACY_MARKER=1.")
      }
      if (retainedMarkers.contains(batchId)) {
        println(s"[cli] dedup-ingest: batch already applied by a retained " +
          s"generation (replay after a crash past its commit marker) — " +
          s"state unchanged in $stateDir")
        return
      }
      // SIGNATURE-WIDTH migration guard (r16): the batch must be signed at
      // the width the standing registry was built with — 48-bit signatures
      // probed against a 32-bit registry match NOTHING (every duplicate
      // silently kept), the same failure class as the tokenizer guard. A
      // pre-r16 state (no recorded width) reads as 32, so legacy states
      // keep folding CORRECTLY at their own width; the WARN is the scale
      // story, not a correctness one — 32-bit signatures saturate by
      // birthday collision at large corpus scale (q27's measured sf3
      // exponent 1.43 vs 0.69 wide), and the remedy is a dedup-build
      // rebuild, which re-signs the corpus at the wide default.
      val stateBits = DedupState.sigBits(spark, stateDir)
      if (stateBits != graft.ops.Dedup.DefaultSimhashBits)
        println(s"[cli] WARN dedup-ingest: state under $stateDir holds " +
          s"$stateBits-bit simhash signatures (library default is now " +
          s"${graft.ops.Dedup.DefaultSimhashBits}); this ingest signs and " +
          "routes at the persisted width, which stays correct — but narrow " +
          "signatures saturate by birthday collision at corpus scale. " +
          "Rebuild the state with dedup-build to widen.")
      // one generation resolution for all three tables — never mixed-day
      val state = DedupState.readAll(spark, stateDir)
      val reg = state("registry")
      val anchors = state("anchors")
      val comps = state("components")
      // merge the new batch's delta registry FIRST and route against the
      // MERGED registry: same-day duplicates (two identical docs in one
      // crawl batch — the common case) then route to the batch's own
      // anchors instead of being silently missed; simhashRoute's
      // self-exclusion keeps a doc from routing to itself
      val mergedReg = graft.ops.Dedup.mergeBucketRegistries(reg,
        graft.ops.Dedup.simhashBucketRegistrySigs(newDocs, "doc_id", "text",
          bits = stateBits))
        .localCheckpoint()
      val anchorTexts = anchors
        .unionByName(newDocs.select(col("doc_id"), col("text")))
        .dropDuplicates("doc_id")
        .localCheckpoint() // feeds verify + mergedAnchors + the state
                           // write — bounded (anchors ∪ one batch), so
                           // materialize once instead of three shuffles
      val routed = graft.ops.Dedup.simhashRoute(newDocs, "doc_id", "text",
          mergedReg, bits = stateBits)
        .where(col("is_dup") === 1L).select(col("doc_id"), col("best_anchor"))
        .localCheckpoint() // feeds verify + the report count, once
      val newPairs = graft.ops.Dedup.verifyRoutedPairs(routed, newDocs,
          anchorTexts, "doc_id", "text", threshold = 0.5)
        .localCheckpoint() // feeds the fold + the report count, once
      val folded = graft.ops.Dedup
        .incrementalClusters(comps, newPairs, Some(newDocs.select(col("doc_id"))),
          // daily batch vs standing table: O(delta + affected) iterative
          // part, and labels-only output skips the corpus-wide size window
          // (the persisted state is (id, label); sizes are report-time)
          frontier = true, withSizes = false)
      val mergedAnchors = mergedReg.select(col("anchor_id").as("doc_id")).distinct()
        .join(anchorTexts, "doc_id")
      val nDup = routed.count()
      val nPairs = newPairs.count()
      // versioned commit (DedupState): the new generation is written to its
      // own v<N+1> directory — so the fold's lineage can read the CURRENT
      // generation's files while writing, no staging dance — and all three
      // tables flip together on the single marker-file create, which also
      // records the batch fingerprint. A crash BEFORE the marker leaves the
      // old generation live and the replay merges the delta exactly once;
      // a crash AFTER it is caught by the batch-identity no-op above (the
      // round-11 in-place swap could mix days and double-merge the delta
      // registry on replay).
      val gen = graft.ops.DedupState.commit(spark, stateDir,
        Map("components" -> folded, "registry" -> mergedReg,
          "anchors" -> mergedAnchors), keep, Some(batchId),
        mixedTokenizer = tokMismatch,
        // the state stays at ITS width until a rebuild widens it — the
        // fold just merged stateBits-wide signatures
        sigBits = stateBits)
      println(s"[cli] ingested $nNew docs: $nDup routed to anchors, " +
        s"$nPairs verified near-dup pairs folded; state updated in $stateDir (gen v$gen, keep $keep)")

    // catalog integrity: hive-layout validation (reference validate_layout CI gate)
    case "validate" :: root :: Nil =>
      val bad = graft.lake.ValidateLayout.invalidPaths(spark, root)
      if (bad.isEmpty) println("[cli] layout OK")
      else { println(s"[cli] invalid paths: ${bad.mkString(", ")}"); exit(1, "layout invalid") }

    case "resample" :: root :: symbol :: tf :: Nil =>
      val m1 = new LakeProvider(spark, root).loadM1(symbol, None, None)
      Resample.ohlcv(m1, Timeframe(tf), Seq("source", "symbol")).orderBy("ts").show(20)

    case other =>
      exit(2, s"unknown command: ${other.mkString(" ")}\n" +
        "commands: ingest-synth | read | join-mtf | aggregate | levels | check | repair | resample | ann | corpus | embed-qc | xsource | funnel | sketch | kmeans | validate | dedup-build | dedup-ingest")
  }
}
