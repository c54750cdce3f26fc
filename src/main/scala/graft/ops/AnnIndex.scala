package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index: build once / append incrementally / query many —
  * the deployment shape of [[Similarity.ivfPqTopK]] at corpus scale, where
  * re-assigning and re-encoding the whole corpus per query batch is not an
  * option (at 100 TB the encode pass alone dominates any single query).
  *
  * Layout under `dir` (all Spark parquet datasets):
  *   - `centroids.parquet` (cent_id, vec, norm): the frozen IVF coarse
  *     quantizer — ≤ 16 rows, broadcast at query time;
  *   - `codebook.parquet`  (c, vec): the frozen PQ seed vectors — `codes`
  *     rows, array<double> (exact for float corpora);
  *   - `codes.parquet`     (neighbor_id, cell, _code0.._code{m-1}): the
  *     base inverted file — m small ints per row (64× smaller than the
  *     vectors at m=4/dim=64 float);
  *   - `append/<batchId>/codes.parquet` + `append/<batchId>/_COMMITTED`:
  *     one dataset per appended batch, published by a tmp+rename marker
  *     (the DedupState commit convention) — an append that crashes before
  *     its marker is INVISIBLE to queries, and retrying the same batchId
  *     is idempotent (committed → no-op; uncommitted → clean rewrite);
  *   - `meta.parquet`      (n_centroids, m, codes, dim): written LAST at
  *     build time — the build's commit marker. [[build]] deletes the WHOLE
  *     index dir first (meta included), so a crash mid-REBUILD cannot
  *     leave the old meta pointing at mixed old/new artifacts; stale
  *     append batches die with it (a rebuild re-encodes everything).
  *
  * [[append]] encodes a new batch against the FROZEN centroids + codebooks:
  * O(batch) work regardless of standing corpus size — the IVF index's
  * incremental property (new vectors land in existing cells; a periodic
  * rebuild refreshes the quantizers, exactly like the dedup registry's
  * full-pass reconciler). Caller contract: batch ids are fresh and batchId
  * names one logical batch (retries reuse it).
  *
  * [[query]] reproduces [[Similarity.ivfPqTopK]] BIT-FOR-BIT over the base
  * + committed appends (spec-pinned): same assignment, same ADC scan, same
  * exact re-rank. The re-rank reads vectors from the caller's `corpus` —
  * the index stores codes, never vectors, so the exact pass goes to the
  * original store (as IVFADC deployments do) and touches only the
  * k·|queries| surviving rows.
  */
object AnnIndex {
  private val Marker = "_COMMITTED"

  private def hfs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Build the index at [[Similarity.ivfPqTopK]]'s layout (`Similarity.IvfCells`
    * cells, `PqSubspaces` × `PqCodes` codes over `PqDim`-dim vectors).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String, dir: String): Unit = {
    import Similarity.{IvfCells, PqCodes, PqDim, PqSubspaces}
    val spark = corpus.sparkSession
    import spark.implicits._
    // REBUILD INVALIDATION: drop the whole index — meta included — BEFORE
    // any write. Overwriting artifacts under a live meta would let a crash
    // mid-rebuild leave the OLD meta readable over MIXED old/new files;
    // with the delete-first order every crash window leaves either the
    // intact old index gone (loud: no meta) or nothing, never a lie.
    hfs(spark, dir).delete(new Path(dir), true)
    val cents = Similarity.ivfCentroids(corpus, idCol, vecCol, IvfCells)
    val seeds = Similarity.collectPqSeeds(corpus, idCol, vecCol, PqCodes)
    val pq = Similarity.pqFromSeeds(seeds, PqSubspaces, PqCodes, PqDim)
    // the three artifact writes are mutually independent (codes needs only
    // the already-derived cents/pq, both driver-resident) — overlap them
    // (guide §2.6); only meta, the build's commit marker, must come LAST,
    // after every artifact is fully published
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(Seq(
        scala.concurrent.Future {
          cents.select(col("cent_id"), col("_cent").as("vec"), col("_centn").as("norm"))
            .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
        },
        scala.concurrent.Future {
          seeds.zipWithIndex.map { case (v, c) => (c, v.toSeq) }.toSeq
            .toDF("c", "vec").coalesce(1)
            .write.mode("overwrite").parquet(s"$dir/codebook.parquet")
        },
        scala.concurrent.Future {
          pq.withCodes(
              Similarity.ivfAssign(corpus.select(col(idCol), col(vecCol)), idCol, vecCol, cents),
              vecCol, Seq(col(idCol).as("neighbor_id"), col("cent_id").as("cell")))
            .write.mode("overwrite").parquet(s"$dir/codes.parquet")
        })),
      scala.concurrent.duration.Duration.Inf): Unit
    finally pool.shutdown()
    Seq((IvfCells, PqSubspaces, PqCodes, PqDim)).toDF("n_centroids", "m", "codes", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta.parquet")
  }

  private def meta(spark: SparkSession, dir: String): (Int, Int, Int, Int) = {
    require(hfs(spark, dir).exists(new Path(s"$dir/meta.parquet")),
      s"no index meta at $dir — build incomplete or missing")
    val r = spark.read.parquet(s"$dir/meta.parquet").head()
    (r.getAs[Int]("n_centroids"), r.getAs[Int]("m"),
      r.getAs[Int]("codes"), r.getAs[Int]("dim"))
  }

  private def centroids(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/centroids.parquet")
      .select(col("cent_id"), col("vec").as("_cent"), col("norm").as("_centn"))

  private def pqModel(spark: SparkSession, dir: String, m: Int, codes: Int,
                      dim: Int): Similarity.PqModel = {
    val seeds = spark.read.parquet(s"$dir/codebook.parquet")
      .orderBy(col("c")).select(col("vec")).collect()
      .map(_.getSeq[Double](0).toArray)
    Similarity.pqFromSeeds(seeds, m, codes, dim)
  }

  /** Append `batch` as logical batch `batchId`. Committed batchId → no-op
    * (idempotent retry); uncommitted leftovers from a crashed attempt are
    * deleted and rewritten. The marker rename is the atomic publish.
    */
  def append(batch: DataFrame, idCol: String, vecCol: String, dir: String,
             batchId: String): Unit = {
    require(batchId.nonEmpty && batchId.matches("[A-Za-z0-9._-]+"),
      s"batchId '$batchId' must be a safe path segment")
    val spark = batch.sparkSession
    val (_, m, codes, dim) = meta(spark, dir)
    val fs = hfs(spark, dir)
    val bdir = new Path(s"$dir/append/$batchId")
    if (fs.exists(new Path(bdir, Marker))) return // committed: retry no-op
    fs.delete(bdir, true) // crashed-attempt leftovers: invisible, start clean
    val cents = centroids(spark, dir)
    val pq = pqModel(spark, dir, m, codes, dim)
    pq.withCodes(
        Similarity.ivfAssign(batch.select(col(idCol), col(vecCol)), idCol, vecCol, cents),
        vecCol, Seq(col(idCol).as("neighbor_id"), col("cent_id").as("cell")))
      .write.mode("overwrite").parquet(new Path(bdir, "codes.parquet").toString)
    val tmp = new Path(bdir, Marker + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(batchId.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, new Path(bdir, Marker)))
      sys.error(s"append marker rename failed for batch $batchId")
  }

  /** Base codes + every COMMITTED append batch, oldest-name first. The
    * listing is bounded by the number of appends, not data size.
    */
  private def codePaths(spark: SparkSession, dir: String): Seq[String] = {
    val fs = hfs(spark, dir)
    val root = new Path(s"$dir/append")
    val appended =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq.filter(_.isDirectory)
        .filter(st => fs.exists(new Path(st.getPath, Marker)))
        .sortBy(_.getPath.getName)
        .map(st => new Path(st.getPath, "codes.parquet").toString)
    s"$dir/codes.parquet" +: appended
  }

  def query(queries: DataFrame, corpus: DataFrame, idCol: String,
            vecCol: String, dir: String, k: Int, nprobe: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    val (nc, m, codes, dim) = meta(spark, dir)
    require(nprobe >= 1 && nprobe <= nc, s"nprobe $nprobe out of range")
    val cents = centroids(spark, dir)
    val pq = pqModel(spark, dir, m, codes, dim)
    val codeTable = spark.read.parquet(codePaths(spark, dir): _*)
    val q0 = pq.withAdcTables(
      Similarity.ivfAssign(queries.select(col(idCol), col(vecCol)),
        idCol, vecCol, cents, nprobe),
      vecCol, Seq(col(idCol).as("query_id"), col("cent_id").as("cell")))
    Similarity.ivfPqScan(q0, codeTable, pq, queries, corpus, idCol, vecCol, k)
  }
}
