package graft

import graft.ops.{AnnIndex, Similarity}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the persisted IVF-PQ index: query parity with the inline
  * operator, frozen-quantizer append semantics, and the meta-last commit
  * contract.
  */
class AnnIndexSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("annidx").toFile
    d.deleteOnExit(); d.getAbsolutePath
  }

  test("build -> query reproduces ivfPqTopK bit-for-bit (nprobe 1 and 2)") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    val dir = tmpDir()
    AnnIndex.build(emb, "vec_id", "embedding", dir)
    for (np <- Seq(1, 2)) {
      val direct = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
          k = 10, nprobe = np)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      val viaIndex = AnnIndex.query(q, emb, "vec_id", "embedding", dir,
          k = 10, nprobe = np)
        .orderBy("query_id", "rank")
        .as[(Long, Long, Long, Double, Double)].collect().toSeq
      assert(viaIndex === direct, s"nprobe=$np")
    }
  }

  test("append encodes against the FROZEN quantizers and is probe-visible") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmpDir()
    AnnIndex.build(emb, "vec_id", "embedding", dir)
    // a bit-identical twin of vec 7 under a fresh id must get the IDENTICAL
    // (cell, codes) row — frozen centroids+codebooks, no drift from the
    // standing corpus having grown since build
    val twin = emb.where(col("vec_id") === 7L)
      .select(lit(900000L).as("vec_id"), col("embedding"))
    AnnIndex.append(twin, "vec_id", "embedding", dir, batchId = "b1")
    val codes = spark.read.parquet(s"$dir/codes.parquet",
      s"$dir/append/b1/codes.parquet")
    val orig = codes.where(col("neighbor_id") === 7L).drop("neighbor_id").collect()
    val appd = codes.where(col("neighbor_id") === 900000L).drop("neighbor_id").collect()
    assert(orig.length === 1 && appd.length === 1)
    assert(orig.head === appd.head, "appended twin's cell/codes drifted from the original's")
    // and the appended row is served by a subsequent query (same cell as
    // vec 7, which probes its own cell)
    val got = AnnIndex.query(emb.where(col("vec_id") === 7L),
        emb.select("vec_id", "embedding").unionByName(twin),
        "vec_id", "embedding", dir, k = 10000)
      .where(col("neighbor_id") === 900000L).collect()
    assert(got.length === 1, "appended twin must be probe-visible")
  }

  test("append protocol: uncommitted batch invisible; committed retry no-op; rebuild clears appends") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmpDir()
    AnnIndex.build(emb.where(col("vec_id") < 100), "vec_id", "embedding", dir)
    val batch = emb.where(col("vec_id") >= 100 && col("vec_id") < 120)
    // probe with the 16 centroid vectors themselves: each assigns to its
    // own cell (self-cosine 1.0), so the 16 queries cover EVERY cell and
    // each committed appended row is visible exactly once
    def twinCount(): Long =
      AnnIndex.query(emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
          dir, k = 100000)
        .where(col("neighbor_id") >= 100).select("neighbor_id").distinct().count()
    AnnIndex.append(batch, "vec_id", "embedding", dir, batchId = "b1")
    val visible = twinCount()
    assert(visible === batch.count(), "every committed appended row must be probe-visible")
    // crash simulation: a batch whose marker never landed must be INVISIBLE
    val marker = new java.io.File(s"$dir/append/b1/_COMMITTED")
    assert(marker.isFile)
    assert(marker.delete())
    assert(twinCount() === 0L, "uncommitted append rows leaked into a query")
    // retry the same batchId: clean rewrite + commit, visible exactly once
    AnnIndex.append(batch, "vec_id", "embedding", dir, batchId = "b1")
    assert(twinCount() === visible)
    // second retry with the marker present: no-op, still no duplicates
    AnnIndex.append(batch, "vec_id", "embedding", dir, batchId = "b1")
    assert(twinCount() === visible)
    assert(spark.read.parquet(s"$dir/append/b1/codes.parquet").count() ===
      batch.count())
    // REBUILD drops stale appends: old meta must not survive over new files
    AnnIndex.build(emb.where(col("vec_id") < 100), "vec_id", "embedding", dir)
    assert(!new java.io.File(s"$dir/append").exists())
    assert(twinCount() === 0L)
  }

  test("an index under a scheme-qualified dir (file:) appends and queries") {
    val sf = "/root/testdata/sf0.01"
    assume(new java.io.File(sf).isDirectory)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = "file:" + tmpDir()
    AnnIndex.build(emb.where(col("vec_id") < 100), "vec_id", "embedding", dir)
    val batch = emb.where(col("vec_id") >= 100 && col("vec_id") < 120)
    AnnIndex.append(batch, "vec_id", "embedding", dir, batchId = "b1")
    // the 16 centroid vectors probe every cell (see the append-protocol test)
    val seen = AnnIndex.query(emb.where(col("vec_id") < 16), emb, "vec_id", "embedding",
        dir, k = 100000)
      .where(col("neighbor_id") >= 100).select("neighbor_id").distinct().count()
    assert(seen === batch.count())
  }

  test("query and append refuse an index without meta (meta-last commit)") {
    import spark.implicits._
    val dir = tmpDir()
    val df = Seq((1L, Seq(1.0f))).toDF("id", "v")
    val eq = intercept[IllegalArgumentException] {
      AnnIndex.query(df, df, "id", "v", dir, k = 1)
    }
    assert(eq.getMessage.contains("meta"))
    val ea = intercept[IllegalArgumentException] {
      AnnIndex.append(df, "id", "v", dir, batchId = "b1")
    }
    assert(ea.getMessage.contains("meta"))
  }
}
