package graft

import graft.functions.ZOrderBits
import graft.ops.Layout
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("zorder interleave: known bit patterns, masking, codegen==interpreted") {
    val got = Seq((3L, 0L), (0L, 3L), (1L, 1L), (0x7FFFFFFFL, 0L),
      (0xFFFFFFFFL, 0L), (21L, 42L))
      .toDF("a", "b")
      .select(ZOrderBits.zorder(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    // a occupies even bits, b odd bits
    assert(got(0) === 5L)   // 0b0101
    assert(got(1) === 10L)  // 0b1010
    assert(got(2) === 3L)   // 0b11
    assert(got(3) === 0x1555555555555555L) // 31 ones spread to evens
    assert(got(4) === 0x1555555555555555L) // bits >= 31 masked off
    // interpreted eval agrees with the codegen'd dataframe path
    val e = ZOrderBits(org.apache.spark.sql.catalyst.expressions.Literal(21L),
      org.apache.spark.sql.catalyst.expressions.Literal(42L))
    assert(e.eval(null) === got(5))
    // interleave is a bijection on (a, b): distinct inputs -> distinct z
    val n = spark.range(1000)
      .select(expr("id % 32").as("a"), expr("id DIV 32").as("b"))
      .select(ZOrderBits.zorder(col("a"), col("b")).as("z"))
      .distinct().count()
    assert(n === 1000L)
  }

  test("normalize clamps and spans the full cell range") {
    val got = Seq(-5.0, 0.0, 31.5, 63.0, 99.0).toDF("v")
      .select(Layout.normalize(col("v"), 0.0, 63.0, bits = 6).as("c"))
      .as[Long].collect().toSeq
    assert(got === Seq(0L, 0L, 32L, 63L, 63L))
  }

  test("z-ordered layout bounds BOTH dimensions per partition; linear sort only one") {
    // 64x64 uniform grid; bits=6 maps each coordinate onto itself, so the
    // z sort is the exact Morton curve: 16 range partitions of 256 cells
    // are 16x16 tiles. A linear (a)-sort leaves every partition spanning
    // the whole b domain — the scan-pruning difference z-order exists for.
    val grid = spark.range(64L * 64L)
      .select(expr("id % 64").as("a"), expr("id DIV 64").as("b"))
    def maxRange(df: org.apache.spark.sql.DataFrame, c: String): Long = df
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg((max(col(c)) - min(col(c))).as("r"))
      .agg(max(col("r"))).as[Long].head()
    // AQE would coalesce these tiny range partitions into one, erasing the
    // layout being measured — the production write path keeps real sizes
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val z = grid
        .withColumn("_z", Layout.zorder(
          Layout.normalize(col("a"), 0.0, 63.0, 6),
          Layout.normalize(col("b"), 0.0, 63.0, 6)))
        .repartitionByRange(16, col("_z")).sortWithinPartitions(col("_z"))
      // sampled range boundaries can straddle a tile edge: allow <=2 tiles
      assert(maxRange(z, "a") <= 31L)
      assert(maxRange(z, "b") <= 31L)
      val linear = grid.repartitionByRange(16, col("a"))
      assert(maxRange(linear, "b") === 63L)
      // zorderedBy (default 31-bit cells: scaled coordinates, boundaries can
      // wobble a cell or two) still bounds both dims far below the domain
      val viaHelper = Layout.zorderedBy(grid.toDF(), "a", 0.0, 63.0, "b", 0.0, 63.0, 16)
      assert(maxRange(viaHelper, "a") <= 31L && maxRange(viaHelper, "b") <= 31L)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partitionsFor scales with input size; zorderedBy uses the derived count") {
    val tmp = java.nio.file.Files.createTempDirectory("layout_pf").toString
    def mk(n: Long, dir: String): org.apache.spark.sql.DataFrame = {
      spark.range(n)
        .select(col("id"), lpad(col("id").cast("string"), 64, "x").as("pad"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val small = mk(2000L, s"$tmp/small")
    val big = mk(20000L, s"$tmp/big")
    val target = 8L << 10 // 8 KiB files so both inputs need several
    val pSmall = Layout.partitionsFor(small, target)
    val pBig = Layout.partitionsFor(big, target)
    // 10x the rows -> ~10x the partitions (parquet overhead blurs the exact
    // ratio; proportionality is the contract, not equality)
    assert(pSmall >= 1 && pBig >= 5 * pSmall && pBig <= 20 * pSmall,
      s"pSmall=$pSmall pBig=$pBig")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val z = Layout.zorderedBy(big.select(col("id").cast("double").as("a"),
          (col("id") % 97).cast("double").as("b")),
        "a", 0.0, 19999.0, "b", 0.0, 96.0, targetFileBytes = target)
      assert(z.rdd.getNumPartitions === Layout.partitionsFor(big.select(
        col("id").cast("double").as("a"), (col("id") % 97).cast("double").as("b")), target))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("per-file boxes: z-order layout skips most files on a b-band; linear-by-a skips none") {
    // Vanilla Spark prunes parquet at row-group level using exactly the
    // per-file/row-group min-max the writer laid down — so measure THAT:
    // write both layouts, recover each file's (b_min, b_max) box, and count
    // files a b-band predicate must touch. This is the metrics form of the
    // pruning claim q52 makes in prose.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val tmp = java.nio.file.Files.createTempDirectory("layout_files").toString
    try {
      val pts = spark.range(1L << 14)
        .select((col("id") % 128).cast("double").as("a"),
          (col("id") / 128).cast("double").as("b"))
      Layout.zorderedBy(pts, "a", 0.0, 127.0, "b", 0.0, 127.0, 16)
        .write.parquet(s"$tmp/z")
      pts.repartitionByRange(16, col("a")).sortWithinPartitions(col("a"))
        .write.parquet(s"$tmp/linear")
      def boxes(dir: String): (Long, Long) = {
        val perFile = spark.read.parquet(dir)
          .groupBy(input_file_name().as("f"))
          .agg(min("b").as("blo"), max("b").as("bhi"))
          .cache()
        val total = perFile.count()
        val hit = perFile.where(col("bhi") >= 0.0 && col("blo") <= 31.0).count()
        perFile.unpersist()
        (hit, total)
      }
      val (zHit, zTotal) = boxes(s"$tmp/z")
      val (lHit, lTotal) = boxes(s"$tmp/linear")
      assert(zTotal >= 8 && lTotal >= 8, s"want real file counts, got $zTotal/$lTotal")
      // b in [0, 32): a quarter of the domain -> most z files skippable
      assert(zHit * 2 <= zTotal, s"z-order: $zHit of $zTotal files intersect")
      // the linear-by-a layout cannot prune on b at all
      assert(lHit === lTotal, s"linear: $lHit of $lTotal")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bitsForDims: budget halves per tree level, rejects bad arity") {
    assert(Layout.bitsForDims(2) === 31)
    assert(Layout.bitsForDims(3) === 15)
    assert(Layout.bitsForDims(4) === 15)
    assert(Layout.bitsForDims(5) === 7)
    assert(Layout.bitsForDims(8) === 7)
    intercept[IllegalArgumentException](Layout.bitsForDims(1))
    intercept[IllegalArgumentException](Layout.bitsForDims(9))
  }

  test("3-D zorderN layout bounds ALL THREE dimensions per partition") {
    // 16x16x16 grid, 4-bit coordinates; 8 range partitions of 512 cells.
    // A balanced interleave keeps each partition inside a small box of
    // (a, b, c); a linear a-sort leaves b and c unbounded.
    val grid = spark.range(16L * 16L * 16L)
      .select(expr("id % 16").as("a"), expr("(id DIV 16) % 16").as("b"),
        expr("id DIV 256").as("c"))
    def maxRange(df: org.apache.spark.sql.DataFrame, col0: String): Long = df
      .withColumn("p", spark_partition_id())
      .groupBy("p").agg((max(col(col0)) - min(col(col0))).as("r"))
      .agg(max(col("r"))).as[Long].head()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // default range sampling (100 rows/partition) can put a boundary far
    // enough inside an octant that one partition straddles a major-bit
    // edge and wraps a dimension; sample densely so boundaries land on
    // (or next to) the octant edges the layout creates
    spark.conf.set("spark.sql.execution.rangeExchange.sampleSizePerPartition", "2000")
    try {
      val z = grid.withColumn("_z", Layout.zorderN(Seq(
          Layout.normalize(col("a"), 0.0, 15.0, 4),
          Layout.normalize(col("b"), 0.0, 15.0, 4),
          Layout.normalize(col("c"), 0.0, 15.0, 4))))
        .repartitionByRange(8, col("_z")).sortWithinPartitions(col("_z"))
      // boundaries can still sit a few cells off an octant edge: each dim
      // stays far below the full 15-cell domain
      assert(maxRange(z, "a") <= 9L)
      assert(maxRange(z, "b") <= 9L)
      assert(maxRange(z, "c") <= 9L)
      val linear = grid.repartitionByRange(8, col("a"))
      assert(maxRange(linear, "b") === 15L && maxRange(linear, "c") === 15L)
      // the DataFrame helper preserves rows exactly
      val viaHelper = Layout.zorderedByDims(grid.toDF(),
        Seq(("a", 0.0, 15.0), ("b", 0.0, 15.0), ("c", 0.0, 15.0)),
        targetFileBytes = 64L << 10)
      assert(viaHelper.count() === 4096L)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.execution.rangeExchange.sampleSizePerPartition")
    }
  }
}
