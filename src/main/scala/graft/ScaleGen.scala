package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale-probe data generator: deterministically expands a
  * testdata SF directory N-fold into a scratch directory, so operator
  * scaling exponents can be MEASURED beyond the driver-shipped sf0.1
  * (never writes to /root/testdata; PLANS.md records the probe results).
  *
  * Expansion semantics per table — chosen so each workload's SHAPE scales
  * the way a real 100 TB corpus would, instead of manufacturing degenerate
  * cliques:
  *  - dims (region/nation/customer/supplier/part): copied as-is — at scale
  *    facts grow, dimensions don't (that is why they broadcast);
  *  - lineitem/orders: replicated with the order key shifted per replica
  *    (new orders, same dims/value distributions);
  *  - events: replicated with event_id/user_id shifted — N× the users,
  *    same per-user activity, identical time window (denser traffic, the
  *    shape user-keyed windows must survive);
  *  - documents: replicated with doc_id shifted AND a replica salt token
  *    spliced every 3rd word — replicas stay topically identical but fall
  *    below near-dup thresholds, so dedup candidate counts scale like a
  *    real corpus rather than as ×N exact-duplicate cliques;
  *  - embeddings: replicated with vec_id shifted and each component
  *    perturbed ±0.25% (hash-seeded) — same geometry, no exact duplicates.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> <replicas>
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      s"args must be <srcSfDir> <outDir> <replicas>, got ${args.length}: ${args.mkString(" ")}")
    val (srcDir, outDir, repsStr) = (args(0), args(1), args(2))
    val reps = repsStr.toInt
    require(reps >= 1, "need replicas >= 1")
    require(!outDir.startsWith("/root/testdata"), "never write to testdata")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def src(t: String): DataFrame = spark.read.parquet(s"$srcDir/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    def replicated(t: String): DataFrame =
      src(t).withColumn("_rep", explode(sequence(lit(0), lit(reps - 1))))

    Seq("region", "nation", "customer", "part").foreach { t =>
      write(src(t), t, 1)
    }

    // supplier scales WITH the corpus (it feeds the fuzzy-entity-join
    // probes q97/q134): replica names get a suffix with THREE
    // replica-dependent chars, so cross-replica twins sit at edit distance
    // 3 > maxDist 2 instead of forming true-match 10-cliques — true pair
    // counts then scale ~linearly like a real registry (the first probe
    // run used a distance-1 suffix and measured the resulting ×100 OUTPUT
    // growth, not operator cost — see PLANS.md round 10)
    write(replicated("supplier")
      .withColumn("s_name", when(col("_rep") === 0, col("s_name"))
        .otherwise(concat(col("s_name"), lit("r"), col("_rep"),
          lit("q"), col("_rep"), lit("z"), col("_rep"))))
      .withColumn("s_suppkey", col("s_suppkey") + col("_rep") * 1000000L)
      .drop("_rep"), "supplier", 1)

    write(replicated("lineitem")
      .withColumn("l_orderkey", col("l_orderkey") + col("_rep") * 100000000L)
      .drop("_rep"), "lineitem", 16)

    write(replicated("orders")
      .withColumn("o_orderkey", col("o_orderkey") + col("_rep") * 100000000L)
      .drop("_rep"), "orders", 8)

    write(replicated("events")
      .withColumn("event_id", col("event_id") + col("_rep") * 1000000000L)
      .withColumn("user_id", col("user_id") + col("_rep") * 1000000L)
      .drop("_rep"), "events", 8)

    // splice "r<rep>x<h>" after every 3rd word for replicas > 0: shingle
    // overlap with the original drops below near-dup thresholds while the
    // token/char distributions stay realistic
    write(replicated("documents")
      .withColumn("text", when(col("_rep") === 0, col("text")).otherwise(
        array_join(flatten(transform(split(trim(col("text")), "\\s+"),
          (w, i) => when(i % 3 === 2,
            array(w, concat(lit("r"), col("_rep"),
              lit("x"), pmod(hash(col("doc_id") + i), lit(7)))))
            .otherwise(array(w)))), " ")))
      .withColumn("doc_id", col("doc_id") + col("_rep") * 1000000L)
      .withColumn("n_chars", length(col("text")))
      .drop("_rep"), "documents", 8)

    write(replicated("embeddings")
      .withColumn("embedding", transform(col("embedding"),
        (x, i) => (x * (lit(1.0) +
          (pmod(hash(col("vec_id"), i, col("_rep")), lit(1000)).cast("double")
            / 200000.0 - 0.0025))).cast("float")))
      .withColumn("vec_id", col("vec_id") + col("_rep") * 1000000L)
      .drop("_rep"), "embeddings", 4)

    println(s"[scalegen] wrote ${reps}x $srcDir -> $outDir")
    spark.stop()
  }
}
