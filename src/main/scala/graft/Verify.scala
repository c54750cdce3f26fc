package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, s"args must be <sfDir> <outDir>, got ${args.length}: ${args.mkString(" ")}")
    val (sfDir, outDir) = (args(0), args(1))
    // machine cores by default (see Bench): unset env should not mean a
    // 4-thread run on a 32-core box
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false") // no _SUCCESS consumers (see Bench)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated query-name filter for debugging single
    // queries; blank or whitespace-only values count as unset so a wrapper
    // exporting SPARK_GRAFT_ONLY="" cannot turn the gate into a vacuous pass
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // Parallel submission: queries are independent (each writes its own
    // subdirectory; physical-write queries use pid+prefix-scoped scratch
    // roots), and a single-threaded driver loop leaves local[N] cores idle
    // between jobs — at 120 queries the sequential gate's wall clock risks
    // whatever timeout the calling harness enforces. Modest default (3):
    // the bound is driver heap, not cores.
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR").map(_.toInt).getOrElse(3)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(par, 1))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val jobs = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        scala.concurrent.Future {
          System.err.println(s"[verify] running $name")
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(jobs),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
