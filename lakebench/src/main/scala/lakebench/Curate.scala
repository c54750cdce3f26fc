package lakebench

import graft.ops.{Corpus, Dedup, Quantiles, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `curate`: each op runs one seeded shard of `shardSize` documents through
  * the filter funnel, near-duplicate clustering, canonical selection, MAD
  * outliers of token counts per language, and n-gram decontamination
  * against a seeded eval set. The lake is never touched.
  */
final class Curate(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._

  private val shardSize = 500
  private val gen = DocGen(seed, shardSize)
  private val threshold = 0.5
  /** Share of planted near-duplicate pairs that must land in one cluster. */
  val recallFloor = 0.9
  private lazy val evalDf = gen.evalDocs.map(d => (d.id, d.text)).toDF("id", "text")

  def build(root: String): Unit = { evalDf.count(); () }

  private def shingles(text: String): Set[String] =
    text.split(' ').sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = (a intersect b).size.toDouble
    BigDecimal(inter / (a.size + b.size - inter)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Interpolated quantile of a sorted sample (the engine's exact form). */
  private def quantile(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (pos - lo) * (sorted(hi) - sorted(lo))
  }
  private def r4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  private var lastShard = 0

  def op(i: Int, again: Boolean): Outcome = {
    if (!again) lastShard = i
    val docs = gen.shard(lastShard)
    val df = docs.map(d => (d.id, d.lang, d.text)).toDF("id", "lang", "text")

    val funnel = tr.collect("ops.text") { TextAnalysis.filterFunnel(df, "text") }
    val clusters = tr.frame("ops.dedup") { Dedup.nearDupClusters(df, "id", "text") }
    val pinned = if (tr.enabled) clusters else clusters.localCheckpoint(eager = true)
    val cl = pinned.collect()
    val canonical = df.join(pinned.where(col("is_canonical")).select("id"), "id")
    val mad = tr.collect("ops.quantiles") {
      Quantiles.madOutliers(canonical.withColumn("n_tokens", TextAnalysis.tokenCount(col("text"))),
        Seq("lang"), "n_tokens")
    }
    val kept = tr.collect("ops.corpus") {
      Corpus.decontaminated(canonical, evalDf, "id", "text").select("id")
    }
    // the dedup operators cache their signature projections; a long-lived
    // service releases them between jobs
    spark.catalog.clearCache()
    if (!tr.enabled) Workload.unpin(pinned)

    Outcome(docs.size.toLong, () => {
      val errs = mutable.ArrayBuffer.empty[String]
      if (funnel.headOption.forall(_.getAs[Long]("n_pass") != docs.size))
        errs += "funnel: total stage does not count the shard"
      // every document in exactly one cluster; canonical = cluster minimum
      val ids = cl.map(_.getAs[Long]("id"))
      if (ids.length != docs.size || ids.toSet != docs.map(_.id).toSet) errs += "clusters: not a partition of the shard"
      val members = cl.groupBy(_.getAs[Long]("cluster_id"))
      members.foreach { case (cid, rs) =>
        val mids = rs.map(_.getAs[Long]("id"))
        if (cid != mids.min) errs += s"cluster $cid: label is not the member minimum"
        if (rs.exists(r => r.getAs[Boolean]("is_canonical") != (r.getAs[Long]("id") == cid)))
          errs += s"cluster $cid: canonical flag wrong"
        if (rs.exists(_.getAs[Long]("cluster_size") != mids.length)) errs += s"cluster $cid: size wrong"
      }
      // every cluster is connected through pairs that meet the threshold
      val text = docs.map(d => d.id -> d.text).toMap
      val sh = mutable.Map.empty[Long, Set[String]]
      def shOf(id: Long) = sh.getOrElseUpdate(id, shingles(text(id)))
      val unverified = members.count { case (_, rs) =>
        val mids = rs.map(_.getAs[Long]("id"))
        mids.length > 1 && {
          val seen = mutable.Set(mids.head)
          var frontier = List(mids.head)
          while (frontier.nonEmpty) {
            val x = frontier.head; frontier = frontier.tail
            mids.filterNot(seen).filter(y => jaccard(shOf(x), shOf(y)) >= threshold).foreach { y =>
              seen += y; frontier = y :: frontier
            }
          }
          seen.size != mids.length
        }
      }
      if (unverified > 0) errs += s"clusters: $unverified not connected by verified pairs"
      // recall of the planted near-duplicate groups
      val clusterOf = cl.map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster_id")).toMap
      val pairs = docs.filter(_.group >= 0).groupBy(_.group).values.toSeq.flatMap(g =>
        g.combinations(2).map(p => (p.head.id, p(1).id)))
      val recall = if (pairs.isEmpty) 1.0
        else pairs.count { case (a, b) => clusterOf.get(a) == clusterOf.get(b) }.toDouble / pairs.size
      if (recall < recallFloor) errs += f"recall $recall%.3f below $recallFloor"
      // MAD outliers of token counts per language, over canonical documents
      val canon = docs.filter(d => clusterOf.get(d.id).contains(d.id))
      val c = 3.0 * 1.4826
      canon.groupBy(_.lang).foreach { case (lang, ds) =>
        val v = ds.map(_.text.split(' ').length.toDouble).sorted.toIndexedSeq
        val med = quantile(v, 0.5)
        val madv = quantile(v.map(x => math.abs(x - med)).sorted, 0.5)
        val (medr, madr) = (r4(med), r4(madv))
        val (lo, hi) = (medr - c * madr, medr + c * madr)
        val want = (v.size.toLong, medr, madr, v.count(x => x < lo || x > hi).toLong)
        val got = mad.find(_.getAs[String]("lang") == lang).map(r =>
          (r.getAs[Long]("n"), r.getAs[Double]("median"), r.getAs[Double]("mad"), r.getAs[Long]("n_outliers")))
        if (!got.contains(want)) errs += s"mad $lang: got $got, expected $want"
      }
      // decontamination: drop exactly the canonical docs sharing a trigram with the eval set
      val evalSh = gen.evalDocs.flatMap(d => shingles(d.text)).toSet
      val wantKept = canon.filterNot(d => shOf(d.id).exists(evalSh)).map(_.id).toSet
      if (kept.map(_.getLong(0)).toSet != wantKept) errs += s"decontaminated: ${kept.length} kept, expected ${wantKept.size}"
      errs.toSeq
    })
  }
}
