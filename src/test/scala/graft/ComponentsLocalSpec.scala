package graft

import graft.ops.Dedup
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 size-gated driver-local connected-components fold to the
  * distributed min-label propagation: identical (id, component) sets on
  * non-trivial graphs, identical schema, and the gate refusing the local
  * path above the cap / on null or non-integral keys.
  */
class ComponentsLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** chains (long diameter), a dense blob, singletons, duplicate edges,
    * self-loops, and edges referencing NON-node ids (must not bridge).
    */
  private def nodes = (0L until 120L).toDF("id")
  private def edges = {
    val chain = (0L until 40L).sliding(2).map(p => (p(0), p(1))).toSeq // 0..40 path
    val blob = for (i <- 50L until 60L; j <- 50L until 60L if i < j) yield (i, j)
    val dups = Seq((70L, 71L), (70L, 71L), (71L, 70L), (72L, 72L))
    val ghost = Seq((80L, 999L), (999L, 81L)) // 999 is NOT a node: 80/81 stay apart
    (chain ++ blob ++ dups ++ ghost).toDF("src", "dst")
  }

  test("driver-local union-find == distributed propagation") {
    val local = Dedup.connectedComponents(nodes, edges)
    val dist = Dedup.connectedComponents(nodes, edges, maxLocalNodes = 0)
    assert(local.schema === dist.schema ||
      local.schema.map(f => (f.name, f.dataType)) ===
        dist.schema.map(f => (f.name, f.dataType)))
    val l = local.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val d = dist.orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(l === d)
    // the ghost edges must not have bridged 80 and 81
    val m = l.toMap
    assert(m(80L) === 80L && m(81L) === 81L)
    // chain collapsed to min id 0; blob to 50
    assert(m(39L) === 0L && m(59L) === 50L)
  }

  test("gate: over-cap node sets run distributed (same result)") {
    val viaGate = Dedup.connectedComponents(nodes, edges, maxLocalNodes = 5)
    val forced = Dedup.connectedComponents(nodes, edges, maxLocalNodes = 0)
    assert(viaGate.orderBy("id").collect().toSeq ===
      forced.orderBy("id").collect().toSeq)
  }

  test("gate: null ids fall back to distributed semantics") {
    val n = Seq[java.lang.Long](1L, 2L, null).toDF("id")
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val viaGate = Dedup.connectedComponents(n, e)
    val forced = Dedup.connectedComponents(n, e, maxLocalNodes = 0)
    assert(viaGate.orderBy("id").collect().toSeq ===
      forced.orderBy("id").collect().toSeq)
  }

  test("gate: string ids always take the distributed path") {
    val n = Seq("a", "b", "c").toDF("id")
    val e = Seq(("a", "b")).toDF("src", "dst")
    val got = Dedup.connectedComponents(n, e).orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got === Seq(("a", "a"), ("b", "a"), ("c", "c")))
  }

  test("local path handles int-typed ids with the int output type") {
    val n = (0 until 6).toDF("id")
    val e = Seq((0, 1), (2, 3)).toDF("src", "dst")
    val got = Dedup.connectedComponents(n, e)
    assert(got.schema("component").dataType ===
      org.apache.spark.sql.types.IntegerType)
    val m = got.collect().map(r => (r.getInt(0), r.getInt(1))).toMap
    assert(m === Map(0 -> 0, 1 -> 0, 2 -> 2, 3 -> 2, 4 -> 4, 5 -> 5))
  }

  test("local path keeps short and byte id types") {
    import org.apache.spark.sql.types.{ByteType, ShortType}
    val inputs = Seq(
      ShortType -> ((0 until 6).map(_.toShort).toDF("id"),
        Seq((0, 1), (2, 3)).map(p => (p._1.toShort, p._2.toShort)).toDF("src", "dst")),
      ByteType -> ((0 until 6).map(_.toByte).toDF("id"),
        Seq((0, 1), (2, 3)).map(p => (p._1.toByte, p._2.toByte)).toDF("src", "dst")))
    inputs.foreach { case (t, (n, e)) =>
      val local = Dedup.connectedComponents(n, e)
      val dist = Dedup.connectedComponents(n, e, maxLocalNodes = 0)
      assert(local.schema.map(_.dataType) === Seq(t, t))
      assert(dist.schema.map(_.dataType) === Seq(t, t))
      val l = local.orderBy("id").collect().toSeq
      assert(l === dist.orderBy("id").collect().toSeq)
      assert(l.map(r => (r.get(0).toString.toInt, r.get(1).toString.toInt)) ===
        Seq(0 -> 0, 1 -> 0, 2 -> 2, 3 -> 2, 4 -> 4, 5 -> 5))
    }
  }
}
