package graft

import graft.ops.Graph
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r17 size-gated driver-local pagerank fold to the distributed
  * iteration BIT-FOR-BIT: same ranks (not approximately — the decimal
  * rounding chain is the operator's cross-engine determinism contract, and
  * the oracle hashes exact doubles), same schema, and the gate refusing the
  * local path above the edge cap / on null keys.
  */
class PagerankLocalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Deterministic non-trivial weighted digraph: ~60 nodes, ~300 edges,
    * dangling sinks, duplicate (src,dst) edges, skewed integer weights —
    * every branch of the fold (dangling mass, contribution grouping,
    * duplicate-edge accumulation, no-contribution nodes) carries mass.
    */
  private def graph = {
    val rows = (0 until 300).map { i =>
      val s = (i * 7919) % 60          // spread sources
      val d = (i * i + 3 * i + 1) % 67 // some dsts (60..66) never emit: dangling
      val w = 1L + (i % 13)
      (s.toString, d.toString, w)
    }
    rows.toDF("src", "dst", "w")
  }

  test("driver-local fold == distributed iteration, bit for bit") {
    val local = Graph.pagerank(graph, "src", "dst", "w", iters = 7)
    val dist = Graph.pagerank(graph, "src", "dst", "w", iters = 7,
      maxLocalEdges = 0) // force the distributed path
    assert(local.schema("rank").dataType === dist.schema("rank").dataType)
    assert(local.schema("node").dataType === dist.schema("node").dataType)
    val l = local.orderBy("node").collect().map(r => (r.get(0), r.getDouble(1)))
    val d = dist.orderBy("node").collect().map(r => (r.get(0), r.getDouble(1)))
    assert(l.length === d.length && l.nonEmpty)
    // exact double equality — the whole point of the decimal chain
    l.zip(d).foreach { case ((ln, lr), (dn, dr)) =>
      assert(ln === dn)
      assert(java.lang.Double.doubleToLongBits(lr) ===
        java.lang.Double.doubleToLongBits(dr), s"node $ln: $lr != $dr")
    }
  }

  test("coarser outScale stays bit-identical across paths too") {
    val local = Graph.pagerank(graph, "src", "dst", "w", iters = 5, outScale = 6)
    val dist = Graph.pagerank(graph, "src", "dst", "w", iters = 5, outScale = 6,
      maxLocalEdges = 0)
    val l = local.orderBy("node").collect().map(_.getDouble(1))
    val d = dist.orderBy("node").collect().map(_.getDouble(1))
    assert(l.map(java.lang.Double.doubleToLongBits).toSeq ===
      d.map(java.lang.Double.doubleToLongBits).toSeq)
  }

  test("gate: an edge list above maxLocalEdges runs distributed (same values)") {
    // cap BELOW the edge count — the fold must refuse and fall through
    val capped = Graph.pagerank(graph, "src", "dst", "w", iters = 3,
      maxLocalEdges = 10)
    val forced = Graph.pagerank(graph, "src", "dst", "w", iters = 3,
      maxLocalEdges = 0)
    assert(capped.orderBy("node").collect().toSeq ===
      forced.orderBy("node").collect().toSeq)
  }

  test("gate: null src/dst falls back to the distributed path's semantics") {
    val withNull = graph.unionByName(
      Seq((null.asInstanceOf[String], "1", 5L)).toDF("src", "dst", "w"))
    val viaGate = Graph.pagerank(withNull, "src", "dst", "w", iters = 4)
    val dist = Graph.pagerank(withNull, "src", "dst", "w", iters = 4,
      maxLocalEdges = 0)
    assert(viaGate.orderBy("node").collect().toSeq ===
      dist.orderBy("node").collect().toSeq)
  }

  /** One path's outcome: (node, rank bits) in node order, or the root cause
    * of the exception it threw. `cap` None = the default gate. */
  private def outcome(edges: org.apache.spark.sql.DataFrame,
                      cap: Option[Int]): Either[String, Seq[(Any, Option[Long])]] =
    try {
      val r = cap.fold(Graph.pagerank(edges, "src", "dst", "w", iters = 4))(c =>
        Graph.pagerank(edges, "src", "dst", "w", iters = 4, maxLocalEdges = c))
      Right(r.orderBy("node").collect().map(row => (row.get(0),
        Option(row.get(1)).map(v =>
          java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])))).toSeq)
    } catch {
      case t: Throwable =>
        var c = t
        while (c.getCause != null) c = c.getCause
        Left(s"${c.getClass.getName}: ${c.getMessage}")
    }

  test("mixed and contract-violating inputs: the gate and maxLocalEdges = 0 agree") {
    val inputs = Seq(
      "int src / long dst" ->
        Seq((1, 2L, 3L), (2, 3L, 1L), (3, 1L, 2L), (1, 3L, 5L), (4, 1L, 1L), (2, 5L, 2L))
          .toDF("src", "dst", "w"),
      "int src / string dst" ->
        Seq((1, "2", 3L), (2, "3", 1L), (3, "1", 2L), (1, "3", 5L), (4, "1", 1L))
          .toDF("src", "dst", "w"),
      "out-weight sums to 0" ->
        Seq(("a", "b", 2L), ("a", "c", -2L), ("b", "a", 1L), ("c", "b", 1L))
          .toDF("src", "dst", "w"),
      "all-zero out-weight" ->
        Seq(("a", "b", 0L), ("b", "a", 1L), ("b", "c", 2L)).toDF("src", "dst", "w"))
    val differ = inputs.flatMap { case (name, g) =>
      val (gated, forced) = (outcome(g, None), outcome(g, Some(0)))
      if (gated == forced) None else Some(s"$name: $gated != $forced")
    }
    assert(differ.isEmpty, differ.mkString("\n"))
    // integral endpoints of two widths widen to one node type, no crash
    val mixed = Graph.pagerank(inputs.head._2, "src", "dst", "w", iters = 4)
    assert(mixed.schema("node").dataType === org.apache.spark.sql.types.LongType)
    assert(outcome(inputs.head._2, None).isRight)
  }

  test("mass conservation survives the local fold (ranks sum to ~1)") {
    val r = Graph.pagerank(graph, "src", "dst", "w", iters = 10)
      .agg(sum("rank")).collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-9)
  }
}
