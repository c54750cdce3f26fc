package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, StructField, StructType}

/** Graph operators over edge-list DataFrames.
  *
  * The reference engine has no graph surface; this extends the
  * training-data toolkit (link-graph quality signals à la PageRank-style
  * document weighting in web-corpus curation, and Markov analysis of the
  * event-transition graphs [[EventOps.transitions]] produces).
  *
  * 100 TB shape: power iteration keeps the rank vector as a node-keyed
  * DataFrame — never collected — and each iteration is one src-keyed join
  * (edges × ranks), one dst-keyed aggregation (bounded by |nodes|), and one
  * node-keyed anti-join for the dangling mass. Edges are the only
  * data-sized table and are touched once per iteration with the same join
  * key, so a pre-partitioned/bucketed edge table reuses its exchange across
  * all iterations. Iteration count is a constant (power iteration at
  * damping 0.85 converges geometrically), so the stage count is bounded.
  */
object Graph {

  /** PageRank's damping factor, shared by [[pagerank]] and its oracle SQL
    * [[pagerankSql]] so the two cannot drift.
    */
  private val Damping = 0.85

  /** Rank output grain: the iteration grain (see [[pagerank]]), and the
    * only grain [[pagerankSql]] emits.
    */
  private val RankScale = 12

  /** Weighted PageRank over an edge list by `iters` rounds of power
    * iteration with teleport probability 1−d, d = 0.85.
    *
    *   r₀(v)    = 1/N
    *   rᵢ₊₁(v) = (1−d)/N + d·( Σ_{u→v} rᵢ(u)·w(u,v)/out(u)  +  dmᵢ/N )
    *
    * where dmᵢ is the total rank mass sitting on dangling nodes (no
    * out-edges), redistributed uniformly — the standard stochastic-matrix
    * completion, so ranks sum to 1 every round.
    *
    * Determinism: per-edge contributions and the dangling terms are rounded
    * to 12 decimals and summed as DECIMAL(38,12) (exact, order-independent),
    * and each round's rank is re-rounded to 12 — every float the iteration
    * carries is reproducible bit-for-bit across engines and partitionings.
    *
    * Output: (node, rank) with rank rounded to `outScale` decimals.
    * `outScale` defaults to 12 (`RankScale`) — the ITERATION grain, where the re-round is
    * the identity: each round's rank lies exactly on the 1e-12 grid, so a
    * coarser final round can land exactly on a .5 boundary of that grid,
    * where Spark's decimal-string HALF_UP and a binary-double-rounding
    * engine legitimately disagree (the q117 lesson; ~1e-6 per node at the
    * old outScale=6). Callers who want a display grain should round AFTER
    * any cross-engine comparison.
    */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int = 10,
               outScale: Int = RankScale, maxLocalEdges: Int = 100000): DataFrame = {
    require(iters >= 1 && iters <= 100, "iters must be in [1, 100]")
    // Eagerly truncate the EDGE lineage too, not just the rank vector's:
    // outW/trans/nodes are consumed once per iteration (dangling anti-join +
    // contribution join), and each of those actions would otherwise
    // re-execute whatever produced the edges — for q110 a full user-keyed
    // window over the events table, ~2 re-derivations per round. Edge lists
    // reaching pagerank are aggregate-grain (src, dst, w); for a truly
    // data-sized edge table the caller should hand in a persisted/bucketed
    // one (see scaladoc), and this checkpoint is then the caller's single
    // materialization, not a per-round one.
    // integral weights ONLY (r14): the long cast would TRUNCATE fractional
    // weights — a source whose weights all truncate to 0 gets a 0 out-sum,
    // NULL transition probabilities, and its rank mass silently destroyed
    // every round (breaking the ranks-sum-to-1 invariant). Weights must
    // also be positive; scale fractional weights to integers upstream.
    require({
      import org.apache.spark.sql.types._
      Set[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(edges.schema(weightCol).dataType)
    }, s"pagerank needs a positive INTEGRAL weight column; got " +
      s"${edges.schema(weightCol).dataType.simpleString} — a fractional " +
      "weight would truncate (scale to integers upstream)")
    // ONE node type for both endpoints, the type Catalyst widens their
    // union to: the distributed node set is that union, and the local fold
    // (which keys maps by raw values) then sees one JVM type per node
    val nodeT = edges.select(col(srcCol)).union(edges.select(col(dstCol)))
      .schema.head.dataType
    val e = edges.select(col(srcCol).cast(nodeT).as("_src"),
      col(dstCol).cast(nodeT).as("_dst"),
      col(weightCol).cast("long").as("_w")).localCheckpoint()
    // Driver-local fold (LocalFold's contract) with the IDENTICAL
    // arithmetic chain — java.math.BigDecimal.valueOf(x).setScale(12,
    // HALF_UP) is bit-for-bit Catalyst's round()/cast-to-DECIMAL(38,12) on
    // doubles, decimal sums are exact and order-free, and every double op
    // is the same IEEE op in the same order (PagerankLocalSpec pins
    // distributed == local). Edge lists reaching this operator are
    // aggregate-grain by contract (scaladoc above). A non-positive weight
    // refuses the fold: a zero out-weight divides by zero, which only the
    // distributed path's semantics define.
    val local = LocalFold.rows(e, maxLocalEdges, _.getLong(2) > 0)
    if (local.isDefined)
      return pagerankLocal(edges.sparkSession, local.get, nodeT, iters, outScale)
    // nodes / outW / trans are loop INVARIANTS — checkpoint them once
    // (r16, guide §1.2): each is consumed every round (dangling anti-join,
    // contribution join, rank restore), and un-pinned they re-ran their
    // edge-table aggregations once per iteration — at scale that is
    // `iters` extra passes over an edge-sized table for identical results.
    // trans is additionally pre-partitioned on _src (guide §2.4): the
    // contribution join shuffles only the round's rank vector against it.
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node")))
      .distinct().localCheckpoint()
    val nrow = nodes.agg(count(lit(1)).as("_n")).localCheckpoint()
    // transition probability per edge: integer out-weight sum (exact), one
    // double division — the row count stays |edges|
    val outW = e.groupBy(col("_src")).agg(sum(col("_w")).as("_ow"))
      .localCheckpoint()
    val trans = e.join(outW, "_src")
      .select(col("_src"), col("_dst"),
        (col("_w").cast("double") / col("_ow").cast("double")).as("_p"))
      .repartition(col("_src"))
      .localCheckpoint()
    val dec12 = "decimal(38,12)"
    var ranks = nodes.crossJoin(broadcast(nrow))
      .select(col("node"), round(lit(1.0) / col("_n"), 12).as("rank"))
    for (_ <- 1 to iters) {
      // Each round references the previous rank vector TWICE (dangling mass
      // + contributions), so an un-truncated lineage doubles per iteration —
      // 2^iters plan copies stall Catalyst long before execution. The rank
      // vector is node-keyed (never data-sized), so a localCheckpoint per
      // round — the same per-round truncation Dedup.clusterNearDups uses —
      // keeps the plan constant-size. LAZY (r16): the round's first
      // consumer (the dangling-mass aggregate) materializes every partition
      // anyway, so the separate eager materialization job per round was
      // pure overhead.
      ranks = ranks.localCheckpoint(eager = false)
      // rank mass on dangling nodes (no out-edges), one bounded aggregate
      val dm = ranks.join(outW, ranks("node") === outW("_src"), "left_anti")
        .agg(coalesce(sum(round(col("rank"), 12).cast(dec12)),
          lit(0).cast(dec12)).cast("double").as("_dm"))
      val contribs = trans.join(ranks, trans("_src") === ranks("node"))
        .groupBy(col("_dst"))
        .agg(sum(round(col("rank") * col("_p"), 12).cast(dec12))
          .cast("double").as("_c"))
      ranks = nodes
        .join(contribs, nodes("node") === contribs("_dst"), "left")
        .crossJoin(broadcast(nrow))
        .crossJoin(broadcast(dm))
        .select(col("node"),
          round(lit(1.0 - Damping) / col("_n") +
            lit(Damping) * (coalesce(col("_c"), lit(0.0)) +
              col("_dm") / col("_n")), 12).as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), outScale).as("rank"))
  }

  /** Driver-local replica of the distributed iteration — called only under
    * [[pagerank]]'s size gate. Bit-exactness contract, term by term against
    * the DataFrame chain it replaces:
    *  - `round(x, 12)` on a double = java.math.BigDecimal.valueOf(x)
    *    .setScale(12, HALF_UP).doubleValue (Catalyst RoundBase evaluates
    *    BigDecimal(double) — Scala's decimal(d), i.e. valueOf — then
    *    setScale(scale, HALF_UP).toDouble); NaN/Infinity pass through
    *    unchanged, replicated by the guard;
    *  - `cast(double AS DECIMAL(38,12))` = the same valueOf(x).setScale(12,
    *    HALF_UP) (Cast goes Decimal(BigDecimal(d)) → changePrecision, which
    *    HALF_UP-rounds to scale 12; precision 38 never binds for rank mass);
    *  - decimal sums are exact, so driver fold order is irrelevant;
    *  - `cast(DECIMAL AS DOUBLE)` = BigDecimal.doubleValue;
    *  - long→double promotions (`/ col("_n")`, `_w / _ow`) are the same
    *    IEEE divisions on the same operands.
    */
  private def pagerankLocal(spark: SparkSession, edgeRows: Array[Row],
                            nodeT: DataType, iters: Int,
                            outScale: Int): DataFrame = {
    def rnd(x: Double, s: Int): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    def dec(x: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(x)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    val edges = edgeRows.map(r => (r.get(0), r.get(1), r.getLong(2)))
    // node order: only the OUTPUT frame's row order could differ from the
    // distributed path's (callers sort; q110 orders by node) — values are
    // per-node and order-free
    val nodes: Seq[Any] = (edges.map(_._1) ++ edges.map(_._2)).distinct.toSeq
    val n = nodes.size
    val outW: Map[Any, Long] =
      edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    val trans: Array[(Any, Any, Double)] =
      edges.map { case (s, d, w) => (s, d, w.toDouble / outW(s).toDouble) }
    val dangling: Seq[Any] = nodes.filterNot(outW.contains)
    var rank: Map[Any, Double] =
      nodes.map(v => v -> rnd(1.0 / n.toDouble, 12)).toMap
    for (_ <- 1 to iters) {
      val dm =
        if (dangling.isEmpty) 0.0
        else dangling.map(v => dec(rnd(rank(v), 12))).reduce(_.add(_)).doubleValue()
      val contribs: Map[Any, Double] = trans.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, p) => dec(rnd(rank(s) * p, 12)) }
          .reduce(_.add(_)).doubleValue()
      }
      rank = nodes.map { v =>
        v -> rnd((1.0 - Damping) / n.toDouble +
          Damping * (contribs.getOrElse(v, 0.0) + dm / n.toDouble), 12)
      }.toMap
    }
    LocalFold.frame(spark, nodes.map(v => Row(v, rnd(rank(v), outScale))),
      StructType(Seq(StructField("node", nodeT), StructField("rank", DoubleType))),
      Seq(nodeT, DoubleType))
  }

  /** Unrolled-CTE DuckDB SQL mirroring [[pagerank]] bit-for-bit, generated
    * from the same Scala doubles (Double.toString round-trips exactly — in
    * particular 1.0−0.85 prints as 0.15000000000000002, NOT 0.15, and the
    * literal must carry those bits). `edgesSql` must yield
    * (src, dst, w BIGINT) columns with exactly those names.
    */
  def pagerankSql(edgesSql: String, iters: Int): String = {
    val d = Damping.toString
    val tel = (1.0 - Damping).toString
    // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and each
    // iteration references the previous one twice (dangling + contribs) —
    // un-materialized, the planner sees 2^iters copies of the whole chain
    // (the SQL analogue of the lineage blowup pagerank's localCheckpoint
    // prevents on the Spark side).
    val iterCtes = (0 until iters).map { i =>
      s""" d$i AS MATERIALIZED (SELECT coalesce(sum(CAST(round(r, 12) AS DECIMAL(38,12))), 0)::DOUBLE AS dm
         |   FROM r$i LEFT JOIN ow ON node = src WHERE src IS NULL),
         | c$i AS MATERIALIZED (SELECT dst AS node, sum(CAST(round(r * p, 12) AS DECIMAL(38,12)))::DOUBLE AS c
         |   FROM r$i JOIN tr ON node = src GROUP BY 1),
         | r${i + 1} AS MATERIALIZED (SELECT nodes.node,
         |     round($tel / n + $d * (coalesce(c, 0.0) + dm / n), 12) AS r
         |   FROM nodes CROSS JOIN nn CROSS JOIN d$i LEFT JOIN c$i USING (node))""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED ($edgesSql),
       | nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
       | nn AS MATERIALIZED (SELECT count(*)::BIGINT AS n FROM nodes),
       | ow AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS ow FROM e GROUP BY 1),
       | tr AS MATERIALIZED (SELECT src, dst, w::DOUBLE / ow::DOUBLE AS p FROM e JOIN ow USING (src)),
       | r0 AS MATERIALIZED (SELECT node, round(1.0 / n, 12) AS r FROM nodes CROSS JOIN nn),
       |$iterCtes
       |SELECT node, round(r, $RankScale) AS rank FROM r$iters ORDER BY node""".stripMargin
  }
}
