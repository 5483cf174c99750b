package graft.ops

import graft.{Q, QueryModule}
import graft.graph.Cc
import graft.Det._
import org.apache.spark.sql.functions._

/** Round-10 wave 55: graph analytics over the materialized co-purchase
  * edge base (GraphBase.edges — build-once/query-many; every op here is a
  * column-pruned probe of the two-int64 edge table, never a basket-join
  * rebuild).
  *
  * The co-purchase graph (support >= 2) is SPARSE by construction —
  * 3.6k edges / 5.9k vertices at sf0.1 — so whole-graph statistics are
  * metadata-cheap; the shapes below are the ones that stay linear at any
  * scale (degree/edge aggregates, one wedge join bounded by the oriented
  * out-degrees, label propagation with pointer jumping).
  */
object Wave55Ops extends QueryModule {

  def queries: Seq[Q] = Seq(
    Q(
      "graph_degree_stats",
      // Degree histogram: deg -> vertex count + cumulative fraction.
      // One explode + two aggregates; at any scale this is a groupBy on
      // vertex id then on degree — the canonical two-shuffle histogram.
      (s, dir) => {
        val e = GraphBase.edges(s, dir)
        val deg = e.select(col("u").as("x"))
          .unionAll(e.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("deg"))
        val hist = deg.groupBy("deg")
          .agg(count(lit(1)).as("n_vertices"))
        val total = hist.agg(sum("n_vertices").as("n_total"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy("deg")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, 0)
        hist.crossJoin(broadcast(total))
          .select(col("deg"), col("n_vertices"),
            dround(sum(col("n_vertices")).over(w).cast("double") /
              col("n_total"), 6).as("cum_frac"))
          .orderBy("deg")
      },
      Some(
        GraphBase.edgesSql +
          "deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM " +
          "(SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x), " +
          "h AS (SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices " +
          "FROM deg GROUP BY deg) " +
          "SELECT deg, n_vertices, " +
          droundSql("CAST(sum(n_vertices) OVER (ORDER BY deg ROWS " +
            "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / " +
            "(SELECT sum(n_vertices) FROM h)", 6) + " AS cum_frac " +
          "FROM h ORDER BY deg")
    ),
    Q(
      "graph_clustering_coeff",
      // Local clustering coefficient, aggregated per degree bucket:
      // cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)). Triangles come from ONE
      // oriented wedge join (each triangle a<b<c found exactly once,
      // credited to all three corners); within a degree bucket every
      // vertex shares the denominator, so the bucket mean is
      // 2·Σtri / (n·deg·(deg−1)) — exact integer sums with a single
      // rounded division, bit-stable across engines.
      (s, dir) => {
        val e = GraphBase.edges(s, dir)
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.v") === col("e2.u"))
          .join(e.as("e3"),
            col("e1.u") === col("e3.u") && col("e2.v") === col("e3.v"))
          .select(col("e1.u").as("a"), col("e1.v").as("b"),
            col("e2.v").as("c"))
        val triPer = tri
          .select(explode(array(col("a"), col("b"), col("c"))).as("x"))
          .groupBy("x").agg(count(lit(1)).as("tri"))
        val deg = e.select(col("u").as("x"))
          .unionAll(e.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("deg"))
        deg.filter(col("deg") >= 2)
          .join(triPer, Seq("x"), "left")
          .select(col("deg"), coalesce(col("tri"), lit(0L)).as("tri"))
          .groupBy("deg")
          .agg(count(lit(1)).as("n_vertices"), sum("tri").as("sum_tri"))
          .select(col("deg"), col("n_vertices"), col("sum_tri"),
            dround(lit(2.0) * col("sum_tri") /
              (col("n_vertices") * col("deg") * (col("deg") - 1)), 6)
              .as("avg_cc"))
          .orderBy("deg")
      },
      Some(
        GraphBase.edgesSql +
          "tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM e e1 " +
          "JOIN e e2 ON e1.v = e2.u " +
          "JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v), " +
          "tp AS (SELECT x, CAST(count(*) AS BIGINT) AS tri FROM " +
          "(SELECT a AS x FROM tri UNION ALL SELECT b FROM tri " +
          "UNION ALL SELECT c FROM tri) GROUP BY x), " +
          "deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM " +
          "(SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x), " +
          "p AS (SELECT deg.deg, COALESCE(tp.tri, 0) AS tri FROM deg " +
          "LEFT JOIN tp ON deg.x = tp.x WHERE deg.deg >= 2) " +
          "SELECT deg, CAST(count(*) AS BIGINT) AS n_vertices, " +
          "CAST(sum(tri) AS BIGINT) AS sum_tri, " +
          droundSql("2.0 * sum(tri) / " +
            "(count(*) * deg * (deg - 1))", 6) + " AS avg_cc " +
          "FROM p GROUP BY deg ORDER BY deg")
    ),
    Q(
      "graph_assortativity",
      // Degree assortativity: Pearson correlation of endpoint degrees
      // over the SYMMETRIZED edge list (each edge in both directions,
      // the standard Newman formulation). Degrees and all moment sums
      // are exact int64; the correlation is one double expression over
      // six exact integers — nothing order-dependent anywhere.
      (s, dir) => {
        val e = GraphBase.edges(s, dir)
        val deg = e.select(col("u").as("x"))
          .unionAll(e.select(col("v").as("x")))
          .groupBy("x").agg(count(lit(1)).as("deg"))
        val sym = e.select(col("u").as("s"), col("v").as("t"))
          .unionAll(e.select(col("v").as("s"), col("u").as("t")))
        val pairs = sym
          .join(deg.select(col("x").as("s"), col("deg").as("ds")), "s")
          .join(deg.select(col("x").as("t"), col("deg").as("dt")), "t")
        pairs.agg(
            count(lit(1)).as("m2"),
            sum("ds").as("sx"), sum("dt").as("sy"),
            sum(col("ds") * col("ds")).as("sxx"),
            sum(col("dt") * col("dt")).as("syy"),
            sum(col("ds") * col("dt")).as("sxy"))
          .select((col("m2") / 2).cast("long").as("n_edges"),
            dround((col("m2") * col("sxy") - col("sx") * col("sy")) /
              (sqrt(col("m2") * col("sxx") - col("sx") * col("sx")) *
                sqrt(col("m2") * col("syy") - col("sy") * col("sy"))), 6)
              .as("assortativity"))
      },
      Some(
        GraphBase.edgesSql +
          "deg AS (SELECT x, CAST(count(*) AS BIGINT) AS deg FROM " +
          "(SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x), " +
          "sym AS (SELECT u AS s, v AS t FROM e " +
          "UNION ALL SELECT v, u FROM e), " +
          "p AS (SELECT ds.deg AS ds, dt.deg AS dt FROM sym " +
          "JOIN deg ds ON sym.s = ds.x JOIN deg dt ON sym.t = dt.x), " +
          "a AS (SELECT CAST(count(*) AS BIGINT) AS m2, " +
          "CAST(sum(ds) AS BIGINT) AS sx, CAST(sum(dt) AS BIGINT) AS sy, " +
          "CAST(sum(ds * ds) AS BIGINT) AS sxx, " +
          "CAST(sum(dt * dt) AS BIGINT) AS syy, " +
          "CAST(sum(ds * dt) AS BIGINT) AS sxy FROM p) " +
          "SELECT CAST(m2 / 2 AS BIGINT) AS n_edges, " +
          droundSql("(m2 * sxy - sx * sy) / " +
            "(sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)) * " +
            "sqrt(CAST(m2 * syy - sy * sy AS DOUBLE)))", 6) +
          " AS assortativity FROM a")
    ),
    Q(
      "graph_connected_components",
      // Connected components of the co-purchase graph through the one
      // CC kernel (graft.graph.Cc: min-label propagation with pointer
      // jumping, O(log diameter) rounds, exact convergence certificate).
      // Nodes are the distinct edge endpoints. Output: the 20 largest
      // components. Oracle: DuckDB recursive reachability, min over the
      // reach set (quadratic in component size — fine at oracle scale,
      // which is exactly why the distributed form exists).
      (s, dir) => {
        val e = GraphBase.edges(s, dir)
        val verts = e.select(col("u").as("id"))
          .unionAll(e.select(col("v").as("id"))).distinct()
        Cc.minLabel(s, verts, e.select(col("u").as("a"), col("v").as("b")),
            "graph_connected_components")
          .groupBy("comp")
          .agg(count(lit(1)).as("n_vertices"))
          .orderBy(col("n_vertices").desc, col("comp"))
          .limit(20)
      },
      Some(
        "WITH RECURSIVE " +
          GraphBase.edgesSql.stripPrefix("WITH ") +
          "sym AS (SELECT u AS a, v AS b FROM e " +
          "UNION ALL SELECT v, u FROM e), " +
          "verts AS (SELECT DISTINCT a AS x FROM sym), " +
          "reach(src, node) AS (" +
          "SELECT x, x FROM verts " +
          "UNION " +
          "SELECT r.src, sym.b FROM reach r JOIN sym ON r.node = sym.a), " +
          "lab AS (SELECT src AS x, min(node) AS comp FROM reach " +
          "GROUP BY src) " +
          "SELECT comp, CAST(count(*) AS BIGINT) AS n_vertices FROM lab " +
          "GROUP BY comp ORDER BY n_vertices DESC, comp LIMIT 20")
    )
  )
}
