package graft.ops

import graft.{Par, T, Tmp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Build-once / query-many materialization of the derived edge tables
  * shared by the graph family:
  *
  *  - CO-PURCHASE (parts): parts adjacent when they appear in the SAME
  *    ORDER at least TWICE (u < v, support >= 2). The support threshold
  *    keeps the graph sparse and meaningful: random single co-occurrences
  *    — the bulk of all pairs — drop out, exactly the market-basket
  *    pruning rule. Probed by k-core, label propagation, link prediction.
  *  - CO-SUPPLIER (suppliers): suppliers adjacent when they share an
  *    order (u < v, distinct), over the l_orderkey <= 20000 subset that
  *    pins the graph size. Probed by triangle count.
  *
  * Pair generation is keyed per order (<= C(items,2) per basket), so each
  * build is linear in orders, never a free self-join.
  *
  * Materialization: the first caller per (JVM, sfDir, edge set) pays the
  * basket-pair join ONCE and commits the edge list as parquet; every later
  * graph op probes the materialized file (a column-pruned scan of two
  * int64 columns). The memo is [[Par.once]]: the build runs outside any
  * lock, so a build for one (dir, name) never blocks an unrelated build.
  * At 100 TB the same pattern is an edge table maintained as a real table
  * (build job commits, analytics probe): nobody recomputes the graph per
  * query.
  *
  * Constraints this relies on (fine for this harness, stated for cluster
  * readers): (1) edges land under the driver-local [[Tmp]] root, which
  * works because driver and executors share a filesystem in local mode —
  * on a real cluster route the same write through a shared scratch/table
  * location; (2) the memo key is the dir PATH and assumes the testdata
  * under it is immutable for the JVM's lifetime (true here: fixtures are
  * generated once per round) — regenerating data into a reused path within
  * one JVM would need a (dir, mtime) key instead.
  */
object GraphBase {

  private def materialized(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame =
    s.read.parquet(Par.once(("graph_edges", dir, name)) {
      val p = Tmp.dir(s"graph_edges_$name") + s"/$name"
      build.write.mode("overwrite").parquet(p)
      p
    })

  /** The co-purchase logical edge definition (the build job's plan). */
  def buildEdges(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("u"), col("b.pk").as("v"))
      .agg(count(lit(1)).as("wt"))
      .filter(col("wt") >= 2)
      .select("u", "v")
  }

  /** The materialized co-purchase edge table `(u BIGINT, v BIGINT)`, u < v. */
  def edges(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "copurchase")(buildEdges(s, dir))

  /** The co-supplier logical edge definition: suppliers sharing an order
    * (l_orderkey <= 20000 subset), u < v, distinct. */
  def buildCoSupplierEdges(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .filter(col("l_orderkey") <= 20000)
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
      .distinct()
    li.as("a").join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.sk") < col("b.sk"))
      .select(col("a.sk").as("u"), col("b.sk").as("v"))
      .distinct()
  }

  /** The materialized co-supplier edge table `(u BIGINT, v BIGINT)`, u < v. */
  def coSupplierEdges(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "cosupplier")(buildCoSupplierEdges(s, dir))

  /** The events user↔type bipartite interaction edges, ONE direction
    * (u:<user> -> t:<type>) with interaction count `w`; consumers
    * symmetrize on read (two column-pruned scans of the materialized
    * file beat re-aggregating the events table per query). Probed by
    * pagerank (weighted) and shortest_path (unweighted projection). */
  def buildEventEdges(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(
        concat(lit("u:"), col("user_id").cast("string")).as("src"),
        concat(lit("t:"), col("event_type")).as("dst"))
      .agg(count(lit(1)).as("w"))

  /** The materialized events bipartite edge table `(src, dst, w)`. */
  def eventEdges(s: SparkSession, dir: String): DataFrame =
    materialized(s, dir, "events_bipartite")(buildEventEdges(s, dir))

  /** Oracle CTE prefix defining `e(u, v)` — the DuckDB replay of the same
    * co-purchase edge semantics (the oracle has no materialization;
    * semantics match).
    */
  val edgesSql: String =
    "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk " +
      "FROM lineitem), " +
      "e AS (SELECT u, v FROM (SELECT a.pk AS u, b.pk AS v, " +
      "count(*) AS wt FROM li a JOIN li b ON a.ok = b.ok " +
      "AND a.pk < b.pk GROUP BY 1, 2) WHERE wt >= 2), "

  /** Oracle CTE prefix defining the co-supplier `e(u, v)`. */
  val coSupplierEdgesSql: String =
    "WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk " +
      "FROM lineitem WHERE l_orderkey <= 20000), " +
      "e AS (SELECT DISTINCT a.sk AS u, b.sk AS v FROM li a " +
      "JOIN li b ON a.ok = b.ok AND a.sk < b.sk), "
}
