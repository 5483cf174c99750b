package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input generation owned by the benchmark.
  *
  * Every table is a pure function of the row id and a generation key via
  * `xxhash64`, so the same key gives byte-for-byte the same rows at every
  * run. Two corpora:
  *  - [[tpch]]: the fixture tables the relational ops read (TPC-H-shaped
  *    `lineitem`/`orders`/... plus `events`, `documents`, `embeddings`), in
  *    the schemas and value domains of the engine's test fixtures.
  *    `scale` = 1.0 is sf0.1 (600k lineitems), 0.1 is sf0.01.
  *  - [[twin]]: the Zipf scale-rehearsal twin (shared Zipf vocabulary with
  *    planted near-copies, clustered embeddings with planted near-copies,
  *    co-purchase lineitems, bipartite events) at a multiplier `m` of
  *    5,000 documents / 2,000 vectors.
  *
  * Each table lands as ONE parquet file `<dir>/<table>.parquet`: the
  * streaming ops glob for that exact file name.
  */
object Gen {

  private def h(salt: Int, key: Long, args: String*): String =
    s"xxhash64(${(args :+ s"${key}L").mkString(", ")}, $salt)"

  def writeTable(s: SparkSession, df: DataFrame, dir: String,
      name: String): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
    Files.move(part.toPath, new File(s"$dir/$name.parquet").toPath,
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(new File(tmp))
  }

  /** Writes the fixture tables at `scale` × sf0.1 into `dir`. */
  def tpch(s: SparkSession, dir: String, scale: Double, key: Long): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    val nCust = n(15000); val nSupp = n(1000); val nPart = n(20000)
    val nOrd = n(150000); val nLine = n(600000); val nEv = n(100000)
    val nUsers = n(1500)
    val nDocs = math.max(500L, n(5000)); val nVec = math.max(500L, n(2000))
    Files.createDirectories(new File(dir).toPath)
    def put(name: String, df: DataFrame): Unit = writeTable(s, df, dir, name)

    put("region", s.range(5).selectExpr("CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), " +
        "CAST(id AS INT) + 1) AS r_name"))
    put("nation", s.range(25).selectExpr("CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', id) AS n_name", "CAST(id % 5 AS INT) AS n_regionkey"))
    put("customer", s.range(nCust).selectExpr("id AS c_custkey",
      "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      s"CAST(pmod(${h(1, key, "id")}, 25) AS INT) AS c_nationkey",
      s"CAST((pmod(${h(2, key, "id")}, 1099966) - 99985) / 100.0 " +
        "AS DOUBLE) AS c_acctbal",
      "element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD'," +
        s"'MACHINERY'), CAST(pmod(${h(3, key, "id")}, 5) AS INT) + 1) " +
        "AS c_mktsegment"))
    put("supplier", s.range(nSupp).selectExpr("id AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      s"CAST(pmod(${h(4, key, "id")}, 25) AS INT) AS s_nationkey",
      s"CAST((pmod(${h(5, key, "id")}, 1096406) - 97602) / 100.0 " +
        "AS DOUBLE) AS s_acctbal"))
    put("part", s.range(nPart).selectExpr("id AS p_partkey",
      "concat(element_at(array('small','large','red','blue','hot','cold'," +
        s"'old','new'), CAST(pmod(${h(6, key, "id")}, 8) AS INT) + 1), ' ', " +
        "element_at(array('ring','bolt','plate','gear','widget','nut'," +
        s"'pipe','valve'), CAST(pmod(${h(7, key, "id")}, 8) AS INT) + 1)) " +
        "AS p_name",
      s"concat('Brand#', pmod(${h(8, key, "id")}, 25) + 1) AS p_brand",
      "element_at(array('LARGE','ECONOMY','SMALL','STANDARD','MEDIUM'," +
        s"'PROMO'), CAST(pmod(${h(9, key, "id")}, 6) AS INT) + 1) AS p_type",
      s"CAST(pmod(${h(10, key, "id")}, 50) + 1 AS INT) AS p_size",
      "CAST(900.0 + (id % 1000) / 10.0 AS DOUBLE) AS p_retailprice"))
    // order dates span 1995-01-01 .. 2001-08-01 (2404 days)
    put("orders", s.range(nOrd).selectExpr("id AS o_orderkey",
      s"pmod(${h(11, key, "id")}, $nCust) AS o_custkey",
      s"element_at(array('O','F','P'), CAST(pmod(${h(12, key, "id")}, 3) " +
        "AS INT) + 1) AS o_orderstatus",
      s"CAST((pmod(${h(13, key, "id")}, 49899127) + 100191) / 100.0 " +
        "AS DOUBLE) AS o_totalprice",
      "CAST(timestamp_seconds(788918400L + 86400L * " +
        s"pmod(${h(14, key, "id")}, 2404)) AS TIMESTAMP_NTZ) AS o_orderdate",
      "element_at(array('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED'," +
        s"'5-LOW'), CAST(pmod(${h(15, key, "id")}, 5) AS INT) + 1) " +
        "AS o_orderpriority"))
    put("lineitem", s.range(nLine).selectExpr(
      s"pmod(${h(16, key, "id")}, $nOrd) AS l_orderkey",
      s"pmod(${h(17, key, "id")}, $nPart) AS l_partkey",
      s"pmod(${h(18, key, "id")}, $nSupp) AS l_suppkey",
      s"CAST(pmod(${h(19, key, "id")}, 7) + 1 AS INT) AS l_linenumber",
      s"CAST(pmod(${h(20, key, "id")}, 50) + 1 AS DOUBLE) AS l_quantity",
      s"pmod(${h(21, key, "id")}, 1000) AS pr",
      s"CAST(pmod(${h(22, key, "id")}, 11) / 100.0 AS DOUBLE) AS l_discount",
      s"CAST(pmod(${h(23, key, "id")}, 9) / 100.0 AS DOUBLE) AS l_tax",
      s"element_at(array('A','N','R'), CAST(pmod(${h(24, key, "id")}, 3) " +
        "AS INT) + 1) AS l_returnflag",
      s"element_at(array('O','F'), CAST(pmod(${h(25, key, "id")}, 2) " +
        "AS INT) + 1) AS l_linestatus",
      "CAST(timestamp_seconds(789004800L + 86400L * " +
        s"pmod(${h(26, key, "id")}, 2498)) AS TIMESTAMP_NTZ) AS l_shipdate")
      .selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity",
        "round(l_quantity * CAST(900.0 + pr / 10.0 AS DOUBLE) + 0.68D, 2) " +
          "AS l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"))
    // events: ts increasing in event_id over 2024-01-01 .. 2024-01-30
    val span = 2592000000000L / nEv
    put("events", s.range(nEv).selectExpr("id AS event_id",
      "CAST(timestamp_micros(1704067200000000L + id * " +
        s"${span}L + pmod(${h(27, key, "id")}, ${span}L)) AS TIMESTAMP_NTZ) " +
        "AS ts",
      s"pmod(${h(28, key, "id")}, $nUsers) AS user_id",
      "element_at(array('click','view','purchase','signup','error'), " +
        s"CAST(pmod(${h(29, key, "id")}, 5) AS INT) + 1) AS event_type",
      s"CAST(pmod(${h(30, key, "id")}, 56022) / 100.0 AS DOUBLE) AS value",
      s"concat('{\"k\": ', pmod(${h(31, key, "id")}, 100), '}') AS props"))
    // documents: bags of 10..100 tokens over a 30-word vocabulary (dense
    // near-duplicate structure), rare 'dup' tokens, and a few exact
    // copies of the previous document
    val vocab = Seq("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "row", "the", "agg", "key", "query", "a", "scan", "batch")
      .map(w => s"'$w'").mkString(",")
    put("documents", s.range(nDocs).selectExpr("id AS doc_id",
      "CASE WHEN id % 625 = 624 THEN id - 1 ELSE id END AS base")
      .selectExpr("doc_id", "base",
        s"CAST(pmod(${h(32, key, "base")}, 91) + 10 AS INT) AS len")
      .selectExpr("doc_id",
        "array_join(transform(sequence(1, len), i -> " +
          s"CASE WHEN pmod(${h(33, key, "base", "i")}, 400) = 0 THEN 'dup' " +
          s"ELSE element_at(array($vocab), CAST(pmod(" +
          s"${h(34, key, "base", "i")}, 30) AS INT) + 1) END), ' ') AS text",
        "element_at(array('en','en','en','zh','fr','es','de'), " +
          s"CAST(pmod(${h(35, key, "doc_id")}, 7) AS INT) + 1) AS lang",
        "concat('src', doc_id % 20) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars"))
    // unit-norm 64-dim float embeddings, 10 labels, clustered by label
    put("embeddings", s.range(nVec).selectExpr("id AS vec_id",
      s"CAST(pmod(${h(36, key, "id")}, 10) AS INT) AS label")
      .selectExpr("vec_id", "label",
        "transform(sequence(0, 63), j -> CAST(" +
          s"(pmod(${h(37, key, "CAST(label AS BIGINT)", "j")}, 2001) - 1000) " +
          s"/ 1000.0 + (pmod(${h(38, key, "vec_id", "j")}, 2001) - 1000) " +
          "/ 1500.0 AS DOUBLE)) AS raw")
      .selectExpr("vec_id",
        "transform(raw, x -> CAST(x / sqrt(aggregate(raw, 0D, " +
          "(acc, y) -> acc + y * y)) AS FLOAT)) AS embedding", "label"))
  }

  /** Writes the Zipf twin corpus at multiplier `m` into `dir`. */
  def twin(s: SparkSession, dir: String, m: Double, key: Long): Unit = {
    Files.createDirectories(new File(dir).toPath)
    def put(name: String, df: DataFrame): Unit = writeTable(s, df, dir, name)
    val nDocs = math.round(5000 * m); val nVec = math.round(2000 * m)
    val nLine = math.round(600000 * m); val nEv = math.round(100000 * m)
    // documents: 80..219 tokens whose rank follows the continuous Zipf(1)
    // inverse CDF over a 30k vocabulary; every 10th document is a ~0.95
    // Jaccard near-copy of the document 9 ids earlier
    put("documents", s.range(nDocs).selectExpr("id AS doc_id",
      "CASE WHEN id % 10 = 9 THEN id - 9 ELSE id END AS base",
      "id % 10 = 9 AS isdup")
      .selectExpr("doc_id", "base", "isdup",
        s"80 + pmod(${h(3, key, "base")}, 140) AS len")
      .selectExpr("doc_id",
        "array_join(transform(sequence(1, len), i -> " +
          "CASE WHEN isdup AND i % 37 = 0 " +
          "THEN concat('u', doc_id, '_', i) " +
          "ELSE concat('w', CAST(exp(" +
          s"(pmod(${h(5, key, "base * 1000003 + i")}, 1000000) " +
          "/ 1000000.0) * ln(30000.0)) AS BIGINT)) END), ' ') AS text",
        "element_at(array('en','en','en','de','fr','es','zh'), " +
          s"CAST(pmod(${h(11, key, "doc_id")}, 7) + 1 AS INT)) AS lang",
        s"concat('src', pmod(${h(13, key, "doc_id")}, 16)) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars"))
    // embeddings: 32 cluster centres plus per-id noise; every 20th vector
    // a near-copy of the vector 19 ids earlier
    put("embeddings", s.range(nVec).selectExpr("id AS vec_id",
      "CASE WHEN id % 20 = 19 THEN id - 19 ELSE id END AS base",
      "id % 20 = 19 AS isdup")
      .selectExpr("vec_id", "base", "isdup",
        s"CAST(pmod(${h(7, key, "base")}, 32) AS INT) AS label")
      .selectExpr("vec_id",
        "transform(sequence(0, 63), j -> CAST(" +
          s"(pmod(${h(19, key, "CAST(label AS BIGINT) * 64 + j")}, 2001) " +
          "- 1000) / 1000.0 + " +
          s"(pmod(${h(23, key, "base * 64 + j")}, 201) - 100) / 2000.0 + " +
          "CASE WHEN isdup THEN " +
          s"(pmod(${h(29, key, "vec_id * 64 + j")}, 21) - 10) / 2000.0 " +
          "ELSE 0.0 END AS FLOAT)) AS embedding", "label"))
    // co-purchase lineitems: 4 parts per order from the order's 256-part
    // neighbourhood, 480 orders per neighbourhood
    put("lineitem", s.range(nLine).selectExpr(
      "CAST(id / 4 AS BIGINT) + 1 AS l_orderkey",
      "CAST((CAST(id / 4 AS BIGINT) / 480) AS BIGINT) AS grp",
      "id % 4 AS j")
      .selectExpr("l_orderkey",
        s"grp * 256 + pmod(${h(17, key, "l_orderkey", "j")}, 256) + 1 " +
          "AS l_partkey",
        s"pmod(${h(31, key, "l_orderkey", "j")}, 1000) + 1 AS l_suppkey"))
    val users = math.max(1L, math.round(1500 * m))
    put("events", s.range(nEv).selectExpr("id AS event_id",
      "CAST(timestamp_micros((1704067200L + id % 2592000L) * 1000000L) " +
        "AS TIMESTAMP_NTZ) AS ts",
      s"pmod(${h(41, key, "id")}, $users) AS user_id",
      s"concat('type', pmod(${h(43, key, "id")}, 20)) AS event_type",
      s"CAST(pmod(${h(47, key, "id")}, 10000) / 100.0 AS DOUBLE) AS value",
      s"concat('{\"k\":', pmod(${h(53, key, "id")}, 100), '}') AS props"))
  }
}
