package graft.examples

import graft.Session
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scale-rehearsal fixture generator (VERDICT-r11 #6).
  *
  * The graded testdata tops out at sf0.1 (5,000 documents / 2,000
  * embeddings / 600k lineitems), so the dedup/ANN family's claimed
  * O(batch) / O(n·√n) behavior had never been MEASURED against a larger
  * input. This main writes a deterministic synthetic twin-corpus at a
  * given multiplier so the same ops can be timed at 1×/3×/10× and the
  * scaling exponent recorded in BASELINE.md.
  *
  * Design — the twin is built for exponent measurement, which means the
  * per-item work must be scale-invariant by CONSTRUCTION (unlike the
  * graded corpus, which is deliberately LSH-adversarial — ~25% of all
  * pairs above 0.8 Jaccard — and so measures worst-case density, not
  * algorithmic growth):
  *  - `documents` (5,000·m): 80–220 tokens from a shared 30k-word
  *    vocabulary (chance Jaccard ≈ 0), plus every 10th doc a ~0.95-
  *    Jaccard near-copy of the doc 9 ids earlier — near-dup pairs grow
  *    LINEARLY with n.
  *  - `embeddings` (2,000·m): 64-dim, 32 deterministic cluster centers
  *    + per-id noise; every 20th vector a near-copy (cos ≈ 1) of the
  *    vector 19 ids earlier.
  *  - `lineitem` (600k·m): 4 parts per order, orders grouped into
  *    480-order part-neighborhoods of 256 parts each — the co-purchase
  *    graph gets ~constant edges per group and the group count scales
  *    with orders, so |E| grows linearly and component diameter stays
  *    bounded (the realistic shape for co-purchase graphs).
  *
  * Everything is a pure function of the row id via xxhash64 — no RNG
  * state, identical output at every run. Usage:
  * runMain graft.examples.ScaleFixture OUTDIR MULTIPLIER
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val m = args(1).toInt
    val s = Session.local(Session.cpus)
    val zipf = args.length > 2 && args(2) == "zipf"
    writeAll(s, out, m, zipf)
    println(s"SCALEFIXTURE done: $out (multiplier $m" +
      (if (zipf) ", zipf vocabulary" else "") + ")")
    s.stop()
  }

  def writeAll(s: SparkSession, out: String, m: Int,
      zipf: Boolean = false): Unit = {
    (if (zipf) documentsZipf(s, 5000L * m) else documents(s, 5000L * m))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    embeddings(s, 2000L * m)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    lineitem(s, 600000L * m)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    events(s, 100000L * m)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
  }

  /** User-interaction events: the user↔type bipartite graph (pagerank /
    * shortest_path) gets 1,500·m users over 20 types — vertices and
    * distinct (user, type) edges grow linearly with scale. */
  def events(s: SparkSession, n: Long) = {
    val users = 1500L * (n / 100000L).max(1L)
    s.range(n).selectExpr(
      "id AS event_id",
      s"timestamp_micros((1704067200 + id % 2592000) * 1000000) AS ts",
      s"pmod(xxhash64(id, 41), $users) AS user_id",
      "concat('type', pmod(xxhash64(id, 43), 20)) AS event_type",
      "pmod(xxhash64(id, 47), 10000) / 100.0 AS value",
      "concat('{\"k\":', pmod(xxhash64(id, 53), 100), '}') AS props")
  }

  /** Shared-vocabulary docs with linear-density planted near-dups. */
  def documents(s: SparkSession, n: Long) = {
    s.range(n).selectExpr(
      "id AS doc_id",
      // every 10th doc re-generates doc (id-9)'s token stream
      "CASE WHEN id % 10 = 9 THEN id - 9 ELSE id END AS base",
      "id % 10 = 9 AS isdup")
      .selectExpr(
        "doc_id",
        // 80..219 tokens, length a function of the BASE id so a copy
        // shares its source's length
        "80 + pmod(xxhash64(base, 3), 140) AS len",
        "base", "isdup")
      .selectExpr(
        "doc_id",
        // token i: vocab word w<h> from a 30k vocabulary; a near-copy
        // substitutes a doc-unique token at every 37th position
        // (Jaccard vs the source ≈ (1-1/37)/(1+1/37) ≈ 0.947 > 0.8)
        "array_join(transform(sequence(1, len), i -> " +
          "CASE WHEN isdup AND i % 37 = 0 " +
          "THEN concat('u', doc_id, '_', i) " +
          "ELSE concat('w', pmod(xxhash64(base * 1000003 + i, 5), " +
          "30000)) END), ' ') AS text",
        "element_at(array('en','en','en','de','fr','es','zh'), " +
          "CAST(pmod(xxhash64(doc_id, 11), 7) + 1 AS INT)) AS lang",
        "concat('src', pmod(xxhash64(doc_id, 13), 16)) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
  }

  /** [[documents]] with a ZIPFIAN vocabulary — the twin where prefix-
    * collision density actually bites (VERDICT-r13 "what's missing"
    * #3): the uniform 30k-word twin gives every token df ≈ n·len/30k,
    * so no token ordering can beat another there (which is exactly why
    * the round-13 lexicographic-vs-df question could not be answered
    * on it). Here token rank is drawn by the continuous Zipf(s=1)
    * inverse CDF — rank = exp(u·ln 30000), u uniform from the id hash
    * — so P(rank <= r) = ln r / ln 30000: the head tokens ('w1'..)
    * appear in most docs (stop-word analogues) while the tail stays
    * rare. A lexicographic prefix admits head-token collisions; the
    * df-ascending prefix pushes head tokens out of the prefix. Same
    * planted near-dup structure as the uniform twin. */
  def documentsZipf(s: SparkSession, n: Long) = {
    s.range(n).selectExpr(
      "id AS doc_id",
      "CASE WHEN id % 10 = 9 THEN id - 9 ELSE id END AS base",
      "id % 10 = 9 AS isdup")
      .selectExpr(
        "doc_id",
        "80 + pmod(xxhash64(base, 3), 140) AS len",
        "base", "isdup")
      .selectExpr(
        "doc_id",
        "array_join(transform(sequence(1, len), i -> " +
          "CASE WHEN isdup AND i % 37 = 0 " +
          "THEN concat('u', doc_id, '_', i) " +
          "ELSE concat('w', CAST(exp(" +
          "(pmod(xxhash64(base * 1000003 + i, 5), 1000000) " +
          "/ 1000000.0) * ln(30000.0)) AS BIGINT)) END), ' ') AS text",
        "element_at(array('en','en','en','de','fr','es','zh'), " +
          "CAST(pmod(xxhash64(doc_id, 11), 7) + 1 AS INT)) AS lang",
        "concat('src', pmod(xxhash64(doc_id, 13), 16)) AS source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
  }

  /** Clustered 64-dim embeddings with linear-density near-dups. */
  def embeddings(s: SparkSession, n: Long) = {
    s.range(n).selectExpr(
      "id AS vec_id",
      "CASE WHEN id % 20 = 19 THEN id - 19 ELSE id END AS base",
      "id % 20 = 19 AS isdup")
      .selectExpr(
        "vec_id",
        "CAST(pmod(xxhash64(base, 7), 32) AS INT) AS label",
        "base", "isdup")
      .selectExpr(
        "vec_id",
        // center[label][j] in [-1, 1] plus per-BASE noise ±0.05; a
        // near-copy adds its own ±0.005 on top (cos ≈ 1 vs the source)
        "transform(sequence(0, 63), j -> CAST(" +
          "(pmod(xxhash64(CAST(label AS BIGINT) * 64 + j, 19), 2001) " +
          "- 1000) / 1000.0 + " +
          "(pmod(xxhash64(base * 64 + j, 23), 201) - 100) / 2000.0 + " +
          "CASE WHEN isdup THEN " +
          "(pmod(xxhash64(vec_id * 64 + j, 29), 21) - 10) / 2000.0 " +
          "ELSE 0.0 END AS FLOAT)) AS embedding",
        "label")
      .selectExpr("vec_id", "embedding", "label")
  }

  /** Co-purchase-friendly lineitems: 4 parts/order drawn from the
    * order's 256-part group neighborhood; 480 orders per group keeps
    * per-group pair density constant, so co-purchase |E| grows linearly
    * with scale and components stay bounded-diameter. */
  def lineitem(s: SparkSession, n: Long) = {
    s.range(n).selectExpr(
      "CAST(id / 4 AS BIGINT) + 1 AS l_orderkey",
      "CAST((CAST(id / 4 AS BIGINT) / 480) AS BIGINT) AS grp",
      "id % 4 AS j")
      .selectExpr(
        "l_orderkey",
        "grp * 256 + pmod(xxhash64(l_orderkey, j, 17), 256) + 1 " +
          "AS l_partkey",
        "pmod(xxhash64(l_orderkey, j, 31), 1000) + 1 AS l_suppkey")
  }
}
