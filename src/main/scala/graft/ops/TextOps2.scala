package graft.ops

import graft.{Q, QueryModule, T}
import graft.graph.Cc
import graft.Det._
import org.apache.spark.sql.functions._

/** Corpus-curation operators, wave 2: the filters and mixture math a
  * pretraining data pipeline runs between raw crawl and tokenizer —
  * repetition signals (Gopher-style), domain-mixture reweighting,
  * length gating, and deterministic stratified downsampling.
  *
  * Scale notes: every op here is a single scan + per-row array math
  * (no join), followed by one partial-before-exchange aggregate or a
  * broadcast of a one-row total. At 100 TB the scan dominates; nothing
  * shuffles more than (groups) rows. The repetition op's top-bigram
  * share is O(tokens^2) per document via HOFs — bounded by the length
  * gate upstream in a real pipeline (and ~100 tokens here); it stays
  * whole-stage-codegen'd, no UDF.
  */
object TextOps2 extends QueryModule {

  def queries: Seq[Q] = Seq(
    Q(
      "text_normalize",
      // Unicode text normalization — the canonical pre-pass of every
      // real dedup/curation pipeline (run it before text_dedup_* /
      // text_decontaminate; the fixtures are pre-cleaned so those ops
      // take raw text here): NFC canonical composition (the native
      // `nfc` expression, graft.functions.NfcNormalize — no UDF, stays
      // in WholeStageCodegen), case-fold, punctuation + zero-width
      // strip, whitespace collapse. Emits lengths + the normalized
      // fingerprint; DuckDB's nfc_normalize is the oracle twin, so the
      // md5 equality proves byte-identical normalization cross-engine.
      // Pure per-row projection: scan-dominated at 100 TB, no shuffle
      // until the output sort.
      (s, dir) => {
        graft.functions.TextExprs.register(s)
        T(s, dir, "documents")
          .withColumn("norm",
            trim(regexp_replace(regexp_replace(
              expr("nfc(lower(text))"),
              "[\\p{P}\\x{200B}-\\x{200D}\\x{FEFF}]+", ""),
              "\\s+", " ")))
          .select(col("doc_id"),
            length(col("text")).cast("long").as("raw_len"),
            length(col("norm")).cast("long").as("norm_len"),
            md5(col("norm")).as("fp"))
          .orderBy("doc_id")
      },
      Some(
        "WITH n AS (SELECT doc_id, text, " +
          "trim(regexp_replace(regexp_replace(nfc_normalize(lower(text)), " +
          "'[\\p{P}\\x{200B}-\\x{200D}\\x{FEFF}]+', '', 'g'), " +
          "'\\s+', ' ', 'g')) AS norm FROM documents) " +
          "SELECT doc_id, CAST(length(text) AS BIGINT) AS raw_len, " +
          "CAST(length(norm) AS BIGINT) AS norm_len, md5(norm) AS fp " +
          "FROM n ORDER BY doc_id")
    ),
    Q(
      "text_repetition",
      // Gopher-style repetition: duplicate-bigram fraction and the share
      // of the single most frequent bigram. Flat per-row HOF math.
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            split(col("text"), " ").as("toks"))
          // <2 tokens: Spark's sequence(0, size-2) would count DOWN and
          // yield null bigrams while DuckDB's range() is empty — divergent
          // AND a divide-by-zero on the oracle side. Gate both engines.
          .filter(size(col("toks")) >= 2)
          .withColumn("bigrams",
            expr("transform(sequence(0, size(toks)-2), " +
              "i -> concat(toks[i], ' ', toks[i+1]))"))
          .withColumn("n_big", size(col("bigrams")).cast("double"))
          .withColumn("top_cnt",
            expr("array_max(transform(array_distinct(bigrams), " +
              "b -> size(filter(bigrams, x -> x = b))))").cast("double"))
          .select(
            col("doc_id"), col("lang"),
            dround(lit(1.0) -
              size(array_distinct(col("bigrams"))) / col("n_big"), 6)
              .as("dup_bigram_frac"),
            dround(col("top_cnt") / col("n_big"), 6).as("top_bigram_share"))
          .orderBy("doc_id"),
      Some(
        "WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks " +
          "FROM documents WHERE len(string_split(text, ' ')) >= 2), " +
          "b AS (SELECT doc_id, lang, " +
          "list_transform(range(1, len(toks)), " +
          "i -> toks[i] || ' ' || toks[i+1]) AS bigrams FROM t) " +
          "SELECT doc_id, lang, " +
          droundSql("1.0 - CAST(len(list_distinct(bigrams)) AS DOUBLE)" +
            "/len(bigrams)", 6) + " AS dup_bigram_frac, " +
          droundSql("CAST(list_max(list_transform(list_distinct(bigrams), " +
            "b2 -> len(list_filter(bigrams, x -> x = b2)))) AS DOUBLE)" +
            "/len(bigrams)", 6) + " AS top_bigram_share " +
          "FROM b ORDER BY doc_id")
    ),
    Q(
      "text_domain_mix",
      // Domain-mixture accounting: per-source token mass, corpus share,
      // and the resample weight that would equalize sources. The one-row
      // total broadcasts; weights are exact integer ratios evaluated with
      // the identical expression tree on both engines.
      (s, dir) => {
        val t = T(s, dir, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n"))
        val agg = t.groupBy("source")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n")).as("n_tokens"))
        val tot = agg.agg(sum(col("n_tokens")).as("tt"),
          count(lit(1)).as("ns"))
        agg.join(broadcast(tot))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            dround(col("n_tokens").cast("double") / col("tt"), 6)
              .as("token_share"),
            dround((col("tt").cast("double") / col("ns")) /
              col("n_tokens"), 6).as("resample_weight"))
          .orderBy("source")
      },
      Some(
        "WITH t AS (SELECT source, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n " +
          "FROM documents), " +
          "a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n) AS BIGINT) AS n_tokens FROM t GROUP BY 1), " +
          "s AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt, " +
          "count(*) AS ns FROM a) " +
          "SELECT source, n_docs, n_tokens, " +
          droundSql("CAST(n_tokens AS DOUBLE)/tt", 6) + " AS token_share, " +
          droundSql("(CAST(tt AS DOUBLE)/ns)/n_tokens", 6) +
          " AS resample_weight " +
          "FROM a, s ORDER BY source")
    ),
    Q(
      "text_length_filter",
      // C4-style length gate with reason codes; emits the per-(lang,
      // reason) survival table a pipeline dashboard shows.
      (s, dir) =>
        T(s, dir, "documents")
          .select(col("lang"),
            size(split(col("text"), " ")).cast("long").as("n"))
          .withColumn("reason",
            when(col("n") < 16, "too_short")
              .when(col("n") > 90, "too_long")
              .otherwise("ok"))
          .groupBy("lang", "reason")
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(col("n")).as("n_tokens"))
          .orderBy("lang", "reason"),
      Some(
        "WITH t AS (SELECT lang, " +
          "CAST(len(string_split(text, ' ')) AS BIGINT) AS n " +
          "FROM documents) " +
          "SELECT lang, CASE WHEN n < 16 THEN 'too_short' " +
          "WHEN n > 90 THEN 'too_long' ELSE 'ok' END AS reason, " +
          "CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(n) AS BIGINT) AS n_tokens " +
          "FROM t GROUP BY 1, 2 ORDER BY lang, reason")
    ),
    Q(
      "text_dedup_cc",
      // Connected components of the near-dup graph (token-set Jaccard
      // >= 0.8 edges on the same blocked slice as text_dedup_near):
      // every doc gets the min doc_id of its duplicate cluster — the
      // transitive-closure step real dedup needs (A~B, B~C ⇒ {A,B,C}
      // dedup together even when A!~C). The components come from the one
      // CC kernel (graft.graph.Cc: min-label propagation with pointer
      // jumping, exact convergence certificate).
      // Oracle: DuckDB recursive-CTE reachability, min over reach set.
      (s, dir) => {
        val toks = T(s, dir, "documents")
          .filter(col("lang") === "en" &&
            col("source").isin("src0", "src1"))
          .select(col("doc_id"),
            array_distinct(split(col("text"), " ")).as("tokset"))
        val a = toks.select(col("doc_id").as("doc_a"),
          col("tokset").as("set_a"))
        val b = toks.select(col("doc_id").as("doc_b"),
          col("tokset").as("set_b"))
        val pairs = a.join(b, col("doc_a") < col("doc_b"))
          .withColumn("inter",
            size(array_intersect(col("set_a"), col("set_b")))
              .cast("double"))
          .filter(round(col("inter") / (size(col("set_a")) +
            size(col("set_b")) - col("inter")), 6) >= 0.8)
          .select("doc_a", "doc_b")
        Cc.minLabel(s, toks.select(col("doc_id").as("id")),
            pairs.select(col("doc_a").as("a"), col("doc_b").as("b")),
            "text_dedup_cc")
          .select(col("id").as("doc_id"), col("comp"))
          .orderBy("doc_id")
      },
      Some(
        "WITH RECURSIVE " +
          "t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) " +
          "AS tokset FROM documents WHERE lang = 'en' " +
          "AND source IN ('src0','src1')), " +
          "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
          "CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE) AS inter, " +
          "len(a.tokset) AS la, len(b.tokset) AS lb " +
          "FROM t a JOIN t b ON a.doc_id < b.doc_id), " +
          "e AS (SELECT doc_a, doc_b FROM p " +
          "WHERE round(inter / (la + lb - inter), 6) >= 0.8), " +
          "ee AS (SELECT doc_a AS a, doc_b AS b FROM e " +
          "UNION ALL SELECT doc_b, doc_a FROM e), " +
          "reach(src, node) AS (" +
          "SELECT doc_id, doc_id FROM t " +
          "UNION " +
          "SELECT r.src, ee.b FROM reach r JOIN ee ON r.node = ee.a) " +
          "SELECT src AS doc_id, CAST(min(node) AS BIGINT) AS comp " +
          "FROM reach GROUP BY src ORDER BY doc_id")
    ),
    Q(
      "text_stratified_sample",
      // Deterministic stratified downsampling: keep doc_id % 10 < rate,
      // rate per source stratum (2/10 for src0-4, 5/10 for the rest).
      // Key-arithmetic sampling is reproducible across engines, runs,
      // and partitionings — unlike rand()-based Bernoulli sampling.
      (s, dir) =>
        T(s, dir, "documents")
          .withColumn("rate",
            when(col("source")
              .isin("src0", "src1", "src2", "src3", "src4"), 2)
              .otherwise(5))
          .groupBy("source")
          .agg(
            count(lit(1)).cast("long").as("total_docs"),
            sum(when(pmod(col("doc_id"), lit(10)) < col("rate"), 1L)
              .otherwise(0L)).as("kept_docs"))
          .select(col("source"), col("total_docs"), col("kept_docs"),
            dround(col("kept_docs").cast("double") / col("total_docs"), 4)
              .as("kept_frac"))
          .orderBy("source"),
      Some(
        "SELECT source, CAST(count(*) AS BIGINT) AS total_docs, " +
          "CAST(sum(CASE WHEN doc_id % 10 < " +
          "(CASE WHEN source IN ('src0','src1','src2','src3','src4') " +
          "THEN 2 ELSE 5 END) THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs, " +
          droundSql("CAST(sum(CASE WHEN doc_id % 10 < " +
            "(CASE WHEN source IN ('src0','src1','src2','src3','src4') " +
            "THEN 2 ELSE 5 END) THEN 1 ELSE 0 END) AS DOUBLE)/count(*)",
            4) + " AS kept_frac " +
          "FROM documents GROUP BY source ORDER BY source")
    )
  )
}
