package graft.ops

import graft.{Par, Q, QueryModule, T}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Round-12 wave 63: incremental LEXICAL index maintenance — the third
  * leg of the streaming-ACID family (text near-dup: Wave62.StreamIndex;
  * vectors: Wave62.VecStreamIndex; lexical retrieval: here).
  *
  *  - `stream_bm25_index`: a FULL inverted index (all tokens — queries
  *    are unknown at index time, unlike text_bm25_topk's known-query
  *    postings filter) maintained per micro-batch under SnapTxn:
  *    `postings(doc_id, tok, tf)` and `docstats(doc_id, dl)` grow by
  *    exactly the batch, `dfdelta(tok, df)` appends the batch's
  *    document-frequency increments (df is additive across disjoint
  *    batches — serve-time df = SUM of deltas per token), and `stats`
  *    appends one CUMULATIVE `(batch_id, nd, sdl)` row so the corpus
  *    aggregates are O(#batches) to read, never a docstats re-scan.
  *    All four tables move in one transaction per micro-batch with the
  *    batch id in the note (the Wave62 idempotency ledger). SERVING
  *    reads the pinned tables and scores with the SAME `bm25Serve`
  *    body as text_bm25_topk — after the index has absorbed every
  *    wave, serving from the index must equal the from-scratch ranker
  *    over the same corpus, so the op shares that oracle VERBATIM.
  *
  * At 100 TB the postings table is the standard linear-size inverted
  * index sharded by token; a query batch touches only its tokens'
  * postings (the tok-clustered, internally-sorted layout makes parquet
  * footer min-max skipping tight — see `setup`), df lookups touch
  * #batches rows per token, and the corpus aggregates are one tiny
  * pinned read — index maintenance cost is O(batch tokens) per
  * commit, exactly the Lucene/ES segment-merge economics re-derived
  * on table transactions. StreamBm25IndexSpec pins the
  * serve-equals-batch equality at the fixture, df additivity, the
  * cumulative stats chain, idempotent replay, and pin lockstep.
  */
object Wave63Ops extends QueryModule {

  /** The transactional lexical-index cadence, factored for the spec. */
  object Bm25Index {
    import graft.sources.{SnapTable, SnapTxn}

    /** Replay guard — the shared O(1) head-note ledger. */
    def absorbed(txroot: String, batchId: Long): Boolean =
      SnapTxn.batchAbsorbed(txroot, batchId)

    /** Batch featurization: per-doc term frequencies and doc lengths —
      * ALL tokens (the index serves unknown future queries). */
    def featurize(docs: DataFrame): (DataFrame, DataFrame) = {
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dl = docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("dl"))
      (tf, dl)
    }

    /** DDL-first setup: four empty tables pinned at tx v1. Postings
      * cluster by `tok` (range-clustered files, internally sorted), so
      * a query-term filter reaching the scan skips whole files /
      * row groups via parquet footer min-max — the tx read path is
      * `readVersion` (plain parquet by manifest paths), so the
      * skipping is the parquet layer's, tight BECAUSE of the
      * clustering; the manifest-stat file pruning SnapBatchScan
      * plan-asserts applies on the catalog path, not here. */
    def setup(s: SparkSession, txroot: String): Unit = {
      val tfSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("tok",
          org.apache.spark.sql.types.StringType),
        StructField("tf", LongType, nullable = false)))
      val dlSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("dl", LongType)))
      val dfSchema = StructType(Seq(
        StructField("tok", org.apache.spark.sql.types.StringType),
        StructField("df", LongType, nullable = false)))
      val stSchema = StructType(Seq(
        StructField("batch_id", LongType, nullable = false),
        StructField("nd", LongType),
        StructField("sdl", LongType)))
      SnapTable.createEmpty(s"$txroot/postings", tfSchema, "tok",
        spec = Seq("tok"))
      SnapTable.createEmpty(s"$txroot/docstats", dlSchema, "doc_id")
      SnapTable.createEmpty(s"$txroot/dfdelta", dfSchema, "tok")
      SnapTable.createEmpty(s"$txroot/stats", stSchema, "batch_id")
      SnapTxn.init(txroot,
        Seq("postings", "docstats", "dfdelta", "stats"))
    }

    /** One micro-batch: featurize, extend the cumulative corpus stats,
      * absorb all four tables in one transaction. Idempotent. Returns
      * the batch's doc count (-1 for a skipped replay). */
    def ingest(s: SparkSession, txroot: String, b: DataFrame,
        batchId: Long): Long = {
      if (absorbed(txroot, batchId)) return -1L
      val (tf0, dl0) = featurize(b)
      // tf feeds TWO writes (postings + dfdelta): persist with one
      // dedicated populating job so the explode+groupBy featurization
      // (and the landing-file read under it) runs once, not twice
      val tf = tf0.persist()
      val dl = dl0.persist()
      try {
        tf.count()
        // cumulative (nd, sdl): prior head row + this batch — two tiny
        // aggregates, never a docstats re-scan
        val prior = SnapTxn.read(s, txroot, "stats")
          .orderBy(col("batch_id").desc).limit(1)
          .collect().headOption
          .map(r => (r.getLong(1), r.getLong(2)))
          .getOrElse((0L, 0L))
        val Row(bn: Long, bsdl: Long) =
          dl.agg(count(lit(1)), coalesce(sum("dl"), lit(0L))).head()
        val statsRow = s.createDataFrame(
          java.util.Collections.singletonList(
            Row(batchId, prior._1 + bn, prior._2 + bsdl)),
          StructType(Seq(
            StructField("batch_id", LongType, nullable = false),
            StructField("nd", LongType),
            StructField("sdl", LongType))))
        SnapTxn.commit(s, txroot, Seq(
          "postings" -> tf.toDF(),
          "docstats" -> dl.toDF(),
          "dfdelta" -> tf.groupBy("tok").agg(count(lit(1)).as("df")),
          "stats" -> statsRow),
          note = SnapTxn.batchNote(batchId))
        bn
      } finally {
        tf.unpersist(blocking = false)
        dl.unpersist(blocking = false)
      }
    }

    /** Serve the fixed QuerySet from the PINNED index — the same
      * scoring body as text_bm25_topk over index-derived frames. */
    def serve(s: SparkSession, txroot: String): DataFrame =
      serveAt(s, txroot, SnapTxn.latestTx(txroot))

    /** Serve as of transaction `tx` — snapshot-isolated serving: a
      * reader holding an older pin keeps reproducing that pin's
      * results while ingest moves the head (hybrid_index_serve_incr /
      * ServeIncrSpec). */
    def serveAt(s: SparkSession, txroot: String, tx: Int): DataFrame = {
      val qterms = Wave59Ops.QuerySet.map(_._2).distinct
      val tf = SnapTxn.readAt(s, txroot, "postings", tx)
        .filter(col("tok").isin(qterms: _*))
      val dfq = SnapTxn.readAt(s, txroot, "dfdelta", tx)
        .filter(col("tok").isin(qterms: _*))
        .groupBy("tok").agg(sum("df").as("df"))
      val dl = SnapTxn.readAt(s, txroot, "docstats", tx)
      val stats = SnapTxn.readAt(s, txroot, "stats", tx)
        .orderBy(col("batch_id").desc).limit(1)
        .select(col("nd"), col("sdl"))
      Wave59Ops.bm25Serve(s, tf, dfq, dl, stats)
    }
  }

  /** The grid-domain ANN serving half of the hybrid capstones, over an
    * explicit pinned cell index: the QuerySet ids' own vectors (taken
    * FROM the index — a query about a vector the index hasn't absorbed
    * yet has nothing to serve) probe their nprobe=2 nearest cells by
    * exact grid L2 (ties to the lowest cid), exact grid cosine within,
    * top-5 per query by (sim, id). One definition for the one-pin and
    * the incremental (serve → absorb → re-serve) capstones. */
  private[ops] def annServeGrid(idx: DataFrame, cents: DataFrame,
      qids: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.vec.IvfRouting
    val qv = idx.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id").as("q_id"), col("g").as("qg"))
    val wc = Window.partitionBy("q_id").orderBy(col("d2"), col("cid"))
    val vpr = qv.crossJoin(broadcast(cents))
      .withColumn("d2", IvfRouting.d2("qg", "cg"))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") <= 2)
      .select(col("q_id"), col("qg"), col("cid").as("cell"))
    val wr = Window.partitionBy("q_id")
      .orderBy(col("sim").desc, col("vec_id"))
    vpr
      .join(idx.select(col("cell"), col("vec_id"), col("g")),
        Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("dot", expr(
        "aggregate(zip_with(g, qg, (a, b) -> a * b), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
      .withColumn("n2v", expr(
        "aggregate(g, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
      .withColumn("n2q", expr(
        "aggregate(qg, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)"))
      .withColumn("sim", round(col("dot") /
        sqrt(col("n2v").cast("double") * col("n2q").cast("double"))
        * 1e9) / 1e9)
      .withColumn("rnk", row_number().over(wr).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("vec_id").as("id"),
        col("rnk").as("r_vec"))
  }

  /** RRF k=60 fusion of a lex top-5 `(q_id, id, r_lex)` and an ANN
    * top-5 `(q_id, id, r_vec)` — identical to hybrid_rrf_serve; one
    * definition for both index-serving capstones. */
  private[ops] def rrfFuse(lex: DataFrame, vec: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.Det.dround
    val wf = Window.partitionBy("q_id")
      .orderBy(col("rrf").desc, col("id"))
    lex.join(vec, Seq("q_id", "id"), "full_outer")
      .withColumn("rrf", dround(
        coalesce(lit(1.0) / (lit(60) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_vec")), lit(0.0)),
        6))
      .withColumn("rnk", row_number().over(wf).cast("long"))
      .filter(col("rnk") <= 5)
      .select("q_id", "rnk", "id", "r_lex", "r_vec", "rrf")
  }

  /** Initial per-bucket state for the seeded live detector, from the
    * PINNED ACID index: buckets carry the band keys, toksets the
    * verification sets; event time is the arrival convention
    * (doc_id · 1s). Shared by the op and NeardupBootstrapSpec so the
    * spec pins THIS construction, not a copy. */
  private[graft] def neardupSeed(s: SparkSession, txroot: String)
      : org.apache.spark.sql.KeyValueGroupedDataset[
        (Int, Long), Wave58Ops.BucketState] = {
    import s.implicits._
    import graft.sources.SnapTxn
    SnapTxn.read(s, txroot, "buckets")
      .join(SnapTxn.read(s, txroot, "toksets"), "doc_id")
      .select(col("band"), col("bhash"), col("doc_id"), col("tokset"))
      .as[(Int, Long, Long, Seq[Long])]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (Int, Long),
          it: Iterator[(Int, Long, Long, Seq[Long])]) =>
        val m = it.toArray.sortBy(_._3)
        (key, Wave58Ops.BucketState(m.map(_._3).toSeq,
          m.map(_._3 * 1000L).toSeq, m.map(_._4).toSeq,
          Long.MinValue))
      }
      .groupByKey(_._1).mapValues(_._2)
  }

  def queries: Seq[Q] = Seq(
    Q(
      "stream_bm25_index",
      (s, dir) => {
        import graft.sources.SnapTxn
        val txroot = graft.Tmp.dir("graft_bm25idx_tx")
        val src = graft.Tmp.dir("graft_bm25idx_src")
        val ckpt = graft.Tmp.dir("graft_bm25idx_ckpt")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        Bm25Index.setup(s, txroot)
        def runOnce(): Unit = {
          val q = s.readStream.schema(docs.schema).parquet(src)
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, id: Long) =>
              Bm25Index.ingest(s, txroot, b, id); ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // two file waves through one checkpoint; after both absorbs the
        // index covers the WHOLE corpus, so serving from the pins must
        // equal the from-scratch ranker — the shared oracle
        docs.filter(col("doc_id") % 2 === 0)
          .write.mode("append").parquet(src)
        runOnce()
        docs.filter(col("doc_id") % 2 === 1)
          .write.mode("append").parquet(src)
        runOnce()
        require(SnapTxn.latestTx(txroot) == 3,
          s"expected tx head 3, got ${SnapTxn.latestTx(txroot)}")
        Bm25Index.serve(s, txroot)
      },
      Some(Wave59Ops.bm25TopkOracle)
    ),
    Q(
      "stream_neardup_bootstrap",
      // the TEXT batch→live handoff (the MinHash sibling of
      // stream_semdedup_bootstrap): wave 0 of the blocked slice is
      // ingested through StreamIndex's ACID cadence, then a FRESH live
      // detector bootstraps its per-bucket membership from the
      // tx-pinned buckets ⋈ toksets and wave 1 streams against it.
      // Pair contract: seed↔arrival and arrival↔arrival, never
      // seed↔seed. No oracle (seeded MinHash banding — the §2.10
      // class); NeardupBootstrapSpec pins the contract, seed
      // normalization, and equality of the seed↔arrival half with the
      // IncNeardup library at the same boundary.
      (s, dir) => {
        import org.apache.spark.sql.types._
        import s.implicits._
        import graft.sources.SnapTxn
        import graft.ops.Wave62Ops.StreamIndex
        val txroot = graft.Tmp.dir("graft_bootnd_tx")
        // the same blocked slice as stream_neardup_live (the corpus is
        // LSH-adversarial — see Wave58Ops' MEASURED LIMITATION)
        val slice = T(s, dir, "documents")
          .filter(col("lang") === "en" &&
            col("source").isin("src0", "src1"))
          .select(col("doc_id"), col("lang"), col("text"))
        StreamIndex.setup(s, txroot, slice)
        StreamIndex.ingest(s, txroot,
          slice.filter(col("doc_id") % 2 === 0), 0L)
        val initKV = neardupSeed(s, txroot)
        val name = s"live_bootnd_${System.nanoTime()}"
        graft.StreamRun.withStateParts(s) {
          graft.StreamRun.withRocksDb(s) {
            val schema = StructType(Seq(
              StructField("doc_id", LongType),
              StructField("text", StringType),
              StructField("lang", StringType),
              StructField("source", StringType),
              StructField("n_chars", LongType)))
            val in = s.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(dir)
              .filter(col("lang") === "en" &&
                col("source").isin("src0", "src1") &&
                col("doc_id") % 2 === 1)
              .select(col("doc_id"), col("text"),
                (col("doc_id") * 1000L).as("tsMs"))
              .as[Wave58Ops.DocIn]
            val q = Wave58Ops.neardupStreamSeeded(in, initKV).toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        // a pair colliding in several bands emits once per band
        s.table(name).distinct().orderBy("doc_a", "doc_b")
      },
      None
    ),
    Q(
      "table_txn_compact",
      // ACID INDEX MAINTENANCE: four ingest commits fragment the
      // postings table into four file generations (the small-file tax
      // every streaming-ingested table pays); SnapTxn.compactPinned
      // rewrites the PINNED snapshot range-clustered at 4 files and
      // pins the content-identical version with one maintenance tx
      // record — readers switch atomically, the pre-compaction pin
      // chain stays time-travelable, and serving from the compacted
      // index still equals the from-scratch ranker (the shared oracle,
      // third reuse: the equality IS the proof the rewrite changed
      // layout, not content). TxnCompactSpec pins the file physics,
      // the orphan-refusal guard, and unpinned-compact invisibility.
      (s, dir) => {
        import graft.sources.SnapTxn
        val txroot = graft.Tmp.dir("graft_txncompact")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("text"))
        Bm25Index.setup(s, txroot)
        (0L to 3L).foreach(i => Bm25Index.ingest(s, txroot,
          docs.filter(col("doc_id") % 4 === i), i))
        val before = graft.sources.SnapTable.load(s"$txroot/postings",
          SnapTxn.head(txroot).pins("postings")).files.size
        SnapTxn.compactPinned(s, txroot, "postings", targetFiles = 4)
        val after = graft.sources.SnapTable.load(s"$txroot/postings",
          SnapTxn.head(txroot).pins("postings")).files.size
        require(after <= 4 && after < before,
          s"compaction did not shrink the file set: $before -> $after")
        Bm25Index.serve(s, txroot)
      },
      Some(Wave59Ops.bm25TopkOracle)
    ),
    Q(
      "table_txn_erase",
      // ATOMIC MULTI-TABLE ERASURE (the GDPR shape on an index): a
      // right-to-erasure request must remove a subject from the corpus
      // AND every derived index table — a reader must never observe
      // the subject erased from one and still present in another.
      // `SnapTxn.rewritePinned` runs a CoW deleteWhere against each
      // pinned table and publishes ONE record pinning all four new
      // versions; a crash between the rewrites leaves only unpinned
      // orphans (the prior consistent state stays current), and the
      // pre-erasure pin chain stays time-travelable until vacuum — the
      // legal erasure point is the vacuum, the ACID erasure point is
      // the pin, exactly SnapTable's documented GDPR split. Output:
      // per-lang corpus counts AFTER erasure, oracle-replayed (the
      // corpus is the full documents table; erased ids are a fixed
      // residue class); the seeded index tables' erasure is pinned by
      // TxnEraseSpec, not the oracle.
      (s, dir) => {
        import graft.sources.{SnapTable, SnapTxn}
        import graft.ops.Wave62Ops.StreamIndex
        val txroot = graft.Tmp.dir("graft_txnerase")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        StreamIndex.setup(s, txroot, docs)
        StreamIndex.ingest(s, txroot, docs, 0L)
        // the erasure request: every doc_id ≡ 3 (mod 10)
        SnapTxn.rewritePinned(s, txroot,
          Seq("corpus", "buckets", "toksets", "matches"),
          note = "erase:mod10=3") { (t, root) =>
          SnapTable.deleteWhere(s, root,
            if (t == "matches")
              col("new_id") % 10 === 3 || col("old_id") % 10 === 3
            else col("doc_id") % 10 === 3)
        }
        // read the post-erasure corpus through the new pin set
        SnapTxn.read(s, txroot, "corpus")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(octet_length(col("text")).cast("long")).as("n_bytes"))
          .orderBy("lang")
      },
      Some(postEraseCorpusOracle)
    ),
    Q(
      "hybrid_index_serve",
      // the serving CAPSTONE: hybrid retrieval where BOTH rankers read
      // PREBUILT pinned ACID indexes — BM25 top-5 from the inverted
      // index (Bm25Index.serve: postings + additive df + cumulative
      // stats through the pins) ∪ ANN top-5 from the IVF cell index
      // (query vectors probe their nprobe=2 nearest cells by exact
      // int64 grid L2; exact grid cosine within, 1e9-rounded), fused by
      // RRF k=60 exactly as hybrid_rrf_serve. The difference from
      // hybrid_rrf_serve is WHERE the rankers read: that op builds its
      // structures in-query (from-scratch serving); this one reads
      // indexes materialized by the ingest cadence — the production
      // split between the indexing pipeline and the serving layer. The
      // ANN half is grid-quantized (the index's domain), so its oracle
      // is the grid CTE family, not the float knnProbe oracle.
      (s, dir) => {
        import graft.sources.SnapTxn
        // materialize both indexes: ONE ingest commit each (the
        // serving story starts from existing indexes; the multi-wave
        // cadences are graded by their own ops). The two pipelines
        // write DISJOINT txroots and share nothing — overlap their
        // ingest jobs (guide §2.6) instead of serializing two
        // commit-latency chains (r15): the lex ingest is a Par fork.
        val btx = graft.Tmp.dir("graft_his_bm25")
        val vtx = graft.Tmp.dir("graft_his_vec")
        val cents = Par.scope(s) { sc =>
          val lexIngest = sc.fork {
            Bm25Index.setup(s, btx)
            Bm25Index.ingest(s, btx, T(s, dir, "documents")
              .select(col("doc_id"), col("text")), 0L)
          }
          val (route, gridded, cents) = Wave62Ops.semdedupGeometry(s, dir)
          Wave62Ops.VecStreamIndex.setup(s, vtx, gridded, route)
          Wave62Ops.VecStreamIndex.ingest(s, vtx, gridded, 0L, route)
          lexIngest.join()
          cents
        }
        // LEX half: top-5 per query from the pinned inverted index;
        // ANN half: the pinned cell index probed at nprobe=2; RRF
        // fusion — all three the factored one-definition bodies
        val qids = Wave59Ops.QuerySet.map(_._1).distinct.sorted
        val lex = Bm25Index.serve(s, btx)
          .select(col("q_id"), col("doc_id").as("id"),
            col("rnk").as("r_lex"))
        val vec = annServeGrid(SnapTxn.read(s, vtx, "index"), cents, qids)
        rrfFuse(lex, vec).orderBy("q_id", "rnk")
      },
      Some(hybridIndexServeOracle)
    )
  )

  /** The post-erasure corpus accounting oracle (erase subject = every
    * doc_id ≡ 3 mod 10) — shared by table_txn_erase and
    * table_txn_vacuum (Wave64): the vacuum must leave the pinned head
    * byte-identical, so it shares the erase's oracle verbatim. */
  private[ops] val postEraseCorpusOracle: String =
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(strlen(text)) AS BIGINT) AS n_bytes " +
      "FROM documents WHERE doc_id % 10 <> 3 " +
      "GROUP BY lang ORDER BY lang"

  /** The hybrid index-serving oracle CTE chain, fully name-prefixed
    * (`l` = lexical bm25 chain, `v` = grid ANN chain + query routing,
    * `f` = RRF fusion; final CTE `${f}fr`) so the one-pin capstone
    * (hybrid_index_serve) and the incremental two-pin capstone
    * (hybrid_index_serve_incr, Wave64 — one chain per pin) share ONE
    * definition. `docWhere`/`vecWhere` restrict each ranker's corpus
    * to the waves its pin has absorbed; the grid GEOMETRY always
    * derives from the full table (frozen bootstrap — see
    * gridCellChain). Same single-level (sub == 1) validity note as
    * semdedupIndexOracle — now enforced at runtime by
    * semdedupGeometry's guard. */
  private[ops] def hybridServeCtes(l: String, v: String, f: String,
      docWhere: String = "TRUE", vecWhere: String = "TRUE"): String = {
    import graft.Det.droundSql
    val qidList = Wave59Ops.QuerySet.map(_._1).distinct.sorted
      .mkString(", ")
    Wave59Ops.bm25CteChain(l, docWhere) + ", " +
      Wave61Ops.gridCellChain(v, vecWhere) + ", " +
      s"${v}q AS (SELECT vec_id AS q_id, g AS qg FROM ${v}a " +
      s"WHERE vec_id IN ($qidList)), " +
      s"${v}qd AS (SELECT ${v}q.q_id, ${v}q.qg, ${v}c.cid, " +
      s"list_sum(list_transform(list_zip(${v}q.qg, ${v}c.cg), " +
      s"p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2 FROM ${v}q, ${v}c), " +
      s"${v}pr AS (SELECT q_id, qg, cid FROM (SELECT q_id, qg, cid, " +
      "row_number() OVER (PARTITION BY q_id ORDER BY d2, cid) AS rn " +
      s"FROM ${v}qd) t WHERE rn <= 2), " +
      s"${v}cand AS (SELECT ${v}pr.q_id, ${v}a.vec_id, " +
      s"round(list_sum(list_transform(list_zip(${v}a.g, ${v}pr.qg), " +
      "p -> p[1] * p[2])) / sqrt(" +
      s"CAST(list_sum(list_transform(${v}a.g, x -> x * x)) AS DOUBLE) * " +
      s"CAST(list_sum(list_transform(${v}pr.qg, x -> x * x)) " +
      "AS DOUBLE)) * 1e9) / 1e9 AS sim " +
      s"FROM ${v}pr JOIN ${v}a ON ${v}a.cell = ${v}pr.cid " +
      s"WHERE ${v}a.vec_id <> ${v}pr.q_id), " +
      s"${v}r AS (SELECT q_id, vec_id, CAST(row_number() OVER " +
      "(PARTITION BY q_id ORDER BY sim DESC, vec_id) AS BIGINT) " +
      s"AS rnk FROM ${v}cand), " +
      // RRF fusion over the two top-5 lists (hybrid_rrf_serve's CTEs)
      s"${f}f AS (SELECT COALESCE(la.q_id, vb.q_id) AS q_id, " +
      "COALESCE(la.doc_id, vb.vec_id) AS id, " +
      "la.rnk AS r_lex, vb.rnk AS r_vec " +
      s"FROM (SELECT * FROM ${l}r WHERE rnk <= 5) la " +
      s"FULL OUTER JOIN (SELECT * FROM ${v}r WHERE rnk <= 5) vb " +
      "ON la.q_id = vb.q_id AND la.doc_id = vb.vec_id), " +
      s"${f}fs AS (SELECT q_id, id, r_lex, r_vec, " +
      droundSql("COALESCE(1.0 / (60 + r_lex), 0.0) + " +
        "COALESCE(1.0 / (60 + r_vec), 0.0)", 6) +
      s" AS rrf FROM ${f}f), " +
      s"${f}fr AS (SELECT q_id, id, r_lex, r_vec, rrf, " +
      "CAST(row_number() OVER (PARTITION BY q_id " +
      s"ORDER BY rrf DESC, id) AS BIGINT) AS rnk FROM ${f}fs)"
  }

  /** Oracle for hybrid_index_serve: the shared chain at full corpus —
    * byte-identical to the round-12 inline assembly. */
  private def hybridIndexServeOracle: String =
    "WITH " + hybridServeCtes("l", "v", "") +
      " SELECT q_id, rnk, id, r_lex, r_vec, rrf FROM fr " +
      "WHERE rnk <= 5 ORDER BY q_id, rnk"
}
