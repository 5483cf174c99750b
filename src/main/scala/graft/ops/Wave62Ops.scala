package graft.ops

import graft.{Q, QueryModule, T}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}

/** Round-12 wave 62: streaming ingestion into the ACID indexes — the
  * cadence that closes the loop between the `_live` detectors (online,
  * state in the stream checkpoint) and the `*_incremental_*` batch ops
  * (snapshot-incremental, state in SnapTxn-pinned SnapTables).
  *
  *  - `stream_neardup_index`: documents arrive as FILES on a landing
  *    dir; each micro-batch featurizes ONLY its own rows, probes the
  *    tx-pinned bucket index for candidates, exact-verifies by Jaccard,
  *    and absorbs corpus + buckets + toksets + matches in ONE SnapTxn
  *    commit whose note records the micro-batch id. Durability lives in
  *    the TABLES, not the stream state: the checkpoint tracks only file
  *    offsets, so a restarted (or re-played) micro-batch re-enters
  *    `StreamIndex.ingest`, finds its own note already published, and
  *    SKIPS — exactly-once absorb without relying on sink-side state
  *    (the txn log is the idempotency ledger, Delta's
  *    `txn`/`foreachBatch` pattern re-derived). A crash mid-absorb
  *    leaves only unpinned per-table orphans (readers stay on the prior
  *    pin set; `SnapTxn.vacuumOrphans` reclaims), so the index can
  *    never tear across the four tables.
  *  - `stream_semdedup_index`: the VECTOR twin — embedding files land,
  *    each micro-batch is routed to its coarse IVF cell against FROZEN
  *    bootstrap geometry (IvfRouting; the same never-re-derive
  *    invariant every incremental op pins), exact-cosine probed against
  *    the tx-pinned cell index, and absorbed (corpus + index + matches,
  *    one SnapTxn commit, batch id in the note). Unlike the MinHash
  *    twin the whole pipeline is deterministic on the 1e7 integer grid
  *    (1e9-rounded cosines), so the op IS oracle-graded: DuckDB replays
  *    routing + cross-wave within-cell pair cosines + the per-cell
  *    aggregate. Detection semantics are CROSS-commit (each batch vs
  *    the index absorbed before it) — the same contract as the batch
  *    incremental ops.
  *
  * At 100 TB/day this is the production shape: landing files → one
  * transactional probe+absorb per micro-batch, per-batch cost
  * O(batch + matching buckets/cells) — the corpus is never re-read, and
  * every downstream consumer (including the live detectors' bootstrap)
  * reads a cross-table-consistent snapshot. StreamIndexSpec /
  * VecStreamIndexSpec pin ingest-vs-library equality, idempotent
  * replay, restart durability, and the pin lockstep.
  */
object Wave62Ops extends QueryModule {

  /** The transactional ingest cadence, factored out of the streaming
    * sink so specs (and a restarted query) drive it directly. */
  object StreamIndex {
    import graft.sources.{SnapTable, SnapTxn}

    /** DDL-first setup: four EMPTY SnapTables (corpus, buckets,
      * toksets, matches) under one tx root, pinned together at tx v1.
      * Schemas derive from the shared IncNeardup plans on a zero-row
      * slice — plan-only, no jobs. */
    def setup(s: SparkSession, txroot: String, docs: DataFrame): Unit = {
      val f0 = IncNeardup.featurize(docs.limit(0))
      SnapTable.createEmpty(s"$txroot/corpus", docs.schema, "doc_id")
      SnapTable.createEmpty(s"$txroot/buckets",
        IncNeardup.bucketRows(f0).schema, "doc_id")
      SnapTable.createEmpty(s"$txroot/toksets",
        f0.select(col("doc_id"), col("tokset")).schema, "doc_id")
      SnapTable.createEmpty(s"$txroot/matches",
        IncNeardup.verify(
          IncNeardup.candidates(f0, IncNeardup.bucketRows(f0)),
          f0, f0.select(col("doc_id"), col("tokset"))).schema, "new_id")
      SnapTxn.init(txroot, Seq("corpus", "buckets", "toksets", "matches"))
    }

    /** True iff `batchId`'s absorb already published — the replay
      * guard. Delegates to the shared O(1) head-note ledger
      * (SnapTxn.batchAbsorbed — a full-log scan would be quadratic
      * over a stream's lifetime). */
    def absorbed(txroot: String, batchId: Long): Boolean =
      SnapTxn.batchAbsorbed(txroot, batchId)

    /** One micro-batch: probe the PINNED index, verify, absorb all four
      * tables in one transaction. Idempotent — a replayed batch id is a
      * no-op. Returns the number of verified cross-commit pairs (-1 for
      * a skipped replay). */
    def ingest(s: SparkSession, txroot: String, b: DataFrame,
        batchId: Long): Long = {
      if (absorbed(txroot, batchId)) return -1L
      import graft.sources.SnapTxn
      val fd = IncNeardup.featurize(b).persist()
      try {
        // populate the cache with ONE dedicated job before the verify
        // plan consumes fd on two branches (same discipline as the
        // batch op: branches of one job race the cache)
        fd.count()
        val hits = IncNeardup.verify(
          IncNeardup.candidates(fd, SnapTxn.read(s, txroot, "buckets")),
          fd, SnapTxn.read(s, txroot, "toksets")).persist()
        try {
          // pin the hits BEFORE the absorb moves the index under them —
          // and make the timed path pay the real candidates+verify cost
          val n = hits.count()
          SnapTxn.commit(s, txroot, Seq(
            "corpus" -> b,
            "buckets" -> IncNeardup.bucketRows(fd),
            "toksets" -> fd.select(col("doc_id"), col("tokset")),
            "matches" -> hits.toDF()),
            note = SnapTxn.batchNote(batchId))
          n
        } finally hits.unpersist(blocking = false)
      } finally fd.unpersist(blocking = false)
    }
  }

  /** The vector twin's transactional ingest cadence: corpus + cell
    * index + matches under one SnapTxn, batch id in the note. Routing
    * is a caller-provided FROZEN closure (bootstrap geometry — cents
    * and, past the cap², sub-centroids — must never be re-derived from
    * an incoming batch). */
  object VecStreamIndex {
    import graft.sources.{SnapTable, SnapTxn}

    /** Exact cross-commit probe: fine-assigned new rows vs the pinned
      * index, exact int64 dot / 1e9-rounded cosine within the (cell,
      * scell) bucket, canonical id-ordered pairs. Shared by ingest and
      * the spec's direct-library pin. */
    def probeHits(fNew: DataFrame, idx: DataFrame): DataFrame = {
      // r14 optimization: squared norms hoisted out of the bucket join
      // — one evaluation per ROW per side instead of two per PAIR
      // (identical arithmetic and rounding; see Wave64Ops.semPairs)
      val n2 = (c: String) => expr(
        s"aggregate($c, CAST(0 AS BIGINT), (acc, x) -> acc + x * x)")
      // explicit bucket-join width: per-pair dot products are the hot
      // loop, the exchange is byte-light (Wave64Ops.computeWidth)
      fNew.withColumn("n2n", n2("g"))
        .repartition(Wave64Ops.computeWidth(fNew),
          col("cell"), col("scell"))
        .join(
          idx.select(col("cell"), col("scell"),
            col("vec_id").as("old_id"), col("g").as("og"),
            n2("g").as("n2o")),
          Seq("cell", "scell"))
        .withColumn("dot", expr(
          "aggregate(zip_with(g, og, (a, b) -> a * b), " +
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"))
        .withColumn("cos", round(col("dot") /
          sqrt(col("n2n").cast("double") * col("n2o").cast("double"))
          * 1e9) / 1e9)
        .filter(col("cos") > Wave61Ops.CosThreshold)
        .select(least(col("vec_id"), col("old_id")).as("vec_a"),
          greatest(col("vec_id"), col("old_id")).as("vec_b"),
          col("cos"), col("cell"))
    }

    /** DDL-first setup: empty corpus (vec_id, g), index (vec_id, cell,
      * scell, g; files range-clustered by cell) and matches (vec_a,
      * vec_b, cos, cell) pinned together at tx v1. Schemas derive from
      * the shared plans on a zero-row slice — plan-only, no jobs. */
    def setup(s: SparkSession, txroot: String, gridded: DataFrame,
        route: DataFrame => DataFrame): Unit = {
      val f0 = route(gridded.limit(0))
      SnapTable.createEmpty(s"$txroot/corpus", gridded.schema, "vec_id")
      SnapTable.createEmpty(s"$txroot/index", f0.schema, "vec_id",
        spec = Seq("cell"))
      SnapTable.createEmpty(s"$txroot/matches",
        probeHits(f0, f0).schema, "vec_a")
      SnapTxn.init(txroot, Seq("corpus", "index", "matches"))
    }

    /** One micro-batch: route under the frozen geometry, probe the
      * PINNED index, absorb all three tables in one transaction.
      * Idempotent — a replayed batch id is a no-op (-1). Returns the
      * number of verified cross-commit pairs. */
    def ingest(s: SparkSession, txroot: String, b: DataFrame,
        batchId: Long, route: DataFrame => DataFrame): Long = {
      if (SnapTxn.batchAbsorbed(txroot, batchId)) return -1L
      val fNew = route(b).persist()
      try {
        fNew.count() // one dedicated cache-populating job (see ingest)
        val hits =
          probeHits(fNew, SnapTxn.read(s, txroot, "index")).persist()
        try {
          // pin BEFORE the absorb moves the index under the probe
          val n = hits.count()
          SnapTxn.commit(s, txroot, Seq(
            "corpus" -> b,
            "index" -> fNew.toDF(),
            "matches" -> hits.toDF()),
            note = SnapTxn.batchNote(batchId))
          n
        } finally hits.unpersist(blocking = false)
      } finally fNew.unpersist(blocking = false)
    }
  }

  /** Frozen geometry + zero-norm-filtered gridded frame for the vec
    * index family — shared by the file transport
    * (stream_semdedup_index), the landing-table transport
    * (stream_cdc_index), and the bootstrap handoff. */
  private[graft] def semdedupGeometry(s: SparkSession, dir: String)
      : (DataFrame => DataFrame, DataFrame, DataFrame) = {
    val n = T.rows(s, dir, "embeddings")
    val (k, sub) = graft.vec.VecAlgs.cellSplit(n)
    // every consumer of this geometry is ORACLE-graded against the
    // single-level grid CTE chain (gridCellChain pairs on the coarse
    // cell — valid exactly while cellSplit keeps sub == 1, true at
    // every graded SF by ~cap² ≈ 4.3e9 rows of headroom). A future
    // fixture large enough to engage the second routing layer must
    // fail HERE, loudly, instead of silently diverging from its oracle
    // (which would need the sub-cell join replicated in SQL).
    require(sub == 1,
      s"semdedupGeometry: cellSplit($n) engaged two-level routing " +
        s"(sub=$sub) but the family's oracles pair on the coarse cell " +
        "only — extend gridCellChain with the sub-cell join first")
    val all = T(s, dir, "embeddings")
      .select(col("vec_id"), expr(graft.vec.VecAlgs.GridExpr).as("g"))
    // FROZEN bootstrap geometry: footer-sized k, the k lowest-id
    // vectors as coarse centroids (<= cap, the only driver-bounded
    // structure); past the cap² the sub-centroids freeze from the
    // bootstrap table too — NEVER from an incoming batch
    val cents = all.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("g").as("cg"))
    // zero-norm vectors have no cosine — excluded in BOTH engines
    val gridded = all.filter(expr(
      "aggregate(g, CAST(0 AS BIGINT), (acc, x) -> acc + x * x) > 0"))
    // the zero-norm-FILTERED frame is the bootstrap: with sub == 1 the
    // bootstrap only seeds sub-centroids (unused here), but handing
    // frozenRoute the unfiltered frame would derive sub-geometry from
    // vectors excluded everywhere else the day the guard is lifted
    (graft.vec.IvfRouting.frozenRoute(gridded, cents, sub), gridded,
      cents)
  }

  /** The vec index family's graded output: per-cell index occupancy +
    * verified cross-commit pair counts, read through the FINAL pin
    * set. */
  private[ops] def semdedupIndexResult(s: SparkSession, txroot: String)
      : DataFrame = {
    import graft.sources.SnapTxn
    val idx = SnapTxn.read(s, txroot, "index")
    val m = SnapTxn.read(s, txroot, "matches")
    idx.groupBy("cell").agg(count(lit(1)).as("n_vecs"))
      .join(m.groupBy("cell").agg(count(lit(1)).as("n_pairs")),
        Seq("cell"), "left")
      .select(col("cell"), col("n_vecs"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"))
      .orderBy("cell")
  }

  /** The stream_semdedup_live routing oracle, restricted to cross-wave
    * (one even + one odd id) pairs and aggregated per cell — DuckDB
    * replays the full deterministic pipeline. Shared verbatim by the
    * file transport and the landing-table transport (the transport
    * must not change the result). SINGLE-LEVEL assumption: this SQL
    * pairs on the coarse cell, which equals the Scala side's (cell,
    * scell) bucket exactly while cellSplit gives sub == 1 — true at
    * every graded SF by construction (sub > 1 needs ~cap² ≈ 4.3e9
    * rows); a sub > 1 fixture would need the sub-cell join replicated
    * here. */
  private[ops] val semdedupIndexOracle: String =
    "WITH " + Wave61Ops.gridCellChain("") + ", " +
      "p AS (SELECT u.cell AS cell, " +
      "round(list_sum(list_transform(list_zip(u.g, v.g), " +
      "p -> p[1] * p[2])) / sqrt(" +
      "CAST(list_sum(list_transform(u.g, x -> x * x)) AS DOUBLE) * " +
      "CAST(list_sum(list_transform(v.g, x -> x * x)) AS DOUBLE)) " +
      "* 1e9) / 1e9 AS cos " +
      "FROM a u JOIN a v ON u.cell = v.cell " +
      "AND u.vec_id < v.vec_id " +
      "AND (u.vec_id % 2) <> (v.vec_id % 2)), " +
      "m AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_pairs " +
      "FROM p WHERE cos > 0.3 GROUP BY cell), " +
      "iv AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_vecs " +
      "FROM a GROUP BY cell) " +
      "SELECT iv.cell, iv.n_vecs, " +
      "CAST(COALESCE(m.n_pairs, 0) AS BIGINT) AS n_pairs " +
      "FROM iv LEFT JOIN m ON iv.cell = m.cell ORDER BY iv.cell"

  def queries: Seq[Q] = Seq(
    Q(
      "stream_neardup_index",
      (s, dir) => {
        import graft.sources.SnapTxn
        val txroot = graft.Tmp.dir("graft_streamnd_tx")
        val src = graft.Tmp.dir("graft_streamnd_src")
        val ckpt = graft.Tmp.dir("graft_streamnd_ckpt")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        StreamIndex.setup(s, txroot, docs)
        def runOnce(): Unit = {
          val q = s.readStream.schema(docs.schema).parquet(src)
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, id: Long) =>
              StreamIndex.ingest(s, txroot, b, id); ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // two file waves; each AvailableNow run drains only the NEW
        // arrivals through the shared checkpoint (the nightly-ETL-as-a-
        // stream pattern stream_available_now pins). A quarter-corpus
        // slice per wave: the capability under test is the transactional
        // cadence — data_incremental_neardup already pays the full
        // adversarial-corpus probe cost in this same suite
        docs.filter(col("doc_id") % 4 === 0)
          .write.mode("append").parquet(src)
        runOnce() // micro-batch 0: probes the empty index, absorbs
        docs.filter(col("doc_id") % 4 === 1)
          .write.mode("append").parquet(src)
        runOnce() // micro-batch 1: probes wave-0's index, absorbs
        // head pins: init=1, absorb b0=2, absorb b1=3 — the witness that
        // exactly two transactions published
        require(SnapTxn.latestTx(txroot) == 3,
          s"expected tx head 3, got ${SnapTxn.latestTx(txroot)}")
        // read through the FINAL pin set: cross-table-consistent
        val corpus = SnapTxn.read(s, txroot, "corpus")
        val flagged = SnapTxn.read(s, txroot, "matches")
          .groupBy(col("new_id").as("doc_id"))
          .agg(count(lit(1)).as("n_matches"))
        corpus.join(flagged, Seq("doc_id"), "left")
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("n_matches").isNotNull, 1L).otherwise(0L))
              .as("n_neardup"),
            sum(coalesce(col("n_matches"), lit(0L))).as("n_pairs"))
          .orderBy("lang")
      },
      None
    ),
    Q(
      "stream_semdedup_index",
      (s, dir) => {
        import graft.sources.SnapTxn
        val txroot = graft.Tmp.dir("graft_streamsd_tx")
        val src = graft.Tmp.dir("graft_streamsd_src")
        val ckpt = graft.Tmp.dir("graft_streamsd_ckpt")
        val (route, gridded, _) = semdedupGeometry(s, dir)
        VecStreamIndex.setup(s, txroot, gridded, route)
        def runOnce(): Unit = {
          val q = s.readStream.schema(gridded.schema).parquet(src)
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, id: Long) =>
              VecStreamIndex.ingest(s, txroot, b, id, route); ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        // two file waves (even then odd ids) through one checkpoint:
        // wave 0 probes the empty index and absorbs; wave 1 probes
        // wave 0 — every detected pair is cross-commit, one even + one
        // odd id (the parity condition the oracle replays)
        gridded.filter(col("vec_id") % 2 === 0)
          .write.mode("append").parquet(src)
        runOnce()
        gridded.filter(col("vec_id") % 2 === 1)
          .write.mode("append").parquet(src)
        runOnce()
        require(SnapTxn.latestTx(txroot) == 3,
          s"expected tx head 3, got ${SnapTxn.latestTx(txroot)}")
        semdedupIndexResult(s, txroot)
      },
      Some(semdedupIndexOracle)
    ),
    Q(
      "stream_cdc_index",
      // the LANDING-TABLE transport for the same ingest: embeddings
      // land as SnapTable COMMITS (create, then append), the index
      // pipeline subscribes to the table's commit feed (`readStream.table`)
      // through one checkpoint, and each drained commit runs the
      // identical VecStreamIndex probe+absorb. Same deterministic
      // result as the file transport, so the oracle is shared verbatim
      // — the production shape where the landing zone is itself a
      // table with its own ACID history, not a bag of files. The
      // commit feed IS the batch boundary: commit k ↔ micro-batch k.
      (s, dir) => {
        import graft.sources.{SnapTable, SnapTxn}
        val landing = graft.Tmp.dir("graft_cdcidx_landing")
        val txroot = graft.Tmp.dir("graft_cdcidx_tx")
        val ckpt = graft.Tmp.dir("graft_cdcidx_ckpt")
        val (route, gridded, _) = semdedupGeometry(s, dir)
        VecStreamIndex.setup(s, txroot, gridded, route)
        TableOps.sqlWarehouse(s)
        def drain(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.`$landing`")
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: DataFrame, id: Long) =>
              VecStreamIndex.ingest(s, txroot,
                b.select(col("vec_id"), col("g")), id, route)
              ()
            }
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        SnapTable.create(s, landing,
          gridded.filter(col("vec_id") % 2 === 0), "vec_id")
        drain() // commit 1 (create) -> micro-batch 0: absorbs wave 0
        SnapTable.append(s, landing,
          gridded.filter(col("vec_id") % 2 === 1))
        drain() // commit 2 (append) -> micro-batch 1: probes wave 0
        require(SnapTxn.latestTx(txroot) == 3,
          s"expected tx head 3, got ${SnapTxn.latestTx(txroot)}")
        semdedupIndexResult(s, txroot)
      },
      Some(semdedupIndexOracle)
    ),
    Q(
      "stream_semdedup_bootstrap",
      // the batch→live HANDOFF: wave 0 (even ids) is ingested through
      // the ACID cadence (VecStreamIndex — one SnapTxn absorb); a FRESH
      // live detector then starts with its per-cell membership
      // BOOTSTRAPPED from the tx-pinned index (transformWithState's
      // initial-state overload, handleInitialState seeding CellState),
      // and wave 1 (odd ids) streams against it. Detected pairs are
      // exactly: bootstrapped-vs-arrival (even↔odd) and
      // arrival-vs-earlier-arrival (odd↔odd) — never
      // bootstrapped-vs-bootstrapped (state members don't compare to
      // each other), the contract the oracle's parity filter replays.
      // Deterministic end to end, so the LIVE stream is oracle-graded.
      (s, dir) => {
        import org.apache.spark.sql.types._
        import s.implicits._
        import graft.sources.SnapTxn
        import graft.vec.IvfRouting
        val txroot = graft.Tmp.dir("graft_bootsd_tx")
        // the SAME geometry construction as the index transports — one
        // shared helper, the geometry the seed was built with
        val (route, gridded, centsDf) = semdedupGeometry(s, dir)
        // wave 0 through the ACID cadence (the batch ingest path)
        VecStreamIndex.setup(s, txroot, gridded, route)
        VecStreamIndex.ingest(s, txroot,
          gridded.filter(col("vec_id") % 2 === 0), 0L, route)
        // initial per-cell state from the PINNED index — members carry
        // the same deterministic event time as arrivals (id · 1s)
        val initKV = SnapTxn.read(s, txroot, "index")
          .select(col("cell"), col("vec_id"), col("g"))
          .as[(Long, Long, Seq[Long])]
          .groupByKey(_._1)
          .mapGroups { (cell: Long, it: Iterator[(Long, Long, Seq[Long])]) =>
            val m = it.toArray.sortBy(_._2)
            (cell, Wave61Ops.CellState(m.map(_._2).toSeq,
              m.map(_._2 * 1000L).toSeq, m.map(_._3).toSeq,
              Long.MinValue))
          }
          .groupByKey(_._1).mapValues(_._2)
        // the scalar router for the stream side (equality with the
        // DataFrame router is pinned by StreamSemdedupSpec)
        val cents = centsDf.collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
          .sortBy(_._1)
        val name = s"live_bootstrap_${System.nanoTime()}"
        graft.StreamRun.withStateParts(s) {
          graft.StreamRun.withRocksDb(s) {
            val schema = StructType(Seq(
              StructField("vec_id", LongType),
              StructField("embedding", ArrayType(FloatType)),
              StructField("label", IntegerType)))
            val in = s.readStream.schema(schema)
              .option("pathGlobFilter", "embeddings.parquet")
              .parquet(dir)
              .select(col("vec_id"),
                expr(graft.vec.VecAlgs.GridExpr).as("g"),
                (col("vec_id") * 1000L).as("tsMs"))
              .filter(col("vec_id") % 2 === 1 && expr(
                "aggregate(g, CAST(0 AS BIGINT), " +
                  "(acc, x) -> acc + x * x) > 0"))
              .as[(Long, Seq[Long], Long)]
              .map { case (id, g, ts) =>
                Wave61Ops.VecIn(
                  Wave61Ops.nearestCell(g.toArray, cents), id, g, ts)
              }
            val out = in
              .withColumn("ts", timestamp_millis(col("tsMs")))
              .withWatermark("ts", "0 seconds")
              .select(col("cell"), col("vec_id"), col("g"), col("tsMs"))
              .as[Wave61Ops.VecIn]
              .groupByKey(_.cell)
              .transformWithState(
                new Wave61Ops.SemdedupProcessor(
                  Wave61Ops.DefaultHorizonMs),
                TimeMode.EventTime(), OutputMode.Append(), initKV)(
                Encoders.product[Wave61Ops.SimHit],
                Encoders.product[Wave61Ops.CellState])
            val q = out.toDF()
              .writeStream.format("memory").queryName(name)
              .outputMode("append")
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
        }
        s.table(name).orderBy("vec_a", "vec_b")
      },
      Some(
        // the stream_semdedup_live routing oracle with the handoff's
        // parity contract: every within-cell pair EXCEPT
        // bootstrapped-vs-bootstrapped (both ids even). Same
        // single-level (sub == 1) validity note as the
        // stream_semdedup_index oracle above
        "WITH " + Wave61Ops.gridCellChain("") + ", " +
          "p AS (SELECT u.vec_id AS vec_a, v.vec_id AS vec_b, " +
          "round(list_sum(list_transform(list_zip(u.g, v.g), " +
          "p -> p[1] * p[2])) / sqrt(" +
          "CAST(list_sum(list_transform(u.g, x -> x * x)) AS DOUBLE) * " +
          "CAST(list_sum(list_transform(v.g, x -> x * x)) AS DOUBLE)) " +
          "* 1e9) / 1e9 AS cos " +
          "FROM a u JOIN a v ON u.cell = v.cell " +
          "AND u.vec_id < v.vec_id " +
          "AND NOT (u.vec_id % 2 = 0 AND v.vec_id % 2 = 0)) " +
          "SELECT vec_a, vec_b, cos FROM p WHERE cos > 0.3 " +
          "ORDER BY vec_a, vec_b")
    )
  )
}
