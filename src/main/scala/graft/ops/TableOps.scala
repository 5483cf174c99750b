package graft.ops

import graft.{Q, QueryModule, T}
import graft.Det._
import graft.sources.SnapTable
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Snapshot-table-format tier (graft.sources.SnapTable): versioned
  * manifests over immutable parquet, the Delta/Iceberg-class capability
  * re-derived from the published designs. Each op exercises one contract
  * of the format and is oracle-checked by restating the LOGICAL table
  * state in SQL over the raw fixtures — the format changes only how that
  * state is stored and found.
  *
  *  - `table_snapshot_append`: two commits, read = union of both (snapshot
  *    isolation: the read resolves one manifest).
  *  - `table_time_travel`: three commits, read AS OF version 2 — the v3
  *    rows are invisible by manifest selection, no data rewrite involved.
  *  - `table_merge_cow`: copy-on-write MERGE (update + delete + insert in
  *    one commit); only files containing matched keys are rewritten.
  *  - `table_changelog`: file-diff CDC between two snapshots — reads only
  *    added/removed files, classifies insert/update/delete.
  *  - `table_skip_prune`: manifest min/max file skipping for a key-range
  *    read (the stats-based pruning layer above parquet row groups).
  *  - `table_vacuum_read`: vacuum retains the live snapshot's files and
  *    deletes unreferenced ones; the post-vacuum read is unchanged.
  */
object TableOps extends QueryModule {

  /** The MERGE workload every merge-family op shares: every 10th doc
    * revised, docs with doc_id % 97 == 3 (and not revised) deleted, the
    * sub-50 ids re-inserted under new ids. Clause overlap is made disjoint
    * so update/delete order cannot matter.
    */
  private def mergedTable(s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    val root = graft.Tmp.dir("graft_snaptab")
    val base = T(s, dir, "documents").select(
      col("doc_id"), col("lang"), col("text"))
    SnapTable.create(s, root,
      base.repartitionByRange(8, col("doc_id")), "doc_id")
    val upd = base.filter(col("doc_id") % 10 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .withColumn("_del", lit(false))
      .unionByName(base
        .filter(col("doc_id") % 97 === 3 && col("doc_id") % 10 =!= 0)
        .withColumn("_del", lit(true)))
      .unionByName(base.filter(col("doc_id") < 50)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("_del", lit(false)))
    SnapTable.merge(s, root, upd, "doc_id", Some("_del"))
    root
  }

  private val mergeBaseSql =
    "WITH base AS (SELECT doc_id, lang, text FROM documents), " +
      "upd AS (SELECT doc_id, lang, text || ' v2' AS text, FALSE AS del " +
      "FROM base WHERE doc_id % 10 = 0 " +
      "UNION ALL SELECT doc_id, lang, text, TRUE FROM base " +
      "WHERE doc_id % 97 = 3 AND doc_id % 10 <> 0 " +
      "UNION ALL SELECT doc_id + 1000000, lang, text, FALSE FROM base " +
      "WHERE doc_id < 50), " +
      "merged AS (SELECT b.doc_id, b.lang, b.text FROM base b " +
      "WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id) " +
      "UNION ALL SELECT doc_id, lang, text FROM upd WHERE NOT del) "

  /** One SQL catalog per JVM: register `snap` → a session-scratch
    * warehouse dir on first use (Spark instantiates the catalog lazily on
    * first resolution and caches it, so the conf must be set before any
    * `snap.…` query and never changed after). Each op creates its own
    * uniquely-named table under it, so ops stay independently re-runnable.
    * Streaming reads of path-only tables resolve through the same catalog
    * (``readStream.table(s"snap.`$root`")``), so every streaming op
    * registers it here too.
    */
  private[graft] def sqlWarehouse(
      s: org.apache.spark.sql.SparkSession): String = this.synchronized {
    s.conf.getOption("spark.sql.catalog.snap.root").getOrElse {
      val b = graft.Tmp.dir("graft_snapcat")
      s.conf.set("spark.sql.catalog.snap",
        classOf[graft.sources.SnapCatalog].getName)
      s.conf.set("spark.sql.catalog.snap.root", b)
      b
    }
  }

  private def freshName(): String =
    "t" + java.util.UUID.randomUUID().toString.replace("-", "").take(10)

  def queries: Seq[Q] = Seq(
    Q(
      "table_sql_read",
      // the DSv2 catalog path: the same snapshot table, reached from plain
      // SQL. The WHERE range rides the pushed-down filters into manifest
      // file pruning (SnapScanBuilder), then Spark's vectorized parquet
      // reader handles the surviving files — SQL users get the identical
      // skipping the readRange API gives.
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t = freshName()
        val root = s"$base/main/$t"
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderstatus"), col("o_totalprice"))
        graft.sources.SnapTable.create(s, root,
          o.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        graft.sources.SnapTable.append(s, root,
          o.filter(col("o_orderkey") % 3 === 1))
        s.sql(s"SELECT o_orderstatus, o_totalprice FROM snap.main.$t " +
            "WHERE o_orderkey BETWEEN 1 AND 2000")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE o_orderkey % 3 IN (0, 1) " +
          "AND o_orderkey BETWEEN 1 AND 2000 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_timetravel",
      // `VERSION AS OF` through the catalog's loadTable(ident, version)
      // AND `TIMESTAMP AS OF` through loadTable(ident, micros): both must
      // resolve v2's manifest — the v3 commit is invisible to a version
      // pin and to any wall-clock taken before it
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t = freshName()
        val root = s"$base/main/$t"
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"), col("o_totalprice"))
        graft.sources.SnapTable.create(s, root,
          o.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        graft.sources.SnapTable.append(s, root,
          o.filter(col("o_orderkey") % 3 === 1))
        val tMid = System.currentTimeMillis()
        Thread.sleep(5) // v3's commit ts must land strictly after tMid
        graft.sources.SnapTable.append(s, root,
          o.filter(col("o_orderkey") % 3 === 2))
        val byVersion = s.sql(s"SELECT o_orderpriority, o_totalprice " +
          s"FROM snap.main.$t VERSION AS OF 2")
        val byTs = s.sql(s"SELECT o_orderpriority, o_totalprice " +
          s"FROM snap.main.$t TIMESTAMP AS OF timestamp_millis($tMid)")
        require(byTs.count() == byVersion.count(),
          "TIMESTAMP AS OF must resolve the same snapshot as VERSION AS OF")
        byTs
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderpriority")
      },
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE o_orderkey % 3 IN (0, 1) " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    ),
    Q(
      "table_sql_insert",
      // DDL + DML through the catalog: CREATE TABLE (partitioned),
      // INSERT INTO (ACID append commit), INSERT OVERWRITE (one
      // replace-contents commit) — then read the final state back via SQL
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) " +
          "PARTITIONED BY (o_custkey)")
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT * FROM $v WHERE o_orderkey % 2 = 0")
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT * FROM $v WHERE o_orderkey % 2 = 1")
        s.sql(s"INSERT OVERWRITE snap.main.$t " +
          s"SELECT * FROM $v WHERE o_custkey % 5 = 0")
        s.sql(s"SELECT o_custkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE o_custkey % 5 = 0 GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_sql_delete",
      // DELETE FROM through the catalog (DSv2 SupportsDelete): the SQL
      // WHERE clause arrives as pushed filters, translates to the CoW
      // erasure verb, and commits one new snapshot — SQL users get the
      // GDPR path without touching the API. Two deletes (a compound
      // predicate and an IN-list) then the surviving state read back.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.sql(s"DELETE FROM snap.main.$t " +
          "WHERE o_totalprice > 250000 AND o_orderkey > 10000")
        s.sql(s"DELETE FROM snap.main.$t WHERE o_custkey IN (1, 2, 4, 7)")
        s.sql(s"SELECT o_custkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE NOT (o_totalprice > 250000 AND o_orderkey > 10000) " +
          "AND o_custkey NOT IN (1, 2, 4, 7) GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_snapshot_append",
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        SnapTable.create(s, root, o.filter(col("o_orderkey") % 3 === 0)
          .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        SnapTable.append(s, root, o.filter(col("o_orderkey") % 3 === 1)
          .repartitionByRange(4, col("o_orderkey")))
        SnapTable.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE o_orderkey % 3 IN (0, 1) " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_time_travel",
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        SnapTable.create(s, root, o.filter(col("o_orderkey") % 3 === 0)
          .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        SnapTable.append(s, root, o.filter(col("o_orderkey") % 3 === 1))
        SnapTable.append(s, root, o.filter(col("o_orderkey") % 3 === 2))
        SnapTable.readVersion(s, root, 2)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderpriority")
      },
      Some(
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE o_orderkey % 3 IN (0, 1) " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority")
    ),
    Q(
      "table_partition_evolve",
      // partition-spec evolution mid-history: era 1 lands clustered on
      // o_custkey, then the spec evolves (metadata-only — no rewrite;
      // TableFormatSpec pins the file list) and era 2 lands clustered on
      // o_orderkey. Each file prunes on its OWN era's clustering via
      // manifest stats, so the layout change costs one manifest write
      // instead of the full-table rewrite a path-partitioned format needs.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab_evo")
        val o = T(s, dir, "orders").select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        SnapTable.create(s, root, o.filter(col("o_orderkey") % 3 === 0),
          "o_orderkey", spec = Seq("o_custkey"))
        SnapTable.append(s, root, o.filter(col("o_orderkey") % 3 === 1))
        SnapTable.evolvePartition(s, root, Seq("o_orderkey"))
        SnapTable.append(s, root, o.filter(col("o_orderkey") % 3 === 2))
        val (pruned, _, _) =
          SnapTable.readRange(s, root, "o_custkey", 1L, 500L)
        pruned.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "WHERE o_custkey BETWEEN 1 AND 500 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_merge_cow",
      (s, dir) => {
        val root = mergedTable(s, dir)
        SnapTable.read(s, root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"))
          .orderBy("lang")
      },
      Some(mergeBaseSql +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars " +
        "FROM merged GROUP BY lang ORDER BY lang")
    ),
    Q(
      "table_changelog",
      (s, dir) => {
        val root = mergedTable(s, dir)
        SnapTable.changes(s, root, 1, 2, "doc_id")
          .groupBy("action")
          .agg(count(lit(1)).as("n"),
            sum(length(col("text")).cast("long")).as("n_chars"))
          .orderBy("action")
      },
      Some(
        "WITH base AS (SELECT doc_id, text FROM documents), " +
          "ch AS (SELECT 'delete' AS action, text FROM base " +
          "WHERE doc_id % 97 = 3 AND doc_id % 10 <> 0 " +
          "UNION ALL SELECT 'insert', text FROM base WHERE doc_id < 50 " +
          "UNION ALL SELECT 'update', text || ' v2' FROM base " +
          "WHERE doc_id % 10 = 0) " +
          "SELECT action, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(length(text)) AS BIGINT) AS n_chars " +
          "FROM ch GROUP BY action ORDER BY action")
    ),
    Q(
      "table_skip_prune",
      // manifest-level file skipping: the table is range-clustered on the
      // stats column at write, so the [1, 1500] read plans a scan over only
      // the overlapping files — driver-side, before any task launches
      // (TableFormatSpec asserts scanned < total at a fixed row layout)
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        SnapTable.create(s, root,
          o.repartitionByRange(16, col("o_orderkey")), "o_orderkey")
        val (df, _, _) = SnapTable.readRange(s, root, 1L, 1500L)
        df.agg(count(lit(1)).as("n"),
          dsum(col("o_totalprice"), 2).as("total"),
          min("o_orderkey").as("first_key"),
          max("o_orderkey").as("last_key"))
      },
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total, " +
          "min(o_orderkey) AS first_key, max(o_orderkey) AS last_key " +
          "FROM orders WHERE o_orderkey BETWEEN 1 AND 1500")
    ),
    Q(
      "table_schema_evolve",
      // schema-in-log evolution: v1 lacks o_orderpriority, the v2 APPEND
      // carries it — old files null-fill the new column on read because
      // the snapshot schema (not each footer) governs the scan; no data
      // file is rewritten and no mergeSchema footer sweep happens
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders")
        SnapTable.create(s, root,
          o.filter(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice"))
            .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        SnapTable.append(s, root,
          o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice"),
              col("o_orderpriority")))
        SnapTable.read(s, root)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .orderBy(col("o_orderpriority").asc_nulls_first)
      },
      Some(
        "WITH t AS (SELECT o_orderkey, o_totalprice, " +
          "NULL AS o_orderpriority FROM orders WHERE o_orderkey % 2 = 0 " +
          "UNION ALL SELECT o_orderkey, o_totalprice, o_orderpriority " +
          "FROM orders WHERE o_orderkey % 2 = 1) " +
          "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM t " +
          "GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST")
    ),
    Q(
      "table_stream_commit",
      // streaming → ACID table: each micro-batch lands as ONE snapshot
      // commit inside foreachBatch, so downstream readers only ever see
      // whole batches (no partial files), and the table's version history
      // IS the ingestion audit log. maxFilesPerTrigger forces multiple
      // batches so the multi-commit path actually runs.
      (s, dir) => {
        val src = graft.Tmp.dir("graft_tstream_src")
        val root = graft.Tmp.dir("graft_tstream_tab")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        ev.repartition(4).write.mode("append").parquet(src)
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 2).parquet(src)
          .writeStream
          .option("checkpointLocation", graft.Tmp.dir("graft_tstream_ck"))
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            if (java.nio.file.Files.exists(
                java.nio.file.Paths.get(root, "_log")))
              SnapTable.append(s, root, b)
            else SnapTable.create(s, root, b, "event_id")
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        SnapTable.read(s, root)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("event_id").as("n_ids"),
            dsum(col("value"), 2).as("sum_val"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids, " +
          dsumSql("value", 2) + " AS sum_val " +
          "FROM events GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "table_delete_where",
      // right-to-be-forgotten: erase every event of a user set by
      // predicate. CoW means the rewrite touches only files holding those
      // users' rows; vacuum afterwards makes the erasure physical (the
      // pre-delete snapshot is dropped, so no time travel resurrects it).
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
        SnapTable.create(s, root,
          ev.repartitionByRange(8, col("event_id")), "event_id")
        SnapTable.deleteWhere(s, root, col("user_id") % 7 === 3)
        SnapTable.vacuum(root, retainVersions = 1)
        SnapTable.read(s, root)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("user_id").as("n_users"),
            dsum(col("value"), 2).as("sum_val"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
          dsumSql("value", 2) + " AS sum_val " +
          "FROM events WHERE user_id % 7 <> 3 " +
          "GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "table_idempotent_commit",
      // at-least-once producer, exactly-once table: each micro-batch
      // commits via appendOnce(txnId = app/batch); the deliberately
      // redelivered batches after the stream are no-ops because their txn
      // ids are already in the log. n == n_ids in the output (and row
      // counts equal to the plain-events oracle) witness the dedup.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_txn_tab")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        def batch(i: Int) = ev.filter(col("event_id") % 3 === i)
        SnapTable.create(s, root, batch(0), "event_id")
        (1 to 2).foreach(i =>
          SnapTable.appendOnce(s, root, batch(i), s"ingest-$i"))
        // the at-least-once retry: every batch is DELIVERED AGAIN; the
        // txn log makes each a no-op instead of a duplicate append
        (1 to 2).foreach(i =>
          SnapTable.appendOnce(s, root, batch(i), s"ingest-$i"))
        SnapTable.read(s, root)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("event_id").as("n_ids"),
            dsum(col("value"), 2).as("sum_val"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(count(DISTINCT event_id) AS BIGINT) AS n_ids, " +
          dsumSql("value", 2) + " AS sum_val " +
          "FROM events GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "table_compact",
      // OPTIMIZE: five small appends fragment the table; compact rewrites
      // the live snapshot range-clustered at 4 files. The oracle pins the
      // content unchanged; TableFormatSpec pins the file physics (count
      // drops, clustering restores readRange pruning).
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice"))
        SnapTable.create(s, root, o.filter(col("o_orderkey") % 5 === 0)
          .repartition(4), "o_orderkey")
        (1 to 4).foreach(i => SnapTable.append(s, root,
          o.filter(col("o_orderkey") % 5 === i).repartition(4)))
        SnapTable.compact(s, root, targetFiles = 4)
        SnapTable.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_zorder_prune",
      // OPTIMIZE ZORDER on the table format: compact clustered by the
      // Morton interleave of (custkey bucket, order-day bucket), then
      // range-read each dimension INDEPENDENTLY — per-column manifest
      // stats prune files for both, which no single-column sort can do
      // (TableFormatSpec asserts scanned < total on each axis).
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
              .as("o_day"),
            col("o_totalprice"))
        SnapTable.create(s, root, o.repartition(8), "o_orderkey")
        def bit(c: org.apache.spark.sql.Column, i: Int) =
          shiftrightunsigned(c, i).bitwiseAND(lit(1L))
        // 8-bit buckets on both dimensions, widths derived from the actual
        // column ranges so each dimension fills its bit budget — an
        // unbalanced interleave lets one dimension dominate the file
        // splits and the other never prunes (OPTIMIZE computes layout
        // params from table stats for exactly this reason)
        val r = o.agg(min("o_custkey"), max("o_custkey"),
          min("o_day"), max("o_day")).collect()(0)
        def w(lo: Long, hi: Long) = math.max(1L, (hi - lo + 255) / 256)
        val w1 = w(r.getLong(0), r.getLong(1))
        val w2 = w(r.getLong(2), r.getLong(3))
        val b1 = least(expr(s"(o_custkey - ${r.getLong(0)}) div $w1"),
          lit(255L))
        val b2 = least(expr(s"(o_day - ${r.getLong(2)}) div $w2"),
          lit(255L))
        val morton = (0 until 8).map { i =>
          shiftleft(bit(b1, i), 2 * i)
            .bitwiseOR(shiftleft(bit(b2, i), 2 * i + 1))
        }.reduce(_ bitwiseOR _)
        SnapTable.compact(s, root, targetFiles = 16, clusterBy = Some(morton))
        val (byCust, _, _) = SnapTable.readRange(s, root, "o_custkey",
          1L, 500L)
        val (byDay, _, _) = SnapTable.readRange(s, root, "o_day",
          1500L, 1900L)
        byCust.agg(count(lit(1)).as("n_cust_slice"),
          dsum(col("o_totalprice"), 2).as("total_cust_slice"))
          .crossJoin(byDay.agg(count(lit(1)).as("n_day_slice"),
            dsum(col("o_totalprice"), 2).as("total_day_slice")))
      },
      Some(
        "SELECT " +
          "(SELECT CAST(count(*) AS BIGINT) FROM orders " +
          "WHERE o_custkey BETWEEN 1 AND 500) AS n_cust_slice, " +
          "(SELECT " + dsumSql("o_totalprice", 2) + " FROM orders " +
          "WHERE o_custkey BETWEEN 1 AND 500) AS total_cust_slice, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM orders " +
          "WHERE datediff('day', DATE '1992-01-01', o_orderdate) " +
          "BETWEEN 1500 AND 1900) AS n_day_slice, " +
          "(SELECT " + dsumSql("o_totalprice", 2) + " FROM orders " +
          "WHERE datediff('day', DATE '1992-01-01', o_orderdate) " +
          "BETWEEN 1500 AND 1900) AS total_day_slice")
    ),
    Q(
      "table_incremental_agg",
      // incremental view maintenance: the per-lang aggregate is kept
      // current by applying the signed CDC delta of the merge commit —
      // sum(_sign · metric) over ONLY the files the commit touched —
      // instead of recomputing over the table. The oracle is the full
      // recompute over the merged state: the two must agree exactly.
      (s, dir) => {
        val root = mergedTable(s, dir)
        val v1 = SnapTable.readVersion(s, root, 1)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"))
        val delta = SnapTable.changesDelta(s, root, 1, 2)
          .groupBy("lang")
          .agg(sum(col("_sign").cast("long")).as("dn"),
            sum(col("_sign") * length(col("text"))).cast("long").as("dchars"))
        v1.join(delta, Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n_docs"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_docs"),
            (coalesce(col("n_chars"), lit(0L)) +
              coalesce(col("dchars"), lit(0L))).as("n_chars"))
          .filter(col("n_docs") > 0)
          .orderBy("lang")
      },
      Some(mergeBaseSql +
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars " +
        "FROM merged GROUP BY lang ORDER BY lang")
    ),
    Q(
      "table_history",
      // DESCRIBE HISTORY over the shared merge workload: logical row
      // counts per version come from manifest stats alone (no data files
      // opened). File counts are layout-dependent, so the op emits the
      // stable audit columns: version, verb, rows.
      (s, dir) => {
        val root = mergedTable(s, dir)
        SnapTable.history(s, root)
          .select(col("version"), col("op"), col("n_rows"))
          .orderBy("version")
      },
      Some(
        "WITH base AS (SELECT doc_id FROM documents), " +
          "deleted AS (SELECT count(*) AS n FROM base " +
          "WHERE doc_id % 97 = 3 AND doc_id % 10 <> 0), " +
          "inserted AS (SELECT count(*) AS n FROM base WHERE doc_id < 50) " +
          "SELECT CAST(1 AS BIGINT) AS version, 'create' AS op, " +
          "CAST((SELECT count(*) FROM base) AS BIGINT) AS n_rows " +
          "UNION ALL SELECT 2, 'merge', " +
          "CAST((SELECT count(*) FROM base) - (SELECT n FROM deleted) " +
          "+ (SELECT n FROM inserted) AS BIGINT) " +
          "ORDER BY version")
    ),
    Q(
      "mm_shard_pack",
      // webdataset-style shard planning: pack blobs (documents' bytes —
      // octet_length, not char count) into ≤64 KB shards in doc order,
      // one running-sum window per source shard lane. Emits the shard
      // manifest a downstream dataloader consumes. An oversized blob
      // gets its own shard (standard tar-shard semantics).
      (s, dir) => {
        val cap = 65536L
        val lane = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        T(s, dir, "documents")
          .select(col("source"), col("doc_id"),
            octet_length(col("text")).cast("long").as("bytes"))
          .withColumn("prev", coalesce(sum("bytes").over(lane), lit(0L)))
          .withColumn("shard", floor(col("prev") / cap).cast("long"))
          .groupBy("source", "shard")
          .agg(count(lit(1)).as("n_blobs"),
            sum("bytes").as("bytes"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .orderBy("source", "shard")
      },
      Some(
        "WITH b AS (SELECT source, doc_id, " +
          "CAST(strlen(text) AS BIGINT) AS bytes FROM documents), " +
          "r AS (SELECT source, doc_id, bytes, " +
          "coalesce(sum(bytes) OVER (PARTITION BY source ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) " +
          "AS prev FROM b) " +
          "SELECT source, CAST(floor(prev / 65536) AS BIGINT) AS shard, " +
          "CAST(count(*) AS BIGINT) AS n_blobs, " +
          "CAST(sum(bytes) AS BIGINT) AS bytes, " +
          "min(doc_id) AS first_doc, max(doc_id) AS last_doc " +
          "FROM r GROUP BY 1, 2 ORDER BY source, shard")
    ),
    Q(
      "table_vacuum_read",
      (s, dir) => {
        val root = mergedTable(s, dir)
        SnapTable.vacuum(root, retainVersions = 1)
        SnapTable.read(s, root)
          .groupBy((col("doc_id") % 5).as("bucket"))
          .agg(count(lit(1)).as("n_docs"),
            sum(length(col("text")).cast("long")).as("n_chars"))
          .orderBy("bucket")
      },
      Some(mergeBaseSql +
        "SELECT doc_id % 5 AS bucket, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(length(text)) AS BIGINT) AS n_chars " +
        "FROM merged GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_multi_txn",
      // MULTI-TABLE TRANSACTION (graft.sources.SnapTxn, the manifest-of-
      // manifests layer): orders and their lineitems land in two
      // SnapTables through ONE atomic transaction per batch, so a
      // pinned-set reader can never see an order without its lines. Two
      // tx commits load two orderkey ranges; the result is the
      // cross-table-consistent join of the PINNED reads. SnapTxnSpec
      // pins the atomicity/conflict/orphan contracts the logical oracle
      // can't see; here DuckDB replays the final logical state from the
      // raw fixtures.
      (s, dir) => {
        val txroot = graft.Tmp.dir("graft_snaptxn")
        val ord = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"))
        val li = T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        SnapTable.create(s, s"$txroot/ord",
          ord.filter(col("o_orderkey") <= 2000), "o_orderkey")
        SnapTable.create(s, s"$txroot/li",
          li.filter(col("l_orderkey") <= 2000), "l_orderkey")
        graft.sources.SnapTxn.init(txroot, Seq("ord", "li"))
        graft.sources.SnapTxn.commit(s, txroot, Seq(
          "ord" -> ord.filter(col("o_orderkey") > 2000 &&
            col("o_orderkey") <= 4000),
          "li" -> li.filter(col("l_orderkey") > 2000 &&
            col("l_orderkey") <= 4000)), note = "load2")
        graft.sources.SnapTxn.commit(s, txroot, Seq(
          "ord" -> ord.filter(col("o_orderkey") > 4000 &&
            col("o_orderkey") <= 6000),
          "li" -> li.filter(col("l_orderkey") > 4000 &&
            col("l_orderkey") <= 6000)), note = "load3")
        graft.sources.SnapTxn.read(s, txroot, "ord")
          .join(graft.sources.SnapTxn.read(s, txroot, "li"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(countDistinct(col("o_orderkey")).as("n_orders"),
            count(lit(1)).as("n_lines"),
            sum(col("l_partkey")).as("sum_part"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o.o_custkey % 10 AS bucket, " +
          "CAST(count(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders, " +
          "CAST(count(*) AS BIGINT) AS n_lines, " +
          "CAST(sum(l.l_partkey) AS BIGINT) AS sum_part " +
          "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
          "WHERE o.o_orderkey <= 6000 AND l.l_orderkey <= 6000 " +
          "GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_stream_source",
      // STREAMING SOURCE over the table format: the commit log tailed as
      // micro-batches — offsets are table versions, the first batch is
      // the discovered snapshot, every later batch reads exactly the
      // files a commit added (the Delta-streaming idea re-derived).
      // Three commits land before the stream starts; AvailableNow drains
      // them through the version-offset path into a windowless
      // aggregation (`readStream.table("snap.db.t")`, SnapMicroBatch).
      // SnapStreamSpec pins the incremental contracts (checkpoint
      // resumption, changes-only startingVersion, rewrite guard) that
      // this one-shot oracle can't see.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
        (0 until 3).foreach(i =>
          docs.filter(col("doc_id") % 3 === i)
            .write.mode("append").insertInto(s"snap.main.$t"))
        val name = s"snapstream_op_${System.nanoTime()}"
        graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.main.$t")
            .groupBy("lang")
            .agg(count(lit(1)).as("n_docs"),
              sum("n_chars").as("sum_chars"))
            .writeStream.format("memory").queryName(name)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.table(name).orderBy("lang")
      },
      Some(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(length(text)) AS BIGINT) AS sum_chars " +
          "FROM documents GROUP BY lang ORDER BY lang")
    ),
    Q(
      "table_stream_pipeline",
      // TABLE-TO-TABLE incremental pipeline, exactly-once end to end:
      // the streaming read tails the upstream table's commit log (source
      // side exactly-once: version offsets in the checkpoint), a stateless
      // transform runs per batch, and foreachBatch lands each batch in a
      // DOWNSTREAM SnapTable via appendOnce keyed by batchId — so a
      // retried batch is a no-op commit (sink side idempotent). This is
      // the composed shape a 100 TB ingest→curate chain runs on: cost
      // per hop proportional to the commit, never a table rescan, and
      // the downstream version history audits the upstream batches.
      // The stream runs TWICE on one checkpoint (upstream grows between
      // runs) to exercise the incremental path, not just the snapshot.
      // The upstream tail is `readStream.table` (SnapMicroBatch).
      (s, dir) => {
        sqlWarehouse(s)
        val up = freshName()
        val down = graft.Tmp.dir("graft_pipe_down")
        val ckpt = graft.Tmp.dir("graft_pipe_ckpt")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        def transform(df: org.apache.spark.sql.DataFrame) =
          df.select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"),
            (size(split(col("text"), " "))).cast("long").as("n_toks"))
        def hop(): Unit = graft.StreamRun.withStateParts(s) {
          val q = transform(s.readStream.table(s"snap.main.$up"))
            .writeStream
            .option("checkpointLocation", ckpt)
            // EVERY batch (including a retried batch 0) lands through the
            // idempotent txn path — the downstream table pre-exists
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
              SnapTable.appendOnce(s, down, b, txnId = s"pipe-$id")
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.sql(s"CREATE TABLE snap.main.$up " +
          "(doc_id BIGINT, lang STRING, text STRING)")
        docs.filter(col("doc_id") % 2 === 0)
          .write.mode("append").insertInto(s"snap.main.$up")
        SnapTable.createEmpty(down, transform(docs.limit(0)).schema,
          "doc_id")
        hop() // snapshot batch
        docs.filter(col("doc_id") % 2 === 1)
          .write.mode("append").insertInto(s"snap.main.$up")
        hop() // incremental batch: only the second commit's files
        SnapTable.read(s, down)
          .groupBy("lang")
          .agg(countDistinct("doc_id").as("n_docs"),
            sum("n_chars").as("sum_chars"),
            sum("n_toks").as("sum_toks"))
          .orderBy("lang")
      },
      Some(
        "SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs, " +
          "CAST(sum(length(text)) AS BIGINT) AS sum_chars, " +
          "CAST(sum(length(text) - length(replace(text, ' ', '')) + 1) " +
          "AS BIGINT) AS sum_toks " +
          "FROM documents GROUP BY lang ORDER BY lang")
    ),
    Q(
      "table_clone",
      // ZERO-COPY SHALLOW CLONE: the dev/staging fork verb — v1 of the
      // clone references the source snapshot's files (one manifest
      // write, no data movement at any table size), then copy-on-write
      // isolates all divergence: the clone's append lands in its own
      // data dir and its deleteWhere rewrites only into the clone, while
      // the source keeps serving its original content untouched. The
      // result joins both tables' post-divergence aggregates so the
      // oracle checks ISOLATION, not just the copy.
      (s, dir) => {
        val src = graft.Tmp.dir("graft_clone_src")
        val dst = graft.Tmp.dir("graft_clone_dst")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"),
            length(col("text")).cast("long").as("n_chars"))
        SnapTable.create(s, src, docs.filter(col("doc_id") % 3 === 0),
          "doc_id")
        SnapTable.clone(s, src, dst)
        // diverge the clone both ways; the source must not move
        SnapTable.append(s, dst, docs.filter(col("doc_id") % 3 === 1))
        SnapTable.deleteWhere(s, dst, col("lang") === "en")
        val agg = (t: org.apache.spark.sql.DataFrame) => t
          .groupBy("lang").agg(count(lit(1)).as("n"),
            sum("n_chars").as("chars"))
        agg(SnapTable.read(s, src)).withColumnRenamed("n", "src_n")
          .withColumnRenamed("chars", "src_chars")
          .join(agg(SnapTable.read(s, dst))
            .withColumnRenamed("n", "dst_n")
            .withColumnRenamed("chars", "dst_chars"),
            Seq("lang"), "full_outer")
          .orderBy("lang")
      },
      Some(
        "WITH d AS (SELECT doc_id, lang, " +
          "CAST(length(text) AS BIGINT) AS n_chars FROM documents), " +
          "src AS (SELECT lang, CAST(count(*) AS BIGINT) AS src_n, " +
          "CAST(sum(n_chars) AS BIGINT) AS src_chars FROM d " +
          "WHERE doc_id % 3 = 0 GROUP BY lang), " +
          "dst AS (SELECT lang, CAST(count(*) AS BIGINT) AS dst_n, " +
          "CAST(sum(n_chars) AS BIGINT) AS dst_chars FROM d " +
          "WHERE doc_id % 3 IN (0, 1) AND lang <> 'en' GROUP BY lang) " +
          "SELECT coalesce(src.lang, dst.lang) AS lang, src_n, " +
          "src_chars, dst_n, dst_chars " +
          "FROM src FULL OUTER JOIN dst ON src.lang = dst.lang " +
          "ORDER BY lang")
    ),
    Q(
      "table_delete_mor",
      // MERGE-ON-READ DELETE (deletion vectors — the Delta DV / Iceberg
      // v2 position-delete idea): two stacked deletes each commit only
      // the (file, row-index) positions of their matches — no data file
      // is rewritten, so delete cost is O(matches) however the rows are
      // scattered (the worst case for copy-on-write). Reads subtract the
      // DVs with one broadcast anti-join; OPTIMIZE materializes them.
      // The op reads through BOTH stacked DVs and then through the
      // compacted (materialized) snapshot and returns the latter —
      // TableFormatSpec pins that files were untouched until compaction.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_mor_tab")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("user_id"),
            col("value"))
        SnapTable.create(s, root,
          ev.repartitionByRange(8, col("event_id")), "event_id")
        SnapTable.deleteWhereMoR(s, root, col("event_type") === "error")
        SnapTable.deleteWhereMoR(s, root, col("user_id") % 10 === 3)
        val viaDv = SnapTable.read(s, root)
        SnapTable.compact(s, root, targetFiles = 4)
        val materialized = SnapTable.read(s, root)
        // both read paths must agree before the materialized one returns
        require(viaDv.count() == materialized.count(),
          "DV read and materialized read disagree")
        materialized
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct("user_id").as("n_users"),
            dsum(col("value"), 2).as("sum_val"))
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, " +
          dsumSql("value", 2) + " AS sum_val " +
          "FROM events WHERE event_type <> 'error' AND user_id % 10 <> 3 " +
          "GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "table_constraints",
      // CHECK CONSTRAINTS (data contracts in the table, not the
      // pipeline): ADD CONSTRAINT validates existing rows first, then
      // every append pays one O(batch) predicate pass — a bad batch
      // fails BEFORE any manifest links, so the table can never hold a
      // row its contract rejects. Two good batches land, a violating
      // batch is rejected (leaving no version behind), and the final
      // state — which the oracle replays — proves exactly the conforming
      // rows arrived.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_checks_tab")
        val ord = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"))
        SnapTable.create(s, root,
          ord.filter(col("o_orderkey") % 3 === 0), "o_orderkey")
        SnapTable.addCheck(s, root, "price_pos", "o_totalprice > 0")
        SnapTable.addCheck(s, root, "key_nonneg", "o_orderkey >= 0")
        SnapTable.append(s, root, ord.filter(col("o_orderkey") % 3 === 1))
        // the poisoned batch (negated prices) must be rejected whole
        val poisoned = ord.filter(col("o_orderkey") % 3 === 2)
          .withColumn("o_totalprice", -col("o_totalprice"))
        val rejected =
          try { SnapTable.append(s, root, poisoned); false }
          catch { case _: SnapTable.ConstraintViolationException => true }
        require(rejected, "constraint failed to reject the bad batch")
        SnapTable.append(s, root, ord.filter(col("o_orderkey") % 3 === 2))
        SnapTable.read(s, root)
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_cdc_mor",
      // DV-AWARE SIGNED CDC: changesDelta across a mixed commit chain —
      // an append (v2) then a merge-on-read delete (v3, positions only,
      // no file touched). The +1 side is the appended files read UNDER
      // the head's deletion vectors (rows both appended and then DV'd
      // net out); the -1 side is the DV position diff joined back to
      // the carried files. A downstream view maintained as
      // initial-state + signed delta must equal the live table — IO is
      // the appended files plus the deleted positions, never a rescan.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_cdcmor_tab")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("user_id"),
            col("value"))
        SnapTable.create(s, root,
          ev.filter(col("event_id") % 2 === 0)
            .repartitionByRange(4, col("event_id")), "event_id")
        SnapTable.append(s, root, ev.filter(col("event_id") % 2 === 1))
        SnapTable.deleteWhereMoR(s, root, col("event_type") === "error")
        val signed = SnapTable.readVersion(s, root, 1)
          .withColumn("_sign", lit(1))
          .unionByName(SnapTable.changesDelta(s, root, 1,
            SnapTable.latestVersion(root)))
        signed
          .groupBy("event_type")
          .agg(sum(col("_sign").cast("long")).as("n"),
            (sum(col("_sign").cast("long") *
              round(col("value") * 100).cast("long")) / 100).as("sum_val"))
          .filter(col("n") > 0)
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(value * 100) AS BIGINT)) / 100 AS sum_val " +
          "FROM events WHERE event_type <> 'error' " +
          "GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "table_stream_cdc",
      // STREAMING CHANGE FEED (the `.changes` companion of a path-only
      // table — the Delta-CDF idea on the manifest diff): each drained
      // batch emits the SIGNED file-level delta (+1 added-file rows, −1
      // removed-file rows), so a downstream linear aggregate is
      // maintained through appends AND deletes/rewrites — copied rows
      // cancel, removed rows subtract. Three commits (create, append,
      // predicate DELETE) are each drained through one checkpoint; the
      // maintained view (net signed sums) must equal the live table,
      // with the deleted group netting to zero. IO per drain is the
      // commit's file diff, never a table rescan — incremental view
      // maintenance at commit cost.
      (s, dir) => {
        sqlWarehouse(s)
        val root = graft.Tmp.dir("graft_cdc_tab")
        val sink = graft.Tmp.dir("graft_cdc_sink")
        val ckpt = graft.Tmp.dir("graft_cdc_ckpt")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("value"))
        def drain(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.`$root`.changes")
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        SnapTable.create(s, root,
          ev.filter(col("event_id") % 2 === 0), "event_id")
        drain()
        SnapTable.append(s, root, ev.filter(col("event_id") % 2 === 1))
        drain()
        SnapTable.deleteWhere(s, root, col("event_type") === "click")
        drain()
        s.read.parquet(sink)
          .groupBy("event_type")
          .agg(sum(col("_sign").cast("long")).as("n"),
            (sum(col("_sign").cast("long") *
              round(col("value") * 100).cast("long")) / 100).as("sum_val"))
          .filter(col("n") > 0)
          .orderBy("event_type")
      },
      Some(
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(value * 100) AS BIGINT)) / 100 AS sum_val " +
          "FROM events WHERE event_type <> 'click' " +
          "GROUP BY event_type ORDER BY event_type")
    ),
    Q(
      "table_spj",
      // STORAGE-PARTITIONED JOIN: orders and customer both land in the
      // bucket(8, custkey) layout (one bucket id per file, recorded in
      // the manifest), both scans report KeyGroupedPartitioning through
      // the native V2 batch, and the join + per-key aggregate plan with
      // ZERO shuffle exchanges — asserted on the plan before returning.
      // At 100 TB this is the table-format capability that deletes the
      // exchange from a fact-fact join; the broadcast-threshold and AQE
      // confs are restored before the result evaluates.
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t1 = freshName()
        val t2 = freshName()
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = T(s, dir, "customer").select(
          col("c_custkey"), col("c_acctbal"))
        SnapTable.createBucketed(s, s"$base/main/$t1", o, "o_orderkey",
          "o_custkey", 8)
        SnapTable.createBucketed(s, s"$base/main/$t2", c, "c_custkey",
          "c_custkey", 8)
        val keys = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.enabled")
        val saved = keys.map(k => k -> s.conf.getOption(k))
        s.conf.set(keys(0), "true")
        s.conf.set(keys(1), "true")
        s.conf.set(keys(2), "-1")
        s.conf.set(keys(3), "false")
        try {
          val df = s.sql(
            s"""SELECT c.c_custkey AS custkey,
               |  count(*) AS n_orders,
               |  sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100
               |    AS total
               |FROM snap.main.$t1 o JOIN snap.main.$t2 c
               |  ON o.o_custkey = c.c_custkey
               |GROUP BY c.c_custkey
               |ORDER BY custkey""".stripMargin)
          val plan = df.queryExecution.executedPlan.toString
          // the ONLY exchange allowed is the final ORDER BY's range
          // repartition — join and aggregate ride the bucket layout
          require(!plan.contains("Exchange hashpartitioning") &&
            !plan.contains("BroadcastExchange"),
            s"table_spj must join and aggregate shuffle-free, got:\n$plan")
          // executedPlan is cached on the QueryExecution — the conf
          // restore below cannot re-introduce the exchange
          df
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some(
        "SELECT c_custkey AS custkey, CAST(count(*) AS BIGINT) " +
          "AS n_orders, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
          "AS total " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "GROUP BY c_custkey ORDER BY custkey")
    ),
    Q(
      "table_spj_nosort",
      // SPJ with REPORTED ORDERING (SupportsReportOrdering): the bucket
      // write path lands every file internally sorted by the bucket
      // column, and a one-file-per-bucket table reports that per-
      // partition order — so the co-bucketed join plans SortMergeJoin
      // with ZERO exchanges AND ZERO SortExec. At 100 TB the two big
      // costs of a fact-fact join (the shuffle, then the per-partition
      // sort of both sides) both disappear at plan time; asserted on
      // the executed plan in-op.
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t1 = freshName()
        val t2 = freshName()
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = T(s, dir, "customer").select(
          col("c_custkey"), col("c_acctbal"))
        SnapTable.createBucketed(s, s"$base/main/$t1", o, "o_orderkey",
          "o_custkey", 8)
        SnapTable.createBucketed(s, s"$base/main/$t2", c, "c_custkey",
          "c_custkey", 8)
        val keys = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.enabled")
        val saved = keys.map(k => k -> s.conf.getOption(k))
        s.conf.set(keys(0), "true")
        s.conf.set(keys(1), "true")
        s.conf.set(keys(2), "-1")
        s.conf.set(keys(3), "false")
        try {
          val df = s.sql(
            s"""SELECT o.o_orderkey, o.o_totalprice, c.c_acctbal
               |FROM snap.main.$t1 o JOIN snap.main.$t2 c
               |  ON o.o_custkey = c.c_custkey
               |ORDER BY o.o_orderkey""".stripMargin)
          // the final ORDER BY adds its own exchange+sort ABOVE the
          // join, so the claim is asserted on the JOIN subtree
          val smj = df.queryExecution.executedPlan.collectFirst {
            case j: org.apache.spark.sql.execution.joins
                .SortMergeJoinExec => j
          }.getOrElse(sys.error("table_spj_nosort: no SortMergeJoin " +
            s"in:\n${df.queryExecution.executedPlan}"))
          val bad = smj.collect {
            case e: org.apache.spark.sql.execution.exchange
                .ShuffleExchangeExec => e
            case so: org.apache.spark.sql.execution.SortExec => so
          }
          require(bad.isEmpty,
            s"SPJ join subtree must be exchange- and sort-free:\n$smj")
          df.select(col("o_orderkey"),
            dround(col("o_totalprice"), 2).as("price"),
            dround(col("c_acctbal"), 2).as("acctbal"))
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some(
        "SELECT o_orderkey, " + droundSql("o_totalprice", 2) +
          " AS price, " + droundSql("c_acctbal", 2) + " AS acctbal " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "ORDER BY o_orderkey")
    ),
    Q(
      "table_sql_merge",
      // SQL MERGE INTO through the DSv2 row-level-operation API: all
      // three clause kinds in one statement (matched-update,
      // matched-delete, not-matched-insert), group-based copy-on-write
      // underneath — Spark's runtime group filter narrows the rewrite
      // to files holding a matched key (pinned in SqlMergeSpec), so the
      // commit cost is O(matched files), not O(table). The oracle
      // restates the post-merge table directly over the fixtures.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.sql(
          s"""MERGE INTO snap.main.$t t USING (
             |  SELECT o_orderkey AS k, o_custkey AS ck,
             |         o_totalprice + 1000 AS p, FALSE AS del
             |  FROM $v WHERE o_orderkey % 7 = 0
             |  UNION ALL
             |  SELECT o_orderkey, o_custkey, o_totalprice, TRUE
             |  FROM $v WHERE o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0
             |  UNION ALL
             |  SELECT o_orderkey + 30000000, o_custkey,
             |         o_totalprice + 500.25, FALSE
             |  FROM $v WHERE o_orderkey < 100
             |) s ON t.o_orderkey = s.k
             |WHEN MATCHED AND s.del THEN DELETE
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_totalprice)
             |  VALUES (s.k, s.ck, s.p)""".stripMargin)
        s.sql(s"SELECT o_orderkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "WITH merged AS (" +
          "SELECT o_orderkey, CASE WHEN o_orderkey % 7 = 0 " +
          "THEN o_totalprice + 1000 ELSE o_totalprice END AS p " +
          "FROM orders " +
          "WHERE NOT (o_orderkey % 13 = 0 AND o_orderkey % 7 <> 0) " +
          "UNION ALL SELECT o_orderkey + 30000000, o_totalprice + 500.25 " +
          "FROM orders WHERE o_orderkey < 100) " +
          "SELECT o_orderkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(p * 100) AS BIGINT)) / 100 AS total " +
          "FROM merged GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_merge_api",
      // the Spark-4 `Dataset.mergeInto` builder — MERGE declared in code
      // instead of SQL text (the programmatic upsert surface ETL
      // frameworks generate). Resolves through the SAME DSv2
      // row-level-operation path as table_sql_merge, so the group-based
      // CoW narrowing applies unchanged; clauses here: conditional
      // matched-update, matched-delete, and not-matched-insert.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        val src = s.table(v)
          .select(col("o_orderkey").as("k"), col("o_custkey").as("ck"),
            (col("o_totalprice") + 250).as("p"))
          .filter(col("k") % 5 === 0 || col("k") < 200)
          .alias("src")
        src.mergeInto(s"snap.main.$t",
            col(s"$t.o_orderkey") === col("src.k"))
          .whenMatched(col("src.k") % 25 === 0).delete()
          .whenMatched().update(Map(
            "o_totalprice" -> col("src.p")))
          .whenNotMatched().insert(Map(
            "o_orderkey" -> (col("src.k") + 40000000L),
            "o_custkey" -> col("src.ck"),
            "o_totalprice" -> col("src.p")))
          .merge()
        s.sql(s"SELECT o_orderkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      // every source row matches (the source is drawn from the target
      // keys), so the not-matched insert contributes nothing: the
      // post-merge table = target minus %25 keys, with +250 on the other
      // source keys
      Some(
        "WITH merged AS (" +
          "SELECT o_orderkey, CASE WHEN o_orderkey % 5 = 0 " +
          "OR o_orderkey < 200 THEN o_totalprice + 250 " +
          "ELSE o_totalprice END AS p FROM orders " +
          "WHERE NOT ((o_orderkey % 5 = 0 OR o_orderkey < 200) " +
          "AND o_orderkey % 25 = 0)) " +
          "SELECT o_orderkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(p * 100) AS BIGINT)) / 100 AS total " +
          "FROM merged GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_limit_pushdown",
      // DSv2 LIMIT pushdown (SupportsPushDownLimit): a head query over
      // the native scan truncates the FILE LIST to a prefix whose
      // manifest row counts cover the limit — asserted in-op: the
      // limited plan's scan holds strictly fewer files than the table,
      // but still at least the limit's worth of rows. Reported as
      // partially pushed, so Spark's own limit stays above the scan and
      // exactness never depends on the truncation.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(16, col("o_orderkey"))
          .createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        val limited = s.sql(s"SELECT * FROM snap.main.$t LIMIT 1200")
        val scanFiles = limited.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec =>
            b.scan.asInstanceOf[graft.sources.SnapBatchScan].files
        }.head
        val total = s.sql(s"SELECT * FROM snap.main.$t")
          .queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
                .BatchScanExec =>
              b.scan.asInstanceOf[graft.sources.SnapBatchScan].files
          }.head
        require(scanFiles.size < total.size,
          s"LIMIT must truncate the file list " +
            s"(${scanFiles.size}/${total.size})")
        require(scanFiles.map(_.rows).sum >= 1200,
          "the kept prefix must cover the limit")
        limited.agg(count(lit(1)).as("n"))
      },
      Some("SELECT CAST(least(1200, count(*)) AS BIGINT) AS n FROM orders")
    ),
    Q(
      "table_topn_pushdown",
      // DSv2 TopN pushdown (SupportsPushDownTopN): ORDER BY key LIMIT n
      // on a range-clustered table keeps only the files whose [min,max]
      // can reach the top-n threshold — the "latest n orders" query
      // reads O(1) files at any table size. Deterministic output (the
      // exact top 20 by (key)), so the oracle restates it directly;
      // the file-cover assertion runs in-op.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(16, col("o_orderkey"))
          .createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        def files(sql: String) =
          s.sql(sql).queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
                .BatchScanExec =>
              b.scan.asInstanceOf[graft.sources.SnapBatchScan].files
          }.head
        val q = s"SELECT o_orderkey, o_totalprice FROM snap.main.$t " +
          "ORDER BY o_orderkey DESC LIMIT 20"
        val covered = files(q)
        val total = files(s"SELECT * FROM snap.main.$t")
        require(covered.size < total.size,
          s"TopN must truncate the file list " +
            s"(${covered.size}/${total.size})")
        s.sql(q).select(col("o_orderkey"),
          dround(col("o_totalprice"), 2).as("price"))
      },
      Some(
        "SELECT o_orderkey, " + droundSql("o_totalprice", 2) +
          " AS price FROM orders ORDER BY o_orderkey DESC LIMIT 20")
    ),
    Q(
      "table_export_manifest",
      // interop export (the symlink-manifest idea): a snapshot's file
      // list written as one text manifest that ANY engine can consume —
      // external readers get a consistent point-in-time view without
      // speaking the commit log. The op proves the exported list is the
      // snapshot: reading exactly the manifest's files reproduces the
      // table. Driver-side cost is one metadata listing — the same
      // O(|files|) every manifest format pays.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_snaptab")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        SnapTable.create(s, root,
          o.repartitionByRange(8, col("o_orderkey")), "o_orderkey")
        val snap = SnapTable.load(root, 1)
        val exportDir = graft.Tmp.dir("graft_manifest_out")
        val manifest = java.nio.file.Paths.get(exportDir, "manifest.txt")
        java.nio.file.Files.write(manifest,
          snap.files.map(f => java.nio.file.Paths.get(root)
            .toAbsolutePath.resolve(f.path).normalize().toString)
            .sorted.mkString("\n").getBytes("UTF-8"))
        // an external engine's view: just the listed files
        val listed = new String(java.nio.file.Files.readAllBytes(manifest),
          "UTF-8").split("\n").toSeq
        require(listed.size == snap.files.size && listed.forall(p =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
          "manifest must list exactly the snapshot's live files")
        s.read.schema(o.schema).parquet(listed: _*)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("o_totalprice", 2) + " AS total FROM orders " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_update",
      // SQL UPDATE through the same row-level-operation path: a
      // predicate too selective-by-value to be a metadata-only delete
      // still commits one file-granular CoW snapshot.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.sql(s"UPDATE snap.main.$t SET o_totalprice = o_totalprice + 100" +
          " WHERE o_custkey % 10 = 3")
        s.sql(s"SELECT o_custkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round((CASE WHEN o_custkey % 10 = 3 " +
          "THEN o_totalprice + 100 ELSE o_totalprice END) * 100) " +
          "AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_generated_cols",
      // GENERATED ALWAYS AS columns: manifest-declared expressions,
      // computed at write time when the batch omits the column and
      // VALIDATED row-for-row when it provides one (mismatch fails the
      // commit — TableFormatSpec pins that). One append of each kind,
      // then the logical table restated by the oracle computing the
      // same expression itself.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_gencol")
        val docs = T(s, dir, "documents")
          .select(col("doc_id"), col("lang"), col("text"))
        val schema = org.apache.spark.sql.types.StructType(
          docs.schema.fields :+ org.apache.spark.sql.types.StructField(
            "tlen", org.apache.spark.sql.types.LongType))
        SnapTable.createEmpty(root, schema, "doc_id")
        SnapTable.addGenerated(s, root, "tlen",
          "CAST(length(text) AS BIGINT)")
        // batch 1 omits the column → computed at write
        SnapTable.append(s, root, docs.filter(col("doc_id") % 2 === 0))
        // batch 2 provides it (correctly) → validated, not recomputed
        SnapTable.append(s, root, docs.filter(col("doc_id") % 2 === 1)
          .withColumn("tlen", length(col("text")).cast("long")))
        SnapTable.read(s, root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum(col("tlen")).as("chars"))
          .orderBy("lang")
      },
      Some(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(length(text)) AS BIGINT) AS chars " +
          "FROM documents GROUP BY lang ORDER BY lang")
    ),
    Q(
      "table_branch_wap",
      // Write-audit-publish over zero-copy branches + immutable tags:
      // tag the baseline, fork an `audit` branch, append a batch and
      // scrub its bad rows BRANCH-SIDE (a CoW delete main never sees),
      // then publish — a fast-forward that hard-links the branch's
      // files into main (no data copied or moved at any step). Output
      // proves isolation (main unchanged pre-publish), the published
      // state, and the tag still pinning the baseline afterwards.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_wap")
        val orders = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"))
        SnapTable.create(s, root,
          orders.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        SnapTable.createTag(root, "baseline")
        SnapTable.createBranch(s, root, "audit")
        val b = SnapTable.branchRoot(root, "audit")
        SnapTable.append(s, b,
          orders.filter(col("o_orderkey") % 3 === 1))
        // the audit gate: anything above the price cap is scrubbed on
        // the branch before it can reach main
        SnapTable.deleteWhere(s, b, col("o_totalprice") > 400000.0)
        val mainPre = SnapTable.read(s, root).count()
        SnapTable.publishBranch(s, root, "audit")
        SnapTable.dropBranch(root, "audit") // published links survive
        SnapTable.read(s, root)
          .agg(count(lit(1)).as("n_published"),
            (sum(round(col("o_totalprice") * 100).cast("long")) / 100)
              .as("total_published"))
          .withColumn("n_main_pre_publish", lit(mainPre))
          .withColumn("n_tag_baseline",
            lit(SnapTable.readTag(s, root, "baseline").count()))
          .select(col("n_published"), col("total_published"),
            col("n_main_pre_publish"), col("n_tag_baseline"))
      },
      Some(
        "WITH pub AS (SELECT * FROM orders WHERE o_orderkey % 3 <= 1 " +
          "AND o_totalprice <= 400000) " +
          "SELECT CAST(count(*) AS BIGINT) AS n_published, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
          "AS total_published, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM orders " +
          "WHERE o_orderkey % 3 = 0) AS n_main_pre_publish, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM orders " +
          "WHERE o_orderkey % 3 = 0) AS n_tag_baseline " +
          "FROM pub")
    ),
    Q(
      "table_stream_upsert",
      // STREAMING UPSERT sink, exactly-once: the streaming read tails the
      // upstream commit log and foreachBatch lands each batch through
      // mergeOnce keyed by batchId — the merge-verb twin of the
      // appendOnce pipeline. A redelivered batch is a no-op txn hit; a
      // later commit carrying revised rows UPDATES the downstream keys
      // instead of duplicating them. This is the CDC-consumer shape: a
      // 100 TB dimension table maintained by key from a change feed,
      // each hop costing O(batch) + O(files holding matched keys).
      (s, dir) => {
        sqlWarehouse(s)
        val up = graft.Tmp.dir("graft_ups_up")
        val down = graft.Tmp.dir("graft_ups_down")
        val ckpt = graft.Tmp.dir("graft_ups_ckpt")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        def hop(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.`$up`")
            .writeStream
            .option("checkpointLocation", ckpt)
            .foreachBatch { (b: org.apache.spark.sql.DataFrame,
                id: Long) =>
              SnapTable.mergeOnce(s, down, b, "o_orderkey", None,
                txnId = s"ups-$id")
              ()
            }
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        SnapTable.create(s, up,
          orders.filter(col("o_orderkey") % 2 === 0), "o_orderkey")
        SnapTable.append(s, up,
          orders.filter(col("o_orderkey") % 2 === 1))
        SnapTable.createEmpty(down, orders.schema, "o_orderkey")
        hop() // snapshot batch: both commits, all inserts
        // upstream revision: every %7==0 order re-priced — the hop must
        // UPDATE those keys downstream, not append duplicates
        SnapTable.append(s, up,
          orders.filter(col("o_orderkey") % 7 === 0)
            .withColumn("o_totalprice", col("o_totalprice") * 2))
        hop() // incremental batch: only the revision's files
        SnapTable.read(s, down)
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            (sum(round(col("o_totalprice") * 100).cast("long")) / 100)
              .as("total"))
          .orderBy("bucket")
      },
      Some(
        "WITH ups AS (SELECT o_custkey, CASE WHEN o_orderkey % 7 = 0 " +
          "THEN o_totalprice * 2 ELSE o_totalprice END AS p " +
          "FROM orders) " +
          "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(p * 100) AS BIGINT)) / 100 AS total " +
          "FROM ups GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_sql_ddl_evolve",
      // ALTER TABLE ADD COLUMN through the catalog: a metadata-only
      // commit widens the snapshot schema; rows written before it
      // null-fill the new column on read (no rewrite of any byte), rows
      // after it carry real values — the SQL face of additive schema
      // evolution. Aggregates over the mixed table prove both eras read
      // under one schema.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("text")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t (doc_id BIGINT, lang STRING)")
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT doc_id, lang FROM $v WHERE doc_id % 2 = 0")
        s.sql(s"ALTER TABLE snap.main.$t ADD COLUMN n_chars BIGINT")
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT doc_id, lang, CAST(length(text) AS BIGINT) " +
          s"FROM $v WHERE doc_id % 2 = 1")
        s.sql(s"SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
          s"CAST(count(n_chars) AS BIGINT) AS n_evolved, " +
          s"CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS sum_chars " +
          s"FROM snap.main.$t GROUP BY lang ORDER BY lang")
      },
      Some(
        "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS BIGINT) " +
          "AS n_evolved, " +
          "CAST(coalesce(sum(CASE WHEN doc_id % 2 = 1 " +
          "THEN length(text) END), 0) AS BIGINT) AS sum_chars " +
          "FROM documents GROUP BY lang ORDER BY lang")
    ),
    Q(
      "table_point_index",
      // BLOOM-INDEX point lookups: the table is range-clustered on
      // l_orderkey, so every file's [min,max] for l_partkey spans the
      // whole domain — range stats prune NOTHING for a partkey probe.
      // The per-file bloom sidecar (addBloomIndex) skips the files that
      // provably lack the key; at 100 TB that's the difference between
      // a needle lookup reading ~1 file and scanning the table.
      // TableFormatSpec pins the actual file-skip counts; the oracle
      // checks the lookups return exactly the right rows.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_bloomix")
        val li = T(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        SnapTable.create(s, root,
          li.repartitionByRange(8, col("l_orderkey")), "l_orderkey")
        SnapTable.addBloomIndex(s, root, "l_partkey")
        Seq(1L, 2L, 3L)
          .map(p => SnapTable.readPoint(s, root, "l_partkey", p)._1)
          .reduce(_ unionByName _)
          .groupBy("l_partkey")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_quantity"), 2).as("qty"),
            dsum(col("l_extendedprice"), 2).as("revenue"))
          .orderBy("l_partkey")
      },
      Some(
        "SELECT l_partkey, CAST(count(*) AS BIGINT) AS n, " +
          dsumSql("l_quantity", 2) + " AS qty, " +
          dsumSql("l_extendedprice", 2) + " AS revenue " +
          "FROM lineitem WHERE l_partkey IN (1, 2, 3) " +
          "GROUP BY l_partkey ORDER BY l_partkey")
    ),
    Q(
      "table_string_prune",
      // STRING manifest stats: a lang-partitioned table records per-file
      // [min,max] STRING bounds (short-ASCII guard), so `lang = 'en'`
      // prunes whole files from the DRIVER exactly like numeric ranges —
      // the category-predicate skip every curation query over a
      // 100 TB multilingual corpus leans on. SnapCatalogSpec pins the
      // actual file-skip counts; the oracle checks the filtered result.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "documents").select(col("doc_id"), col("lang"),
            col("source"), col("n_chars")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t (doc_id BIGINT, lang STRING, " +
          "source STRING, n_chars BIGINT) PARTITIONED BY (lang)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.sql(s"SELECT source, CAST(count(*) AS BIGINT) AS n, " +
          s"CAST(sum(n_chars) AS BIGINT) AS chars " +
          s"FROM snap.main.$t WHERE lang = 'en' " +
          s"GROUP BY source ORDER BY source")
      },
      Some(
        "SELECT source, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(n_chars) AS BIGINT) AS chars " +
          "FROM documents WHERE lang = 'en' " +
          "GROUP BY source ORDER BY source")
    ),
    Q(
      "table_sql_maintenance",
      // The maintenance verbs as SQL (parser extension —
      // graft.GraftExtensions injects SnapSqlParser): DESCRIBE HISTORY,
      // OPTIMIZE … ZORDER BY, VACUUM … RETAIN — the Delta-class
      // statements Spark's grammar has no hook for. Content is
      // byte-identical across OPTIMIZE and VACUUM (the oracle checks
      // that); the version counts pin that history shrank 4 → 1.
      // Sessions built without the extension route through the same
      // command classes (`SnapSqlParser.runStatement`).
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        def msql(q: String) =
          try s.sql(q)
          catch {
            case _: org.apache.spark.sql.catalyst.parser.ParseException =>
              graft.sources.SnapSqlParser.runStatement(s, q)
          }
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
              .as("o_day"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_day BIGINT, o_totalprice DOUBLE)")
        (0 until 3).foreach(i => s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT * FROM $v WHERE o_orderkey % 3 = $i"))
        val histBefore = msql(s"DESCRIBE HISTORY snap.main.$t").count()
        msql(s"OPTIMIZE snap.main.$t INTO 4 FILES " +
          "ZORDER BY (o_custkey, o_day)")
        msql(s"VACUUM snap.main.$t RETAIN 1 VERSIONS")
        val histAfter = msql(s"DESCRIBE HISTORY snap.main.$t").count()
        s.sql(s"SELECT o_custkey FROM snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"))
          .withColumn("hist_before", lit(histBefore))
          .withColumn("hist_after", lit(histAfter))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "CAST(4 AS BIGINT) AS hist_before, " +
          "CAST(1 AS BIGINT) AS hist_after " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_merge_mor",
      // SQL MERGE on a MoR-DELETED table — NO compact-first step: the
      // row-level scan reads THROUGH the outstanding deletion vectors
      // (the native reader drops DV'd positions per file), so deleted
      // rows neither match (a merge on a deleted key is an INSERT, as it
      // must be) nor resurrect in the rewritten files; DV entries for
      // carried files stay live. SqlMergeSpec pins the physical side.
      (s, dir) => {
        val b = sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        SnapTable.deleteWhereMoR(s, s"$b/main/$t",
          col("o_orderkey") % 5 === 0)
        require(SnapTable.load(s"$b/main/$t",
          SnapTable.latestVersion(s"$b/main/$t")).dvs.nonEmpty,
          "table_merge_mor must run against outstanding DVs")
        s.sql(
          s"""MERGE INTO snap.main.$t t USING (
             |  SELECT o_orderkey AS k, o_totalprice + 1000 AS p
             |  FROM $v WHERE o_orderkey % 3 = 0
             |) s ON t.o_orderkey = s.k
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
             |WHEN NOT MATCHED THEN INSERT
             |  (o_orderkey, o_custkey, o_totalprice)
             |  VALUES (s.k, -1, s.p)""".stripMargin)
        s.sql(s"SELECT o_orderkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        // target after the MoR delete = keys with o_orderkey % 5 <> 0;
        // matched (%3=0) update, DV-deleted %15-multiples re-INSERT
        "WITH merged AS (" +
          "SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 " +
          "THEN o_totalprice + 1000 ELSE o_totalprice END AS p " +
          "FROM orders WHERE o_orderkey % 5 <> 0 " +
          "UNION ALL SELECT o_orderkey, o_totalprice + 1000 " +
          "FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 5 = 0) " +
          "SELECT o_orderkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(p * 100) AS BIGINT)) / 100 AS total " +
          "FROM merged GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_delete_retention",
      // METADATA-ONLY retention delete: `DELETE WHERE day < cutoff` on
      // the cluster column drops every fully-covered file from the
      // manifest WITHOUT READING IT (stats prove all rows match, null
      // count proves no NULL survivor) — the TTL/GDPR sweep that runs
      // nightly on a 100 TB table becomes one manifest write plus one
      // boundary-file rewrite. The op REQUIRES at most one new data dir
      // (the boundary), and the oracle restates the surviving rows.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        // o_day is DENSE-uniform over [0, 1000) by construction, so a
        // cutoff at 500 fully covers some range-clustered files at any
        // session parallelism / scale factor
        T(s, dir, "orders").select(col("o_orderkey"),
            (col("o_orderkey") % 1000).as("o_day"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t (o_orderkey BIGINT, " +
          "o_day BIGINT, o_totalprice DOUBLE) PARTITIONED BY (o_day)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        val b = s.conf.get("spark.sql.catalog.snap.root")
        val before = SnapTable.load(s"$b/main/$t", 2)
        s.sql(s"DELETE FROM snap.main.$t WHERE o_day < 500")
        val after = SnapTable.load(s"$b/main/$t",
          SnapTable.latestVersion(s"$b/main/$t"))
        val dirsBefore = before.files.map(_.path.split("/")(1)).toSet
        val dirsAfter = after.files.map(_.path.split("/")(1)).toSet
        require((dirsAfter -- dirsBefore).size <= 1,
          "retention delete must drop covered files metadata-only, " +
            s"but wrote dirs ${dirsAfter -- dirsBefore}")
        require(before.files.exists(f => f.stats.get("o_day")
            .exists(_._2 < 500) &&
            !after.files.map(_.path).contains(f.path)),
          "no fully-covered file was dropped from the manifest")
        s.sql(s"SELECT o_day, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_day") % 7).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "WITH f AS (SELECT o_orderkey % 1000 AS o_day, o_totalprice " +
          "FROM orders) " +
          "SELECT o_day % 7 AS bucket, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM f WHERE o_day >= 500 GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_sql_truncate",
      // TRUNCATE TABLE: one empty-manifest commit — no data file
      // touched, history (and time travel) intact until vacuum, and the
      // table immediately writable again.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.sql(s"TRUNCATE TABLE snap.main.$t")
        require(s.sql(s"SELECT count(*) FROM snap.main.$t")
          .head().getLong(0) == 0, "truncate left rows behind")
        // pre-truncate contents reachable by time travel
        require(s.sql(
          s"SELECT count(*) FROM snap.main.$t VERSION AS OF 2")
          .head().getLong(0) > 0, "time travel lost the history")
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT * FROM $v WHERE o_orderkey % 9 = 0")
        s.sql(s"SELECT o_custkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders WHERE o_orderkey % 9 = 0 " +
          "GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_runtime_prune",
      // RUNTIME (DPP-style) file pruning via SupportsRuntimeV2Filtering:
      // the fact table's layout column is declared runtime-prunable, so
      // a selective DIM filter — invisible statically — narrows the
      // fact file list at execution from manifest [min,max] stats. The
      // star-join shape every warehouse lives on: at 100 TB, a dim
      // filter keeping 3 of 300 days reads 1% of the fact files.
      // SnapCatalogSpec pins the actual file-count narrowing; here the
      // plan is REQUIRED to carry the runtime filter and the result is
      // oracle-checked.
      (s, dir) => {
        sqlWarehouse(s)
        val tf = freshName()
        val td = freshName()
        val v = "v" + tf
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
              .as("o_day"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$tf (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_day BIGINT, o_totalprice DOUBLE) " +
          "PARTITIONED BY (o_day)")
        s.sql(s"INSERT INTO snap.main.$tf SELECT * FROM $v")
        s.sql(s"CREATE TABLE snap.main.$td (d_day BIGINT, tag STRING)")
        s.sql(s"INSERT INTO snap.main.$td " +
          "SELECT DISTINCT o_day, CASE WHEN o_day % 97 = 11 THEN 'hot' " +
          s"ELSE 'cold' END FROM $v")
        val df = s.sql(
          s"""SELECT f.o_day AS day, count(*) AS n,
             |  sum(CAST(round(f.o_totalprice * 100) AS BIGINT)) / 100
             |    AS total
             |FROM snap.main.$tf f JOIN snap.main.$td d
             |  ON f.o_day = d.d_day
             |WHERE d.tag = 'hot'
             |GROUP BY f.o_day ORDER BY day""".stripMargin)
        require(df.queryExecution.executedPlan.toString
          .contains("dynamicpruning"),
          "the fact scan must carry a runtime pruning filter:\n" +
            df.queryExecution.executedPlan)
        df
      },
      Some(
        "WITH f AS (SELECT o_orderkey, " +
          "CAST(date_diff('day', DATE '1992-01-01', o_orderdate) " +
          "AS BIGINT) AS o_day, o_totalprice FROM orders) " +
          "SELECT o_day AS day, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM f WHERE o_day % 97 = 11 " +
          "GROUP BY o_day ORDER BY day")
    ),
    Q(
      "table_agg_pushdown",
      // COMPLETE aggregate pushdown: un-filtered COUNT(*)/MIN/MAX is
      // answered from the MANIFEST (footer row counts + per-file
      // [min,max] stats) — zero data files opened, so the classic
      // "how big is this table" query costs O(manifest) at 100 TB.
      // SnapCatalogSpec proves the zero-read claim by deleting the data
      // files first; here the result is oracle-checked and the plan is
      // REQUIRED to be the one-row pushed scan (no parquet leaf).
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        val df = s.sql(
          s"""SELECT count(*) AS n, min(o_orderkey) AS min_key,
             |  max(o_orderkey) AS max_key, min(o_custkey) AS min_cust,
             |  max(o_custkey) AS max_cust
             |FROM snap.main.$t""".stripMargin)
        require(df.queryExecution.executedPlan.toString
          .contains("SnapAggScan"),
          "COUNT/MIN/MAX must be answered by the pushed manifest scan:\n" +
            df.queryExecution.executedPlan)
        df
      },
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n, " +
          "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key, " +
          "min(o_custkey) AS min_cust, max(o_custkey) AS max_cust " +
          "FROM orders")
    ),
    Q(
      "table_changes_mor",
      // CLASSIFIED CDC through merge-on-read deletes: a DV commit
      // changes no file, yet `changes()` must classify its rows as
      // deletes — the position diff on carried files joins back to the
      // rows, so CDC cost stays proportional to the deltas (appended
      // files + DV positions), never a table rescan. Appended-then-
      // deleted rows were never visible at either endpoint and are
      // correctly absent.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_chmor_tab")
        val ev = T(s, dir, "events")
          .select(col("event_id"), col("event_type"), col("user_id"))
        SnapTable.create(s, root,
          ev.filter(col("event_id") % 2 === 0)
            .repartitionByRange(4, col("event_id")), "event_id")
        SnapTable.append(s, root, ev.filter(col("event_id") % 2 === 1))
        SnapTable.deleteWhereMoR(s, root, col("event_type") === "error")
        SnapTable.changes(s, root, 1, SnapTable.latestVersion(root),
          "event_id")
          .orderBy("action", "event_id")
      },
      Some(
        // inserts: the appended half, minus rows already deleted at the
        // `to` endpoint; deletes: v1-era rows the DV hid
        "SELECT 'insert' AS action, event_id, event_type, user_id " +
          "FROM events WHERE event_id % 2 = 1 AND event_type <> 'error' " +
          "UNION ALL " +
          "SELECT 'delete', event_id, event_type, user_id " +
          "FROM events WHERE event_id % 2 = 0 AND event_type = 'error' " +
          "ORDER BY action, event_id")
    ),
    Q(
      "table_stats_broadcast",
      // Manifest-derived scan STATISTICS (SupportsReportStatistics on
      // both scan flavors): the planner sees real post-pruning
      // bytes/rows instead of defaultSizeInBytes (∞), so a small
      // dimension SnapTable is auto-broadcast with NO hint — at cluster
      // scale this is the difference between a broadcast join and a
      // full shuffle of the 100 TB fact side. The op REQUIRES the
      // BroadcastHashJoin in the plan, then oracle-checks the join
      // result itself.
      (s, dir) => {
        sqlWarehouse(s)
        val t1 = freshName()
        val t2 = freshName()
        val v = "v" + t1
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t1 " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t1 SELECT * FROM $v")
        s.sql(s"CREATE TABLE snap.main.$t2 (ck BIGINT, tier STRING)")
        s.sql(s"INSERT INTO snap.main.$t2 " +
          "SELECT id AS ck, concat('tier', id % 3) AS tier " +
          "FROM range(0, 100)")
        val saved = s.conf.getOption("spark.sql.adaptive.enabled")
        s.conf.set("spark.sql.adaptive.enabled", "false")
        try {
          val df = s.sql(
            s"""SELECT d.tier, count(*) AS n,
               |  sum(CAST(round(f.o_totalprice * 100) AS BIGINT)) / 100
               |    AS total
               |FROM snap.main.$t1 f JOIN snap.main.$t2 d
               |  ON f.o_custkey = d.ck
               |GROUP BY d.tier ORDER BY d.tier""".stripMargin)
          val plan = df.queryExecution.executedPlan.toString
          require(plan.contains("BroadcastHashJoin"),
            "manifest statistics must let the planner auto-broadcast " +
              s"the KB-scale dimension (no hint given), got:\n$plan")
          df
        } finally {
          saved match {
            case Some(x) => s.conf.set("spark.sql.adaptive.enabled", x)
            case None => s.conf.unset("spark.sql.adaptive.enabled")
          }
        }
      },
      Some(
        // DuckDB's range() names its column "range" (not Spark's "id")
        "WITH d AS (SELECT range AS ck, " +
          "'tier' || CAST(range % 3 AS VARCHAR) AS tier " +
          "FROM range(0, 100)) " +
          "SELECT tier, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders JOIN d ON o_custkey = ck " +
          "GROUP BY tier ORDER BY tier")
    ),
    Q(
      "table_sql_ddl_rename",
      // RENAME / DROP COLUMN through SQL — Delta-style column mapping:
      // both verbs are ONE manifest write at any table size (pinned in
      // TableFormatSpec: no data file rewritten). Files written before
      // the rename keep their physical column name; the mapping resolves
      // them, so a mixed-era table reads uniformly, UPDATE rewrites
      // through the mapping, and a dropped column's values can never
      // resurrect under a re-added name (physical tombstones).
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v " +
          "WHERE o_orderkey % 2 = 0")
        s.sql(s"ALTER TABLE snap.main.$t RENAME COLUMN " +
          "o_totalprice TO price")
        // the second era inserts under the NEW name; files of both eras
        // must agree on read
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT o_orderkey, o_custkey, o_totalprice AS price FROM $v " +
          "WHERE o_orderkey % 2 = 1")
        s.sql(s"UPDATE snap.main.$t SET price = price + 100 " +
          "WHERE o_orderkey % 7 = 0")
        s.sql(s"ALTER TABLE snap.main.$t DROP COLUMN o_custkey")
        s.sql(s"SELECT o_orderkey, price FROM snap.main.$t")
          .groupBy((col("o_orderkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("price"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_orderkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round((CASE WHEN o_orderkey % 7 = 0 " +
          "THEN o_totalprice + 100 ELSE o_totalprice END) * 100) " +
          "AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_sql_merge_nms",
      // MERGE with WHEN NOT MATCHED BY SOURCE clauses (Spark 4 grammar):
      // rows of the TARGET no source row joins are updated or deleted.
      // These clauses force the full-candidate scan shape — the runtime
      // group filter cannot narrow to matched files, because a file with
      // ZERO matches still holds by-source rows to rewrite (SqlMergeSpec
      // pins that high-range files with no matches are reached).
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice")).createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.sql(
          s"""MERGE INTO snap.main.$t t USING (
             |  SELECT o_orderkey AS k, o_totalprice AS p
             |  FROM $v WHERE o_orderkey % 2 = 0
             |) s ON t.o_orderkey = s.k
             |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p + 100
             |WHEN NOT MATCHED BY SOURCE AND t.o_custkey % 10 = 3
             |  THEN DELETE
             |WHEN NOT MATCHED BY SOURCE
             |  THEN UPDATE SET o_totalprice = t.o_totalprice - 50
             |""".stripMargin)
        s.sql(s"SELECT o_custkey, o_totalprice FROM snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "WITH merged AS (" +
          "SELECT o_custkey, o_totalprice + 100 AS p FROM orders " +
          "WHERE o_orderkey % 2 = 0 " +
          "UNION ALL SELECT o_custkey, o_totalprice - 50 FROM orders " +
          "WHERE o_orderkey % 2 = 1 AND o_custkey % 10 <> 3) " +
          "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(p * 100) AS BIGINT)) / 100 AS total " +
          "FROM merged GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_optimize_where",
      // Partial OPTIMIZE — the operational compaction shape at 100 TB:
      // `OPTIMIZE t WHERE day BETWEEN a AND b` consolidates ONLY the
      // files overlapping the range (yesterday's small streaming
      // files), carries everything else by reference, and keeps
      // untouched files byte-identical. The op REQUIRES out-of-range
      // files to survive untouched and in-range small files to shrink
      // in count, then oracle-checks content identity.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        val o = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"),
            (col("o_orderkey") % 30).as("day"))
        o.createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, " +
          "day BIGINT) PARTITIONED BY (day)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v " +
          "WHERE day >= 10") // the "old", already-consolidated region
        // the "hot" region arrives as many small commits
        (0 until 5).foreach(i =>
          s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v " +
            s"WHERE day = $i OR day = ${i + 5}"))
        val root = s.conf.get("spark.sql.catalog.snap.root") + s"/main/$t"
        val before = SnapTable.load(root, SnapTable.latestVersion(root))
        val cold = before.files.filter(_.stats.get("day")
          .exists(_._1 >= 10)).toSet
        val hotN = before.files.size - cold.size
        graft.sources.SnapSqlParser.runStatement(s,
          s"OPTIMIZE snap.main.$t INTO 2 FILES WHERE day BETWEEN 0 AND 9")
        val after = SnapTable.load(root, SnapTable.latestVersion(root))
        require(cold.subsetOf(after.files.toSet),
          "partial OPTIMIZE must not touch out-of-range files")
        val hotAfter = after.files.size - cold.size
        require(hotAfter < hotN,
          s"in-range files must consolidate: $hotN -> $hotAfter")
        s.table(s"snap.main.$t")
          .groupBy("day")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("day")
      },
      Some(
        "SELECT o_orderkey % 30 AS day, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY day")
    ),
    Q(
      "table_update_mor",
      // Merge-on-read UPDATE: one commit = a deletion vector over the
      // matched positions + fresh files holding the transformed rows —
      // O(matches) where CoW update pays O(touched files). On a 100 TB
      // table where every file holds one hot row, that is the
      // difference between writing megabytes and rewriting the table.
      // Reads subtract the DV and see exactly-once updated rows;
      // OPTIMIZE materializes.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_umor_tab")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        SnapTable.create(s, root,
          o.repartitionByRange(8, col("o_orderkey")), "o_orderkey")
        val before = SnapTable.load(root, 1).files.toSet
        SnapTable.updateWhereMoR(s, root, col("o_orderkey") % 10 === 3,
          Map("o_totalprice" -> "o_totalprice * 2"))
        val head = SnapTable.load(root, SnapTable.latestVersion(root))
        require(before.subsetOf(head.files.toSet) && head.dvs.nonEmpty,
          "MoR update must carry every original file and commit a DV")
        SnapTable.read(s, root)
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round((CASE WHEN o_orderkey % 10 = 3 " +
          "THEN o_totalprice * 2 ELSE o_totalprice END) * 100) " +
          "AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_sql_restore",
      // RESTORE TABLE ... TO VERSION AS OF — SQL rollback as one
      // manifest write (no data moves, rolled-back commits stay in
      // history for audit), plus VACUUM DRY RUN as the pre-reclaim
      // audit: it must list exactly the files a real vacuum would
      // delete, and delete nothing.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        o.createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")   // v2
        s.sql(s"DELETE FROM snap.main.$t WHERE o_orderkey % 3 = 0") // v3
        val run = (q: String) =>
          graft.sources.SnapSqlParser.runStatement(s, q)
        val res = run(
          s"RESTORE TABLE snap.main.$t TO VERSION AS OF 2").collect()(0)
        require(res.getLong(0) == 2L, s"restored ${res.getLong(0)}")
        require(s.table(s"snap.main.$t").count() == o.count(),
          "restore must bring the deleted rows back")
        // DRY RUN lists, deletes nothing; real vacuum then matches it
        val root = s.conf.get("spark.sql.catalog.snap.root") + s"/main/$t"
        val before = SnapTable.load(root,
          SnapTable.latestVersion(root)).files
        val planned = run(s"VACUUM snap.main.$t RETAIN 1 VERSIONS " +
          "DRY RUN").collect().map(_.getString(0)).toSet
        require(SnapTable.read(s, root).count() == o.count(),
          "DRY RUN must not delete anything")
        val removed = run(s"VACUUM snap.main.$t RETAIN 1 VERSIONS")
          .collect()(0).getLong(0)
        require(removed == planned.size,
          s"dry run planned ${planned.size}, vacuum removed $removed")
        require(SnapTable.load(root,
          SnapTable.latestVersion(root)).files == before,
          "vacuum must not touch the live snapshot")
        s.table(s"snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_add_default",
      // ADD COLUMN ... DEFAULT — INITIAL defaults (the Iceberg-v3
      // idea): rows predating the add read the literal instead of
      // null, decided per FILE from the write era encoded in its data
      // dir name — a pure codegen expression, metadata-only at any
      // table size. Post-add rows keep explicit values (NULLs stay
      // NULL); rewrites materialize; stats/bloom pruning unaffected
      // (pre-add files simply have no stats for the new column).
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        o.createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v " +
          "WHERE o_orderkey % 2 = 0")
        val root = s.conf.get("spark.sql.catalog.snap.root") + s"/main/$t"
        val preAlter = SnapTable.latestVersion(root)
        s.sql(s"ALTER TABLE snap.main.$t ADD COLUMN channel STRING " +
          "DEFAULT 'legacy'")
        // the add is metadata-only even at 100 TB — a filesRef manifest
        require(SnapTable.load(root, SnapTable.latestVersion(root))
          .files == SnapTable.load(root, preAlter).files,
          "ADD COLUMN DEFAULT must not touch a data file")
        s.sql(s"INSERT INTO snap.main.$t " +
          s"SELECT o_orderkey, o_custkey, o_totalprice, 'online' " +
          s"FROM $v WHERE o_orderkey % 2 = 1")
        s.sql(s"SELECT channel, o_custkey, o_totalprice " +
          s"FROM snap.main.$t")
          .groupBy("channel")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("channel")
      },
      Some(
        "SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy' " +
          "ELSE 'online' END AS channel, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY channel")
    ),
    Q(
      "table_sql_branch",
      // Branch/tag DDL from SQL (the Iceberg ref-DDL shape): CREATE
      // BRANCH forks zero-copy, branch writes stay invisible to main,
      // `VERSION AS OF '<branch>'` reads the branch head from plain
      // SQL, PUBLISH BRANCH fast-forwards main, and a TAG pins the
      // pre-publish version immutably for audit. The
      // write-audit-publish loop with no API calls on the read side.
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        o.createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v " +
          "WHERE o_orderkey % 2 = 0")
        val run = (q: String) =>
          graft.sources.SnapSqlParser.runStatement(s, q)
        run(s"ALTER TABLE snap.main.$t CREATE TAG before_wip")
        run(s"ALTER TABLE snap.main.$t CREATE BRANCH wip")
        // audit-side writes land on the branch root; main can't see them
        SnapTable.append(s,
          SnapTable.branchRoot(s"$base/main/$t", "wip"),
          o.filter(col("o_orderkey") % 2 === 1))
        val mainN = s.table(s"snap.main.$t").count()
        val branchN = s.sql(
          s"SELECT * FROM snap.main.$t VERSION AS OF 'wip'").count()
        require(branchN > mainN,
          s"branch writes invisible via SQL AS OF: $branchN vs $mainN")
        run(s"ALTER TABLE snap.main.$t PUBLISH BRANCH wip")
        run(s"ALTER TABLE snap.main.$t DROP BRANCH wip")
        // the tag still reads the pre-publish state
        require(s.sql(
          s"SELECT * FROM snap.main.$t VERSION AS OF 'before_wip'")
          .count() == mainN, "tag must pin the pre-publish version")
        s.table(s"snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_rebucket",
      // BUCKET-LAYOUT EVOLUTION: two tables born UNBUCKETED are
      // rewritten into the bucket(8, custkey) layout with `rebucket` —
      // pay the clustering shuffle once, then every later join on the
      // bucket key is storage-partitioned (zero exchanges, asserted on
      // the plan). This is how an existing 100 TB table adopts the SPJ
      // layout without a create-from-scratch migration; n=0 drops the
      // layout again (range-clustered, also exercised).
      (s, dir) => {
        val base = sqlWarehouse(s)
        val t1 = freshName()
        val t2 = freshName()
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        val c = T(s, dir, "customer").select(
          col("c_custkey"), col("c_acctbal"))
        SnapTable.create(s, s"$base/main/$t1",
          o.repartitionByRange(4, col("o_orderkey")), "o_orderkey")
        SnapTable.create(s, s"$base/main/$t2",
          c.repartitionByRange(2, col("c_custkey")), "c_custkey")
        SnapTable.rebucket(s, s"$base/main/$t1", "o_custkey", 8)
        SnapTable.rebucket(s, s"$base/main/$t2", "c_custkey", 8)
        val keys = Seq(
          "spark.sql.sources.v2.bucketing.enabled",
          "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.enabled")
        val saved = keys.map(k => k -> s.conf.getOption(k))
        s.conf.set(keys(0), "true")
        s.conf.set(keys(1), "true")
        s.conf.set(keys(2), "-1")
        s.conf.set(keys(3), "false")
        try {
          val df = s.sql(
            s"""SELECT c.c_custkey AS custkey,
               |  count(*) AS n_orders,
               |  sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100
               |    AS total
               |FROM snap.main.$t1 o JOIN snap.main.$t2 c
               |  ON o.o_custkey = c.c_custkey
               |GROUP BY c.c_custkey
               |ORDER BY custkey""".stripMargin)
          val plan = df.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange hashpartitioning") &&
            !plan.contains("BroadcastExchange"),
            s"rebucketed tables must join shuffle-free, got:\n$plan")
          // and back OUT of the layout: n=0 range-clusters again
          SnapTable.rebucket(s, s"$base/main/$t2", "c_custkey", 0)
          require(SnapTable.load(s"$base/main/$t2",
            SnapTable.latestVersion(s"$base/main/$t2")).bucket.isEmpty,
            "rebucket(0) must drop the layout")
          df
        } finally saved.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some(
        "SELECT c_custkey AS custkey, CAST(count(*) AS BIGINT) " +
          "AS n_orders, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "GROUP BY c_custkey ORDER BY custkey")
    ),
    Q(
      "table_sql_convert",
      // `CONVERT TO SNAP cat.ns.t STATS COLUMN c` — the zero-copy lake
      // on-ramp from pure SQL: a directory of bare parquet under the
      // warehouse becomes an ACID table in one statement, immediately
      // queryable (and writable) as snap.ns.t. Nothing moves: manifests
      // reference the files in place, stats lift from footers.
      (s, dir) => {
        val wh = sqlWarehouse(s)
        val t = freshName()
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        // the "pre-existing lake" sits where the catalog expects tables
        o.filter(col("o_orderkey") % 4 =!= 0)
          .repartitionByRange(4, col("o_orderkey"))
          .write.mode("overwrite").parquet(s"$wh/main/$t")
        val res = graft.sources.SnapSqlParser.runStatement(s,
          s"CONVERT TO SNAP snap.main.$t STATS COLUMN o_orderkey")
        require(res.collect()(0).getLong(0) == 1L, "convert is v1")
        // converted table takes SQL DML like any other
        val v = "v" + t
        o.filter(col("o_orderkey") % 4 === 0).createOrReplaceTempView(v)
        s.sql(s"INSERT INTO snap.main.$t SELECT * FROM $v")
        s.table(s"snap.main.$t")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_clone",
      // `CREATE TABLE t2 SHALLOW CLONE t1` — a zero-copy fork from SQL:
      // t2's v1 references t1's files in place (clone cost = one
      // manifest write at any table size), divergence is copy-on-write
      // both ways. The dev/test-against-prod-data primitive: fork a
      // 100 TB table, experiment, drop — no bytes copied.
      (s, dir) => {
        sqlWarehouse(s)
        val t1 = freshName()
        val t2 = freshName()
        val v = "v" + t1
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        o.createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t1 " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        s.sql(s"INSERT INTO snap.main.$t1 SELECT * FROM $v " +
          "WHERE o_orderkey % 2 = 0")
        graft.sources.SnapSqlParser.runStatement(s,
          s"CREATE TABLE snap.main.$t2 SHALLOW CLONE snap.main.$t1")
        // the clone diverges; the source must not see it
        s.sql(s"INSERT INTO snap.main.$t2 SELECT * FROM $v " +
          "WHERE o_orderkey % 2 = 1")
        s.sql(s"UPDATE snap.main.$t2 SET o_totalprice = o_totalprice " +
          "+ 10 WHERE o_orderkey % 100 = 0")
        val srcN = s.table(s"snap.main.$t1").count()
        require(srcN == o.filter(col("o_orderkey") % 2 === 0).count(),
          s"clone divergence leaked into the source ($srcN rows)")
        s.table(s"snap.main.$t2")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round((CASE WHEN o_orderkey % 100 = 0 " +
          "THEN o_totalprice + 10 ELSE o_totalprice END) * 100) " +
          "AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_stream_native_sink",
      // NATIVE streaming sink: writeStream.toTable("snap.db.t") — one
      // ACID append commit per micro-batch, exactly once, with ZERO
      // foreachBatch glue (the sink twin of the streaming read).
      // Exactly-once rides the (queryId, epochId) idempotency txn: a
      // restart that replays a committed epoch resolves to its recorded
      // version and links nothing. At 100 TB this is the ingest spine:
      // executors stream rows straight into parquet (no per-batch
      // DataFrame materialization), the driver pays one footer read per
      // file plus one manifest link per epoch.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val up = graft.Tmp.dir("graft_nsink_up")
        val ckpt = graft.Tmp.dir("graft_nsink_ckpt")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
        def hop(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.`$up`")
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .toTable(s"snap.main.$t")
          q.awaitTermination()
        }
        SnapTable.create(s, up,
          orders.filter(col("o_orderkey") % 2 === 0), "o_orderkey")
        hop() // snapshot epoch
        SnapTable.append(s, up, orders.filter(col("o_orderkey") % 2 === 1))
        hop() // incremental epoch: only the appended commit's files
        hop() // no new data: no spurious commit, no duplicates
        s.table(s"snap.main.$t")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_custkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_convert_inplace",
      // ZERO-COPY conversion of an existing parquet directory into a
      // SnapTable (the published CONVERT TO DELTA / add_files idea):
      // the manifest REFERENCES the files where they lie — nothing is
      // read, moved, or rewritten except per-file footers. At 100 TB
      // this is the on-ramp: a plain parquet lake gains ACID commits,
      // time travel, MERGE and file skipping for the cost of a footer
      // sweep. The op REQUIRES zero-copy (same file set, untouched
      // mtimes) and that lifted stats actually prune, then
      // oracle-checks a post-conversion append + aggregate.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_convert")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        // the "pre-existing lake": plain parquet, no table layer
        o.filter(col("o_orderkey") % 3 =!= 2)
          .repartitionByRange(4, col("o_orderkey"))
          .write.mode("overwrite").parquet(root)
        def state() = {
          import scala.jdk.CollectionConverters._
          val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
          try st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(p => p.toString ->
              java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .toMap
          finally st.close()
        }
        val before = state()
        SnapTable.convertInPlace(s, root, "o_orderkey")
        require(state() == before,
          "convert must not touch a data file (paths + mtimes)")
        // lifted footer stats prune exactly like written-table stats
        val (_, hit, total) = SnapTable.readRange(s, root,
          "o_orderkey", 0L, 100L)
        require(hit < total,
          s"lifted stats must prune the range read: $hit/$total")
        // first post-conversion commit: normal append, ACID from here
        SnapTable.append(s, root, o.filter(col("o_orderkey") % 3 === 2)
          .repartitionByRange(2, col("o_orderkey")))
        SnapTable.read(s, root)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_stream_complete",
      // COMPLETE-mode native sink: a streaming aggregation whose every
      // epoch REPLACES the table with the full current result — the
      // streaming MATERIALIZED VIEW over the snapshot format. Each
      // epoch is one ACID `stream-overwrite` commit (exactly-once via
      // the (queryId, epochId) txn, like the append sink), so readers
      // always see one self-consistent aggregate AND can time-travel
      // to any earlier refresh. At 100 TB the maintained result is
      // aggregate-sized while the source tail is incremental — the
      // cheap way to keep a hot rollup fresh over an ingest firehose.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val up = graft.Tmp.dir("graft_cmpl_up")
        val ckpt = graft.Tmp.dir("graft_cmpl_ckpt")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderstatus STRING, n BIGINT, cents BIGINT)")
        val dst = s.conf.get("spark.sql.catalog.snap.root") + s"/main/$t"
        def refresh(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.`$up`")
            .groupBy(col("o_orderstatus"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("o_totalprice") * 100).cast("long"))
                .as("cents"))
            .writeStream.option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .toTable(s"snap.main.$t")
          q.awaitTermination()
        }
        SnapTable.create(s, up,
          orders.filter(col("o_orderkey") % 2 === 0), "o_orderkey")
        refresh() // first materialization
        val v1 = SnapTable.latestVersion(dst)
        val firstN = s.table(s"snap.main.$t")
          .agg(sum("n")).collect()(0).getLong(0)
        SnapTable.append(s, up, orders.filter(col("o_orderkey") % 2 === 1))
        refresh() // incremental source tail, FULL result replaces
        val head = SnapTable.load(dst, SnapTable.latestVersion(dst))
        require(head.op == "stream-overwrite",
          s"epoch must commit as a replace, got '${head.op}'")
        require(s.table(s"snap.main.$t")
          .agg(sum("n")).collect()(0).getLong(0) > firstN,
          "second refresh must absorb the appended source commit")
        // the previous refresh stays time-travelable (a version, not a
        // destructive overwrite)
        require(SnapTable.readVersion(s, dst, v1)
          .agg(sum("n")).collect()(0).getLong(0) == firstN,
          "pre-refresh aggregate must remain readable AS OF its version")
        s.table(s"snap.main.$t")
          .select(col("o_orderstatus"), col("n"),
            (col("cents") / 100).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_properties",
      // TBLPROPERTIES as versioned manifest metadata: CREATE ...
      // TBLPROPERTIES persists, SET/UNSET are O(1) metadata commits,
      // SHOW reads them back, and `snap.`-keys are LIVE engine config —
      // snap.vacuum.retainVersions drives the default retention of a
      // bare VACUUM (the Delta table-property idea). At 100 TB the
      // table carries its own operational policy (retention, tier,
      // owner) in-band, versioned and restorable like the data.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice " +
          "DOUBLE) TBLPROPERTIES ('owner.team' = 'ingest', " +
          "'snap.vacuum.retainVersions' = '3')")
        (0 until 4).foreach(i =>
          orders.filter(col("o_orderkey") % 4 === i)
            .write.mode("append").insertInto(s"snap.main.$t")) // v2..v5
        s.sql(s"ALTER TABLE snap.main.$t SET TBLPROPERTIES " +
          "('tier' = 'gold')") // v6, metadata-only
        val props = s.sql(s"SHOW TBLPROPERTIES snap.main.$t").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        require(props.get("owner.team").contains("ingest") &&
          props.get("tier").contains("gold"),
          s"properties must round-trip through SHOW, got $props")
        // declared retention drives the bare VACUUM: of the 6 versions
        // the last 3 survive (a RETAIN-less default of 1 would keep 2)
        s.sql(s"VACUUM snap.main.$t").collect()
        val dirT = s.conf.get("spark.sql.catalog.snap.root") +
          s"/main/$t"
        require(SnapTable.versions(dirT) == Seq(4, 5, 6),
          "snap.vacuum.retainVersions=3 must keep versions 4..6, got " +
            SnapTable.versions(dirT).mkString(","))
        s.table(s"snap.main.$t")
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_constraints",
      // SQL CHECK constraints + generated-column DDL, the Spark-4.1
      // DSv2 constraint surface: CREATE TABLE declares a CHECK and a
      // GENERATED ALWAYS AS column, ALTER TABLE ADD CONSTRAINT
      // validates the WHOLE table before the metadata commit (so the
      // constraint is reported VALID), DROP CONSTRAINT lifts it. Every
      // write validates only its incoming batch — at 100 TB the
      // constraint costs one pass over each commit's rows, never a
      // table scan (except the explicit one ADD CONSTRAINT buys its
      // VALID status with).
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE, " +
          "bucket BIGINT GENERATED ALWAYS AS (o_orderkey % 10), " +
          "CONSTRAINT price_pos CHECK (o_totalprice > 0))")
        val dirT = s.conf.get("spark.sql.catalog.snap.root") +
          s"/main/$t"
        // engine-side: absent generated columns are computed; provided
        // ones validated — the SQL insert provides them
        s.sql(s"INSERT INTO snap.main.$t " +
          "SELECT o_orderkey, o_totalprice, o_orderkey % 10 " +
          s"FROM parquet.`$dir/orders.parquet`")
        // a violating batch must fail and commit nothing
        val vBefore = SnapTable.latestVersion(dirT)
        val failed =
          try {
            s.sql(s"INSERT INTO snap.main.$t VALUES (1, -5.0, 1)")
            false
          } catch { case _: Exception => true }
        require(failed && SnapTable.latestVersion(dirT) == vBefore,
          "violating insert must fail atomically")
        // ADD CONSTRAINT validates existing rows; an unsatisfiable one
        // refuses, a satisfied one lands and is reported
        // (sf fixtures include o_orderkey = 0, so >= 0 is the
        // satisfiable bound — Spark's own whole-table validation
        // correctly REFUSES a strict > 0 here)
        s.sql(s"ALTER TABLE snap.main.$t ADD CONSTRAINT key_pos " +
          "CHECK (o_orderkey >= 0)")
        require(SnapTable.load(dirT, SnapTable.latestVersion(dirT))
          .checks.keySet == Set("price_pos", "key_pos"),
          "both constraints must be live in the manifest")
        s.sql(s"ALTER TABLE snap.main.$t DROP CONSTRAINT price_pos")
        require(SnapTable.load(dirT, SnapTable.latestVersion(dirT))
          .checks.keySet == Set("key_pos"))
        s.table(s"snap.main.$t")
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("bucket")
      },
      Some(
        "SELECT o_orderkey % 10 AS bucket, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY 1 ORDER BY bucket")
    ),
    Q(
      "table_double_prune",
      // DOUBLE-column manifest stats (dstats): footer [min,max] bounds
      // for DOUBLE columns ride the manifest (NaN bounds rejected), so
      // price/score RANGE predicates skip files from the driver exactly
      // like INT64 key ranges — the missing pruning dimension for
      // money/metric columns that aren't the cluster key but correlate
      // with it, or that the table is explicitly clustered on (as
      // here). The op plan-requires the file skip, then oracle-checks
      // the range aggregate.
      (s, dir) => {
        val root = graft.Tmp.dir("graft_dprune")
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        SnapTable.create(s, root,
          o.repartitionByRange(6, col("o_totalprice")), "o_orderkey")
        val snap = SnapTable.load(root, SnapTable.latestVersion(root))
        require(snap.files.forall(_.dstats.contains("o_totalprice")),
          "manifest must carry DOUBLE bounds")
        val b = new graft.sources.SnapScanBuilder(root, snap,
          SnapTable.schemaOf(snap.schemaJson))
        b.pushFilters(Array(org.apache.spark.sql.sources
          .LessThanOrEqual("o_totalprice", 50000.0)))
        val scan = b.build()
          .asInstanceOf[graft.sources.SnapBatchScan]
        require(scan.files.size < snap.files.size,
          s"price range must prune files: ${scan.files.size}/" +
            s"${snap.files.size}")
        SnapTable.read(s, root)
          .filter(col("o_totalprice") <= 50000.0)
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
      },
      Some(
        "SELECT CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders WHERE o_totalprice <= 50000.0")
    ),
    Q(
      "table_sql_cdc_tvf",
      // CDC as TABLE-VALUED FUNCTIONS (the Delta table_changes idea):
      // `SELECT ... FROM snap_changes(t, key, v1, v2)` (classified,
      // keyed actions + images) and `snap_changes_delta(t, v1, v2)`
      // (signed rows whose linear aggregates maintain a view) — the
      // incremental-ETL read surface from plain SQL, injected via
      // SparkSessionExtensions.injectTableFunction. Cost is the file
      // DIFF between the two versions, never a table scan.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        orders.write.mode("append").insertInto(s"snap.main.$t") // v2
        s.sql(s"DELETE FROM snap.main.$t WHERE o_orderkey % 10 = 3") // v3
        // signed feed nets to the live table; classified feed names
        // exactly the deleted keys
        val live = s.sql(s"SELECT sum(CAST(round(o_totalprice * 100) " +
          s"AS BIGINT)) FROM snap.main.$t").head().getLong(0)
        val net = s.sql("SELECT sum(CAST(round(o_totalprice * 100) AS " +
          s"BIGINT) * _sign) FROM snap_changes_delta('snap.main.$t', 1, 3)")
          .head().getLong(0)
        require(net == live, s"signed deltas must net to live: $net/$live")
        s.sql(
          s"SELECT action, o_orderkey, " +
            "round(o_totalprice * 1e2) / 1e2 AS price " +
            s"FROM snap_changes('snap.main.$t', 'o_orderkey', 2, 3) " +
            "ORDER BY o_orderkey")
      },
      Some(
        "SELECT 'delete' AS action, o_orderkey, " +
          "round(o_totalprice * 1e2) / 1e2 AS price FROM orders " +
          "WHERE o_orderkey % 10 = 3 ORDER BY o_orderkey")
    ),
    Q(
      "table_cluster_by",
      // Declarative CLUSTER BY (the liquid-clustering idea): layout
      // metadata, not a partition spec — every write morton-clusters
      // its batch on the declared columns (per-batch ranges, one agg
      // over the batch), a bare OPTIMIZE re-materializes table-wide,
      // and ALTER TABLE CLUSTER BY re-points without rewriting
      // anything. Each declared dimension's manifest [min,max] stats
      // prune independently — at 100 TB this replaces the
      // over-partitioned directory tree with a layout that follows the
      // query patterns and evolves by metadata.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE) " +
          "CLUSTER BY (o_orderkey, o_custkey)")
        val dirT = s.conf.get("spark.sql.catalog.snap.root") +
          s"/main/$t"
        s.sql(s"INSERT INTO snap.main.$t " +
          "SELECT o_orderkey, o_custkey, o_totalprice " +
          s"FROM parquet.`$dir/orders.parquet`")
        // both declared dimensions prune straight off the write
        val (_, kHit, kTot) = SnapTable.readRange(s, dirT,
          "o_orderkey", 0, 200)
        val (_, cHit, cTot) = SnapTable.readRange(s, dirT,
          "o_custkey", 0, 20)
        require(kTot >= 4 && kHit < kTot && cHit < cTot,
          s"clustered write must prune both dims: k $kHit/$kTot, " +
            s"c $cHit/$cTot")
        // bare OPTIMIZE re-clusters by the declared columns
        graft.sources.SnapSqlParser.runStatement(s,
          s"OPTIMIZE snap.main.$t INTO 4 FILES").collect()
        require(SnapTable.clusterColumns(dirT) ==
          Seq("o_orderkey", "o_custkey"))
        s.table(s"snap.main.$t")
          .filter(col("o_custkey") <= 20)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_custkey")
      },
      Some(
        "SELECT o_custkey, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders WHERE o_custkey <= 20 " +
          "GROUP BY o_custkey ORDER BY o_custkey")
    ),
    Q(
      "table_write_default",
      // ADD COLUMN DEFAULT doubles as the WRITE default (Spark's
      // CURRENT_DEFAULT schema metadata, resolved by the analyzer for
      // INSERTs that omit the column) while pre-add rows era-fill the
      // immutable INITIAL default from the manifest; ALTER COLUMN SET
      // DEFAULT then changes only what FUTURE short inserts resolve —
      // history never rewrites, reads never change. All metadata-only
      // commits.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.mode("append").insertInto(s"snap.main.$t")
        s.sql(s"ALTER TABLE snap.main.$t ADD COLUMN src STRING " +
          "DEFAULT 'bulk'")
        // short INSERT resolves the write default...
        s.sql(s"INSERT INTO snap.main.$t (o_orderkey, o_totalprice) " +
          s"SELECT o_orderkey, o_totalprice FROM " +
          s"parquet.`$dir/orders.parquet` WHERE o_orderkey % 4 = 1")
        // ...SET DEFAULT redirects only future inserts
        s.sql(s"ALTER TABLE snap.main.$t ALTER COLUMN src " +
          "SET DEFAULT 'late'")
        s.sql(s"INSERT INTO snap.main.$t (o_orderkey, o_totalprice) " +
          s"SELECT o_orderkey, o_totalprice FROM " +
          s"parquet.`$dir/orders.parquet` WHERE o_orderkey % 4 = 3")
        s.table(s"snap.main.$t")
          .groupBy("src")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("src")
      },
      Some(
        "WITH t AS (SELECT o_totalprice, 'bulk' AS src FROM orders " +
          "WHERE o_orderkey % 2 = 0 " +
          "UNION ALL SELECT o_totalprice, 'bulk' FROM orders " +
          "WHERE o_orderkey % 4 = 1 " +
          "UNION ALL SELECT o_totalprice, 'late' FROM orders " +
          "WHERE o_orderkey % 4 = 3) " +
          "SELECT src, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM t GROUP BY src ORDER BY src")
    ),
    Q(
      "table_sql_merge_evolve",
      // MERGE WITH SCHEMA EVOLUTION (AUTOMATIC_SCHEMA_EVOLUTION
      // capability): source-only columns are ADDED to the target by the
      // analyzer through one metadata-only add-column commit, then the
      // merge re-resolves against the widened schema — untouched files
      // null-fill the new column on read, nothing rewrites beyond the
      // matched files. The Delta schema-evolution MERGE, at the same
      // O(matched files) cost as a plain MERGE.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        orders.write.mode("append").insertInto(s"snap.main.$t")
        // source carries a column the target lacks
        T(s, dir, "orders")
          .filter(col("o_orderkey") % 5 === 0)
          .select(col("o_orderkey"),
            (col("o_totalprice") * 2).as("o_totalprice"),
            col("o_orderstatus"))
          .createOrReplaceTempView(s"${t}_src")
        s.sql(
          s"""MERGE WITH SCHEMA EVOLUTION INTO snap.main.$t t
             |USING ${t}_src s ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
        val dirT = s.conf.get("spark.sql.catalog.snap.root") +
          s"/main/$t"
        require(SnapTable.load(dirT, SnapTable.latestVersion(dirT))
          .op != "create", "merge must have committed")
        s.table(s"snap.main.$t")
          .select(col("o_orderkey"),
            dround(col("o_totalprice"), 2).as("price"),
            col("o_orderstatus"))
          .orderBy("o_orderkey")
      },
      Some(
        "SELECT o_orderkey, " +
          "round(CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2 " +
          "ELSE o_totalprice END * 1e2) / 1e2 AS price, " +
          "CASE WHEN o_orderkey % 5 = 0 THEN o_orderstatus END " +
          "AS o_orderstatus " +
          "FROM orders ORDER BY o_orderkey")
    ),
    Q(
      "table_identity",
      // IDENTITY columns (GENERATED ALWAYS AS IDENTITY): values are
      // assigned ABOVE the manifest high-water mark — one stats fold on
      // the driver plus one distributed zipWithIndex pass over just the
      // incoming batch; no sequence table, no global sort, no data
      // scan. Gaps are legal (standard identity semantics), which is
      // exactly what keeps assignment O(batch) at any table size. The
      // oracle is exact because the op feeds a globally range-sorted
      // batch: assignment order == o_orderkey order, so the ids are
      // 10 + 2 * rank.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t (" +
          "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 " +
          "INCREMENT BY 2), o_orderkey BIGINT, o_totalprice DOUBLE)")
        val dirT = s.conf.get("spark.sql.catalog.snap.root") +
          s"/main/$t"
        val orders = T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(2, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
        SnapTable.append(s, dirT, orders)
        // a second batch must continue strictly above the first's mark
        SnapTable.append(s, dirT, orders.limit(0))
        val n = s.table(s"snap.main.$t").count()
        val ids = s.table(s"snap.main.$t")
        require(ids.select(countDistinct(col("id"))).head().getLong(0)
          == n, "identity values must be unique")
        s.table(s"snap.main.$t")
          .select(col("id"), col("o_orderkey"),
            dround(col("o_totalprice"), 2).as("price"))
          .orderBy("id")
      },
      Some(
        "SELECT 8 + 2 * row_number() OVER (ORDER BY o_orderkey) " +
          "AS id, o_orderkey, " +
          "round(o_totalprice * 1e2) / 1e2 AS price " +
          "FROM orders ORDER BY id")
    ),
    Q(
      "table_clone_defaults",
      // Shallow clone of a DEFAULTS-BEARING snapshot with NO
      // compact-first step: initial-default thresholds live in the ERA
      // space (a monotone watermark, `eraHi`) that the clone inherits,
      // so clone-side writes stamp strictly above every carried
      // threshold even though the clone's version numbering restarts at
      // 1. Carried pre-add files keep filling the default; clone-era
      // explicit NULLs stay NULL. At 100 TB this matters because the
      // alternative was rewriting the whole table (OPTIMIZE) before
      // every zero-copy fork of a table that ever took an
      // ADD COLUMN DEFAULT.
      (s, dir) => {
        val src = graft.Tmp.dir("graft_clonedef_src")
        val dst = graft.Tmp.dir("graft_clonedef_dst") + "/t"
        val o = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_totalprice"))
        SnapTable.create(s, src,
          o.filter(col("o_orderkey") % 3 === 0)
            .repartitionByRange(2, col("o_orderkey")), "o_orderkey")
        SnapTable.append(s, src, o.filter(col("o_orderkey") % 3 === 1))
        // v3: the added column back-fills every pre-add row with 5
        SnapTable.addColumn(src, "priority",
          org.apache.spark.sql.types.LongType, Some("5"))
        SnapTable.clone(s, src, dst)
        // clone-side append: explicit priorities (NULL for every 7th)
        SnapTable.append(s, dst, o.filter(col("o_orderkey") % 3 === 2)
          .withColumn("priority",
            when(col("o_orderkey") % 7 === 0, lit(null).cast("long"))
              .otherwise(lit(1L))))
        SnapTable.read(s, dst)
          .groupBy(coalesce(col("priority"), lit(-1L)).as("priority"))
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("priority")
      },
      Some(
        "WITH t AS (" +
          "SELECT o_orderkey, o_totalprice, 5 AS priority FROM orders " +
          "WHERE o_orderkey % 3 IN (0, 1) " +
          "UNION ALL " +
          "SELECT o_orderkey, o_totalprice, " +
          "CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE 1 END " +
          "FROM orders WHERE o_orderkey % 3 = 2) " +
          "SELECT CAST(coalesce(priority, -1) AS BIGINT) AS priority, " +
          "CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM t GROUP BY 1 ORDER BY priority")
    ),
    Q(
      "table_stream_v2_read",
      // NATIVE DSv2 streaming READ: `spark.readStream.table("snap.db.t")`
      // — the commit-log tail planned as a real MicroBatchStream, which
      // is what makes Trigger.AvailableNow + maxVersionsPerTrigger drain
      // a whole backlog in MULTIPLE bounded batches in ONE run (the V1
      // fallback drained a single capped window). Admission control
      // bounds every batch; batches read through the same SnapBatchScan
      // machinery as batch SQL (split/bin-pack, column pruning,
      // vectorized readers). At 100 TB this is bounded catch-up: a
      // consumer restarted after a weekend drains n commits as ⌈n/m⌉
      // executor-sized batches instead of one giant or n unbounded ones.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val sink = graft.Tmp.dir("graft_v2src_sink")
        val ckpt = graft.Tmp.dir("graft_v2src_ckpt")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        // a 4-commit backlog before the stream starts
        (0 until 4).foreach(i =>
          orders.filter(col("o_orderkey") % 4 === i)
            .write.mode("append").insertInto(s"snap.main.$t"))
        graft.StreamRun.withStateParts(s) {
          val q = s.readStream
            .option("maxVersionsPerTrigger", "1")
            .table(s"snap.main.$t")
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        val batches = {
          val st = java.nio.file.Files.list(
            java.nio.file.Paths.get(ckpt, "offsets"))
          try st.count() finally st.close()
        }
        require(batches >= 3,
          s"one AvailableNow run must drain the backlog in multiple " +
            s"rate-limited batches, got $batches")
        s.read.parquet(sink)
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"),
            dsum(col("o_totalprice"), 2).as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_ctas",
      // CREATE TABLE AS SELECT and REPLACE TABLE AS SELECT through the
      // catalog (Spark's non-atomic V2 path: create-then-append /
      // drop-create-append — a failure can leave an empty table but
      // never torn data, because the append itself is one snapshot
      // commit). RTAS swaps the definition AND contents in place.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val v = "v" + t
        T(s, dir, "orders").createOrReplaceTempView(v)
        s.sql(s"CREATE TABLE snap.main.$t AS " +
          s"SELECT o_orderkey, o_orderstatus, o_totalprice FROM $v " +
          "WHERE o_orderkey % 3 = 0")
        // RTAS: new schema AND new contents, same name
        s.sql(s"REPLACE TABLE snap.main.$t AS " +
          s"SELECT o_orderstatus, " +
          "CAST(round(o_totalprice * 100) AS BIGINT) AS cents " +
          s"FROM $v WHERE o_orderkey % 3 <> 0")
        s.sql(s"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          s"sum(cents) / 100 AS total FROM snap.main.$t " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
          "AS total FROM orders WHERE o_orderkey % 3 <> 0 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_type_widen",
      // TYPE-WIDENING evolution (int→bigint, float→double): a
      // metadata-only ALTER — parquet's reader-side promotion resolves
      // the narrow legacy files under the wide schema, no rewrite.
      // Half the rows land pre-widen (INT32/FLOAT files), half after
      // (INT64/DOUBLE files); one aggregate reads both generations.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, qty INT, price FLOAT)")
        val src = T(s, dir, "lineitem").select(
          col("l_orderkey").as("o_orderkey"),
          col("l_quantity").cast("int").as("qty"),
          col("l_extendedprice").cast("float").as("price"))
        src.filter(col("o_orderkey") % 2 === 0)
          .write.mode("append").insertInto(s"snap.main.$t")
        s.sql(s"ALTER TABLE snap.main.$t ALTER COLUMN qty TYPE BIGINT")
        s.sql(s"ALTER TABLE snap.main.$t ALTER COLUMN price TYPE DOUBLE")
        src.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("qty").cast("long"),
            col("price").cast("double"))
          .write.mode("append").insertInto(s"snap.main.$t")
        s.sql(
          s"SELECT o_orderkey % 7 AS b, CAST(count(*) AS BIGINT) AS n, " +
            "CAST(sum(qty) AS BIGINT) AS sum_qty, " +
            "sum(CAST(round(price * 100) AS BIGINT)) / 100 AS total " +
            s"FROM snap.main.$t GROUP BY 1 ORDER BY b")
      },
      Some(
        // the float→double promotion preserves the FLOAT32 values
        // exactly, so rounding the promoted doubles equals rounding
        // the floats on the DuckDB side
        "SELECT l_orderkey % 7 AS b, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty, " +
          "sum(CAST(round(CAST(CAST(l_extendedprice AS FLOAT) " +
          "AS DOUBLE) * 100) AS BIGINT)) / 100 AS total " +
          "FROM lineitem GROUP BY 1 ORDER BY b")
    ),
    Q(
      "table_files_meta",
      // the `.files` metadata companion table (Iceberg's idea): the
      // head manifest as a queryable relation — file paths, footer row
      // counts, byte sizes, stats bounds — served driver-local from
      // metadata already in memory (zero data-file opens). The op
      // checks the TABLE-LEVEL invariants SQL users audit with it:
      // file count matches the write layout, row counts conserve.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_totalprice DOUBLE)")
        T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
          .repartition(4)
          .write.mode("append").insertInto(s"snap.main.$t")
        s.sql(
          s"SELECT CAST(count(*) AS BIGINT) AS n_files, " +
            "CAST(sum(rows) AS BIGINT) AS total_rows, " +
            "CAST(min(rows) > 0 AS BOOLEAN) AS all_nonempty, " +
            "CAST(min(size_bytes) > 0 AS BOOLEAN) AS all_sized " +
            s"FROM snap.main.$t.files")
      },
      Some(
        "SELECT CAST(4 AS BIGINT) AS n_files, " +
          "CAST(count(*) AS BIGINT) AS total_rows, " +
          "true AS all_nonempty, true AS all_sized FROM orders")
    ),
    Q(
      "table_sql_call",
      // Spark-4 stored procedures (`CALL snap.system.…`) — the
      // Iceberg-style maintenance entry points over the same engine
      // verbs as OPTIMIZE/VACUUM/RESTORE: compact an appended table to
      // 2 files, tag the head, read back through the tag. Logical
      // contents are layout-independent — the oracle reads the source.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        (0 until 3).foreach(i =>
          orders.filter(col("o_orderkey") % 3 === i)
            .write.mode("append").insertInto(s"snap.main.$t"))
        val v = s.sql(s"CALL snap.system.compact('main.$t', 2)")
          .head().getLong(0)
        s.sql(s"CALL snap.system.create_tag('main.$t', 'audited', $v)")
          .collect()
        s.sql(
          s"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
            "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
            s"AS total FROM snap.main.$t VERSION AS OF 'audited' " +
            "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
          "AS total FROM orders " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_sql_view",
      // persistent SQL views in the snap catalog: CREATE VIEW stores
      // the defining text as warehouse metadata (DSv2 ViewCatalog +
      // graft's own analyzer wiring — OSS Spark has the API but no
      // resolution rule); reads substitute the text, so the view sees
      // LIVE table data, composes with joins, and costs one metadata
      // file read at analysis time whatever the data size.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("append").insertInto(s"snap.main.$t")
        s.sql(s"CREATE VIEW snap.main.${t}_v AS " +
          s"SELECT o_orderstatus, o_totalprice FROM snap.main.$t " +
          "WHERE o_totalprice > 100000")
        val out = s.sql(
          s"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
            "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
            s"AS total FROM snap.main.${t}_v " +
            "GROUP BY o_orderstatus ORDER BY o_orderstatus")
        val rows = out.collect()
        s.sql(s"DROP VIEW snap.main.${t}_v")
        s.createDataFrame(
          java.util.Arrays.asList(rows: _*), out.schema)
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 " +
          "AS total FROM orders WHERE o_totalprice > 100000 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_stream_v2_cdf",
      // NATIVE V2 change-data feed: `readStream.table("snap.db.t
      // .changes")` — the CHANGES companion table (Iceberg metadata-
      // table idea) carries the +`_sign`/`_version` schema through
      // analysis, which reader options on the base table cannot. Two
      // AvailableNow drains of ONE checkpoint: the first delivers the
      // discovered snapshot as +1, the second the per-commit signed
      // diffs of a later append AND a CoW delete — and because rewrite-
      // copied rows cancel under any linear aggregate, the signed sums
      // below maintain the live view incrementally. At 100 TB this is
      // the standard incremental-materialization contract: each drain
      // reads only the commits' diff legs, never the table.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val sink = graft.Tmp.dir("graft_v2cdf_sink")
        val ckpt = graft.Tmp.dir("graft_v2cdf_ckpt")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.mode("append").insertInto(s"snap.main.$t")
        def drain(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.main.$t.changes")
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // initial load: snapshot, all +1
        orders.filter(col("o_orderkey") % 2 === 1)
          .write.mode("append").insertInto(s"snap.main.$t")
        s.sql(s"DELETE FROM snap.main.$t WHERE o_orderkey % 10 = 3")
        drain() // diff legs: +adds, then the CoW rewrite's +/- rows
        s.read.parquet(sink)
          .groupBy("o_orderstatus")
          .agg(sum(col("_sign")).as("n"),
            (sum(col("_sign") *
              round(col("o_totalprice") * 100).cast("long")) / 100)
              .as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders WHERE o_orderkey % 10 <> 3 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    ),
    Q(
      "table_stream_v2_cdf_mor",
      // V2 change-data feed over a MERGE-ON-READ delete: the `.changes`
      // companion is DV-aware — a DV-only commit (no file added or
      // removed) streams as position-diff −1 rows read keep-only from
      // the carried files, so a downstream signed aggregate stays
      // incrementally correct without ever compacting. At 100 TB this
      // is the point of MoR: the delete writes a few KB of positions,
      // and the feed reads ONLY the carried files holding them — the
      // DV diff is computed from the sidecars, never a table scan.
      (s, dir) => {
        sqlWarehouse(s)
        val t = freshName()
        val root = s.conf.get("spark.sql.catalog.snap.root") +
          s"/main/$t"
        val sink = graft.Tmp.dir("graft_v2cdfm_sink")
        val ckpt = graft.Tmp.dir("graft_v2cdfm_ckpt")
        val orders = T(s, dir, "orders").select(
          col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        s.sql(s"CREATE TABLE snap.main.$t " +
          "(o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE)")
        orders.filter(col("o_orderkey") % 2 === 0)
          .write.mode("append").insertInto(s"snap.main.$t")
        def drain(): Unit = graft.StreamRun.withStateParts(s) {
          val q = s.readStream.table(s"snap.main.$t.changes")
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        drain() // initial load: snapshot, all +1
        SnapTable.deleteWhereMoR(s, root,
          col("o_orderkey") % 10 === 4) // DV-only commit, no file diff
        drain() // position-diff leg: the deleted pre-images, sign -1
        s.read.parquet(sink)
          .groupBy("o_orderstatus")
          .agg(sum(col("_sign")).as("n"),
            (sum(col("_sign") *
              round(col("o_totalprice") * 100).cast("long")) / 100)
              .as("total"))
          .orderBy("o_orderstatus")
      },
      Some(
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100 AS total " +
          "FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 10 <> 4 " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus")
    )
  )
}
