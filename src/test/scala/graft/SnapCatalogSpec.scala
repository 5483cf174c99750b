package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.{SnapBatchScan, SnapCatalog, SnapScanBuilder, SnapTable}

/** The DSv2 catalog's physical contracts: identifier→directory mapping,
  * VERSION AS OF manifest selection, commit-per-INSERT, pushed-filter →
  * manifest file pruning, and DDL round trips. Logical results of the SQL
  * surface are oracle-checked by the `table_sql_*` ops; this spec pins
  * what SQL results can't show.
  */
class SnapCatalogSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val base: String = {
    val b = Tmp.dir("snapcat_spec")
    spark.conf.set("spark.sql.catalog.snapt", classOf[SnapCatalog].getName)
    spark.conf.set("spark.sql.catalog.snapt.root", b)
    b
  }

  private def orders = T(spark, TestSpark.Sf, "orders")
    .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))

  test("manifest column stats reach the CBO: filter estimation uses " +
      "real [min,max] instead of default selectivity") {
    val root = s"$base/db1/cbo"
    SnapTable.create(spark, root,
      spark.range(10000).selectExpr("id AS k", "id % 7 AS v")
        .repartitionByRange(8, col("k")), "k")
    val saved = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      def est(sql: String): BigInt =
        spark.sql(sql).queryExecution.optimizedPlan.stats.rowCount
          .getOrElse(sys.error("CBO produced no rowCount"))
      val narrow = est("SELECT * FROM snapt.db1.cbo WHERE k < 100")
      val wide = est("SELECT * FROM snapt.db1.cbo WHERE k < 9000")
      // with real [0, 9999] bounds the range estimates scale with the
      // predicate's width — defaults would give both the same fraction.
      // (file pruning also shrinks the scan, so compare RATIOS)
      assert(narrow < wide,
        s"estimates ignore column bounds: narrow=$narrow wide=$wide")
      assert(narrow <= 2000,
        s"k<100 over [0,9999] must estimate selective, got $narrow")
    } finally {
      saved match {
        case Some(x) => spark.conf.set("spark.sql.cbo.enabled", x)
        case None => spark.conf.unset("spark.sql.cbo.enabled")
      }
    }
  }

  test("SQL ADD COLUMN DEFAULT: native scan fills pre-add rows, " +
      "post-add writes keep explicit values, UPDATE reads through") {
    val root = s"$base/db1/dflt"
    SnapTable.create(spark, root,
      spark.range(50).selectExpr("id AS k", "id * 2 AS v")
        .repartitionByRange(2, col("k")), "k")
    spark.sql("ALTER TABLE snapt.db1.dflt ADD COLUMN tier STRING " +
      "DEFAULT 'basic'")
    assert(SnapTable.load(root, SnapTable.latestVersion(root))
      .defaults.contains("tier"))
    // the NATIVE batch scan fills per-file (no nulls from old files)
    assert(spark.sql("SELECT * FROM snapt.db1.dflt " +
      "WHERE tier = 'basic'").count() == 50)
    assert(spark.sql("SELECT * FROM snapt.db1.dflt " +
      "WHERE tier IS NULL").count() == 0)
    spark.sql("INSERT INTO snapt.db1.dflt " +
      "SELECT id AS k, id * 2 AS v, 'pro' AS tier FROM range(50, 60)")
    assert(spark.sql("SELECT * FROM snapt.db1.dflt " +
      "WHERE tier = 'pro'").count() == 10)
    // row-level UPDATE reads through the fill: predicate on the
    // defaulted column matches pre-add rows
    spark.sql("UPDATE snapt.db1.dflt SET tier = 'upgraded' " +
      "WHERE tier = 'basic' AND k < 10")
    assert(spark.sql("SELECT * FROM snapt.db1.dflt " +
      "WHERE tier = 'upgraded'").count() == 10)
    assert(spark.sql("SELECT * FROM snapt.db1.dflt " +
      "WHERE tier = 'basic'").count() == 40)
  }

  test("SQL read resolves the head; VERSION AS OF selects its manifest") {
    val root = s"$base/db1/ord"
    SnapTable.create(spark, root,
      orders.filter(col("o_orderkey") % 2 === 0)
        .repartitionByRange(4, col("o_orderkey")), "o_orderkey")
    SnapTable.append(spark, root, orders.filter(col("o_orderkey") % 2 === 1))
    val n1 = orders.filter(col("o_orderkey") % 2 === 0).count()
    val all = orders.count()
    assert(spark.sql("SELECT * FROM snapt.db1.ord").count() == all)
    assert(spark.sql("SELECT * FROM snapt.db1.ord VERSION AS OF 1")
      .count() == n1)
    // a query started against the head keeps its snapshot: new commits
    // don't retroactively change an analyzed plan's manifest
    val pinned = spark.sql("SELECT count(*) AS n FROM snapt.db1.ord")
    SnapTable.append(spark, root, orders.limit(10))
    assert(pinned.collect()(0).getLong(0) == all,
      "an analyzed query must read the snapshot it resolved")
  }

  test("INSERT INTO commits append; INSERT OVERWRITE replaces in one commit") {
    spark.sql("CREATE TABLE snapt.db1.ins " +
      "(k BIGINT, v DOUBLE) PARTITIONED BY (k)")
    val root = s"$base/db1/ins"
    assert(SnapTable.versions(root) == Seq(1))
    assert(SnapTable.load(root, 1).spec == Seq("k"))
    spark.range(100).selectExpr("id AS k", "CAST(id AS DOUBLE) / 2 AS v")
      .createOrReplaceTempView("ins_src")
    spark.sql("INSERT INTO snapt.db1.ins SELECT * FROM ins_src")
    assert(SnapTable.versions(root) == Seq(1, 2))
    assert(spark.sql("SELECT * FROM snapt.db1.ins").count() == 100)
    spark.sql("INSERT OVERWRITE snapt.db1.ins " +
      "SELECT * FROM ins_src WHERE k < 10")
    assert(SnapTable.versions(root) == Seq(1, 2, 3))
    assert(SnapTable.load(root, 3).op == "overwrite")
    assert(spark.sql("SELECT * FROM snapt.db1.ins").count() == 10)
    // pre-overwrite contents remain reachable by time travel
    assert(spark.sql("SELECT * FROM snapt.db1.ins VERSION AS OF 2")
      .count() == 100)
  }

  test("DOUBLE-column range predicates prune files from dstats") {
    val root = s"$base/db1/dprune"
    SnapTable.create(spark, root,
      spark.range(8000).selectExpr("id AS k",
        "CAST(id AS DOUBLE) * 1.5 AS price")
        .repartitionByRange(8, col("k")), "k")
    val snap = SnapTable.load(root, 1)
    assert(snap.files.forall(_.dstats.contains("price")),
      "footer sweep must record DOUBLE bounds")
    val b = new SnapScanBuilder(root, snap,
      spark.createDataFrame(spark.sparkContext
        .emptyRDD[org.apache.spark.sql.Row],
        SnapTable.schemaOf(snap.schemaJson)).schema)
    b.pushFilters(Array(
      org.apache.spark.sql.sources.LessThan("price", 1000.0)))
    val scan = b.build().asInstanceOf[SnapBatchScan]
    assert(snap.files.size == 8)
    assert(scan.files.size < snap.files.size,
      s"price range must prune (${scan.files.size}/8)")
    // SQL over the same range is exact (residual filter stays)
    spark.conf.set("spark.sql.catalog.snapt.root", base)
    val n = spark.range(8000).filter("id * 1.5 < 1000.0").count()
    assert(SnapTable.read(spark, root)
      .filter(col("price") < 1000.0).count() == n)
  }

  test("pushed range predicate prunes files from the manifest") {
    val root = s"$base/db1/prune"
    SnapTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")), "o_orderkey")
    val snap = SnapTable.load(root, 1)
    val b = new SnapScanBuilder(root, snap,
      spark.sql("SELECT * FROM snapt.db1.prune").schema)
    b.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", 1L),
      org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", 200L)))
    val scan = b.build().asInstanceOf[SnapBatchScan]
    assert(snap.files.size == 8)
    assert(scan.files.size < snap.files.size,
      s"range-clustered files must prune (${scan.files.size}/8)")
    // and the SQL result over the same range is exact
    val expect = orders.filter(col("o_orderkey").between(1, 200)).count()
    assert(spark.sql("SELECT * FROM snapt.db1.prune " +
      "WHERE o_orderkey BETWEEN 1 AND 200").count() == expect)
  }

  test("CREATE TABLE with a column DEFAULT: INSERTs omitting the " +
      "column take the declared default (metadata rides the schema)") {
    base // force catalog registration
    spark.sql("CREATE TABLE snapt.db1.cdef " +
      "(k BIGINT, tier STRING DEFAULT 'basic')")
    spark.sql("INSERT INTO snapt.db1.cdef (k) SELECT id FROM range(0, 5)")
    spark.sql("INSERT INTO snapt.db1.cdef " +
      "SELECT id, 'pro' FROM range(5, 8)")
    assert(spark.sql("SELECT * FROM snapt.db1.cdef " +
      "WHERE tier = 'basic'").count() == 5)
    assert(spark.sql("SELECT * FROM snapt.db1.cdef " +
      "WHERE tier = 'pro'").count() == 3)
    // explicit DEFAULT keyword resolves too
    spark.sql("INSERT INTO snapt.db1.cdef VALUES (100, DEFAULT)")
    assert(spark.sql("SELECT * FROM snapt.db1.cdef " +
      "WHERE k = 100 AND tier = 'basic'").count() == 1)
  }

  test("TIMESTAMP and IN-list predicates prune files from the manifest") {
    val root = s"$base/db1/tsprune"
    // an event-time-clustered table: ts footer stats are INT64 micros
    SnapTable.create(spark, root,
      T(spark, TestSpark.Sf, "events")
        .select(col("event_id"), col("ts"), col("value"))
        .repartitionByRange(8, col("ts")), "event_id")
    val snap = SnapTable.load(root, 1)
    val full = spark.sql("SELECT * FROM snapt.db1.tsprune").schema
    // a one-day window through the NTZ literal Spark pushes
    val lo = java.time.LocalDateTime.of(2024, 1, 2, 0, 0)
    val hi = java.time.LocalDateTime.of(2024, 1, 3, 0, 0)
    val b = new SnapScanBuilder(root, snap, full)
    b.pushFilters(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts", lo),
      org.apache.spark.sql.sources.LessThan("ts", hi)))
    val scan = b.build().asInstanceOf[SnapBatchScan]
    assert(scan.files.size < snap.files.size,
      s"time-clustered files must prune (${scan.files.size}/8)")
    // SQL result over the same window is exact
    val expect = T(spark, TestSpark.Sf, "events")
      .filter(col("ts") >= lit("2024-01-02").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-03").cast("timestamp_ntz")).count()
    assert(spark.sql("SELECT * FROM snapt.db1.tsprune " +
      "WHERE ts >= TIMESTAMP_NTZ'2024-01-02 00:00:00' " +
      "AND ts < TIMESTAMP_NTZ'2024-01-03 00:00:00'").count() == expect)
    // IN lists narrow to their [min,max] envelope (key-clustered table)
    val root2 = s"$base/db1/inprune"
    SnapTable.create(spark, root2,
      orders.repartitionByRange(8, col("o_orderkey")), "o_orderkey")
    val snap2 = SnapTable.load(root2, 1)
    val b2 = new SnapScanBuilder(root2, snap2,
      spark.sql("SELECT * FROM snapt.db1.inprune").schema)
    b2.pushFilters(Array(org.apache.spark.sql.sources.In("o_orderkey",
      Array(1L, 2L, 3L))))
    assert(b2.build().asInstanceOf[SnapBatchScan].files.size <
      snap2.files.size, "IN-list envelope must prune")
  }

  test("scan statistics come from the manifest and shrink under pushed " +
      "filters") {
    val root = s"$base/db1/stats"
    SnapTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")), "o_orderkey")
    val snap = SnapTable.load(root, 1)
    val schema = spark.sql("SELECT * FROM snapt.db1.stats").schema
    def statsOf(filters: Array[org.apache.spark.sql.sources.Filter]) = {
      val b = new SnapScanBuilder(root, snap, schema)
      b.pushFilters(filters)
      b.build()
        .asInstanceOf[org.apache.spark.sql.connector.read
          .SupportsReportStatistics].estimateStatistics()
    }
    val full = statsOf(Array.empty)
    // unfiltered: exact row count from the manifest, real on-disk bytes
    assert(full.numRows.getAsLong == snap.files.map(_.rows).sum)
    val diskBytes = snap.files.map(f => java.nio.file.Files.size(
      java.nio.file.Paths.get(root).resolve(f.path))).sum
    assert(full.sizeInBytes.getAsLong == diskBytes)
    assert(full.sizeInBytes.getAsLong > 0)
    // a pruning filter shrinks BOTH estimates (fewer surviving files)
    val pruned = statsOf(Array(
      org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", 200L)))
    assert(pruned.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong,
      s"${pruned.sizeInBytes} !< ${full.sizeInBytes}")
    assert(pruned.numRows.getAsLong < full.numRows.getAsLong)
  }

  test("CTAS and REPLACE TABLE AS SELECT work through the catalog") {
    spark.sql("CREATE TABLE snapt.db2.ctas AS " +
      "SELECT id AS k, id * 2 AS v FROM range(0, 100)")
    assert(spark.sql("SELECT sum(v) FROM snapt.db2.ctas")
      .head().getLong(0) == 9900)
    spark.sql("REPLACE TABLE snapt.db2.ctas AS " +
      "SELECT id AS k FROM range(0, 5)")
    assert(spark.sql("SELECT count(*) FROM snapt.db2.ctas")
      .head().getLong(0) == 5)
    spark.sql("DROP TABLE snapt.db2.ctas")
  }

  test("string equality and prefix predicates prune files via sstats") {
    val root = s"$base/db1/sprune"
    val docs = T(spark, TestSpark.Sf, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    SnapTable.create(spark, root, docs, "doc_id", spec = Seq("lang"))
    val snap = SnapTable.load(root, 1)
    // lang-clustered files must carry string bounds for lang
    assert(snap.files.forall(_.sstats.contains("lang")))
    val b = new SnapScanBuilder(root, snap,
      spark.sql("SELECT * FROM snapt.db1.sprune").schema)
    b.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("lang", "en")))
    val scan = b.build().asInstanceOf[SnapBatchScan]
    assert(snap.files.size > 1)
    assert(scan.files.size < snap.files.size,
      s"lang-clustered files must prune (${scan.files.size}/" +
        s"${snap.files.size})")
    // the SQL result through the same path is exact
    val expect = docs.filter(col("lang") === "en").count()
    assert(spark.sql(
      "SELECT * FROM snapt.db1.sprune WHERE lang = 'en'")
      .count() == expect)
    val expectGe = docs.filter(col("lang") >= "fr").count()
    assert(spark.sql(
      "SELECT * FROM snapt.db1.sprune WHERE lang >= 'fr'")
      .count() == expectGe)
  }

  test("retention DELETE is metadata-only for fully-covered files; " +
      "boundary files rewrite; NULLs block blind drops") {
    val root = s"$base/db1/retention"
    // day-clustered fact: each file covers a narrow day range
    SnapTable.create(spark, root,
      spark.range(30000).selectExpr("id % 30 AS day", "id AS v"),
      "day", spec = Seq("day"))
    val before = SnapTable.load(root, 1)
    val dataDirsBefore = before.files.map(_.path.split("/")(1)).toSet
    assert(before.files.forall(_.nulls.get("day").contains(0L)),
      "footer null counts must be recorded for the INT64 columns")
    // DELETE WHERE day < 14: most files are FULLY covered → dropped
    // from the manifest without being read; at most one boundary file
    // rewrites
    spark.sql("DELETE FROM snapt.db1.retention WHERE day < 14")
    val after = SnapTable.load(root, SnapTable.latestVersion(root))
    assert(spark.sql("SELECT count(*) FROM snapt.db1.retention")
      .head().getLong(0) == 16000)
    assert(spark.sql("SELECT min(day) FROM snapt.db1.retention")
      .head().getLong(0) == 14)
    // metadata-only proof: fully-covered files left the manifest (never
    // read), files entirely above the cutoff carried forward untouched,
    // and only the boundary rewrite wrote a new dir
    val dataDirsAfter = after.files.map(_.path.split("/")(1)).toSet
    assert((dataDirsAfter -- dataDirsBefore).size <= 1,
      s"retention delete rewrote ${dataDirsAfter -- dataDirsBefore}")
    val afterPaths = after.files.map(_.path).toSet
    val fullyCovered = before.files.filter(_.stats("day")._2 < 14)
    val untouched = before.files.filter(_.stats("day")._1 >= 14)
    assert(fullyCovered.nonEmpty, "fixture: no fully-covered file")
    assert(fullyCovered.forall(f => !afterPaths.contains(f.path)),
      "a provably-covered file was not dropped")
    assert(untouched.forall(f => afterPaths.contains(f.path)),
      "an untouched file was rewritten")
    // a nullable column blocks the blind drop: rows where the predicate
    // is NULL must survive, so the file must be READ, not dropped
    val root2 = s"$base/db1/retnull"
    SnapTable.create(spark, root2,
      spark.range(100).selectExpr("id AS k",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS vn"), "k")
    spark.sql("DELETE FROM snapt.db1.retnull WHERE vn < 200")
    // the 10 NULL-vn rows survive (SQL DELETE semantics)
    assert(spark.sql("SELECT count(*) FROM snapt.db1.retnull")
      .head().getLong(0) == 10)
  }

  test("TRUNCATE TABLE commits an empty snapshot; history stays") {
    val root = s"$base/db1/trunc"
    SnapTable.create(spark, root,
      spark.range(500).selectExpr("id AS k", "id * 2 AS v"), "k")
    spark.sql("TRUNCATE TABLE snapt.db1.trunc")
    assert(spark.sql("SELECT count(*) FROM snapt.db1.trunc")
      .head().getLong(0) == 0)
    val head = SnapTable.load(root, SnapTable.latestVersion(root))
    assert(head.op == "truncate" && head.files.isEmpty)
    // pre-truncate contents stay reachable by time travel
    assert(spark.sql("SELECT count(*) FROM snapt.db1.trunc VERSION AS OF 1")
      .head().getLong(0) == 500)
    // and the table keeps working: insert after truncate
    spark.sql("INSERT INTO snapt.db1.trunc VALUES (1, 2)")
    assert(spark.sql("SELECT count(*) FROM snapt.db1.trunc")
      .head().getLong(0) == 1)
  }

  test("COUNT/MIN/MAX push down completely: answered from the manifest " +
      "with zero data files opened") {
    val root = s"$base/db1/aggpush"
    SnapTable.create(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")), "o_orderkey")
    val expectN = orders.count()
    val expectMin = orders.agg(min("o_orderkey")).head().getLong(0)
    val expectMax = orders.agg(max("o_orderkey")).head().getLong(0)
    // DOUBLE columns answer from dstats
    val expectPMax = orders.agg(max("o_totalprice")).head().getDouble(0)
    def q() = spark.sql("SELECT count(*), min(o_orderkey), " +
      "max(o_orderkey), max(o_totalprice) FROM snapt.db1.aggpush").head()
    val r = q()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)) ==
      ((expectN, expectMin, expectMax, expectPMax)))
    // the PROOF no file is read: delete every data file; the manifest
    // alone still answers
    import scala.jdk.CollectionConverters._
    val dataDir = java.nio.file.Paths.get(root, "data")
    val walked = java.nio.file.Files.walk(dataDir)
    val parquets =
      try walked.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet"))
      finally walked.close()
    assert(parquets.nonEmpty)
    parquets.foreach(java.nio.file.Files.delete)
    val r2 = q()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2),
      r2.getDouble(3)) == ((expectN, expectMin, expectMax, expectPMax)),
      "aggregate pushdown read a data file")
    // a WHERE clause blocks the pushdown (filters are residual here), so
    // the query must fail on the missing files rather than mis-answer
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM snapt.db1.aggpush " +
        "WHERE o_orderkey > 10").head()
    }
  }

  test("aggregate pushdown refuses DV-bearing snapshots (counts would " +
      "include deleted rows)") {
    val root = s"$base/db1/aggdv"
    SnapTable.create(spark, root,
      spark.range(100).selectExpr("id AS k", "id AS v"), "k")
    SnapTable.deleteWhereMoR(spark, root, col("k") < 10)
    // still correct — it falls back to the real scan through the DVs
    val r = spark.sql(
      "SELECT count(*), min(k) FROM snapt.db1.aggdv").head()
    assert(r.getLong(0) == 90 && r.getLong(1) == 10L)
  }

  test("runtime (DPP-style) pruning: a selective dim join narrows the " +
      "fact file list at execution time") {
    val root = s"$base/db1/dppfact"
    // fact range-clustered on `day` (identity spec): 30 days across
    // several files, each with tight [min,max] day stats
    SnapTable.create(spark, root,
      spark.range(30000).selectExpr("id % 30 AS day", "id AS v"),
      "day", spec = Seq("day"))
    val total = SnapTable.load(root, 1).files.size
    assert(total > 1)
    // the dim is a REAL table (an optimizer can transpose a predicate
    // over a computed view straight onto the fact side, leaving nothing
    // for runtime pruning to do)
    val dimRoot = s"$base/db1/dppdim"
    SnapTable.create(spark, dimRoot,
      spark.range(30).selectExpr("id AS day", "concat('t', id) AS tag"),
      "day")
    val saved = spark.conf.getOption("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = spark.sql(
        """SELECT count(*) AS n FROM snapt.db1.dppfact f
          |JOIN snapt.db1.dppdim d ON f.day = d.day
          |WHERE d.tag = 't7'""".stripMargin)
      // collect() executes THIS dataset's own plan (head() would plan
      // a separate LIMIT execution and leave this tree untouched)
      assert(df.collect()(0).getLong(0) == 1000L)
      // the executed scan's file list must have narrowed below the
      // table's total — proof the filter reached SnapBatchScan.filter
      val scans = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.scan.isInstanceOf[graft.sources.SnapBatchScan] &&
            b.runtimeFilters.nonEmpty =>
          b.scan.asInstanceOf[graft.sources.SnapBatchScan]
      }
      assert(scans.nonEmpty,
        "no scan carried a runtime filter:\n" +
          df.queryExecution.executedPlan.toString)
      assert(scans.head.files.size < total,
        s"runtime filter pruned nothing: ${scans.head.files.size}/$total")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.adaptive.enabled", v)
      case None => spark.conf.unset("spark.sql.adaptive.enabled")
    }
  }

  test("native scan splits a big single file and bin-packs small ones") {
    val root = s"$base/db1/splitpack"
    // ONE parquet file holding everything (coalesce(1)) — without
    // byte-range splitting this table can only ever read as one task
    SnapTable.create(spark, root,
      orders.coalesce(1), "o_orderkey")
    val one = SnapTable.load(root, 1).files
    assert(one.size == 1)
    // "big" = above maxPartitionBytes; the fixture file is a few tens
    // of KB, below the open-cost floor that keeps small files whole
    val bytes = new java.io.File(s"$root/${one.head.path}").length
    val saved = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (bytes / 4).toString)
    try {
      val df = spark.sql("SELECT * FROM snapt.db1.splitpack")
      assert(df.rdd.getNumPartitions > 1,
        "a big single file must split into several input partitions")
      assert(df.count() == orders.count(), "splits lost or doubled rows")
      assert(df.select("o_orderkey").distinct().count() ==
        orders.select("o_orderkey").distinct().count())
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
    // and the inverse: many small files pack into FEW partitions
    val root2 = s"$base/db1/packmany"
    SnapTable.create(spark, root2,
      orders.repartition(32), "o_orderkey")
    assert(SnapTable.load(root2, 1).files.size >= 16)
    val packed = spark.sql("SELECT * FROM snapt.db1.packmany")
    assert(packed.rdd.getNumPartitions <
      SnapTable.load(root2, 1).files.size,
      s"${packed.rdd.getNumPartitions} partitions for " +
        s"${SnapTable.load(root2, 1).files.size} files — no packing")
    // each file also weighs the open cost, as in Spark's file scan, so
    // small files still spread across cores
    assert(packed.rdd.getNumPartitions > 1, "all small files in one task")
    assert(packed.count() == orders.count())
  }

  test("a small one-file snapshot plans as one input partition") {
    val root = s"$base/db1/smallone"
    SnapTable.create(spark, root, orders.coalesce(1), "o_orderkey")
    val one = SnapTable.load(root, 1).files
    assert(one.size == 1)
    assert(new java.io.File(s"$root/${one.head.path}").length <
      spark.sessionState.conf.filesOpenCostInBytes)
    val df = spark.sql("SELECT * FROM snapt.db1.smallone")
    assert(df.rdd.getNumPartitions == 1,
      "a file below the open cost must not split into byte ranges")
    assert(df.count() == orders.count())
  }

  test("column pruning reaches the scan schema") {
    val df = spark.sql("SELECT o_custkey FROM snapt.db1.prune")
    // the executed plan's base relation must carry only the one column
    val scans = df.queryExecution.executedPlan.collectLeaves()
    assert(scans.exists(_.schema.fieldNames.sameElements(
      Array("o_custkey"))), s"scan schema not pruned:\n${df.queryExecution}")
  }

  test("ALTER TABLE RENAME/DROP COLUMN: metadata-only through SQL, " +
      "mixed files read correctly, MERGE works after a rename") {
    val root = s"$base/db1/colevo"
    spark.sql("CREATE TABLE snapt.db1.colevo " +
      "(k BIGINT, v BIGINT, note STRING)")
    spark.range(100).selectExpr("id AS k", "id * 3 AS v",
      "concat('n', id) AS note").createOrReplaceTempView("colevo_src")
    spark.sql("INSERT INTO snapt.db1.colevo SELECT * FROM colevo_src")
    val filesBefore = SnapTable.load(root,
      SnapTable.latestVersion(root)).files
    spark.sql("ALTER TABLE snapt.db1.colevo RENAME COLUMN v TO score")
    assert(SnapTable.load(root, SnapTable.latestVersion(root))
      .files == filesBefore, "SQL RENAME COLUMN rewrote data")
    // old files resolve under the new name; an insert AFTER the rename
    // writes the physical name — both eras agree
    spark.sql("INSERT INTO snapt.db1.colevo " +
      "SELECT id AS k, id * 3 AS score, concat('n', id) AS note " +
      "FROM range(100, 120)")
    assert(spark.sql("SELECT count(*) FROM snapt.db1.colevo " +
      "WHERE score = k * 3").head().getLong(0) == 120)
    // row-level MERGE through the native scan under the column mapping
    spark.sql("SELECT id AS k, CAST(0 AS BIGINT) AS s FROM range(0, 7)")
      .createOrReplaceTempView("colevo_upd")
    spark.sql(
      """MERGE INTO snapt.db1.colevo t USING colevo_upd u ON t.k = u.k
        |WHEN MATCHED THEN UPDATE SET score = u.s""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM snapt.db1.colevo " +
      "WHERE score = 0 AND k < 7").head().getLong(0) == 7)
    // DROP COLUMN: metadata-only; the column disappears from reads
    spark.sql("ALTER TABLE snapt.db1.colevo DROP COLUMN note")
    assert(spark.sql("SELECT * FROM snapt.db1.colevo").columns.toSeq ==
      Seq("k", "score"))
    assert(spark.sql("SELECT count(*) FROM snapt.db1.colevo")
      .head().getLong(0) == 120)
  }

  test("DDL round trip: create/list/rename/drop") {
    spark.sql("CREATE TABLE snapt.db2.a (k BIGINT, s STRING)")
    assert(spark.sql("SHOW TABLES IN snapt.db2").collect()
      .map(_.getString(1)).contains("a"))
    spark.sql("ALTER TABLE snapt.db2.a RENAME TO db2.b")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/db2/a")))
    assert(spark.sql("SELECT * FROM snapt.db2.b").count() == 0)
    spark.sql("DROP TABLE snapt.db2.b")
    assert(spark.sql("SHOW TABLES IN snapt.db2").count() == 0)
  }

  test("strict bounds at Long extremes saturate instead of wrapping") {
    val root = s"$base/db1/clamp"
    SnapTable.create(spark, root,
      orders.repartitionByRange(8, col("o_orderkey")), "o_orderkey")
    val snap = SnapTable.load(root, 1)
    def filesFor(f: org.apache.spark.sql.sources.Filter): Int = {
      val b = new SnapScanBuilder(root, snap,
        SnapTable.read(spark, root).schema)
      b.pushFilters(Array(f))
      b.build().asInstanceOf[SnapBatchScan].files.size
    }
    // k > Long.MaxValue matches nothing; a wrapping v+1 would compute
    // lo = Long.MinValue and un-prune EVERY file
    assert(filesFor(org.apache.spark.sql.sources.GreaterThan(
      "o_orderkey", Long.MaxValue)) == 0)
    assert(filesFor(org.apache.spark.sql.sources.LessThan(
      "o_orderkey", Long.MinValue)) == 0)
    // the saturated edge keeps files only if their stats actually reach it
    assert(filesFor(org.apache.spark.sql.sources.LessThan(
      "o_orderkey", Long.MaxValue)) == 8)
  }

  test("SQL reads subtract deletion vectors like the API reads") {
    val root = s"$base/db1/mor"
    SnapTable.create(spark, root,
      orders.repartitionByRange(4, col("o_orderkey")), "o_orderkey")
    SnapTable.deleteWhereMoR(spark, root, col("o_totalprice") > 200000)
    val expect = SnapTable.read(spark, root).count()
    assert(expect < orders.count(), "fixture sanity: the delete matched")
    assert(spark.sql("SELECT * FROM snapt.db1.mor").count() == expect)
    // under file pruning too: positions of pruned-out files drop out
    val lo = spark.sql("SELECT * FROM snapt.db1.mor " +
      "WHERE o_orderkey BETWEEN 1 AND 200").count()
    assert(lo == SnapTable.read(spark, root)
      .filter(col("o_orderkey").between(1, 200)).count())
  }

  test("TIMESTAMP AS OF resolves the newest manifest at or before t") {
    val root = s"$base/db1/tt"
    SnapTable.create(spark, root, orders.limit(100), "o_orderkey")
    val t1 = System.currentTimeMillis(); Thread.sleep(5)
    SnapTable.append(spark, root, orders.limit(10))
    val t2 = System.currentTimeMillis(); Thread.sleep(5)
    SnapTable.append(spark, root, orders.limit(1))
    assert(SnapTable.versionAsOf(root, t1) == 1)
    assert(SnapTable.versionAsOf(root, t2) == 2)
    assert(SnapTable.versionAsOf(root, System.currentTimeMillis()) == 3)
    // a timestamp before the table existed is an error, not a guess
    intercept[IllegalArgumentException] {
      SnapTable.versionAsOf(root, 1L)
    }
    // SQL surface: micros → the same resolution
    assert(spark.sql("SELECT * FROM snapt.db1.tt " +
      s"TIMESTAMP AS OF timestamp_millis(${t2}L)").count() == 110)
    assert(spark.sql("SELECT * FROM snapt.db1.tt " +
      s"TIMESTAMP AS OF timestamp_millis(${t1}L)").count() == 100)
    // history exposes the commit clock the resolution used
    val hist = SnapTable.history(spark, root)
      .select("version", "ts").collect().map(r =>
        r.getLong(0) -> r.getLong(1)).toMap
    assert(hist(1L) <= t1 && hist(2L) <= t2 && hist(2L) > t1 &&
      hist(3L) > t2)
  }

  test("DROP NAMESPACE without CASCADE refuses nested namespaces") {
    base // force catalog init
    val cat = new SnapCatalog
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
      java.util.Map.of("root", base))
    cat.initialize("snapt", opts)
    cat.createNamespace(Array("outer"), java.util.Collections.emptyMap())
    cat.createNamespace(Array("outer", "inner"),
      java.util.Collections.emptyMap())
    SnapTable.create(spark, s"$base/outer/inner/t",
      orders.limit(10), "o_orderkey")
    // direct listTables sees no table under outer/, but inner/ holds one:
    // non-cascade drop must refuse rather than silently delete it
    intercept[IllegalStateException] {
      cat.dropNamespace(Array("outer"), false)
    }
    assert(SnapTable.read(spark, s"$base/outer/inner/t").count() == 10)
    assert(cat.dropNamespace(Array("outer"), true))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$base/outer")))
  }

  test("pushed LIMIT truncates the file list to a covering prefix; " +
      "filters and DVs disable the truncation") {
    val root = s"$base/db1/limpush"
    SnapTable.create(spark, root,
      spark.range(8000).selectExpr("id AS k", "id % 7 AS v")
        .repartitionByRange(8, col("k")), "k")
    def builder(snap: SnapTable.Snapshot) = new SnapScanBuilder(root, snap,
      SnapTable.schemaOf(snap.schemaJson))
    val snap1 = SnapTable.load(root, 1)
    assert(snap1.files.size == 8)
    // plain head query: one file covers LIMIT 10
    val b1 = builder(snap1)
    assert(b1.pushLimit(10))
    val s1 = b1.build().asInstanceOf[SnapBatchScan]
    assert(s1.files.size == 1, s"prefix of ${s1.files.size} files")
    assert(s1.files.map(_.rows).sum >= 10)
    // a larger limit keeps proportionally more files, still a prefix
    val b2 = builder(snap1)
    assert(b2.pushLimit(2500))
    val s2 = b2.build().asInstanceOf[SnapBatchScan]
    assert(s2.files.size == 3 && s2.files == snap1.files.take(3))
    // residual filters: a prefix file may match nothing — no truncation
    val b3 = builder(snap1)
    b3.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("v", 3L)))
    assert(b3.pushLimit(10))
    val s3 = b3.build().asInstanceOf[SnapBatchScan]
    assert(s3.files.size == 8, "filters must disable truncation")
    // deletion vectors: footer counts overstate live rows — no truncation
    SnapTable.deleteWhereMoR(spark, root, col("k") < 900)
    val snap2 = SnapTable.load(root, 2)
    assert(snap2.dvs.nonEmpty)
    val b4 = builder(snap2)
    assert(b4.pushLimit(10))
    val s4 = b4.build().asInstanceOf[SnapBatchScan]
    assert(s4.files.size == snap2.files.size,
      "DVs must disable truncation")
    // end to end: the SQL head query stays exact
    assert(spark.sql(
      "SELECT * FROM snapt.db1.limpush LIMIT 10").count() == 10)
  }

  test("pushed TopN keeps only files whose bounds reach the top-n " +
      "threshold; nulls and filters are honored") {
    import org.apache.spark.sql.connector.expressions.{
      Expressions, SortDirection, NullOrdering}
    val root = s"$base/db1/topnpush"
    SnapTable.create(spark, root,
      spark.range(8000).selectExpr(
        "id AS k", "IF(id % 1000 = 999, NULL, id) AS s")
        .repartitionByRange(8, col("k")), "k")
    val snap = SnapTable.load(root, 1)
    assert(snap.files.size == 8)
    assert(snap.files.forall(f => f.nulls.contains("s")),
      "footer sweep must record null counts")
    def builder() = new SnapScanBuilder(root, snap,
      SnapTable.schemaOf(snap.schemaJson))
    def order(dir: SortDirection, no: NullOrdering) =
      Expressions.sort(Expressions.column("s"), dir, no)
    // ASC NULLS LAST: the 10 smallest s live in the first file only
    val b1 = builder()
    assert(b1.pushTopN(Array(order(SortDirection.ASCENDING,
      NullOrdering.NULLS_LAST)), 10))
    val s1 = b1.build().asInstanceOf[SnapBatchScan]
    assert(s1.files.size == 1 && s1.files.head == snap.files.head,
      s"asc cover ${s1.files.size}/8")
    // DESC NULLS LAST: only the last file
    val b2 = builder()
    assert(b2.pushTopN(Array(order(SortDirection.DESCENDING,
      NullOrdering.NULLS_LAST)), 10))
    val s2 = b2.build().asInstanceOf[SnapBatchScan]
    assert(s2.files.size == 1 && s2.files.head == snap.files.last,
      s"desc cover ${s2.files.size}/8")
    // ASC NULLS FIRST, n ≤ #nulls: only null-bearing files (every file
    // has one null here, so all 8 stay — the cover is the null set)
    val b3 = builder()
    assert(b3.pushTopN(Array(order(SortDirection.ASCENDING,
      NullOrdering.NULLS_FIRST)), 5))
    val s3 = b3.build().asInstanceOf[SnapBatchScan]
    assert(s3.files == snap.files.filter(_.nulls("s") > 0))
    // residual filters disable the truncation
    val b4 = builder()
    b4.pushFilters(Array(
      org.apache.spark.sql.sources.EqualTo("k", 7999L)))
    assert(b4.pushTopN(Array(order(SortDirection.ASCENDING,
      NullOrdering.NULLS_LAST)), 10))
    val s4 = b4.build().asInstanceOf[SnapBatchScan]
    assert(s4.files.size == 1 && s4.files.head == snap.files.last,
      "bound pruning still applies, but no top-n truncation below it")
    // end to end: ORDER BY + LIMIT over SQL is exact under both null
    // orderings (Spark's ASC default is NULLS FIRST)
    val got = spark.sql("SELECT s FROM snapt.db1.topnpush " +
      "ORDER BY s NULLS LAST LIMIT 10").collect().map(_.getLong(0)).toSeq
    assert(got == (0L to 9L).toSeq)
    val gotNf = spark.sql("SELECT s FROM snapt.db1.topnpush " +
      "ORDER BY s LIMIT 10").collect()
      .map(r => if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    assert(gotNf == Seq.fill(8)(-1L) ++ Seq(0L, 1L),
      s"8 nulls then the smallest values: $gotNf")
    val gotDesc = spark.sql("SELECT s FROM snapt.db1.topnpush " +
      "ORDER BY s DESC NULLS LAST LIMIT 3").collect()
      .map(_.getLong(0)).toSeq
    assert(gotDesc == Seq(7998L, 7997L, 7996L),
      s"desc top-3 $gotDesc (7999 is NULL)")
  }
}
