package graft

import graft.graph.Cc
import graft.ops.{GraphBase, Wave64Ops, Wave66Ops}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Pins the round-14 continuation wave:
  *
  *  - HOT-GROUP SPLITTING (Wave66Ops.saltedCandidates): on a fixture
  *    whose hottest prefix-collision group (30 docs) is far beyond the
  *    spec cap (4), the triangle-salted candidate rule returns EXACTLY
  *    the direct rule's verified pairs — boundary completeness across
  *    salt buckets, including pairs whose smaller doc_id carries the
  *    LARGER salt (the canonicalization the fixture is asserted to
  *    exercise);
  *  - cool-group degeneracy: with the cap above every group size the
  *    salted rule is the direct rule;
  *  - the graded op equals text_dedup_near's pair set on the real
  *    sf0.001 slice (two independent formulations, one edge set);
  *  - CC RE-ENTRANCY (§18.1 #4): two concurrent Cc.minLabel calls and
  *    a concurrent graph_connected_components run on ONE session
  *    produce correct labels while a watcher thread observes the caller
  *    session's shuffle-width and broadcast confs never move — the
  *    cloned-session isolation, raced rather than asserted.
  */
class Wave66Spec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // 30 docs: 9 shared base tokens + 1 unique ⇒ every pair has
  // J = 9/11 ≈ 0.818 >= 0.8; plus 4 loner docs with disjoint sets.
  // Under the df-ascending prefix order each doc's 3-token prefix is
  // its unique token (df 1) + the two smallest shared tokens (df 30)
  // — one 30-doc collision group per shared prefix token.
  private lazy val hotT4 = {
    val base = (0 until 9).map(i => f"base$i%02d")
    val docs = (0 until 30).map { i =>
      (100L + i, (base :+ f"uniq$i%02d").sorted.toArray)
    } ++ (0 until 4).map { i =>
      (500L + i, (0 until 10).map(j => f"lone$i%d$j%d").sorted.toArray)
    }
    docs.toDF("doc_id", "ts")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.select("a", "b").as[(Long, Long)].collect().toSet

  test("salted rule == direct rule on a hot group 7.5x over the cap," +
      " and the fixture exercises inverted salt order") {
    val pref = Wave64Ops.prefixRowsDf(hotT4, Nil)
    val maxG = pref.groupBy("ptok").agg(count(lit(1)).as("g"))
      .agg(max("g")).first().getLong(0)
    assert(maxG === 30L, "fixture must have a hot collision group")
    // the canonicalization matters only if some true pair has its
    // smaller id in the larger salt bucket — assert the fixture
    // provides one instead of hoping
    val salts = hotT4.filter($"doc_id" >= 100L && $"doc_id" < 130L)
      .select($"doc_id",
        pmod(xxhash64($"doc_id"), lit(8)).cast("int").as("s"))
      .as[(Long, Int)].collect().toMap
    assert(salts.exists { case (u, su) =>
      salts.exists { case (v, sv) => u < v && su > sv } },
      "fixture must contain a pair with inverted salt order")
    val direct = pairSet(Wave64Ops.jaccardVerify(
      hotT4.as("x").join(hotT4.as("y"),
          col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")),
      hotT4))
    assert(direct.size === 30 * 29 / 2)
    val salted = pairSet(
      Wave66Ops.saltedPrefixJaccardPairs(hotT4, Nil, cap = 4L))
    assert(salted === direct)
    // the boundedness claim at spec scale: after salting, no
    // (ptok, salt) bucket side exceeds ~cap (hash-balanced; the fixed
    // fixture is deterministic, so 2·cap is a safe pin vs the direct
    // join's 30-doc group)
    val maxBucket = pref
      .join(pref.groupBy("ptok").agg(count(lit(1)).as("gsz")), "ptok")
      .withColumn("nsalt", expr("CAST((gsz + 3) div 4 AS INT)"))
      .withColumn("salt",
        pmod(xxhash64($"doc_id"), $"nsalt").cast("int"))
      .groupBy("ptok", "salt").agg(count(lit(1)).as("b"))
      .agg(max("b")).first().getLong(0)
    assert(maxBucket <= 8L, s"bucket side $maxBucket exceeds 2*cap")
  }

  test("grid-salted probe rule == direct probe join on a hot group " +
      "(the live funnel's asymmetric shape, probe ⊆ index)") {
    // probe = 10 of the 30 hot docs + 1 loner; index = all 34
    val probeT4 = hotT4.filter($"doc_id" < 110L || $"doc_id" === 500L)
    val pref = Wave64Ops.prefixRowsDf(hotT4, Nil)
    val probePref = pref.join(probeT4.select("doc_id"), Seq("doc_id"),
      "left_semi")
    val direct = pairSet(probePref.as("x")
      .join(pref.as("y"), Wave64Ops.prefixCondXY(Nil) &&
        col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"))
      .distinct())
    // 10 probe docs each pair with the other 29 hot docs; within-probe
    // pairs counted once: 10*29 - C(10,2) = 245
    assert(direct.size === 245)
    val salted = pairSet(ops.Wave66Ops.gridSaltedProbeCandidates(
      probePref, pref, Nil, cap = 4L))
    assert(salted === direct)
  }

  test("cool groups degenerate to the direct candidate rule") {
    val pref = Wave64Ops.prefixRowsDf(hotT4, Nil)
    val directCand = pairSet(pref.as("x")
      .join(pref.as("y"), Wave64Ops.prefixCondXY(Nil) &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct())
    val salted = pairSet(
      Wave66Ops.saltedCandidates(pref, Nil, cap = 1000L))
    assert(salted === directCand)
  }

  test("graded op equals text_dedup_near's pair set at sf0.001") {
    val near = SparkEntry.queries("text_dedup_near")(spark, TestSpark.Sf)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val split = SparkEntry.queries("text_dedup_near_split")(
      spark, TestSpark.Sf)
    assert(pairSet(split) === pairSet(near))
    assert(pairSet(split).nonEmpty)
  }

  // --- refreeze fixture: en docs that pass both gates; doc 50 is a
  // cross-refreeze near-dup of doc 10 (J = 36/44 ≈ 0.818)
  private val rA = Seq("the", "and", "of", "to") ++
    (0 until 28).map(i => f"a$i%02d")
  private val rB = (0 until 8).map(i => f"b$i%02d")
  private val rC = (0 until 8).map(i => f"c$i%02d")
  private lazy val rDir: String = {
    val d = Tmp.dir("wave66_refreeze")
    Seq(
      (10L, "en", "src0", (rA ++ rB).mkString(" ")),
      (20L, "en", "src0", (rA ++ rC).mkString(" ")),
      (50L, "en", "src0",
        (rA ++ rB.take(4) ++ (0 until 4).map(i => f"j$i%02d"))
          .mkString(" ")))
      .toDF("doc_id", "lang", "source", "text")
      .withColumn("n_chars", length($"text").cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    Seq(
      (0L, Array(1.0f, 0f, 0f, 0f)),
      (1L, Array(0f, 1.0f, 0f, 0f)),
      (10L, Array(0.9f, 0.05f, 0f, 0f)),
      (20L, Array(0f, 0.95f, 0.1f, 0f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("refreeze: tokord + pref rebuilt atomically from the accumulated" +
      " universe; probe coheres with the rebuilt index across the " +
      "refreeze; idempotent; decisions equal the batch ledger") {
    import graft.ops.{Wave62Ops, Wave65Ops}
    import graft.sources.SnapTxn
    val LiveFunnel = Wave65Ops.LiveFunnel
    val (route, gridded, _) = Wave62Ops.semdedupGeometry(spark, rDir)
    val docs = spark.read.parquet(s"$rDir/documents.parquet")
    val land = docs.join(gridded.withColumnRenamed("vec_id", "doc_id"),
      Seq("doc_id"), "left")
    val txroot = Tmp.dir("wave66_refreeze_tx")
    // STARVED bootstrap: only doc 10's vocabulary is frozen
    LiveFunnel.setup(spark, txroot, land.limit(0), route,
      land.filter($"doc_id" === 10L))
    assert(SnapTxn.read(spark, txroot, "tokord").count() === 40L)

    LiveFunnel.ingest(spark, txroot,
      land.filter($"doc_id" <= 20L), 0L, route)
    // the standing-cadence trigger: 8 of 48 universe tokens are
    // unseen (rC) -> 16.7% drift, below a 0.2 threshold -> no-op;
    // above a 0.1 threshold -> the real refreeze runs
    assert(LiveFunnel.refreezeIfDrifted(spark, txroot, 0.2) === -1)
    assert(SnapTxn.read(spark, txroot, "tokord").count() === 40L,
      "a below-threshold check must commit nothing")
    assert(LiveFunnel.refreezeIfDrifted(spark, txroot, 0.1) > 0)
    // immediately after the rebuild, drift is zero -> no-op at any
    // positive threshold
    assert(LiveFunnel.refreezeIfDrifted(spark, txroot, 0.0) === -1)

    // tokord rebuilt from ts4 (groups 10 and 20): 48 distinct tokens,
    // shared rA tokens at df 2, rB/rC at df 1
    val ord = SnapTxn.read(spark, txroot, "tokord")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ord.size === 48)
    assert(ord("the") === 2L && ord("b00") === 1L && ord("c00") === 1L)

    // pref rebuilt under the new order — independent re-derivation:
    // prefix = the ⌊40·0.2⌋+1 = 9 (df asc, tok) smallest tokens, i.e.
    // the 8 unique tokens + the smallest shared one ('a00')
    val pref = SnapTxn.read(spark, txroot, "pref")
      .collect().map(r => (r.getLong(0), r.getString(2)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    assert(pref(10L) === (rB.toSet + "a00"))
    assert(pref(20L) === (rC.toSet + "a00"))

    // the cross-refreeze probe: doc 50's prefix rows build from the
    // REFROZEN tokord and must hit doc 10's rebuilt index rows
    LiveFunnel.ingest(spark, txroot,
      land.filter($"doc_id" === 50L), 1L, route)
    val d = LiveFunnel.serve(spark, txroot).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    assert(d(50L) === ((4L, "near_dup", Some(10L))),
      "the probe must find the near-dup pair through the rebuilt index")
    assert(d(10L) === ((0L, "survived", None)))
    assert(d(20L) === ((0L, "survived", None)))

    // a refreeze AFTER new arrivals legitimately re-orders prefixes
    // (group 50's tokens moved the dfs) — decisions must not move
    LiveFunnel.refreeze(spark, txroot)
    assert(pref(10L) !== SnapTxn.read(spark, txroot, "pref")
        .filter($"doc_id" === 50L).collect().map(_.getString(2)).toSet,
      "sanity: the re-derived order differs from the wave-1 one")
    assert(LiveFunnel.serve(spark, txroot).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ===
      d.map { case (k, v) => k -> v._2 },
      "decisions must be invariant under refreeze")
    // content idempotence: an immediate second refreeze is a no-op
    val prefBefore = SnapTxn.read(spark, txroot, "pref")
      .collect().map(_.toSeq).toSet
    LiveFunnel.refreeze(spark, txroot)
    assert(SnapTxn.read(spark, txroot, "pref")
      .collect().map(_.toSeq).toSet === prefBefore)

    // decisions invariant: collapsed live ledger == batch ledger
    val live = LiveFunnel.serve(spark, txroot)
      .orderBy("doc_id").collect().map(_.toSeq)
    val batch = SparkEntry.queries("pipe_curation_ledger")(spark, rDir)
      .collect().map(_.toSeq)
    assert(live.toSeq === batch.toSeq)
  }

  test("ccMinLabel is re-entrant: concurrent calls on one session, " +
      "caller conf never moves") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val partsKey = "spark.sql.shuffle.partitions"
    val bcKey = "spark.sql.autoBroadcastJoinThreshold"
    val parts0 = spark.conf.get(partsKey)
    val bc0 = spark.conf.get(bcKey)
    @volatile var done = false
    @volatile var drift: Option[String] = None
    val watcher = new Thread(() => {
      while (!done) {
        val p = spark.conf.get(partsKey)
        val b = spark.conf.get(bcKey)
        if (p != parts0 || b != bc0)
          drift = Some(s"$partsKey=$p $bcKey=$b")
        Thread.sleep(2)
      }
    })
    watcher.start()
    try {
      // two disjoint graphs: a 6-node chain (one component) and two
      // 3-node triangles
      val fChain = Future {
        val nodes = (1L to 6L).toDF("id")
        val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
        Cc.minLabel(spark, nodes, edges, "spec:chain")
          .as[(Long, Long)].collect().toMap
      }
      val fTri = Future {
        val nodes = (11L to 16L).toDF("id")
        val edges = Seq((11L, 12L), (12L, 13L), (13L, 11L),
          (14L, 15L), (15L, 16L), (16L, 14L)).toDF("a", "b")
        Cc.minLabel(spark, nodes, edges, "spec:tri")
          .as[(Long, Long)].collect().toMap
      }
      // a graded op on the kernel, against the same session
      val fGraph = Future {
        SparkEntry.queries("graph_connected_components")(spark,
          TestSpark.Sf).as[(Long, Long)].collect().toSeq
      }
      val chain = Await.result(fChain, 5.minutes)
      val tri = Await.result(fTri, 5.minutes)
      val graph = Await.result(fGraph, 5.minutes)
      assert(chain === (1L to 6L).map(_ -> 1L).toMap)
      assert(tri === ((11L to 13L).map(_ -> 11L) ++
        (14L to 16L).map(_ -> 14L)).toMap)
      val e = GraphBase.edges(spark, TestSpark.Sf)
        .select("u", "v").as[(Long, Long)].collect().toSeq
      val top20 = CcSpec.components(e.flatMap(p => Seq(p._1, p._2)), e)
        .groupBy(_._2).map { case (c, m) => (c, m.size.toLong) }.toSeq
        .sortBy { case (c, n) => (-n, c) }.take(20)
      assert(graph === top20)
    } finally {
      done = true
      watcher.join()
    }
    assert(drift.isEmpty,
      s"caller session conf moved during concurrent CC runs: $drift")
    assert(spark.conf.get(partsKey) === parts0)
    assert(spark.conf.get(bcKey) === bc0)
  }
}
