package org.apache.spark.sql.graftx

import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal bridge into `org.apache.spark.sql`-private API surface: turning
  * a hand-built [[LogicalPlan]] into a [[DataFrame]]. Lives under the sql
  * package so `private[sql] Dataset.ofRows` is accessible — the same
  * pattern Spark extension libraries use (cf. SNIPPETS.md [3], Qbeast's
  * DatasetFactory).
  */
object Bridge {
  /** Entries of Spark's JVM-wide generated-class cache that graft asks
    * for. At Spark's default of 100, LRU eviction dropped each class
    * before its next use, so every repeated query shape paid Janino
    * again: one `analytic_mix` pass needs 100–300 classes, one round of
    * `graft.Bench` reruns about 4000. Measured on those reruns, 1000
    * entries still recompiled 3861 classes per round, 4000 and 8000
    * only the ~2000 of ops whose generated source differs between runs.
    */
  val CodegenCacheEntries = 4000

  /** Sets `spark.sql.codegen.cache.maxEntries` to [[CodegenCacheEntries]]
    * unless `conf` already holds a value, which then wins. */
  def sizeCodegenCache(conf: SparkConf): Unit =
    conf.setIfMissing("spark.sql.codegen.cache.maxEntries",
      CodegenCacheEntries.toString)

  /** [[sizeCodegenCache]] on the live `SparkContext`'s own conf, which
    * `private[spark]` keeps out of reach outside this package. Sessions
    * built on that context merge it into their SQL conf. */
  def sizeActiveCodegenCache(): Unit =
    SparkContext.getActive.foreach(sc => sizeCodegenCache(sc.conf))

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `private[sql] SparkSession.cloneSession()` — a session with its OWN
    * conf (a snapshot of the parent's: runtime overrides included, unlike
    * `newSession()`'s defaults-only state) over the shared SparkContext,
    * SharedState (so the CacheManager still matches persisted plans) and
    * a copy of the catalog. Mutating the clone's conf never touches the
    * parent — the isolation primitive that makes conf-scoped iterative
    * helpers (Cc.minLabel's shuffle-width/broadcast overrides) re-entrant
    * instead of documented-single-writer.
    */
  def isolatedSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Rebind a DataFrame's ANALYZED plan to another session (same
    * SparkContext), so its execution reads THAT session's conf — shuffle
    * width, broadcast thresholds, AQE. The analyzed plan is
    * session-portable here: file relations, local relations and
    * checkpointed LogicalRDDs carry no session pointer, and cache lookup
    * goes through the shared CacheManager.
    */
  def inSession(target: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(target.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** Inverse direction: StructType → V2 Columns (comments and DEFAULT
    * metadata preserved), for `Table.columns()` overrides.
    */
  def structTypeToV2Columns(schema: org.apache.spark.sql.types.StructType)
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .structTypeToV2Columns(schema)

  /** `private[sql] CatalogV2Util.v2ColumnsToStructType` — Spark's own
    * V2-Column → StructType conversion, which keeps comment and
    * column-DEFAULT metadata intact (a hand-rolled conversion would
    * silently drop the write-side defaults).
    */
  def v2ColumnsToStructType(
      cols: Array[org.apache.spark.sql.connector.catalog.Column])
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.connector.catalog.CatalogV2Util
      .v2ColumnsToStructType(cols)

  /** `df.localCheckpoint()` with the checkpoint's INHERITED statistics
    * replaced by the honest size of the materialized blocks.
    *
    * Spark's checkpoint wrapper copies the parent plan's ESTIMATED
    * statistics onto the result (`LogicalRDD.rewriteStatsAndConstraints`)
    * — and join estimates MULTIPLY child sizes. In an iterated SELF-join
    * loop (connected components' pointer jump) the carried sizeInBytes
    * therefore SQUARES every round; by round ~18 each Catalyst stats
    * visit does multi-million-digit BigInteger multiplies on the driver
    * (measured in the round-12 scale rehearsal: a 10x fixture pinned one
    * core for >12 minutes inside `visitJoin` → `BigInteger.multiply`,
    * with zero tasks running). Replacing the inherited estimate with the
    * checkpointed RDD's ACTUAL storage size keeps per-round driver cost
    * constant — and gives the planner a truer number than the estimate
    * it replaces (broadcast decisions included). Constraints are
    * dropped with it: in these label-propagation loops they carry no
    * pruning value, and rewriting them is the same compounding walk.
    */
  def localCheckpointHonestStats(df: DataFrame): DataFrame = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cp = df.localCheckpoint() // eager: blocks exist when we size them
    cp.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        val measured = cs.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .map(i => math.max(1L, i.memSize + i.diskSize))
        val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
          // fall back to the session default (never-broadcast) if the
          // storage report is missing — wrong-but-safe beats tiny-stats
          // broadcasting a huge frame
          sizeInBytes = BigInt(measured.getOrElse(
            cs.sessionState.conf.defaultSizeInBytes)))
        classic.Dataset.ofRows(cs,
          l.copy()(session = cs, originStats = Some(stats),
            originConstraints = None))
      case _ => cp
    }
  }
}
