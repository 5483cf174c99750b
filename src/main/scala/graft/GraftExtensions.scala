package graft

import graft.functions.{FloatVecDot, FloatVecL2, SortedLongIntersectSize}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Library entry point for `spark.sql.extensions`: setting
  * `spark.sql.extensions=graft.GraftExtensions` on a session's conf, as
  * [[graft.Session.local]] does for every session graft builds,
  * registers graft's native Catalyst functions (`fvdot`/`fvl2`, the
  * codegen'd float-vector dot product and squared-L2 distance, and
  * `lixsize`, the sorted-long-array merge intersect) in every new
  * session — the idiomatic Spark mechanism for shipping engine
  * extensions, vs. per-session `VecExprs.register`.
  *
  * It also sizes Spark's generated-class cache to
  * [[org.apache.spark.sql.graftx.Bridge.CodegenCacheEntries]] classes, on
  * the live `SparkContext`'s conf, unless the cache-size key already
  * holds a value ([[org.apache.spark.sql.graftx.Bridge.sizeCodegenCache]]
  * is the one place that names it). The cache is
  * JVM-wide and Spark's default holds 100 classes, fewer than one pass
  * over a few dozen graft ops generates, so a repeated query shape was
  * recompiled by Janino every time. Spark applies extensions inside
  * `getOrCreate`, before the session's SQL conf is built, and
  * `CodeGenerator` reads the size from that conf once, at its first use
  * in the JVM. The setting therefore only takes effect when this session
  * is built before the JVM's first generated code; a JVM that already
  * compiled code keeps the size it started with, silently. A value the
  * user sets (builder `config`, `--conf`, or a `spark.*` system
  * property) wins.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    org.apache.spark.sql.graftx.Bridge.sizeActiveCodegenCache()
    // maintenance-verb SQL (OPTIMIZE / VACUUM / DESCRIBE HISTORY) for
    // snap catalogs; everything else delegates to Spark's parser
    e.injectParser((_, delegate) =>
      new graft.sources.SnapSqlParser(delegate))
    // persistent snap-catalog views: OSS Spark has the DSv2 ViewCatalog
    // API but no analyzer wiring for it — this rule substitutes view
    // references with their stored (re-parsed) definitions at
    // resolution time; the parser above carries the DDL verbs
    e.injectResolutionRule(session =>
      new graft.sources.SnapViewSubstitution(session))
    // optimizer rule: HOF dot-product idiom → native FloatVecDot
    e.injectOptimizerRule(_ => graft.plans.RewriteHofVecDot)
    e.injectFunction((
      FunctionIdentifier("fvdot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "fvdot"),
      (args: Seq[Expression]) => FloatVecDot(args.head, args(1))))
    e.injectFunction((
      FunctionIdentifier("fvl2"),
      new ExpressionInfo(classOf[FloatVecL2].getName, "fvl2"),
      (args: Seq[Expression]) => FloatVecL2(args.head, args(1))))
    e.injectFunction((
      FunctionIdentifier("lixsize"),
      new ExpressionInfo(classOf[SortedLongIntersectSize].getName, "lixsize"),
      (args: Seq[Expression]) => SortedLongIntersectSize(args.head, args(1))))
    // CDC table-valued functions (the Delta `table_changes` idea):
    //   SELECT * FROM snap_changes('cat.ns.t' | '/table/root', key, v1, v2)
    //   SELECT * FROM snap_changes_delta('cat.ns.t' | ..., v1, v2)
    // classified (insert/update/delete + images, keyed) and signed
    // (+1/-1 rows whose linear aggregates maintain a view) CDC from
    // plain SQL. Arguments must be literals; the table reference is a
    // snap-catalog identifier or a filesystem root.
    e.injectTableFunction((
      FunctionIdentifier("snap_changes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "snap_changes"),
      (args: Seq[Expression]) => {
        require(args.length == 4,
          "snap_changes(table, keyColumn, fromVersion, toVersion)")
        val Seq(t, k, f, v) = args.map(GraftExtensions.lit)
        GraftExtensions.plan(s =>
          graft.sources.SnapTable.changes(s,
            GraftExtensions.rootOf(s, t), f.toInt, v.toInt, k))
      }))
    // queryable commit log: SELECT * FROM snap_history('cat.ns.t')
    // WHERE op = 'delete' — DESCRIBE HISTORY as a relation, filterable
    // and joinable like any other
    e.injectTableFunction((
      FunctionIdentifier("snap_history"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "snap_history"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "snap_history(table)")
        val t = GraftExtensions.lit(args.head)
        GraftExtensions.plan(s =>
          graft.sources.SnapTable.history(s,
            GraftExtensions.rootOf(s, t)))
      }))
    e.injectTableFunction((
      FunctionIdentifier("snap_changes_delta"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "snap_changes_delta"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "snap_changes_delta(table, fromVersion, toVersion)")
        val Seq(t, f, v) = args.map(GraftExtensions.lit)
        GraftExtensions.plan(s =>
          graft.sources.SnapTable.changesDelta(s,
            GraftExtensions.rootOf(s, t), f.toInt, v.toInt))
      }))
  }
}

object GraftExtensions {
  private def lit(e: Expression): String = {
    require(e.foldable, s"literal argument expected, got $e")
    String.valueOf(e.eval(null))
  }

  /** A catalog identifier (`cat.ns.t`, resolved against a registered
    * snap catalog) or a filesystem table root, to the root directory.
    */
  private def rootOf(s: org.apache.spark.sql.SparkSession,
      t: String): String =
    if (t.contains("/")) t
    else graft.sources.SnapSqlParser.tableDir(s,
      t.split('.').toSeq)

  private def plan(build: org.apache.spark.sql.SparkSession =>
      org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    build(org.apache.spark.sql.SparkSession.active)
      .queryExecution.logical
}
