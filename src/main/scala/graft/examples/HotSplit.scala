package graft.examples

import graft.Session
import org.apache.spark.sql.functions._

/** Dev-only: the hot-group rehearsal for the triangle-salted candidate
  * rule (SURVEY §18.2 #1). Manufactures the exact input class the
  * exactness fence refuses — ONE collision group spanning the whole
  * input under the df-ascending prefix order (every doc: 4 shared
  * "hot" tokens + 1 unique token, so the 2-token prefix is
  * [unique, hot1] and the hot1 group holds all n docs; pairwise
  * Jaccard 4/6 < 0.8, so the verify rejects everything and the run
  * times PURE candidate-rule cost) — and measures, at growing n:
  *
  *   - the salted rule's wall time (cap bounds each join bucket),
  *   - the direct (unfenced) join's wall time on the same input,
  *   - candidate-pair equality between the two (must match exactly),
  *   - the max per-bucket side size after salting (the boundedness
  *     claim: ≈ cap under hash-balanced salts, vs n for the direct
  *     join's single group).
  *
  * Total candidate work is quadratic in the group size BY DEFINITION
  * (the rule is exact); the split's claim is never "subquadratic" but
  * "no unbounded task": a melted-executor hazard becomes many cap²
  * tasks. Usage: runMain graft.examples.HotSplit "1000,2000,4000" CAP
  */
object HotSplit {
  def main(args: Array[String]): Unit = {
    val sizes = args(0).split(",").map(_.trim.toLong).toSeq
    val cap = if (args.length > 1) args(1).toLong else 1000L
    val s = Session.local(Session.cpus)
    sizes.foreach { n =>
      val t4 = s.range(n).selectExpr(
        "id AS doc_id",
        "array_sort(array(concat('u', id), 'h1', 'h2', 'h3', 'h4')) " +
          "AS ts")
      t4.persist().count()
      val pref = graft.ops.Wave64Ops.prefixRowsDf(t4, Nil)
      def time[A](body: => A): (A, Double) = {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (saltedN, tSalted) = time {
        graft.ops.Wave66Ops.saltedCandidates(pref, Nil, cap).count()
      }
      val (directN, tDirect) = time {
        pref.as("x").join(pref.as("y"),
            graft.ops.Wave64Ops.prefixCondXY(Nil) &&
              col("x.doc_id") < col("y.doc_id"))
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
          .distinct().count()
      }
      // per-bucket side size after salting (x side; y is symmetric)
      val maxBucket = pref
        .join(pref.groupBy("ptok").agg(count(lit(1)).as("gsz")), "ptok")
        .withColumn("nsalt",
          expr(s"CAST((gsz + ${cap - 1}) div $cap AS INT)"))
        .withColumn("salt",
          pmod(xxhash64(col("doc_id")), col("nsalt")).cast("int"))
        .groupBy("ptok", "salt").agg(count(lit(1)).as("b"))
        .agg(max("b")).first().getLong(0)
      println(f"HOTSPLIT n=$n%-6d cap=$cap%-6d " +
        f"salted=$tSalted%6.2fs direct=$tDirect%6.2fs " +
        f"cand_salted=$saltedN%-9d cand_direct=$directN%-9d " +
        f"equal=${saltedN == directN}%-5s maxBucket=$maxBucket")
      t4.unpersist(blocking = false)
    }
    s.stop()
  }
}
