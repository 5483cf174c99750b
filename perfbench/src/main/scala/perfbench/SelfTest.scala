package perfbench

import org.apache.spark.sql.functions._

/** JVM-side self-test of [[Digest]]: it must ignore row order and
  * partitioning, fold -0.0 into 0.0, and change when one cell changes or a
  * row is duplicated. Exits non-zero on the first failed check. */
object SelfTest {
  def run(work: String): Unit = {
    val s = Session.build(2, work)
    import s.implicits._
    try {
      val a = Seq(
        (1L, "x", 1.5, Seq(1.0f, 2.0f), Map("k" -> 1)),
        (2L, "y", -0.0, Seq(3.0f), Map("j" -> 2, "i" -> 3)),
        (3L, null, 2.25, Seq.empty[Float], Map.empty[String, Int]))
        .toDF("id", "s", "d", "arr", "m")
      val base = Digest.of(a)
      def check(ok: Boolean, what: String): Unit =
        if (!ok) { System.err.println(s"SELFTEST FAILED: $what"); sys.exit(1) }
      check(Digest.of(a.orderBy(desc("id")).repartition(3)) == base,
        "digest depends on row order")
      check(Digest.of(a.withColumn("d", when(col("id") === 2, lit(0.0))
        .otherwise(col("d")))) == base, "-0.0 and 0.0 digest differently")
      check(Digest.of(a.withColumn("s", when(col("id") === 2, lit("z"))
        .otherwise(col("s")))) != base, "one changed cell kept the digest")
      check(Digest.of(a.withColumn("d", when(col("id") === 3, lit(2.5))
        .otherwise(col("d")))) != base, "one changed double kept the digest")
      check(Digest.of(a.union(a.limit(1))) != base,
        "a duplicated row kept the digest")
      check(Digest.of(a.limit(0)).startsWith("0:"), "empty frame digest")
      println("SELFTEST OK")
    } finally Session.stop(s)
  }
}
