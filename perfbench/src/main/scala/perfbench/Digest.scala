package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest over every row and every column of a frame.
  *
  * Each row hashes to one xxhash64 of its normalized cells; the digest is
  * the row count plus the sums of the low and high 32-bit halves of those
  * hashes, so it ignores row order but changes when any cell changes.
  * Floating cells are rounded to 6 decimal places (and -0.0 folded into
  * 0.0) so that a result differing only in floating summation order still
  * matches; maps hash as their key-sorted entries. Computing it is one
  * aggregation over the whole result, which forces every row to be
  * produced — unlike `count()`, which lets the optimizer prune columns.
  */
object Digest {

  private def norm(c: Column, dt: DataType): Column = dt match {
    case DoubleType => round(c, 6) + lit(0.0)
    case FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case st: StructType =>
      if (st.isEmpty) lit(0)
      else struct(st.fields.toSeq.map(f =>
        norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case MapType(kt, vt, _) =>
      norm(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt),
          StructField("value", vt)))))
    case _: NumericType | StringType | BooleanType | DateType |
        TimestampType | TimestampNTZType | BinaryType => c
    case _ => c.cast(StringType)
  }

  /** The row-hash column of `df`. */
  def rowHash(df: DataFrame): Column =
    xxhash64(lit(1) +: df.schema.fields.toSeq.map(f =>
      norm(col(s"`${f.name}`"), f.dataType)): _*)

  /** Runs the digest aggregation: `rows:lo:hi` (lo/hi in hex). */
  def of(df: DataFrame): String = {
    // positional renaming makes duplicate or dotted column names safe
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val hsh = named.select(rowHash(named).as("h"))
    val r = hsh.agg(count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1).toHexString}:${r.getLong(2).toHexString}"
  }
}
