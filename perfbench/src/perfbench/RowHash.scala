package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-insensitive multiset digest of a frame: the row count plus the
  * sums of the low and high 32 bits of each row's xxhash64. Consuming it
  * reads every output column, so Catalyst cannot prune work a user pays. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, lo + o.lo, hi + o.hi)
  def -(o: Digest): Digest = Digest(rows - o.rows, lo - o.lo, hi - o.hi)
  override def toString: String = s"$rows:$lo:$hi"
}

object RowHash {
  val Empty: Digest = Digest(0, 0, 0)

  def ofHash(h: Long): Digest = Digest(1, h & 0xffffffffL, h >>> 32)

  /** Digest computed by Spark. Floats are rounded to 4 decimals (and -0.0
    * folded into 0.0) at every nesting level, so the digest of a query
    * result does not depend on summation order; maps hash as their sorted
    * entries. With `exact`, values hash as stored. */
  def digest(df: DataFrame, exact: Boolean = false): Digest = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => if (exact) col(f.name) else normalize(col(f.name), f.dataType))
    val h = xxhash64(cols.toIndexedSeq: _*)
    val r = named.select(h.as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)),
        coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def normalize(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 4) + lit(0.0)
    case ArrayType(et, _) if needs(et) => transform(c, x => normalize(x, et))
    case MapType(kt, vt, _) =>
      normalize(array_sort(map_entries(c)), ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case st: StructType if st.fields.exists(f => needs(f.dataType)) =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)).toIndexedSeq: _*))
    case _ => c
  }

  private def needs(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType | _: MapType => true
    case ArrayType(et, _) => needs(et)
    case st: StructType => st.fields.exists(f => needs(f.dataType))
    case _ => false
  }

  /** Driver-side twin of `xxhash64(cols...)` for flat rows of long, int,
    * date, string and double columns: lets the benchmark compute expected
    * digests without running the code under test. */
  def hashRow(values: Seq[Any], types: Seq[DataType]): Long =
    values.zip(types).foldLeft(42L) { case (seed, (v, t)) =>
      val internal = v match {
        case s: String => UTF8String.fromString(s)
        case other => other
      }
      XxHash64Function.hash(internal, t, seed)
    }
}
