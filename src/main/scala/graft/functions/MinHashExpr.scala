package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The kernels behind the MinHash expressions. Each expression's `eval`
  * and its generated code call the same static method here, so the
  * interpreted and the codegen path are bit-identical by construction.
  *
  * Every hash is Spark's `xxhash64` with its seed 42, so a value here
  * equals the SQL formulation it replaces:
  *   - a token hashes as `xxhash64(tok)`; a null token hashes to the seed;
  *   - slot `i` of the signature is `min` over the token hashes `h` of
  *     `xxhash64(i, h)` (an INT then a LONG folded into the running hash);
  *   - band `j` is `xxhash64` of its `rows` slots `j*rows .. j*rows+rows-1`.
  */
object MinHashKernel {
  val Seed = 42L

  /** Sorted, distinct `xxhash64` values of a string array's elements. */
  def tokenHashes(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val h = new Array[Long](n)
    var i = 0
    while (i < n) {
      h(i) = if (toks.isNullAt(i)) Seed else XXH64.hashUTF8String(toks.getUTF8String(i), Seed)
      i += 1
    }
    java.util.Arrays.sort(h)
    var m = 0
    i = 0
    while (i < n) {
      if (m == 0 || h(i) != h(m - 1)) { h(m) = h(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(if (m == n) h else java.util.Arrays.copyOf(h, m))
  }

  /** The `bands` band values of a token-hash array's `bands * rows` slot
    * signature, in one pass over the hashes. An empty array has no
    * signature and gives no bands. Duplicates do not change a minimum,
    * so the hashes need not be sorted or distinct here; a null element
    * throws. */
  def bands(hashes: ArrayData, bands: Int, rows: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val k = bands * rows
    val slotSeed = new Array[Long](k)
    val mins = new Array[Long](k)
    var i = 0
    while (i < k) {
      slotSeed(i) = XXH64.hashInt(i, Seed)
      mins(i) = Long.MaxValue
      i += 1
    }
    var t = 0
    while (t < n) {
      val h = element(hashes, t, "graft_minhash_bands")
      i = 0
      while (i < k) {
        val v = XXH64.hashLong(h, slotSeed(i))
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      t += 1
    }
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var v = Seed
      var r = 0
      while (r < rows) {
        v = XXH64.hashLong(mins(j * rows + r), v)
        r += 1
      }
      out(j) = v
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Element `k` of a long array; a null element is an error, not a 0
    * (an `UnsafeArrayData` reads a null slot as 0). */
  private def element(arr: ArrayData, k: Int, fn: String): Long = {
    if (arr.isNullAt(k)) throw new IllegalArgumentException(s"$fn: null element at index $k")
    arr.getLong(k)
  }

  /** Element `k` of a sorted, distinct long array, checked against the
    * element before it. */
  private def next(arr: ArrayData, k: Int, prev: Long): Long = {
    val v = element(arr, k, "graft_intersect_size")
    if (v <= prev)
      throw new IllegalArgumentException(
        s"graft_intersect_size: input is not sorted and distinct ($v at index $k follows $prev)")
    v
  }

  /** The size of the intersection of two sorted, distinct long arrays,
    * from one merge. Each element is checked against the one before it,
    * the tail the merge does not reach too (a disorder there could hide a
    * match), so unsorted, repeating or null-holding input throws instead
    * of returning a wrong count. */
  def intersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    var x = if (na > 0) element(a, 0, "graft_intersect_size") else 0L
    var y = if (nb > 0) element(b, 0, "graft_intersect_size") else 0L
    while (i < na && j < nb) {
      if (x <= y) {
        if (x == y) {
          n += 1
          j += 1
          if (j < nb) y = next(b, j, y)
        }
        i += 1
        if (i < na) x = next(a, i, x)
      } else {
        j += 1
        if (j < nb) y = next(b, j, y)
      }
    }
    while (i + 1 < na) { i += 1; x = next(a, i, x) }
    while (j + 1 < nb) { j += 1; y = next(b, j, y) }
    n
  }
}

/** `graft_token_hashes(toks)`: the sorted, distinct `xxhash64` values of
  * a string array — the one per-document array that both the MinHash
  * signature ([[MinHashBands]]) and the exact verify
  * ([[SortedIntersectSize]]) read. */
case class TokenHashes(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  // type annotation omitted: AbstractDataType is private[sql]
  override def inputTypes = Seq(ArrayType(StringType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_token_hashes"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.tokenHashes(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.MinHashKernel.tokenHashes($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_minhash_bands(hashes, bands, rows)`: the band values of a
  * token-hash array's MinHash signature (see [[MinHashKernel]]). A
  * map-only projection: the signature's slots never leave the row. A
  * null element throws. */
case class MinHashBands(child: Expression, bands: Int, rows: Int)
    extends UnaryExpression
    with ExpectsInputTypes {
  require(bands > 0 && rows > 0, s"bands and rows must be positive: $bands x $rows")

  override def inputTypes = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_minhash_bands"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.bands(input.asInstanceOf[ArrayData], bands, rows)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, h => s"graft.functions.MinHashKernel.bands($h, $bands, $rows)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `graft_intersect_size(a, b)`: |a ∩ b| for two sorted, distinct long
  * arrays, by one merge with no hash set built. A null array gives null;
  * an unsorted or repeating array, or a null element, throws. */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = IntegerType

  override def prettyName: String = "graft_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    MinHashKernel.intersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.MinHashKernel.intersectSize($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
