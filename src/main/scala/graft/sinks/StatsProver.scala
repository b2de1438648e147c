package graft.sinks

import scala.util.Try

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.JValue

import graft.sinks.SnapshotTable.FileStat

/** The one file-skipping prover. A predicate — a Catalyst expression over
  * column names and literals — is compiled once against a table's
  * PHYSICAL schema (the names the manifest stats are keyed by) into a
  * [[StatsProver.Proof]]: a serializable verdict over one file's
  * [[FileStat]]. Every skipping decision asks one:
  *  - DML planning, `readWhere` and `countWhere` lower their
  *    [[SnapshotTable.Bound]]s to a predicate ([[SnapshotTable.boundsProof]]);
  *  - every scan of the manifest-backed relation compiles the data filters
  *    Spark pushes into [[SnapshotFileIndex.listFiles]];
  *  - the checkpointed planner ships its compiled proof to the executors
  *    in a UDF closure.
  *
  * A proof is conservative: it says "no row can match" only when the
  * stats prove it — min/max (nulls ignored), non-null counts and the
  * per-file Bloom of an equality column. Unknown shapes, columns the
  * schema lacks, literals the column's stat axis cannot order and missing
  * stats prove nothing, so the file is kept (Spark re-applies every
  * filter row-level). "Every row matches" is the same question asked of
  * the complement: a file whose stats prove `c IS NULL OR c < lo OR
  * c > hi` matches no row holds only rows inside [lo, hi]. */
private[graft] object StatsProver {

  /** One stat or literal on its comparison axis: decimal for numbers,
    * timestamps (epoch micros) and booleans; string for strings and ISO
    * dates ([[SnapshotTable.normJ]] decodes the stat side). */
  private type Axis = Either[BigDecimal, String]

  /** A predicate compiled against a schema. */
  sealed trait Proof extends Serializable {

    /** True iff `f`'s stats PROVE no row of the file satisfies the predicate. */
    def empty(f: FileStat): Boolean
  }

  private case object Unknown extends Proof { def empty(f: FileStat): Boolean = false }

  /** A NULL in an IN list: matches no row. */
  private case object NoRow extends Proof { def empty(f: FileStat): Boolean = true }

  private final case class Conj(l: Proof, r: Proof) extends Proof { def empty(f: FileStat) = l.empty(f) || r.empty(f) }

  private final case class Disj(l: Proof, r: Proof) extends Proof { def empty(f: FileStat) = l.empty(f) && r.empty(f) }

  /** `c >= v` (`strict`: `c > v`) when `lower`, reading max: no row when
    * max < v (max <= v); else `c <= v` (`c < v`), reading min: no row when
    * min > v (min >= v). */
  private final case class Cmp(key: String, dt: DataType, v: Axis, lower: Boolean, strict: Boolean)
      extends Proof {
    def empty(f: FileStat): Boolean =
      if (lower) stat(f.max, key, dt).exists(mx => if (strict) notAbove(mx, v) else SnapshotTable.lt(mx, v))
      else stat(f.min, key, dt).exists(mn => if (strict) notAbove(v, mn) else SnapshotTable.lt(v, mn))
  }

  /** The Bloom half of `c = v` (the range half is `c >= v AND c <= v`):
    * no row when the file's Bloom lacks one of v's probe bits (a Bloom
    * has no false negatives). */
  private final case class Bloom(key: String, probes: Seq[Int]) extends Proof {
    def empty(f: FileStat): Boolean = f.bloom.get(key).exists { b64 =>
      val bits = java.util.Base64.getDecoder.decode(b64)
      probes.exists(p => (bits(p >> 3) & (1 << (p & 7))) == 0)
    }
  }

  /** `c IS NULL`: no row when every row has a value. */
  private final case class NoNulls(key: String) extends Proof {
    def empty(f: FileStat): Boolean = f.nonNull.get(key).contains(f.rows)
  }

  /** `c IS NOT NULL`: no row when the file holds rows and none has a value. */
  private final case class AllNull(key: String) extends Proof {
    def empty(f: FileStat): Boolean = f.nonNull.get(key).contains(0L) && f.rows > 0
  }

  /** `c LIKE 'p%'`: every such string lives in [p, p·∞), so no row when
    * max < p or the |p|-char truncation of min already sorts above p. */
  private final case class Prefix(key: String, p: String) extends Proof {
    def empty(f: FileStat): Boolean =
      stat(f.max, key, StringType).exists(SnapshotTable.lt(_, scala.Right(p))) ||
        stat(f.min, key, StringType).exists {
          case scala.Right(mn) => mn.take(p.length) > p
          case _ => false
        }
  }

  private def stat(side: Map[String, JValue], key: String, dt: DataType): Option[Axis] =
    side.get(key).flatMap(SnapshotTable.normJ(dt, _))

  /** a <= b on one axis (mixed axes never order). */
  private def notAbove(a: Axis, b: Axis): Boolean = a.isLeft == b.isLeft && !SnapshotTable.lt(b, a)

  private def and(l: Proof, r: Proof): Proof = (l, r) match {
    case (Unknown, p) => p
    case (p, Unknown) => p
    case _ => Conj(l, r)
  }

  private def or(l: Proof, r: Proof): Proof =
    if (l == Unknown || r == Unknown) Unknown else Disj(l, r)

  /** A literal on column type `dt`'s axis; None = the axis cannot order it.
    * A string literal on a date column compares as its text, as an ISO
    * date stat does. */
  private def axis(dt: DataType, l: Literal): Option[Axis] = (dt, l.value) match {
    case (_, null) => None
    case (StringType | DateType, s: UTF8String) => Some(scala.Right(s.toString))
    case (DateType, days: Integer) if l.dataType == DateType =>
      Some(scala.Right(java.time.LocalDate.ofEpochDay(days.longValue()).toString))
    case (StringType | DateType, _) => None
    case (BooleanType, b: java.lang.Boolean) => Some(scala.Left(BigDecimal(if (b) 1 else 0)))
    case (_, d: Decimal) => Some(scala.Left(d.toBigDecimal))
    // NaN/Infinity literals keep the file (BigDecimal can't represent them)
    case (_, n @ (_: java.lang.Double | _: java.lang.Float)) =>
      if (java.lang.Double.isFinite(n.asInstanceOf[Number].doubleValue())) Some(scala.Left(BigDecimal(n.toString)))
      else None
    case (_, n: Number) => Some(scala.Left(BigDecimal(n.toString)))
    case _ => None
  }

  /** The Bloom probe positions of a literal on a bloomed column type,
    * hashed as the write hashes the column's value. */
  private def probes(dt: DataType, l: Literal): Option[Seq[Int]] = ((dt, l.value) match {
    case (_, null) => None
    case (StringType | DateType, s: UTF8String) => Some(s.toString)
    case (DateType, days: Integer) if l.dataType == DateType =>
      Some(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.longValue())))
    case (ByteType | ShortType | IntegerType | LongType, n: Number) => Some(n)
    case (ByteType | ShortType | IntegerType | LongType, d: Decimal) => Some(d.toJavaBigDecimal)
    case _ => None
  }).flatMap(SnapshotTable.probeBloom(dt, _))

  /** True iff `a` and `b` are one defined value on `dt`'s axis. */
  def sameValue(dt: DataType, a: Literal, b: Literal): Boolean = {
    val x = axis(dt, a)
    x.isDefined && x == axis(dt, b)
  }

  /** `predicate` compiled against `schema` (physical names). */
  def compile(schema: StructType, predicate: Expression): Proof = {
    def typeOf(a: AttributeReference): Option[DataType] = schema.fields.find(_.name == a.name).map(_.dataType)
    def cmp(a: AttributeReference, l: Literal, lower: Boolean, strict: Boolean): Proof =
      typeOf(a).flatMap(dt => axis(dt, l).map(Cmp(a.name, dt, _, lower, strict))).getOrElse(Unknown)
    def eq(a: AttributeReference, l: Literal): Proof =
      and(
        and(cmp(a, l, lower = true, strict = false), cmp(a, l, lower = false, strict = false)),
        typeOf(a).flatMap(probes(_, l)).fold[Proof](Unknown)(Bloom(a.name, _)))
    def eqNullSafe(a: AttributeReference, l: Literal): Proof = if (l.value == null) NoNulls(a.name) else eq(a, l)
    def in(a: AttributeReference, vs: Seq[Literal]): Proof =
      vs.map(l => if (l.value == null) NoRow else eq(a, l)).reduceOption(or).getOrElse(Unknown)
    def go(e: Expression): Proof = e match {
      case And(l, r) => and(go(l), go(r))
      case Or(l, r) => or(go(l), go(r))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => cmp(a, l, lower = true, strict = false)
      case GreaterThan(a: AttributeReference, l: Literal) => cmp(a, l, lower = true, strict = true)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => cmp(a, l, lower = false, strict = false)
      case LessThan(a: AttributeReference, l: Literal) => cmp(a, l, lower = false, strict = true)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => cmp(a, l, lower = false, strict = false)
      case GreaterThan(l: Literal, a: AttributeReference) => cmp(a, l, lower = false, strict = true)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => cmp(a, l, lower = true, strict = false)
      case LessThan(l: Literal, a: AttributeReference) => cmp(a, l, lower = true, strict = true)
      case EqualTo(a: AttributeReference, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => eq(a, l)
      case EqualNullSafe(a: AttributeReference, l: Literal) => eqNullSafe(a, l)
      case EqualNullSafe(l: Literal, a: AttributeReference) => eqNullSafe(a, l)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        in(a, vs.map(_.asInstanceOf[Literal]))
      case InSet(a: AttributeReference, vs) => in(a, vs.toSeq.map(Literal(_, a.dataType)))
      case IsNull(a: AttributeReference) => NoNulls(a.name)
      case IsNotNull(a: AttributeReference) => AllNull(a.name)
      case StartsWith(a: AttributeReference, Literal(p, StringType))
          if p != null && typeOf(a).contains(StringType) =>
        Prefix(a.name, p.toString)
      case _ => Unknown
    }
    go(predicate)
  }

  /** The conjunction of `conjuncts`, compiled (none: proves nothing). */
  def compile(schema: StructType, conjuncts: Seq[Expression]): Proof =
    compile(schema, conjuncts.reduceOption(And).getOrElse(Literal.TrueLiteral))

  /** A pushed `sources.Filter` as the EXACT Catalyst predicate over
    * `schema`'s columns, values typed by the column; None when any part
    * has no exact form (a column `schema` lacks, a value its type cannot
    * hold, an unknown shape). */
  def predicate(f: sources.Filter, schema: StructType): Option[Expression] = {
    def field(n: String) = schema.fields.find(_.name == n)
    def attr(n: String) = field(n).map(sf => AttributeReference(sf.name, sf.dataType, sf.nullable)())
    def lit(n: String, v: Any) = field(n).flatMap(sf => Try(Literal.create(v, sf.dataType)).toOption)
    def cmp(a: String, v: Any)(mk: (Expression, Expression) => Expression) =
      for { x <- attr(a); l <- lit(a, v) } yield mk(x, l)
    def both(l: sources.Filter, r: sources.Filter)(mk: (Expression, Expression) => Expression) =
      for { a <- predicate(l, schema); b <- predicate(r, schema) } yield mk(a, b)
    f match {
      case sources.EqualTo(a, v) => cmp(a, v)(EqualTo)
      case sources.EqualNullSafe(a, v) => cmp(a, v)(EqualNullSafe)
      case sources.GreaterThan(a, v) => cmp(a, v)(GreaterThan)
      case sources.GreaterThanOrEqual(a, v) => cmp(a, v)(GreaterThanOrEqual)
      case sources.LessThan(a, v) => cmp(a, v)(LessThan)
      case sources.LessThanOrEqual(a, v) => cmp(a, v)(LessThanOrEqual)
      case sources.In(a, vs) =>
        val lits = vs.toSeq.map(lit(a, _))
        if (lits.exists(_.isEmpty)) None else attr(a).map(In(_, lits.flatten))
      case sources.IsNull(a) => attr(a).map(IsNull)
      case sources.IsNotNull(a) => attr(a).map(IsNotNull)
      case sources.StringStartsWith(a, p) => cmp(a, p)(StartsWith)
      case sources.StringEndsWith(a, p) => cmp(a, p)(EndsWith)
      case sources.StringContains(a, p) => cmp(a, p)(Contains)
      case sources.And(l, r) => both(l, r)(And)
      case sources.Or(l, r) => both(l, r)(Or)
      case sources.Not(c) => predicate(c, schema).map(Not)
      case _ => None
    }
  }

  /** The `And`-split conjuncts of `f` that translate exactly
    * ([[predicate]]): a partial conjunction still prunes soundly, and
    * Spark re-applies the whole filter above the scan. */
  def conjuncts(f: sources.Filter, schema: StructType): Seq[Expression] = f match {
    case sources.And(l, r) => conjuncts(l, schema) ++ conjuncts(r, schema)
    case other => predicate(other, schema).toSeq
  }
}
