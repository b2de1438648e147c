package graft.pipeline

import java.time.Instant

import scala.collection.mutable

import graft.Fixtures
import graft.functions.UpcCheckDigit
import graft.sinks.JdbcSink
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, CurrentTimestampLike, Expression, IsNull, JoinedRow, Predicate, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference's end-to-end behavior as one composed pipeline:
  * extract product records → synthesize/validate UPC-12 identity → dedup →
  * idempotent keyed load into an RDBMS. Everything is the same operators
  * the query surface exposes (check-digit arithmetic, dedup-by-key,
  * anti-join incremental semantics live inside the upsert), assembled the
  * way the reference's batch loop uses them. Proven by EtlPipelineSpec:
  * re-running is a no-op, changed rows update in place.
  */
object UpcSkuLoad {
  /** Raw (partkey, name, brand, price) rows → UPC product records: the
    * partkey zero-padded to the 11-digit body, then the check digit from
    * the shared [[UpcCheckDigit]] kernel (`UpcCheckDigit.upcCol`, which
    * q_upc_checkdigit uses too). A partkey outside [0, 10^11) has no
    * 11-digit body and gets a null `upc` — quarantined as `bad_length`
    * downstream — instead of a truncated body that collides with another
    * part's UPC. Shared by the batch extract and the paginated path, so
    * both synthesize identity identically. */
  def toProducts(raw: DataFrame): DataFrame =
    raw.select(
      UpcCheckDigit.upcCol(col("partkey")).as("upc"),
      col("name"),
      col("brand"),
      col("price"),
      current_timestamp().as("loaded_at"))

  /** Extract: parts → UPC product records. */
  def extract(spark: SparkSession, sfDir: String): DataFrame =
    toProducts(
      Fixtures
        .table(spark, sfDir, "part")
        .select(
          col("p_partkey").as("partkey"),
          col("p_name").as("name"),
          col("p_brand").as("brand"),
          col("p_retailprice").as("price")))

  /** Validate: full-12-digit check-digit test + basic record hygiene.
    * Invalid rows are silently dropped; loaders that must account for every
    * input row use [[validateWithQuarantine]]. */
  def validate(records: DataFrame): DataFrame =
    validateWithQuarantine(records)._1

  /** Split records into (valid, quarantined): every rejected row lands in
    * the second frame carrying its FIRST failing check as `reject_reason`
    * (fixed evaluation order, so reasons are deterministic). The null
    * traps matter: the [[UpcCheckDigit]] kernel returns NULL for a
    * non-digit character (a malformed UPC is data here, not an exception)
    * and a bare `sum % 10 =!= 0` predicate would be NULL too — neither
    * valid nor flagged — so every reason clause is written null-catching.
    * Single pass, pure column expressions; the split is two filters over
    * the same tagged plan (Spark shares the scan). */
  def validateWithQuarantine(records: DataFrame): (DataFrame, DataFrame) = {
    val tagged = records.withColumn("reject_reason", rejectReason)
    (
      tagged.filter(col("reject_reason").isNull).drop("reject_reason"),
      tagged.filter(col("reject_reason").isNotNull))
  }

  /** The rules of [[validateWithQuarantine]], written once for the batch
    * plan and the compiled page pipeline: a record's first failing check,
    * or null when it passes. */
  private def rejectReason: Column = {
    val w = UpcCheckDigit.weightedSumCol(col("upc"), 12)
    when(col("upc").isNull || length(col("upc")) =!= 12, "bad_length")
      .when(w.isNull || w % 10 =!= 0, "bad_check_digit")
      .when(col("price").isNull || col("price") <= 0, "bad_price")
      .when(length(trim(coalesce(col("name"), lit("")))) === 0, "empty_name")
  }

  /** One representative per UPC (deterministic: lowest name sorts first). */
  def dedup(records: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("upc").orderBy("name")
    records
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Load: idempotent keyed upsert (insert-new / update-changed). Returns
    * the rows loaded, as counted by the sink while it writes them. */
  def load(records: DataFrame, url: String, table: String): Long =
    JdbcSink.upsert(records, url, table, keyCols = Seq("upc"))

  /** The whole reference-shaped run. */
  def run(spark: SparkSession, sfDir: String, url: String, table: String): Long =
    load(dedup(validate(extract(spark, sfDir))), url, table)

  /** The reference's incremental consumption loop: walk a [[PagedSource]]
    * page by page, running the SAME validate→dedup→upsert per page. The
    * driver advances the cursor and, a page being driver-sized, evaluates
    * it too: [[PagePipeline]] is compiled once per walk from the batch
    * path's own columns, and each page's survivors are upserted on one JDBC
    * connection, so a page runs no Spark job beyond its fetch. The keyed
    * upsert makes page replay (crash recovery, overlapping fetches)
    * idempotent — EtlPipelineSpec proves page-wise consumption lands the
    * exact table the batch run does, and that a page lands what the
    * per-page Spark plan `load(dedup(validate(toProducts(page))))` would.
    *
    * Dedup is PER PAGE: a consistent keyset-paginated snapshot yields each
    * key on exactly one page, so paged ≡ batch. If the upstream snapshot
    * drifts mid-walk and the SAME key arrives on two pages with DIFFERENT
    * payloads, the upsert resolves last-write-wins (standard incremental-
    * load semantics — the later fetch is the fresher record), whereas a
    * batch over the drifted union would pick the lowest-name
    * representative. Returns rows UPSERTED (a drifted key counts once per
    * page it appeared on), not distinct keys. */
  def runPaged(spark: SparkSession, source: PagedSource, url: String, table: String): Long = {
    val pipeline = new PagePipeline(spark)
    var page = 0
    var total = 0L
    var batch = source.fetchPage(page)
    while (batch.isDefined) {
      total += JdbcSink.writePartition(
        url, pipeline(batch.get).iterator, pipeline.schema, table, Seq("upc"), JdbcSink.BatchSize)
      page += 1
      batch = source.fetchPage(page)
    }
    total
  }

  /** [[toProducts]], [[validate]] and [[dedup]] for one driver-side page,
    * with no Spark plan per page. The columns of `toProducts` and
    * [[rejectReason]] are resolved against the [[RawProduct]] schema and
    * bound once into a projection and a predicate; `current_timestamp()`
    * becomes an input slot that each page fills once, so `loaded_at` is one
    * timestamp per page, as in a per-page plan. A page's rows are projected,
    * those with a null `reject_reason` kept, and per UPC the lowest `name`
    * survives, compared as `UTF8String` bytes: the order of `dedup`'s window
    * sort, which differs from Java `String` order beyond the BMP. */
  private final class PagePipeline(spark: SparkSession) {
    private val encoder = ExpressionEncoder[RawProduct]()
    private val toRow = encoder.createSerializer()
    private val products = toProducts(spark.createDataset(Seq.empty[RawProduct])(encoder).toDF())
    val schema: StructType = products.schema
    private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    private val upc = schema.fieldIndex("upc")
    private val name = schema.fieldIndex("name")

    private def resolved(df: DataFrame): (Seq[Expression], Seq[Attribute]) =
      df.queryExecution.analyzed match { case Project(cols, child) => (cols, child.output) }
    private val now = AttributeReference("now", TimestampType, nullable = false)()
    private val project = {
      val (cols, raw) = resolved(products)
      UnsafeProjection.create(cols.map(_.transform { case _: CurrentTimestampLike => now }), raw :+ now)
    }
    private val accepted = {
      val (Seq(Alias(reason, _)), productCols) = resolved(products.select(rejectReason))
      Predicate.create(IsNull(reason), productCols)
    }

    def apply(page: Seq[RawProduct]): Seq[Row] = {
      val input = new JoinedRow(null, InternalRow(DateTimeUtils.instantToMicros(Instant.now())))
      val kept = mutable.LinkedHashMap.empty[UTF8String, InternalRow]
      for (r <- page) {
        val row = project(input.withLeft(toRow(r)))
        // accepted rows have a non-null name (the empty_name check)
        if (accepted.eval(row) &&
            kept.get(row.getUTF8String(upc)).forall(k => row.getUTF8String(name).binaryCompare(k.getUTF8String(name)) < 0)) {
          val copy = row.copy() // the projection reuses its output row
          kept(copy.getUTF8String(upc)) = copy
        }
      }
      kept.valuesIterator.map(toScala(_).asInstanceOf[Row]).toSeq
    }
  }
}
