package graft.pipeline

import graft.Fixtures
import graft.functions.UpcCheckDigit
import graft.sinks.JdbcSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
    val w = UpcCheckDigit.weightedSumCol(col("upc"), 12)
    val reason = when(col("upc").isNull || length(col("upc")) =!= 12, "bad_length")
      .when(w.isNull || w % 10 =!= 0, "bad_check_digit")
      .when(col("price").isNull || col("price") <= 0, "bad_price")
      .when(length(trim(coalesce(col("name"), lit("")))) === 0, "empty_name")
    val tagged = records.withColumn("reject_reason", reason)
    (
      tagged.filter(col("reject_reason").isNull).drop("reject_reason"),
      tagged.filter(col("reject_reason").isNotNull))
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
    * driver advances the cursor; a page is driver-sized, so its plan runs
    * as one small write job of a handful of tasks (AQE coalesces the dedup
    * shuffle), and the keyed upsert makes page replay (crash recovery,
    * overlapping fetches) idempotent — EtlPipelineSpec proves page-wise
    * consumption lands the exact table the batch run does.
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
    import spark.implicits._
    var page = 0
    var total = 0L
    var batch = source.fetchPage(page)
    while (batch.isDefined) {
      total += load(dedup(validate(toProducts(spark.createDataset(batch.get).toDF()))), url, table)
      page += 1
      batch = source.fetchPage(page)
    }
    total
  }
}
