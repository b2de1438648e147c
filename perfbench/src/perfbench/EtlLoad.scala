package perfbench

import java.sql.DriverManager

import scala.collection.mutable

import graft.pipeline.{FixturePagedSource, PagedSource, RawProduct, RetryingPagedSource, UpcSkuLoad}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The paper's core path: a bulk `UpcSkuLoad.run` into a fresh in-memory
  * Derby table (every key new: the INSERT side of the upsert), then a
  * `runPaged` walk over the same parts through `RetryingPagedSource`
  * (every key present: the UPDATE side), from a seeded source that
  * changes the price of a share of parts and fails one fetch per round
  * once. */
final class EtlLoad(spark: SparkSession, a: Args, rec: Recorder) extends Workload {
  /** The first Parts part keys of sf0.1 (keys are dense from 0). */
  private val Parts = 1000
  private val PageSize = 500
  private val ChangeShare = 0.2
  private val table = "products"
  private val ddl =
    s"CREATE TABLE $table (upc CHAR(12) PRIMARY KEY, name VARCHAR(128), brand VARCHAR(32), price DOUBLE, loaded_at TIMESTAMP)"

  /** The benchmark's own model of the pipeline's output. */
  private final case class Expected(upc: String, name: String, brand: String, price: Double)
  private var parts: Array[RawProduct] = Array.empty

  private val bulkS, wavesS = mutable.ArrayBuffer.empty[Double]
  private val rowsUpserted = mutable.ArrayBuffer.empty[Long]
  private final class Traced(val bulk: TimingJdbc.Counters, val paged: TimingJdbc.Counters,
      var fetches: Long, var pages: Long)
  private val traced = mutable.ArrayBuffer.empty[Traced]

  override def mainOps: Seq[String] = Seq("page")
  override def sideOps: Seq[String] = Seq("bulk")

  private val srcDir = s"${a.work}/etl"

  /** Writes the part subset both waves read, as a fixture directory. */
  override def prepare(): Unit = {
    val all = spark.read.parquet(s"${a.data}/part.parquet").filter(col("p_partkey") < Parts)
    all.write.mode("overwrite").parquet(s"$srcDir/part.parquet")
    parts = spark.read.parquet(s"$srcDir/part.parquet")
      .selectExpr("cast(p_partkey as long)", "cast(p_name as string)", "cast(p_brand as string)", "cast(p_retailprice as double)")
      .collect()
      .map(r => RawProduct(r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
    val url = freshDb("prep")
    try exec(url, ddl) finally dropDb(url)
  }

  /** One full round, so JIT and codegen warm-up stay out of timed rounds. */
  override def warmup(): Unit = round(-1)

  /** Seeded per (seed, round, partkey). */
  private def mix(i: Int, k: Long): Long = scala.util.hashing.MurmurHash3.productHash((a.seed, i, k)).toLong & 0x7fffffffL
  private def changed(i: Int, k: Long): Boolean = mix(i, k) % 1000 < ChangeShare * 1000
  private def delta(i: Int, k: Long): Double = 1.0 + (mix(i, k + 1) % 40) * 0.25

  override def round(i: Int): Unit = {
    val url = freshDb(s"r${i + 1}")
    val isTraced = Tracer.on
    val target = if (isTraced) TimingJdbc.wrap(url) else url
    val nPages = (parts.length + PageSize - 1) / PageSize
    val faults = Set(new scala.util.Random(a.seed * 7919 + i).nextInt(nPages))
    val t = new Traced(new TimingJdbc.Counters, new TimingJdbc.Counters, 0, 0)
    try {
      exec(url, ddl)
      TimingJdbc.counters = t.bulk
      val b0 = System.nanoTime()
      val bulk = rec.op("bulk")(UpcSkuLoad.run(spark, srcDir, target, table))(n =>
        if (n == parts.length) None else Some(s"bulk wave loaded $n rows, expected ${parts.length}"))
      val bulkSec = (System.nanoTime() - b0) / 1e9
      TimingJdbc.counters = t.paged
      val src = new SeededSource(new FixturePagedSource(spark, srcDir, PageSize), i, faults)
      val timing = new PageTimer(new RetryingPagedSource(src, sleep = _ => ()))
      val w0 = System.nanoTime()
      val paged =
        try Some(UpcSkuLoad.runPaged(spark, timing, target, table))
        catch { case e: Throwable => timing.abort(); rec.fail(s"page threw ${e.getClass.getName}: ${e.getMessage}"); None }
        finally timing.finish()
      val waveS = (System.nanoTime() - w0) / 1e9
      t.fetches = src.attempts; t.pages = timing.pages
      for (b <- bulk; n <- paged) {
        if (n != parts.length) rec.fail(s"paged wave upserted $n rows, expected ${parts.length}")
        check(url, i).foreach(rec.fail)
        if (i >= 0) {
          bulkS += bulkSec
          wavesS += waveS
          rowsUpserted += b + n
        }
      }
    } finally {
      dropDb(url)
      if (isTraced) traced += t
    }
  }

  /** Adds the seeded price changes and transient faults to the fixture. */
  private final class SeededSource(inner: PagedSource, i: Int, faults: Set[Int]) extends PagedSource {
    var attempts = 0L
    private val failed = mutable.Set.empty[Int]
    override def fetchPage(page: Int): Option[Seq[RawProduct]] = Tracer.span("fetch", "pipeline") {
      attempts += 1
      if (faults(page) && failed.add(page)) throw new java.io.IOException(s"seeded transient fault on page $page")
      inner.fetchPage(page).map(_.map(r => if (changed(i, r.partkey)) r.copy(price = r.price + delta(i, r.partkey)) else r))
    }
  }

  /** Times page i as the interval from fetchPage(i) to fetchPage(i+1),
    * and makes each page the traced op its jobs and JDBC calls belong to. */
  private final class PageTimer(inner: PagedSource) extends PagedSource {
    private var open: Option[(Long, OpenOp)] = None
    var pages = 0L
    override def fetchPage(page: Int): Option[Seq[RawProduct]] = {
      finish()
      rec.attempted += 1
      open = Some(System.nanoTime() -> Tracer.beginOp(spark, "page"))
      val r = inner.fetchPage(page)
      if (r.isEmpty) { abort(); rec.attempted -= 1 } // past the last page: no op
      r
    }
    /** The open page failed: it counts as failed, never as a timing. */
    def abort(): Unit = { open.foreach(o => Tracer.endOp(spark, o._2)); open = None }
    def finish(): Unit = open.foreach { case (t0, o) =>
      Tracer.endOp(spark, o)
      rec.ops += rec.Op("page", "page", (System.nanoTime() - t0) / 1e6)
      pages += 1
      open = None
    }
  }

  /** The final table, read over plain JDBC, against the benchmark's own
    * model: one row per valid part, its UPC and check digit, the round's
    * changed prices applied and every other row as extracted. */
  private def check(url: String, i: Int): Option[String] = {
    val want = parts.iterator
      .filter(p => p.price > 0 && p.name != null && p.name.trim.nonEmpty)
      .map { p =>
        val price = if (changed(i, p.partkey)) p.price + delta(i, p.partkey) else p.price
        upc(p.partkey) -> Expected(upc(p.partkey), p.name, p.brand, price)
      }.toMap
    val got = mutable.Map.empty[String, Expected]
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(s"SELECT upc, name, brand, price FROM $table")
      while (rs.next()) got(rs.getString(1)) = Expected(rs.getString(1), rs.getString(2), rs.getString(3), rs.getDouble(4))
    } finally c.close()
    if (got.size != want.size) Some(s"table holds ${got.size} rows, expected ${want.size}")
    else want.collectFirst { case (k, e) if !got.get(k).contains(e) => s"row $k is ${got.get(k)}, expected $e" }
  }

  /** UPC-A from a part key: 11-digit zero-padded body plus check digit. */
  private def upc(k: Long): String = {
    val body = f"$k%011d"
    val w = body.zipWithIndex.map { case (ch, j) => (ch - '0') * (if (j % 2 == 0) 3 else 1) }.sum
    body + ((10 - w % 10) % 10)
  }

  private def freshDb(tag: String): String =
    s"jdbc:derby:memory:perfbench_${a.seed}_${tag}_${System.nanoTime()};create=true"

  private def exec(url: String, sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().execute(sql) finally c.close()
  }

  private def dropDb(url: String): Unit =
    try DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // Derby reports a successful drop as 08006

  override def close(): Unit = ()

  override def report(): Seq[(String, Double, String)] = {
    val pages = rec.times("page")
    val (tail, _) = Stats.tail(pages)
    val rate = rowsUpserted.zip(bulkS.zip(wavesS)).map { case (n, (b, w)) => n / (b + w) }
    Seq(
      ("etl_rows_per_s", Layers.median(rate.toSeq), "rows/s"),
      ("etl_bulk_s", Layers.median(rec.times("bulk").map(_ / 1e3)), "s"),
      ("etl_page_ms_p50", Layers.median(pages), "ms"),
      ("etl_page_ms_tail", tail, "ms"))
  }

  override def layers(p: Probes, spans: Seq[Span]): Map[String, Double] = {
    val ix = new SpanIndex(spans)
    val pageOps = ix.ops("page")
    val bulkOps = ix.ops("bulk")
    val n = math.max(1, traced.size).toDouble
    val fetches = spans.filter(s => s.layer == "pipeline").map(s => Layers.ms(s.ns))
    def sum(f: TimingJdbc.Counters => Long): Double = traced.map(t => f(t.bulk) + f(t.paged)).sum.toDouble
    def ratio(c: Seq[TimingJdbc.Counters]): Double = {
      val sent = c.map(_.updatesSent.get).sum
      if (sent == 0) 0.0 else c.map(_.updatesMatched.get).sum.toDouble / sent
    }
    val bulkWindow = traced.map(_.bulk.windowNs).sum
    Map(
      "pipeline.pages" -> traced.map(_.pages).sum / n,
      "pipeline.fetch_ms" -> Layers.median(fetches),
      "pipeline.fetch_attempts" -> traced.map(_.fetches).sum / n,
      "pipeline.fetch_retries" -> traced.map(t => t.fetches - t.pages - 1).sum / n,
      "pipeline.page_tasks" -> Layers.median(pageOps.map(o => p.spark0.perOp.get(o.id).map(_.tasks).getOrElse(0L).toDouble)),
      "pipeline.page_driver_only_ms" -> Layers.median(pageOps.map(o => Layers.ms(ix.driverOnlyNs(o)))),
      "pipeline.bulk_tasks" -> Layers.median(bulkOps.map(o => p.spark0.perOp.get(o.id).map(_.tasks).getOrElse(0L).toDouble)),
      "jdbc.busy_ms" -> sum(_.busyNs.get) / 1e6 / n,
      "jdbc.bulk_busy_ms" -> traced.map(_.bulk.busyNs.get).sum / 1e6 / n,
      "jdbc.write_parallelism" -> (if (bulkWindow == 0) 0.0 else traced.map(_.bulk.busyNs.get).sum.toDouble / bulkWindow),
      "jdbc.bulk_writer_tasks" -> traced.map(_.bulk.writerTasks.size).sum / n,
      "jdbc.connections" -> sum(_.connections.get) / n,
      "jdbc.batches" -> sum(_.batches.get) / n,
      "jdbc.statements" -> sum(_.statements.get) / n,
      "jdbc.update_hit_ratio_bulk" -> ratio(traced.map(_.bulk).toSeq),
      "jdbc.update_hit_ratio_paged" -> ratio(traced.map(_.paged).toSeq))
  }
}
