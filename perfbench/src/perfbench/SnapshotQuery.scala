package perfbench

import scala.collection.mutable

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The table and analytics side. Each round commits a seeded slice of
  * history on sf0.1 `orders` through the public `SnapshotTable` API
  * (the first round starts with a date-clustered create): append of new
  * keys, key-slice merge, date-range delete and key-range update, each in
  * copy-on-write and merge-on-read form, then reads (a date-bounded scan,
  * time travel, the change feed of the last commit) and a compact. Every
  * table read is checked against the benchmark's own replay of the same
  * ops on the driver. The round ends with one pass over [[Queries]] in a
  * seeded order. */
final class SnapshotQuery(spark: SparkSession, a: Args, rec: Recorder) extends Workload {
  /** Every KeyStride-th order of sf0.1 (30,000 rows) seeds the table. */
  private val KeyStride = 5
  private val AppendRows = 1500
  private val MergeRows = 1000
  private val MergeNewRows = 200
  private val UpdateKeys = 10000
  private val DeleteDays = 10
  private val ReadDays = 90

  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", DateType)))
  private val types = schema.fields.map(_.dataType).toIndexedSeq
  private val changeTypes = types :+ StringType

  /** Replay model: key -> row (dates as epoch days, as Spark holds them). */
  private final case class Ord(key: Long, cust: Long, status: String, price: Double, day: Int) {
    def values: Seq[Any] = Seq(key, cust, status, price, day)
    def hash: Long = RowHash.hashRow(values, types)
    def row: Row = Row(key, cust, status, price, java.time.LocalDate.ofEpochDay(day))
    def change(kind: String): Digest = RowHash.ofHash(RowHash.hashRow(values :+ kind, changeTypes))
  }
  private var expected = Map.empty[String, (Long, String)]
  private var base: Array[Ord] = Array.empty
  private var state = mutable.HashMap.empty[Long, Ord]
  private val versionDigest = mutable.ArrayBuffer.empty[Digest] // index = version
  private var lastChange = RowHash.Empty
  private var root = ""
  private var rnd = new scala.util.Random(a.seed)
  private var nextKey = 0L
  private var minDay, maxDay = 0
  /** (version, ms) of every committed version, for the checkpoint commits. */
  private val commitLog = mutable.ArrayBuffer.empty[(Int, Double)]
  /** Raw bytes of the rows traced commits added or changed (29 per row). */
  private var userBytes = 0.0
  private var spaceAmp = 0.0

  override def mainOps: Seq[String] = Seq("append", "merge", "merge_mor", "delete", "delete_mor", "update", "update_mor", "compact")
  override def sideOps: Seq[String] = Seq("read_where", "read_version", "changes", "query")

  override def prepare(): Unit = {
    base = orders()
      .select(col("o_orderkey").cast("long"), col("o_custkey").cast("long"), col("o_orderstatus"),
        col("o_totalprice").cast("double"), col("o_orderdate").cast("date"))
      .collect()
      .map(r => Ord(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), r.getDate(4).toLocalDate.toEpochDay.toInt))
    minDay = base.map(_.day).min
    maxDay = base.map(_.day).max
    expected = Queries.readExpected(s"${a.bench}/expected/queries.json")
  }

  /** One full round on a scratch table, dropped so timed rounds start with
    * a fresh create. */
  override def warmup(): Unit = {
    round(-1)
    drop()
  }

  override def round(i: Int): Unit = {
    if (root.isEmpty) start()
    append()
    merge(mor = false); merge(mor = true)
    delete(mor = false); delete(mor = true)
    update(mor = false); update(mor = true)
    read()
    commit("compact")(SnapshotTable.compact(spark, root, "o_orderdate", a.cpus))(Nil, Nil)
    Queries.pass(spark, a.data, rec, expected, new scala.util.Random(a.seed * 31 + i).shuffle(Queries.All))
  }

  /** A traced run also measures space amplification before dropping the
    * table: bytes under the table root over the bytes of one fresh
    * parquet write of the final rows. */
  override def close(): Unit = {
    if (a.trace && root.nonEmpty) {
      val fresh = s"${a.work}/fresh-${System.nanoTime()}"
      SnapshotTable.read(spark, root).write.parquet(fresh)
      spaceAmp = du(root).toDouble / du(fresh)
      deletePath(fresh)
    }
    drop()
  }

  private def du(p: String): Long = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(path).getLength
  }

  private def deletePath(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
  }

  private def start(): Unit = {
    drop()
    root = s"${a.work}/snap-${System.nanoTime()}"
    rnd = new scala.util.Random(a.seed)
    state = mutable.HashMap.from(base.iterator.map(o => o.key -> o))
    nextKey = base.map(_.key).max + 1
    versionDigest.clear()
    versionDigest += RowHash.Empty
    val initial = orders()
      .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
      .repartitionByRange(a.cpus, col("o_orderdate"))
      .sortWithinPartitions("o_orderdate")
    commitAs("create")(SnapshotTable.create(spark, root, initial))(state.values.map(_.hash).foldLeft(RowHash.Empty)(_ + RowHash.ofHash(_)), RowHash.Empty)
  }

  private def orders(): DataFrame =
    spark.read.parquet(s"${a.data}/orders.parquet").filter(col("o_orderkey") % KeyStride === 0)

  private def drop(): Unit =
    if (root.nonEmpty) { deletePath(root); root = "" }

  /** New keys. */
  private def append(): Unit = {
    val added = Seq.fill(AppendRows)(fresh())
    commit("append")(SnapshotTable.append(spark, root, frame(added)))(Nil, added)
  }

  /** A seeded slice of existing keys with new prices, plus new keys. */
  private def merge(mor: Boolean): Unit = {
    val keys = state.keysIterator.toIndexedSeq
    val hit = Seq.fill(MergeRows)(keys(rnd.nextInt(keys.size))).distinct.map(k => state(k))
    val src = hit.map(o => o.copy(price = o.price + 0.5 + rnd.nextInt(20))) ++ Seq.fill(MergeNewRows)(fresh())
    val srcDf = frame(src)
    commit(if (mor) "merge_mor" else "merge")(
      if (mor) SnapshotTable.mergeUpsertMor(spark, root, srcDf, Seq("o_orderkey"))
      else SnapshotTable.mergeUpsert(spark, root, srcDf, Seq("o_orderkey")))(hit, src)
  }

  /** A seeded date range. */
  private def delete(mor: Boolean): Unit = {
    val d0 = minDay + rnd.nextInt(maxDay - minDay - DeleteDays)
    val bound = Seq(Bound("o_orderdate", Some(date(d0)), Some(date(d0 + DeleteDays - 1))))
    val gone = state.values.filter(o => o.day >= d0 && o.day < d0 + DeleteDays).toSeq
    commit(if (mor) "delete_mor" else "delete")(
      if (mor) SnapshotTable.deleteWhereMor(spark, root, bound)
      else SnapshotTable.deleteWhere(spark, root, bound))(gone, Nil)
  }

  /** A seeded key range gets a price bump. */
  private def update(mor: Boolean): Unit = {
    val k0 = rnd.nextInt(math.max(1, (nextKey - UpdateKeys).toInt)).toLong
    val bound = Seq(Bound("o_orderkey", Some(k0), Some(k0 + UpdateKeys - 1)))
    val upd = state.values.filter(o => o.key >= k0 && o.key < k0 + UpdateKeys).toSeq
    val set = Map("o_totalprice" -> (col("o_totalprice") + 1.5))
    commit(if (mor) "update_mor" else "update")(
      if (mor) SnapshotTable.updateWhereMor(spark, root, bound, set)
      else SnapshotTable.updateWhere(spark, root, bound, set))(upd, upd.map(o => o.copy(price = o.price + 1.5)))
  }

  private def fresh(): Ord = {
    val k = nextKey; nextKey += 1
    Ord(k, 1 + rnd.nextInt(15000), Seq("O", "F", "P")(rnd.nextInt(3)),
      math.round((900 + rnd.nextDouble() * 400000) * 100) / 100.0, minDay + rnd.nextInt(maxDay - minDay + 1))
  }

  private def frame(rows: Seq[Ord]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows.map(_.row): _*), schema)

  private def date(day: Int): String = java.time.LocalDate.ofEpochDay(day).toString

  /** A committing call: times it, checks it made the next version, then
    * applies the same change to the replay model. */
  private def commit(kind: String)(body: => Int)(removed: Seq[Ord], added: Seq[Ord]): Unit = {
    var d = versionDigest.last
    var ch = RowHash.Empty
    removed.foreach { o => state.remove(o.key); d = d - RowHash.ofHash(o.hash); ch = ch + o.change("delete") }
    added.foreach { o => state(o.key) = o; d = d + RowHash.ofHash(o.hash); ch = ch + o.change("insert") }
    if (Tracer.on) userBytes += added.size * 29.0
    commitAs(kind)(body)(d, ch)
  }

  private def commitAs(kind: String)(body: => Int)(d: Digest, ch: Digest): Unit = {
    val want = versionDigest.size
    val t0 = System.nanoTime()
    rec.op(kind)(body)(v => if (v == want) None else Some(s"$kind committed version $v, expected $want"))
      .foreach(_ => commitLog += (want -> (System.nanoTime() - t0) / 1e6))
    versionDigest += d
    lastChange = ch
  }

  /** The three reads, each consumed through the digest and checked. */
  private def read(): Unit = {
    val v = versionDigest.size - 1
    val r0 = minDay + rnd.nextInt(maxDay - minDay - ReadDays)
    val want = state.values.iterator.filter(o => o.day >= r0 && o.day < r0 + ReadDays)
      .foldLeft(RowHash.Empty)((acc, o) => acc + RowHash.ofHash(o.hash))
    val rb = Seq(Bound("o_orderdate", Some(date(r0)), Some(date(r0 + ReadDays - 1))))
    checked("read_where", want)(SnapshotTable.readWhere(spark, root, rb))
    val tv = 1 + rnd.nextInt(v)
    checked("read_version", versionDigest(tv))(SnapshotTable.readVersion(spark, root, tv))
    checked("changes", lastChange)(
      SnapshotTable.changesBetween(spark, root, v - 1, v).select((schema.fieldNames :+ "_change_type").map(col).toIndexedSeq: _*))
  }

  private def checked(kind: String, want: Digest)(df: => DataFrame): Unit =
    rec.op(kind)(RowHash.digest(df.select(schema.fieldNames.map(col).toIndexedSeq ++ df.columns.drop(schema.size).map(col): _*), exact = true))(got =>
      if (got == want) None else Some(s"$kind digest $got, replay expects $want"))

  override def report(): Seq[(String, Double, String)] = {
    val commits = rec.times(mainOps: _*)
    val queries = rec.times("query")
    Seq(
      ("commit_ms_p50", Layers.median(commits), "ms"),
      ("commit_ms_tail", Stats.tail(commits)._1, "ms"),
      ("read_ms_p50", Layers.median(rec.times("read_where", "read_version", "changes")), "ms"),
      ("query_ms_p50", Layers.median(queries), "ms"),
      ("query_ms_tail", Stats.tail(queries)._1, "ms")) ++
      Queries.All.map(q => (s"${q}_ms_p50", Layers.median(rec.named(q)), "ms"))
  }

  override def layers(p: Probes, spans: Seq[Span]): Map[String, Double] = {
    val ix = new SpanIndex(spans)
    val kinds = Seq("create", "append", "merge", "merge_mor", "delete", "delete_mor", "update", "update_mor",
      "compact", "read_where", "read_version", "changes")
    val perKind = kinds.map(k => s"snapshot.${k}_ms_p50" -> Layers.median(rec.times(k))).toMap
    val commits = ix.ops("create" +: mainOps: _*)
    val written = p.fs.getOrElse("bytesWritten", 0L).toDouble
    perKind ++ Queries.layers(p, ix) ++ Map(
      "snapshot.jobs_per_commit" -> Layers.median(commits.map(o => p.spark0.perOp.get(o.id).map(_.jobs).getOrElse(0L).toDouble)),
      "snapshot.commit_driver_only_ms" -> Layers.median(commits.map(o => Layers.ms(ix.driverOnlyNs(o)))),
      "snapshot.publish_ms" -> (if (p.store.publishes.get == 0) 0.0 else p.store.publishNs.get / 1e6 / p.store.publishes.get),
      "snapshot.manifest_bytes" -> (if (p.store.publishes.get == 0) 0.0 else p.store.manifestBytes.get.toDouble / p.store.publishes.get),
      "snapshot.bytes_written_per_user_byte" -> (if (userBytes == 0) 0.0 else written / userBytes),
      "snapshot.space_amp" -> spaceAmp,
      "snapshot.checkpoint_commit_ms" -> Layers.median(commitLog.collect { case (v, ms) if v % 10 == 0 => ms }.toSeq))
  }
}
