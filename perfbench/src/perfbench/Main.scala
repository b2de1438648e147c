package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Records the ops of one run. An op that throws, or whose output check
  * fails, counts as failed and never as a timing. */
final class Recorder(spark: SparkSession) {
  final case class Op(kind: String, name: String, ms: Double)
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Run `body` as one op of `kind`; `check` inspects its result after the
    * clock stops and returns an error message when the output is wrong. */
  def op[T](kind: String, name: String = "")(body: => T)(check: T => Option[String] = (_: T) => None): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val r =
      try Right(Tracer.op(spark, if (name.isEmpty) kind else name)(body))
      catch { case e: Throwable => Left(s"$kind $name threw ${e.getClass.getName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    r.flatMap(v => check(v).toLeft(v)) match {
      case Right(v) => ops += Op(kind, if (name.isEmpty) kind else name, ms); Some(v)
      case Left(msg) => fail(msg); None
    }
  }

  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] FAILED: ${msg.take(2000)}")
  }

  def times(kinds: String*): Seq[Double] = ops.collect { case Op(k, _, ms) if kinds.contains(k) => ms }.toSeq
  def named(name: String): Seq[Double] = ops.collect { case Op(_, n, ms) if n == name => ms }.toSeq

  /** The typical op of `kinds`: the geometric mean, over the distinct op
    * names, of each name's median time. Unlike a median over the pooled
    * samples, it cannot jump between op types from run to run. */
  def typical(kinds: String*): Double = {
    val byName = ops.filter(o => kinds.contains(o.kind)).groupBy(_.name).values.map(os => Stats.median(os.map(_.ms).toSeq))
    if (byName.isEmpty) Double.NaN else math.exp(byName.map(math.log).sum / byName.size)
  }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least ten samples beyond it, and the
    * rank used. Below forty samples that rank would fall under p75, so
    * p75 is reported, with fewer than ten samples beyond it. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val q = math.max(0.75, math.floor((1.0 - 10.0 / xs.size) * 100) / 100)
    (quantile(xs, q), q)
  }
}

/** One workload: set-up, an untimed warm-up round, then timed rounds until
  * the run's time is up. */
trait Workload {
  /** Per-run fixture preparation; repeated during set-up, median reported. */
  def prepare(): Unit
  def warmup(): Unit
  def round(i: Int): Unit
  def close(): Unit
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def report(): Seq[(String, Double, String)]
  /** The primary and the secondary op kinds, for the common metrics. */
  def mainOps: Seq[String]
  def sideOps: Seq[String]
  /** Per-layer metrics from the probes of traced rounds. */
  def layers(p: Probes, spans: Seq[Span]): Map[String, Double]
}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, cpus: Int, bench: String)

object Main {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"), m("cpus").toInt, m("bench"))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      // the settings graft.Bench runs the query surface under
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "256")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    // interval commits write their checkpoint at any table size, so the
    // snapshot workload exercises checkpoint writes
    s.conf.set("spark.graft.checkpoint.minFiles", "1")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val t0 = System.nanoTime()
    val spark = session(a)
    val rec = new Recorder(spark)
    val w: Workload = a.workload match {
      case "etl_load" => new EtlLoad(spark, a, rec)
      case "snapshot_query" => new SnapshotQuery(spark, a, rec)
      case other => sys.error(s"unknown workload $other")
    }
    // Set-up: session start, fixture preparation (three times; median),
    // and one untimed warm-up round so JIT and codegen warm-up land here.
    val sessionS = (System.nanoTime() - t0) / 1e9
    val prepS = (1 to 3).map { _ => val p0 = System.nanoTime(); w.prepare(); (System.nanoTime() - p0) / 1e9 }
    val w0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(prepS) + warmS
    rec.ops.clear() // warm-up failures still count; its timings do not

    // Timed rounds. A traced run alternates untraced and traced rounds,
    // starting and ending untraced: layer metrics come from the traced
    // ones. The tracing overhead compares them with the untraced rounds
    // after the first, which is still the slowest (JIT warm-up, and the
    // snapshot table's create).
    val probes = new Probes(spark)
    val untraced, traced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    var last = 0.0
    // another round starts only if it is due to end by the deadline
    while (elapsed + last <= a.seconds || untraced.isEmpty || (a.trace && untraced.size < 2)) {
      val tracedRound = a.trace && i % 2 == 1
      if (tracedRound) probes.install()
      val r0 = System.nanoTime()
      try w.round(i)
      finally if (tracedRound) probes.uninstall()
      val s = (System.nanoTime() - r0) / 1e9
      (if (tracedRound) traced else untraced) += s
      last = s
      i += 1
    }
    val measuredS = elapsed
    w.close()

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val main = rec.times(w.mainOps: _*)
    val (tailV, tailQ) = Stats.tail(main)
    metrics("setup_s") = (setupS, "s")
    metrics("run_s") = (Stats.median(untraced.toSeq), "s")
    metrics("main_op_ms") = (rec.typical(w.mainOps: _*), "ms")
    metrics("main_op_ms_tail") = (tailV, "ms")
    metrics("side_op_ms") = (rec.typical(w.sideOps: _*), "ms")
    val detail = mutable.LinkedHashMap.empty[String, Any]
    detail("workload") = a.workload
    detail("seed") = a.seed
    detail("cpus") = a.cpus
    detail("rounds_untraced_s") = untraced.toSeq
    detail("rounds_traced_s") = traced.toSeq
    detail("measured_s") = measuredS
    detail("session_s") = sessionS
    detail("prepare_s") = prepS
    detail("warmup_s") = warmS
    detail("main_ops") = w.mainOps.mkString(",")
    detail("main_op_samples") = main.size
    detail("main_op_tail_quantile") = tailQ
    detail("side_op_samples") = rec.times(w.sideOps: _*).size
    detail("error_rate") = if (rec.attempted == 0) 0.0 else rec.failures.size.toDouble / rec.attempted
    detail("failures") = rec.failures.take(5).toSeq
    detail("report") = w.report().map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap

    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val spans = scala.jdk.CollectionConverters.IteratorHasAsScala(Tracer.spans.iterator()).asScala.toSeq
        Json.writeSpans(s"${a.out}.spans.json", spans)
        w.layers(probes, spans) ++ Layers.common(probes, spans, a.cpus) ++ Map(
          "trace.overhead_s" -> (Stats.median(traced.toSeq) - Stats.median(untraced.drop(1).toSeq)),
          "trace.spans" -> spans.size.toDouble,
          "ops.error_rate" -> detail("error_rate").asInstanceOf[Double])
      }
    val result = Map(
      "correct" -> rec.failures.isEmpty,
      "attempted" -> rec.attempted,
      "failed" -> rec.failures.size,
      "e2e" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "layers" -> layers,
      "detail" -> detail.toMap)
    Json.writeFile(a.out, result)
    spark.stop()
  }
}
