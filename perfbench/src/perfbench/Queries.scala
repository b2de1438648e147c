package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The `SparkEntry.queries` the `snapshot_query` workload runs at sf0.1,
  * and their stored expectations. The timed action is the order-insensitive
  * digest of every output column, checked against the row count and digest
  * in `expected/queries.json`. */
object Queries {
  /** Planning- and driver-bound queries from the 67-query BASELINE set:
    * a TPC-H aggregate, the AsOfJoin planner rule, the UPC check digit. */
  val Light: Seq[String] = Seq("q_agg_q1", "q_join_asof", "q_upc_checkdigit")
  /** The executor-heavy MinHash candidate-and-verify kernel (ROADMAP C). */
  val Heavy: Seq[String] = Seq("q_minhash_pairs")
  val All: Seq[String] = Light ++ Heavy

  def clearMemos(): Unit = {
    graft.ops.BpeTokenizer.clearMemo()
    graft.ops.Graph.clearMemo()
    graft.ops.SnapshotCycle.clearMemo()
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    parse(txt) match {
      case JObject(fields) => fields.collect { case (q, JObject(f)) =>
        val m = f.toMap
        q -> ((m("rows") match { case JInt(n) => n.toLong; case other => sys.error(s"bad rows $other") },
          m("digest") match { case JString(s) => s; case other => sys.error(s"bad digest $other") }))
      }.toMap
      case other => sys.error(s"unexpected expectations file shape: $other")
    }
  }

  /** One pass over `order`, memos cleared before each query, every output
    * checked against `expected`. */
  def pass(spark: SparkSession, data: String, rec: Recorder, expected: Map[String, (Long, String)],
      order: Seq[String]): Unit =
    order.foreach { q =>
      clearMemos()
      rec.op("query", q)(RowHash.digest(SparkEntry.queries(q)(spark, data))) { d =>
        expected.get(q) match {
          case None => Some(s"$q has no stored expectation")
          case Some((rows, digest)) =>
            if (d.rows != rows) Some(s"$q returned ${d.rows} rows, expected $rows")
            else if (d.toString != digest) Some(s"$q digest $d, expected $digest")
            else None
        }
      }
    }

  /** The `ops` and `functions` layers over the traced rounds. */
  def layers(p: Probes, ix: SpanIndex): Map[String, Double] = {
    val light = ix.ops(Light: _*)
    val heavy = ix.ops(Heavy: _*)
    val passes = math.max(1.0, heavy.size.toDouble / Heavy.size)
    def busyS(ops: Seq[Span]) = ops.map(o => ix.covered(ix.childrenOf(o, "spark"), o.start, o.end)).sum / 1e9 / passes
    Map(
      "query.light_driver_only_s" -> light.map(ix.driverOnlyNs).sum / 1e9 / passes,
      "query.light_busy_s" -> busyS(light),
      "query.heavy_busy_s" -> busyS(heavy),
      "query.heavy_task_cpu_s" -> heavy.flatMap(o => p.spark0.perOp.get(o.id)).map(_.taskCpuNs).sum / 1e9 / passes,
      "functions.minhash_pairs_ms" -> Layers.median(ix.ops("q_minhash_pairs").map(o => Layers.ms(o.ns))))
  }

  /** Writes the expectations file from one pass:
    * `perfbench.Queries <dataDir> <out.json> <cpus>`. Run it only on a build
    * whose light queries pass the DuckDB oracle (graft.Verify, then
    * tools/check.py). */
  def main(args: Array[String]): Unit = {
    val Array(data, out, cpus) = args
    val work = new java.io.File(out).getAbsoluteFile.getParent
    val spark = Main.session(Args("snapshot_query", 0, 0, trace = false, data, work, out, cpus.toInt, ""))
    val lines = All.sorted.map { q =>
      clearMemos()
      val d = RowHash.digest(SparkEntry.queries(q)(spark, data))
      s"""  "$q": {"rows": ${d.rows}, "digest": "$d"}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
