package graft

import graft.functions.UpcCheckDigit
import graft.ops.{SimKernel, WeightedAvg}
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Property-style invariants (SURVEY.md §5.3 item 3) with seeded generators:
  * check-digit round trip, cosine kernel bounds/symmetry, UDAF merge
  * associativity, dedup idempotence, set-op algebra, session invariants.
  */
class PropertiesSpec extends SparkSuite {
  private val rnd = new scala.util.Random(42)

  test("UPC check digit: validate ∘ synthesize holds; corruption detected") {
    // the check-digit kernel behind UpcSkuLoad and q_upc_checkdigit
    def sum(s: String, n: Int): Int = UpcCheckDigit.weightedSum(UTF8String.fromString(s), n)
    def synth(key: Long): String = {
      val s = f"$key%011d"
      s + ((10 - sum(s, 11) % 10) % 10).toString
    }
    def valid(upc: String): Boolean = sum(upc, 12) % 10 == 0
    (1 to 2000).foreach { _ =>
      val key = math.abs(rnd.nextLong()) % 100000000000L
      val upc = synth(key)
      assert(valid(upc), s"synthesized UPC $upc fails validation")
      val pos = rnd.nextInt(12)
      val delta = 1 + rnd.nextInt(8) // never ±0 or ±10 → always a real corruption
      val corrupted = upc.updated(pos, (('0' + (upc(pos) - '0' + delta) % 10)).toChar)
      assert(!valid(corrupted), s"corrupted UPC $corrupted passes validation")
    }
  }

  test("cosine kernel: bounds, symmetry, self-similarity") {
    (1 to 500).foreach { _ =>
      val n = 8 + rnd.nextInt(64)
      val a = Array.fill(n)(rnd.nextFloat() * 2 - 1)
      val b = Array.fill(n)(rnd.nextFloat() * 2 - 1)
      val c = SimKernel.cos(a.toSeq, b.toSeq)
      assert(math.abs(c) <= 1.0 + 1e-12)
      assert(SimKernel.cos(b.toSeq, a.toSeq) == c, "cosine not symmetric")
      assert(math.abs(SimKernel.cos(a.toSeq, a.toSeq) - 1.0) < 1e-12)
    }
  }

  test("WeightedAvg UDAF: any merge tree gives the identical result") {
    (1 to 200).foreach { _ =>
      val rows = Array.fill(1 + rnd.nextInt(50))((rnd.nextDouble() * 10000, rnd.nextDouble()))
      val sequential = rows.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce)
      val k = 1 + rnd.nextInt(rows.length)
      val (l, r) = rows.splitAt(k)
      val split = WeightedAvg.merge(
        l.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce),
        r.foldLeft(WeightedAvg.zero)(WeightedAvg.reduce))
      assert(sequential == split, "buffer not associative under split")
      assert(WeightedAvg.finish(sequential) == WeightedAvg.finish(split))
    }
  }

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    val docs = Fixtures.table(spark, sf001, "documents")
    val once = docs
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min("doc_id").as("doc_id"))
    val twice = once
      .groupBy("h")
      .agg(min("doc_id").as("doc_id"))
    assert(once.count() == twice.count())
    assert(once.exceptAll(twice).count() == 0)
  }

  test("set-op algebra: (A ∪ B) \\ B ⊆ A; A ∩ B ⊆ A") {
    val o = Fixtures.table(spark, sf001, "orders")
    val a = o.filter(year(col("o_orderdate")) === 1995).select("o_custkey")
    val b = o.filter(year(col("o_orderdate")) === 1996).select("o_custkey")
    assert(a.union(b).except(b).except(a).count() == 0)
    assert(a.intersect(b).except(a).count() == 0)
  }

  test("windowed running sum: final value per group equals group sum") {
    import org.apache.spark.sql.expressions.Window
    val o = Fixtures
      .table(spark, sf001, "orders")
      .withColumn("cents", floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
    val w = Window
      .partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lastRunning = o
      .withColumn("run", sum("cents").over(w))
      .groupBy("o_custkey")
      .agg(max("run").as("final_run"))
    val direct = o.groupBy("o_custkey").agg(sum("cents").as("total"))
    val mismatch = lastRunning
      .join(direct, "o_custkey")
      .filter(col("final_run") =!= col("total"))
    assert(mismatch.count() == 0)
  }

  test("session invariants: no overlap per user, inter-session gap >= 30 min") {
    import spark.implicits._
    val sessions = StreamOps
      .sessionizeBatch(
        Fixtures.events(spark, sf001).select(col("user_id"), col("ts").cast("timestamp").as("ts")))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect()
      .groupBy(_._1)
    sessions.values.foreach { ss =>
      val sorted = ss.sortBy(_._2.getTime)
      sorted.sliding(2).foreach {
        case Array(prev, next) =>
          assert(next._2.getTime >= prev._3.getTime,
            s"overlapping sessions: $prev then $next")
        case _ => ()
      }
      // event count positive, end > start by construction
      sorted.foreach { s => assert(s._4 > 0 && s._3.after(s._2)) }
    }
  }
}
