package graft

import graft.ops.{BpeTokenizer, FixtureMemo}
import graft.ops.BpeTokenizer.Merge
import org.apache.spark.sql.DataFrame

/** Library-form tests for the BPE trainer on hand-computable corpora — the
  * fixture-bound q_bpe_* rows stay oracle-checked; these prove the merge
  * semantics (greedy left-to-right application, frequency weighting,
  * deterministic tie-breaks, early exhaustion) on arbitrary word tables.
  */
class BpeTokenizerSpec extends SparkSuite {
  import spark.implicits._

  private def words(ws: (String, Long)*): DataFrame = ws.toDF("word", "f")

  private def vocabMap(df: DataFrame): Map[String, Long] =
    df.as[(String, Long)].collect().toMap

  test("first merge is the most frequent weighted pair") {
    // "ab" x10 dominates: pair (a,b) count 10; "cd" x3 gives (c,d) 3
    val m = BpeTokenizer.train(words("ab" -> 10L, "cd" -> 3L), 2)
    assert(m == Vector(Merge("a", "b", 10L), Merge("c", "d", 3L)))
  }

  test("greedy left-to-right application: aaa -> (aa, a)") {
    // classic reference behavior: merge (a,a) applied to "aaa" yields
    // symbols [aa, a], so the second round's top pair is (aa, a)
    val m = BpeTokenizer.train(words("aaa" -> 5L), 2)
    assert(m(0) == Merge("a", "a", 10L)) // two occurrences per word x5
    assert(m(1) == Merge("aa", "a", 5L))
    val v = vocabMap(BpeTokenizer.vocab(words("aaa" -> 5L), m))
    assert(v == Map("aaa" -> 5L))
  }

  test("ties break lexicographically by pair string") {
    // (a,b) and (c,d) both count 4 -> "a b" < "c d" wins round 1
    val m = BpeTokenizer.train(words("ab" -> 4L, "cd" -> 4L), 1)
    assert(m == Vector(Merge("a", "b", 4L)))
  }

  test("no cross-symbol aliasing: merged symbols never match their suffix") {
    // after merging (y,x) -> yx, a later (x,x) pattern must not bite into
    // the 'x' inside 'yx': "yxx" tokenizes to [yx, x], not [y, xx]
    val w = words("yx" -> 9L, "yxx" -> 1L, "xx" -> 5L)
    val m = BpeTokenizer.train(w, 2)
    assert(m(0) == Merge("y", "x", 10L))
    assert(m(1) == Merge("x", "x", 5L)) // the yxx occurrence (yx,x) lost its (x,x) pair
    val v = vocabMap(BpeTokenizer.vocab(w, m))
    assert(v == Map("yx" -> 10L, "x" -> 1L, "xx" -> 5L))
  }

  test("trainer stops early when every word is a single symbol") {
    val m = BpeTokenizer.train(words("ab" -> 2L, "b" -> 7L), 10)
    assert(m == Vector(Merge("a", "b", 2L))) // round 2 has no pairs left
    val v = vocabMap(BpeTokenizer.vocab(words("ab" -> 2L, "b" -> 7L), m))
    assert(v == Map("ab" -> 2L, "b" -> 7L))
  }

  test("vocab frequencies are weighted and exact") {
    val w = words("abab" -> 3L, "ab" -> 2L)
    val m = BpeTokenizer.train(w, 1) // merge (a,b) count 8
    assert(m == Vector(Merge("a", "b", 8L)))
    val v = vocabMap(BpeTokenizer.vocab(w, m))
    assert(v == Map("ab" -> 8L)) // abab -> [ab, ab] x3, ab -> [ab] x2
  }

  test("trainLocal == train on hand corpora (incl. ties, repeats, exhaustion)") {
    // the driver-local trainer must replicate the distributed trainer
    // exactly: greedy application, weighted counts, lexicographic
    // tie-break, early exhaustion — checked at K beyond exhaustion
    val corpora = Seq(
      words("ab" -> 10L, "cd" -> 3L),
      words("aaa" -> 5L),
      words("ab" -> 4L, "cd" -> 4L),
      words("yx" -> 9L, "yxx" -> 1L, "xx" -> 5L),
      words("ab" -> 2L, "b" -> 7L),
      words("abab" -> 3L, "ab" -> 2L, "banana" -> 7L, "bandana" -> 1L))
    corpora.foreach { w =>
      (1 to 8).foreach { k =>
        assert(
          BpeTokenizer.trainLocal(w, k) == BpeTokenizer.train(w, k),
          s"trainLocal diverged from train at k=$k on ${w.collect().mkString(",")}")
      }
    }
  }

  test("trainLocal == train on the sf0.001 fixture at K=6 and K=12") {
    val w = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("explode(split(lower(text), ' ')) AS word")
      .filter("word <> ''")
      .groupBy("word")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("f"))
    assert(BpeTokenizer.trainLocal(w, 6) == BpeTokenizer.train(w, 6))
    assert(BpeTokenizer.trainLocal(w, 12) == BpeTokenizer.train(w, 12))
  }

  test("capped trainLocal == train on the frequency-truncated table") {
    // capping keeps the top-M types by (f DESC, word ASC); training on the
    // capped table must equal distributed training on the same truncation
    val w = words("ab" -> 10L, "abc" -> 9L, "bc" -> 2L, "zz" -> 1L)
    val top2 = w.orderBy($"f".desc, $"word".asc).limit(2)
    assert(BpeTokenizer.trainLocal(w, 4, maxTypes = 2) == BpeTokenizer.train(top2, 4))
  }

  test("fixture-bound merges are memoized as plain data and deterministic") {
    val a = BpeTokenizer.learnMerges(spark, sf001)
    val b = BpeTokenizer.learnMerges(spark, sf001)
    assert(a eq b, "second call must hit the dir-keyed memo")
    assert(a.size == BpeTokenizer.Merges)
    assert(a.forall(m => m.freq > 0 && m.left.nonEmpty && m.right.nonEmpty))
  }

  test("the fixture memo counts a build, then a hit, then a build after clearMemo") {
    def run(q: String): Unit = BpeTokenizer.queries(q)(spark, sf001).count()
    BpeTokenizer.clearMemo()
    val (h0, b0) = FixtureMemo.counts
    run("q_bpe_train")
    assert(FixtureMemo.counts == ((h0, b0 + 1)), "the first query builds the merges")
    run("q_bpe_vocab")
    assert(FixtureMemo.counts == ((h0 + 1, b0 + 1)), "a repeat reads them from the memo")
    BpeTokenizer.clearMemo()
    run("q_bpe_train")
    assert(FixtureMemo.counts == ((h0 + 1, b0 + 2)), "after clearMemo the next query builds again")
  }
}
