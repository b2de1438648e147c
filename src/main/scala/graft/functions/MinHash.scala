package graft.functions

import graft.ops.Checkpoints
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._

/** Banded MinHash near-duplicate detection (shingle → minhash → band →
  * bucket-join), the classic AND-OR-amplified LSH for Jaccard similarity —
  * the second approximate dedup family beside SimHash.
  *
  * Spark ML's MinHashLSH applies OR-amplification only (one minhash per
  * hash table), so any two documents collide per table with probability
  * equal to their full Jaccard similarity — on corpora with shared
  * vocabulary that floor (~0.1 between unrelated docs) makes the candidate
  * join quadratic. Banding r rows per band drives the unrelated collision
  * rate to J^r (0.1^3 = 1e-3) while a true near-dup at J=0.95 still
  * collides on some band with probability 1-(1-0.95^r)^b ≈ 1.
  *
  * Each document is reduced once to its sorted, distinct token hashes
  * (`xxhash64(tok)`, [[TokenHashes]]). Two codegen expressions read that
  * array: [[MinHashBands]] folds it into the band values in one pass (a
  * map-only projection, no signature shuffle), and [[SortedIntersectSize]]
  * verifies each candidate pair with one merge of the two arrays. The
  * verify is the exact Jaccard of the two token-hash sets. It differs from
  * the Jaccard of the token strings only when two distinct tokens of one
  * pair share an `xxhash64` (about 2^-64 per token pair) — tokens the
  * signature could not tell apart either. Band collisions that are not
  * near-duplicates therefore cost a merge each and do not reach the
  * output; the approximation is (quantified, tested) recall.
  *
  * At 100 TB: the signature is a map-only projection over one scan, the
  * banded self-join shuffles on 64-bit band keys (uniform by construction —
  * the band value is itself a hash), and verification joins candidates back
  * to the hash arrays by id at a pinned width. No all-pairs stage anywhere.
  */
object MinHash {
  /** k seeded minhashes of a token array: slot i = min over tokens of
    * xxhash64(i, xxhash64(tok)). Fine for ad-hoc use; each
    * array_min(transform(...)) re-evaluates its input, so k slots cost k
    * passes over every token. [[bandedSignatureRows]] and
    * [[nearDuplicatePairs]] use [[MinHashBands]], one pass with the same
    * values (MinHashSpec rebuilds the banding from this helper). */
  def signature(toks: Column, k: Int): Column =
    array((0 until k).map(i => array_min(transform(toks, t => xxhash64(lit(i), xxhash64(t))))): _*)

  /** `graft_token_hashes`: the sorted, distinct `xxhash64` of a string
    * array's elements (a null token hashes to the seed, 42). */
  def tokenHashes(toks: Column): Column =
    GraftSqlBridge.column(TokenHashes(GraftSqlBridge.expression(toks)))

  /** `graft_minhash_bands`: the `bands` band values of a token-hash
    * array's `bands * rows` slot MinHash signature. */
  def bandValues(hashes: Column, bands: Int, rows: Int): Column =
    GraftSqlBridge.column(MinHashBands(GraftSqlBridge.expression(hashes), bands, rows))

  /** `graft_intersect_size`: |a ∩ b| of two sorted, distinct long arrays. */
  def intersectSize(a: Column, b: Column): Column =
    GraftSqlBridge.column(SortedIntersectSize(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))

  /** (id, b, v) band rows of an (id, h) token-hash frame. */
  private[functions] def bandRows(hashed: DataFrame, bands: Int, rows: Int): DataFrame =
    hashed.select(col("id"), posexplode(bandValues(col("h"), bands, rows)).as(Seq("b", "v")))

  /** The banded signature rows (id, b, v) of an (id, toks) frame. THE
    * single banding implementation: both the one-shot
    * [[nearDuplicatePairs]] and the persisted [[DedupIndex]] postings
    * derive from it, so their candidate spaces can never silently
    * diverge. Values identical to [[signature]] banded with `xxhash64`
    * over each band's `rows` slots. */
  def bandedSignatureRows(docs: DataFrame, bands: Int, rows: Int): DataFrame =
    bandRows(docs.select(col("id"), tokenHashes(col("toks")).as("h")), bands, rows)

  /** Candidate pairs (`left`, `right`) with the Jaccard of their token-hash
    * sets (`lh`, `rh`): inter and union sizes from one merge per pair. */
  private[functions] def withJaccard(pairs: DataFrame, lh: String, rh: String): DataFrame =
    pairs
      .withColumn("inter", intersectSize(col(lh), col(rh)))
      .withColumn("uni", size(col(lh)) + size(col(rh)) - col("inter"))

  /** Near-duplicate pairs (exact Jaccard >= minJaccard) among (id, tokens)
    * rows, candidates generated by `bands` bands of `rows` minhash rows.
    *
    * `maxBucket` (0 = off) drops band buckets holding more than that many
    * documents before the self-join ([[HotBuckets]]): on small-vocabulary
    * corpora the minhash value space itself saturates, and the sf0.1→sf3
    * scaling study measured the unguarded join going quadratic (150 s at
    * 150k docs). At J ≥ 0.8 a true pair collides on ~all bands, so the
    * planted-recall spec stays at 1.0.
    *
    * The verify's candidates are pinned with [[Checkpoints.fanOutBy]] on
    * (a_id, b_id): one merge per pair over a few MB of shuffle, which AQE's
    * byte-based coalescing would otherwise run in one task. The band rows
    * are not pinned: a hot (b, v) bucket is the one unbounded key here,
    * and its exchange keeps AQE's skew handling. */
  def nearDuplicatePairs(
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      minJaccard: Double,
      bands: Int = 6,
      rows: Int = 3,
      maxBucket: Int = 64): DataFrame = {
    val hashed = docs
      .select(col(idCol).as("id"), tokenHashes(col(tokensCol)).as("h"))
      .filter(size(col("h")) > 0)
    val banded = HotBuckets.drop(bandRows(hashed, bands, rows), maxBucket, "b", "v")
    val a = banded.select(col("id").as("a_id"), col("b"), col("v"))
    val b = banded.select(col("id").as("b_id"), col("b"), col("v"))
    val cand = Checkpoints
      .fanOutBy(
        a.join(b, Seq("b", "v")).filter(col("a_id") < col("b_id")).select("a_id", "b_id"),
        col("a_id"),
        col("b_id"))
      .distinct()
    val pairs = cand
      .join(hashed.select(col("id").as("a_id"), col("h").as("a_h")), "a_id")
      .join(hashed.select(col("id").as("b_id"), col("h").as("b_h")), "b_id")
    withJaccard(pairs, "a_h", "b_h")
      .withColumn("jacc", col("inter").cast("double") / col("uni"))
      .filter(col("jacc") >= minJaccard)
      .select(col("a_id"), col("b_id"), floor(col("jacc") * 1e6 + lit(0.5)).cast("long").as("jacc_e6"))
  }
}
