package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Banded near-duplicate candidate join over any 64-bit signature column —
  * the shared scale kernel behind SimHash text dedup and perceptual image
  * dedup (dHash/pHash): one 8-byte signature per item, near-dups = small
  * Hamming distance, candidates generated by matching any of four 16-bit
  * bands. A pair within Hamming distance 3 must agree on at least one band
  * by pigeonhole, so the banding is COMPLETE for maxHamming <= 3; larger
  * radii trade recall for cost.
  *
  * At 100 TB: the band explosion is 4 rows/item and the candidate join
  * shuffles on 16-bit band values — no all-pairs comparison anywhere.
  * Verification (bit_count over xor) is a built-in expression, so the
  * filter over candidate pairs stays inside whole-stage codegen.
  */
object HammingPairs {
  /** Pairs (a_id, b_id, dist) with dist <= maxHamming, from `sigs` rows
    * (`idCol`, `sigCol`: long). `maxBucket` (0 = off) drops band buckets
    * holding more than that many signatures before the self-join
    * ([[HotBuckets]]). At 100 TB a single hot 16-bit bucket can hold
    * millions of items; capping trades completeness on exactly those pairs
    * that agree *only* on an overcrowded band (the least-similar
    * candidates) for a bounded join. */
  def pairs(sigs: DataFrame, idCol: String, sigCol: String, maxHamming: Int, maxBucket: Int = 0): DataFrame = {
    val base = sigs.select(col(idCol).as("id"), col(sigCol).as("sig"))
    def band(sig: Column, b: Int): Column = shiftrightunsigned(sig, b * 16).bitwiseAND(lit(0xffffL))
    val bandedAll = base.select(
      col("id"),
      col("sig"),
      explode(array((0 until 4).map(b => struct(lit(b).as("b"), band(col("sig"), b).as("v"))): _*))
        .as("band"))
    val banded = HotBuckets.drop(bandedAll, maxBucket, "band")
    val a = banded.select(col("id").as("a_id"), col("sig").as("a_sig"), col("band").as("ab"))
    val b = banded.select(col("id").as("b_id"), col("sig").as("b_sig"), col("band").as("bb"))
    a.join(b, col("ab") === col("bb") && col("a_id") < col("b_id"))
      .select(
        col("a_id"),
        col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("dist"))
      // filter BEFORE distinct: dist is a pure function of the pair, so the
      // reorder is safe, and it shrinks the dedup shuffle to only the pairs
      // that survive the radius check (most candidates don't)
      .filter(col("dist") <= maxHamming)
      .distinct()
  }
}
