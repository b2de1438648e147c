package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The hot-bucket guard of every banded candidate join (MinHash, the
  * persisted [[DedupIndex]] postings, [[HammingPairs]]): a band bucket
  * shared by thousands of items is non-discriminative, and its bucket
  * alone contributes O(bucket²) candidate pairs, so buckets with more than
  * `maxBucket` rows are dropped before the self-join. Capping trades recall
  * only on pairs whose every colliding band is overcrowded.
  *
  * The census is a map-side-combinable groupBy (a hot bucket crosses the
  * shuffle as one partial count per task, never as its rows) and the guard
  * a broadcast anti-join (hot buckets are few). */
object HotBuckets {
  /** `rows` without the rows of buckets (`keys`) holding more than
    * `maxBucket` rows; `maxBucket <= 0` turns the guard off. */
  def drop(rows: DataFrame, maxBucket: Int, keys: String*): DataFrame =
    if (maxBucket <= 0) rows
    else {
      val hot = rows
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket)
        .select(keys.map(col): _*)
      rows.join(broadcast(hot), keys, "left_anti")
    }
}
