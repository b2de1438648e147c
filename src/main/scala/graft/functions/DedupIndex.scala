package graft.functions

import graft.ops.Checkpoints
import graft.sinks.SnapshotTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSISTED incremental near-duplicate index — the production shape of
  * corpus dedup at 100 TB. [[MinHash.nearDuplicatePairs]] answers "find
  * all near-dup pairs IN this frame" and recomputes every signature on
  * every call; a training-data pipeline instead holds a deduplicated
  * corpus and asks, per incoming batch, "which of THESE documents
  * near-duplicate something we already have?" — and must answer it
  * without recomputing (or reshuffling) the corpus. This object stores
  * the banded MinHash postings and the verification token sets as
  * snapshot tables under one index root:
  *
  * {{{
  *   <root>/meta     (bands INT, rows INT, max_bucket INT)      — 1 row
  *   <root>/tokens   (id LONG, toks ARRAY<STRING>)              — distinct token sets
  *   <root>/bands    (id LONG, b INT, v LONG)                   — band postings
  * }}}
  *
  * Check economics: the batch's signatures are computed fresh (O(batch)),
  * then the candidate join probes the POSTINGS table with the batch side
  * BROADCAST — a broadcast-hash equi-join on (b, v) streams the index in
  * one map-side pass with ZERO shuffle of the index (spec-asserted on the
  * plan), and the verification joins only the candidate ids' token sets,
  * hashes them ([[MinHash.tokenHashes]]) and counts each pair's overlap
  * with one sorted merge at the session's width. Per-batch cost is
  * therefore one corpus-scan-without-shuffle + work ∝ candidates — never
  * a corpus re-signature, never an all-pairs stage.
  *
  * Ingest appends accepted documents' token sets FIRST and band postings
  * SECOND (two snapshot commits): a posting without its token set would
  * silently DROP candidates at the verification join (unsound — a missed
  * duplicate), while a token set without postings is merely invisible to
  * dedup until the second commit lands — the safe failure direction.
  *
  * The hot-bucket cap (the [[HotBuckets]] guard: a band value shared by
  * thousands of documents is non-discriminative and contributes
  * O(bucket²) candidates) is applied at [[build]]; ingested postings can
  * re-crowd a bucket over time, so [[rebuildBands]] is the maintenance
  * pass (compaction's analogue) that re-derives cap-filtered postings
  * from the token table. Dropped hot-bucket postings trade recall only
  * on pairs whose EVERY colliding band is overcrowded — at J ≥ 0.8 a
  * true pair collides on ~all bands (the MinHashSpec planted-recall
  * argument). */
object DedupIndex {

  private def metaRoot(root: String) = root + "/meta"
  private def tokensRoot(root: String) = root + "/tokens"
  private def bandsRoot(root: String) = root + "/bands"

  private final case class Params(bands: Int, rows: Int, maxBucket: Int)

  private def readParams(spark: SparkSession, root: String): Params = {
    val r = SnapshotTable.read(spark, metaRoot(root)).collect()(0)
    Params(r.getAs[Int]("bands"), r.getAs[Int]("rows"), r.getAs[Int]("max_bucket"))
  }

  /** The banded signature rows of (id, toks) — literally
    * [[MinHash.bandedSignatureRows]], the single shared banding
    * implementation, so the persisted postings and the one-shot pass can
    * never silently diverge. */
  private def bandRows(docs: DataFrame, p: Params): DataFrame =
    MinHash.bandedSignatureRows(docs, p.bands, p.rows)

  /** Drop postings of overcrowded (b, v) buckets ([[HotBuckets]]). */
  private def capHot(bandRows: DataFrame, maxBucket: Int): DataFrame =
    HotBuckets.drop(bandRows, maxBucket, "b", "v")

  private def normalized(docs: DataFrame, idCol: String, tokensCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("id"), array_distinct(col(tokensCol)).as("toks"))
      .filter(size(col("toks")) > 0)

  /** Build (or rebuild from scratch) the index over `docs`. The corpus
    * passed here should already be internally deduplicated — [[build]]
    * indexes it verbatim; [[ingest]] is the gate for new data. */
  def build(
      spark: SparkSession,
      root: String,
      docs: DataFrame,
      idCol: String,
      tokensCol: String,
      bands: Int = 6,
      rows: Int = 3,
      maxBucket: Int = 64): Unit = {
    import spark.implicits._
    val p = Params(bands, rows, maxBucket)
    val toks = normalized(docs, idCol, tokensCol)
    def put(r: String, df: DataFrame): Unit =
      if (SnapshotTable.latestVersion(spark, r).isEmpty) SnapshotTable.create(spark, r, df)
      else SnapshotTable.overwrite(spark, r, df)
    put(tokensRoot(root), toks)
    put(bandsRoot(root), capHot(bandRows(toks, p), p.maxBucket))
    put(metaRoot(root), Seq((bands, rows, maxBucket)).toDF("bands", "rows", "max_bucket"))
  }

  /** Near-duplicate matches of `batch` documents AGAINST THE INDEX:
    * (new_id, dup_of, jac_e6) for every indexed document whose Jaccard
    * with the batch document reaches `minJaccard`. Candidates come from
    * the broadcast band probe; only candidates pay the verification, the
    * exact Jaccard of the two token-hash sets (the [[MinHash]] caveat: it
    * differs from the string-set Jaccard only when two distinct tokens of
    * the pair share an `xxhash64`). False band collisions cost a merge,
    * never appear in the output. */
  def checkBatch(
      spark: SparkSession,
      root: String,
      batch: DataFrame,
      idCol: String,
      tokensCol: String,
      minJaccard: Double): DataFrame = {
    val p = readParams(spark, root)
    val newHashed = normalized(batch, idCol, tokensCol)
      .select(col("id"), MinHash.tokenHashes(col("toks")).as("h"))
    val newBands = MinHash.bandRows(newHashed, p.bands, p.rows)
    val idx = SnapshotTable
      .read(spark, bandsRoot(root))
      .select(col("id").as("dup_of"), col("b"), col("v"))
    // batch side broadcast: the index streams map-side, no index shuffle;
    // the candidates are pinned so the verify runs at the session's width
    val cand = Checkpoints
      .fanOutBy(
        idx
          .join(broadcast(newBands.select(col("id").as("new_id"), col("b"), col("v"))), Seq("b", "v"))
          .select("new_id", "dup_of"),
        col("new_id"),
        col("dup_of"))
      .distinct()
    // the token table keeps the strings; only candidates hash theirs
    val oldToks = SnapshotTable
      .read(spark, tokensRoot(root))
      .select(col("id").as("dup_of"), col("toks").as("old_toks"))
    val pairs = cand
      .join(oldToks, Seq("dup_of"))
      .join(newHashed.select(col("id").as("new_id"), col("h").as("new_h")), Seq("new_id"))
      .withColumn("old_h", MinHash.tokenHashes(col("old_toks")))
    MinHash
      .withJaccard(pairs, "new_h", "old_h")
      .filter(col("inter") >= col("uni") * lit(minJaccard))
      .select(
        col("new_id"),
        col("dup_of"),
        floor(col("inter") * lit(1e6) / col("uni") + lit(0.5)).cast("long").as("jac_e6"))
  }

  /** Gate a batch into the corpus: documents near-duplicating the INDEX
    * (status `dup_index`) or an earlier-id batch sibling (`dup_batch`,
    * found by the in-memory banded pass over the batch alone) are
    * rejected; the rest (`new`) are appended to the index — token sets
    * first, postings second (the ordering contract above). Returns the
    * per-document report (id, status, dup_of). */
  def ingest(
      spark: SparkSession,
      root: String,
      batch: DataFrame,
      idCol: String,
      tokensCol: String,
      minJaccard: Double): DataFrame = {
    val p = readParams(spark, root)
    val newToks = normalized(batch, idCol, tokensCol).localCheckpoint()
    val vsIndex = checkBatch(spark, root, newToks, "id", "toks", minJaccard)
      .groupBy(col("new_id").as("id"))
      .agg(min("dup_of").as("dup_of")) // deterministic representative
      .withColumn("status", lit("dup_index"))
    // within-batch: keep the lowest id of each near-dup pair
    val pairs = MinHash
      .nearDuplicatePairs(newToks, "id", "toks", minJaccard, p.bands, p.rows, p.maxBucket)
    val vsBatch = pairs
      .select(col("b_id").as("id"), col("a_id").as("dup_of"))
      .join(vsIndex.select(col("id")), Seq("id"), "left_anti") // index verdict wins
      .groupBy("id")
      .agg(min("dup_of").as("dup_of"))
      .withColumn("status", lit("dup_batch"))
    val rejected = vsIndex.unionByName(vsBatch).localCheckpoint()
    val accepted = newToks.join(rejected.select("id"), Seq("id"), "left_anti").localCheckpoint()
    if (accepted.count() > 0) {
      SnapshotTable.append(spark, tokensRoot(root), accepted)
      SnapshotTable.append(spark, bandsRoot(root), bandRows(accepted, p))
    }
    accepted
      .select(col("id"), lit("new").as("status"), lit(null).cast("long").as("dup_of"))
      .unionByName(rejected.select(col("id"), col("status"), col("dup_of")))
  }

  /** REMOVE documents from the index — the maintenance path when docs
    * leave the corpus after admission (takedowns, retention expiry, a
    * curation pass rejecting them late): without it a departed document
    * keeps blocking every future near-duplicate forever. Both tables
    * shed the ids by an O(change) merge-on-read keyed delete (metadata
    * commits, zero rewrites); postings drop FIRST so no window generates
    * candidates for a doc whose tokens are already gone — though either
    * transient state is sound here (a dangling posting's candidate just
    * finds no token row to verify against, and fewer candidates for a
    * departing doc is the goal). Returns how many ids were requested. */
  def remove(spark: SparkSession, root: String, ids: DataFrame, idCol: String): Long = {
    val keys = ids.select(col(idCol).cast("long").as("id")).distinct().localCheckpoint()
    SnapshotTable.deleteMatchedMor(spark, bandsRoot(root), keys, Seq("id"))
    SnapshotTable.deleteMatchedMor(spark, tokensRoot(root), keys, Seq("id"))
    keys.count()
  }

  /** Maintenance: re-derive the postings table from the token table with
    * the hot-bucket cap re-applied — the analogue of compaction for
    * buckets that ingests crowded past the cap. One atomic overwrite. */
  def rebuildBands(spark: SparkSession, root: String): Unit = {
    val p = readParams(spark, root)
    val toks = SnapshotTable.read(spark, tokensRoot(root))
    SnapshotTable.overwrite(spark, bandsRoot(root), capHot(bandRows(toks, p), p.maxBucket))
  }

  /** `foreachBatch` adapter: every micro-batch gates through [[ingest]]
    * — the streaming corpus-admission pipeline. */
  def streamIngest(
      root: String,
      idCol: String,
      tokensCol: String,
      minJaccard: Double): (DataFrame, Long) => Unit =
    (batch, _) => { ingest(batch.sparkSession, root, batch, idCol, tokensCol, minJaccard); () }
}
