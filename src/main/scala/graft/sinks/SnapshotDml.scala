package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import SnapshotTable.{Bound, MatchedDelete, MergeClause, NotMatchedInsert}

/** THE write-mode → executor decision for row-level DML on a snapshot
  * table, shared by every surface that lands it: the SQL-text router
  * ([[SnapshotSql]], mode = the registration's `morWrites` flag), catalog
  * DML ([[GraftDmlStrategy]], mode = `spark.graft.dml.mor`) and the keyed
  * streaming sink ([[SnapshotSinkOps]], mode = the `morWrites` writer
  * option). Each surface parses its own statements into a [[Statement]];
  * only [[run]] knows which executor serves a shape in a mode. */
private[sinks] object SnapshotDml {

  sealed trait Statement

  /** DELETE the rows where `cond` holds; `skeleton` is its range translation. */
  final case class Delete(cond: Column, skeleton: SnapshotSql.Skeleton) extends Statement

  /** UPDATE the rows where `cond` holds, setting each column of `set`. */
  final case class Update(cond: Column, skeleton: SnapshotSql.Skeleton, set: Map[String, Column])
      extends Statement

  /** A MERGE, as [[SnapshotTable.mergeInto]]'s clause set; a `batchId`
    * makes it an exactly-once streaming epoch of writer `appId`. */
  final case class Merge(
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[MergeClause],
      notMatched: Seq[NotMatchedInsert],
      targetAlias: String = "t",
      sourceAlias: String = "s",
      notMatchedBySource: Seq[MergeClause] = Seq.empty,
      nmbsPruneBounds: Seq[Seq[Bound]] = Seq.empty,
      batchId: Option[Long] = None,
      appId: Option[String] = None)
      extends Statement {
    def upsert: Boolean = SnapshotTable.isUpsert(matched, notMatched, notMatchedBySource)
  }

  /** Land `stmt` on the table at `root` as one commit, merge-on-read when
    * `mor` and the shape has a merge-on-read executor, copy-on-write
    * otherwise (correct in both modes). Returns the new version. */
  def run(spark: SparkSession, root: String, mor: Boolean, stmt: Statement): Int = stmt match {
    // a merge-on-read delete or update is a predicate mask: only an exact
    // range translation can become one, and only it may drop whole files
    case Delete(_, sk) if sk.exact && sk.bounds.nonEmpty =>
      if (mor) SnapshotTable.deleteWhereMor(spark, root, sk.bounds)
      else SnapshotTable.deleteWhere(spark, root, sk.bounds)
    case Delete(cond, sk) => SnapshotTable.deleteExpr(spark, root, cond, sk.bounds)
    case Update(_, sk, set) if sk.exact && sk.bounds.nonEmpty =>
      if (mor) SnapshotTable.updateWhereMor(spark, root, sk.bounds, set)
      else SnapshotTable.updateWhere(spark, root, sk.bounds, set)
    case Update(cond, sk, set) => SnapshotTable.updateExpr(spark, root, cond, sk.bounds, set)
    // the canonical upsert: a keys mask plus the source dir
    case mg: Merge if mor && mg.upsert =>
      mg.batchId.fold(SnapshotTable.mergeUpsertMor(spark, root, mg.source, mg.keyCols))(
        SnapshotTable.upsertBatchExactlyOnceMor(spark, root, mg.source, mg.keyCols, _, mg.appId))
    // an epoch upsert re-runs on a lost publish race
    case mg: Merge if mg.upsert && mg.batchId.nonEmpty =>
      SnapshotTable.upsertBatchExactlyOnce(spark, root, mg.source, mg.keyCols, mg.batchId.get, mg.appId)
    // unconditional matched-delete: a keys mask, zero data I/O
    case Merge(source, keyCols, Seq(MatchedDelete(None)), Seq(), _, _, Seq(), _, None, _) if mor =>
      SnapshotTable.deleteMatchedMor(spark, root, source, keyCols)
    case mg: Merge =>
      SnapshotTable.mergeInto(
        spark,
        root,
        mg.source,
        mg.keyCols,
        mg.matched,
        mg.notMatched,
        mg.targetAlias,
        mg.sourceAlias,
        mg.notMatchedBySource,
        mg.nmbsPruneBounds,
        mg.batchId,
        mg.appId)
  }
}
