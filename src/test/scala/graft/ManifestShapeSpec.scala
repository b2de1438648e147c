package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.matching.Regex

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.StringType
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** Every snapshot write publishes the manifest recorded in
  * `src/test/resources/manifest-shape.txt`: one deterministic script runs
  * each write operator (create/append/overwrite, the four compactions,
  * copy-on-write and merge-on-read DML, general MERGE, exactly-once
  * epochs, cherry-pick, a rebase over MOR and COW commits, schema and
  * constraint DDL, restore) and every manifest it publishes must match
  * the recorded one — which fields a version inherits from its base,
  * whether entries are dir- or file-granular, masks, stats, ledgers and
  * row deltas. Fresh uuids, part-file names and mask ids are labelled by
  * first appearance, `ts` is dropped and arrays whose order carries no
  * meaning are sorted.
  *
  * To re-record after an intended manifest change: run the spec, inspect
  * the diff, and copy `target/manifest-shape.actual.txt` over the
  * resource. */
class ManifestShapeSpec extends SparkSuite {

  // Range compactions write ONE file: a multi-file range split samples
  // with a seed drawn from the SparkContext's RDD counter, so its file
  // boundaries would move with any change in how many plans ran before.
  private def df(lo: Long, hi: Long, parts: Int = 2): DataFrame =
    spark.range(lo, hi, 1, parts).selectExpr("id AS k", "CAST(id % 7 AS DOUBLE) AS x", "concat('s', id) AS s")

  test("every write op publishes the recorded manifest shape") {
    val root = Files.createTempDirectory("graft-shape").toString
    val log = new ManifestLog(Paths.get(root, "_manifests"))
    val out = mutable.ArrayBuffer.empty[String]
    def step(name: String)(op: => Any): Unit = {
      op
      out ++= log.fresh().map { case (rel, json) => s"$name $rel $json" }
    }
    val k = (lo: Long, hi: Long) => Seq(Bound("k", Some(lo), Some(hi)))

    step("create")(SnapshotTable.create(spark, root, df(0, 400, parts = 4))) // k-ranges of 100 per file
    step("append")(SnapshotTable.append(spark, root, df(400, 600)))
    step("add-check")(SnapshotTable.addCheck(spark, root, "k_nonneg", "k >= 0"))
    step("delete")(SnapshotTable.deleteWhere(spark, root, k(0, 119))) // one whole-file drop, one rewrite
    step("update")(SnapshotTable.updateWhere(spark, root, k(100, 149), Map("x" -> (col("x") + 1))))
    step("upsert")(SnapshotTable.mergeUpsert(spark, root, df(140, 160).union(df(700, 705)), Seq("k")))
    step("delete-mor")(SnapshotTable.deleteWhereMor(spark, root, k(200, 220)))
    step("update-mor")(SnapshotTable.updateWhereMor(spark, root, k(300, 310), Map("x" -> (col("x") * 2))))
    step("upsert-mor")(SnapshotTable.mergeUpsertMor(
      spark, root, df(0, 600).filter("k % 37 = 0").withColumn("x", lit(-1.0)), Seq("k")))
    step("delete-matched-mor")(SnapshotTable.deleteMatchedMor(spark, root, df(0, 600).filter("k % 53 = 0"), Seq("k")))
    step("delete-expr")(SnapshotTable.deleteExpr(spark, root, expr("k % 41 = 0"), k(400, 599)))
    step("update-expr")(SnapshotTable.updateExpr(spark, root, expr("k % 43 = 0"), k(0, 199), Map("s" -> lit("u"))))
    val mergeSrc = spark.range(580, 620, 1, 2).selectExpr(
      "id AS k", "CASE WHEN id % 2 = 0 THEN -1.0 ELSE CAST(id AS DOUBLE) END AS x", "concat('m', id) AS s")
    step("merge-into")(SnapshotTable.mergeInto(
      spark, root, mergeSrc, Seq("k"),
      matched = Seq(MatchedDelete(Some("s.x < 0")), MatchedUpdate(None, Some(Map("x" -> "s.x + 100")))),
      notMatched = Seq(NotMatchedInsert(None, None)),
      notMatchedBySource = Seq(MatchedDelete(Some("t.k > 590"))),
      nmbsPruneBounds = Seq(Seq(Bound("k", Some(591L), None)))))
    step("compact-where")(SnapshotTable.compactWhere(spark, root, k(0, 299), "k"))
    step("epoch")(SnapshotTable.appendBatchExactlyOnce(spark, root, df(800, 820), 7L))
    step("epoch-replay")(SnapshotTable.appendBatchExactlyOnce(spark, root, df(800, 820), 7L))
    step("empty-epoch")(SnapshotTable.appendStagedBatchExactlyOnce(
      spark, root, Seq.empty, SnapshotTable.read(spark, root).schema, 8L))
    step("upsert-epoch")(SnapshotTable.upsertBatchExactlyOnce(spark, root, df(810, 830), Seq("k"), 9L))
    step("upsert-epoch-mor")(SnapshotTable.upsertBatchExactlyOnceMor(spark, root, df(825, 840), Seq("k"), 10L))

    // cherry-pick: a branch append lands on main after main moved on
    step("b1-append")(SnapshotTable.append(spark, SnapshotTable.createBranch(spark, root, "b1"), df(900, 920)))
    step("main-append")(SnapshotTable.append(spark, root, df(920, 930)))
    step("cherry-pick")(SnapshotTable.cherryPick(spark, root, "b1"))

    // rebase: a branch of MOR, COW, compact and schema commits replays
    // onto a main that gained a MOR delete and a COW update since the fork
    val b2 = SnapshotTable.createBranch(spark, root, "b2")
    step("b2-append")(SnapshotTable.append(spark, b2, df(1000, 1010)))
    step("b2-delete-mor")(SnapshotTable.deleteWhereMor(spark, b2, k(1000, 1002)))
    step("b2-upsert-mor")(SnapshotTable.mergeUpsertMor(spark, b2, df(1005, 1008), Seq("k")))
    step("b2-delete-matched-mor")(SnapshotTable.deleteMatchedMor(spark, b2, df(0, 600).filter("k % 59 = 0"), Seq("k")))
    step("b2-delete")(SnapshotTable.deleteWhere(spark, b2, k(60, 69)))
    step("b2-update")(SnapshotTable.updateWhere(spark, b2, k(70, 79), Map("x" -> (col("x") + 5))))
    step("b2-upsert")(SnapshotTable.mergeUpsert(spark, b2, df(75, 85), Seq("k")))
    step("b2-compact")(SnapshotTable.compact(spark, b2, "k", 1))
    step("b2-add-column")(SnapshotTable.addColumn(spark, b2, "tag", StringType))
    step("main-delete-mor")(SnapshotTable.deleteWhereMor(spark, root, k(500, 510)))
    step("main-update")(SnapshotTable.updateWhere(spark, root, k(520, 530), Map("x" -> (col("x") - 1))))
    step("rebase")(SnapshotTable.rebase(spark, root, "b2"))

    // schema, constraints, restore, overwrite
    step("add-column")(SnapshotTable.addColumn(spark, root, "note", StringType))
    step("compact-small")(SnapshotTable.compactSmall(spark, root, smallBytes = 1L << 30, targetBytes = 1L << 30))
    step("compact-zorder")(SnapshotTable.compactZOrder(spark, root, Seq("k", "x"), 1))
    step("drop-column")(SnapshotTable.dropColumn(spark, root, "note"))
    step("append-revive")(SnapshotTable.append(spark, root, df(1100, 1110).withColumn("note", lit("n"))))
    step("compact")(SnapshotTable.compact(spark, root, "k", 1))
    step("drop-check")(SnapshotTable.dropCheck(spark, root, "k_nonneg"))
    step("restore")(SnapshotTable.restore(spark, root, 3))
    step("overwrite")(SnapshotTable.overwrite(spark, root, df(0, 50)))

    val actual = out.mkString("", "\n", "\n")
    Files.createDirectories(Paths.get("target"))
    Files.write(Paths.get("target", "manifest-shape.actual.txt"), actual.getBytes("UTF-8"))
    val resource = Option(getClass.getResourceAsStream("/manifest-shape.txt"))
      .getOrElse(fail("no recorded src/test/resources/manifest-shape.txt; record target/manifest-shape.actual.txt"))
    val expected =
      try new String(resource.readAllBytes(), "UTF-8")
      finally resource.close()
    val (e, a) = (expected.linesIterator.toVector, out.toVector)
    e.indices.zip(a).find { case (i, line) => e(i) != line }.foreach { case (i, line) =>
      fail(s"manifest ${i + 1} differs from the recording\n  recorded: ${e(i)}\n  actual:   $line")
    }
    assert(a.size == e.size, s"${a.size} manifests published, ${e.size} recorded")
  }
}

/** The manifests under one table's `_manifests` dir (main and every ref),
  * handed out once per new or rewritten file in path order, normalized
  * so the text depends only on the table's logical history. */
private final class ManifestLog(dir: Path) {
  private val seen = mutable.HashMap.empty[String, String]
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val Part = "part-[^/\"]+".r
  private val uuids = mutable.HashMap.empty[String, String]
  private val parts = mutable.HashMap.empty[String, String]
  private def u(raw: String) = uuids.getOrElseUpdate(raw, s"U${uuids.size + 1}")
  private def p(raw: String) = parts.getOrElseUpdate(raw, s"P${parts.size + 1}")
  private def sub(re: Regex, s: String, f: String => String) =
    re.replaceAllIn(s, m => Regex.quoteReplacement(f(m.matched)))

  /** Known labels substituted, fresh names masked: a sort key that never
    * depends on a freshly generated name. */
  private def masked(s: String) =
    sub(Uuid, sub(Part, s, x => parts.getOrElse(x, "P?")), x => uuids.getOrElse(x, "U?"))

  def fresh(): Seq[(String, String)] = {
    val files = Files.walk(dir).toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(f => f.getFileName.toString.matches("""v\d{8}\.json"""))
      .map(f => dir.relativize(f).toString -> new String(Files.readAllBytes(f), "UTF-8"))
      .sortBy(_._1)
    files.filter { case (rel, txt) => !seen.get(rel).contains(txt) }.map { case (rel, txt) =>
      seen(rel) = txt
      rel -> normalize(txt)
    }
  }

  private def normalize(txt: String): String = {
    val j = parse(txt, useBigDecimalForDouble = true)
    // label in a content-determined order: new dirs in `dirs` order (each
    // commit appends its fresh dirs after its carried entries), then new
    // part files by their stats, then the rest of the text in field order
    (j \ "dirs") match {
      case JArray(ds) => ds.collect { case JString(d) => Uuid.findAllIn(d).foreach(u) }
      case _ => ()
    }
    (j \ "files") match {
      case JArray(fs) =>
        fs.sortBy(f => masked(compact(render(f)))).foreach { f =>
          val JString(path) = f \ "path": @unchecked
          Uuid.findAllIn(path.take(path.lastIndexOf('/'))).foreach(u)
          Part.findAllIn(path).foreach(p)
        }
      case _ => ()
    }
    val noTs = j.removeField { case (name, _) => name == "ts" }
    val labelled = sub(Uuid, sub(Part, compact(render(noTs)), p), u)
    def sorted(v: JValue): JValue = v match {
      case JArray(xs) => JArray(xs.sortBy(x => compact(render(x))))
      case other => other
    }
    val unordered = Set("dirs", "files", "entries", "covered", "insEntries")
    compact(render(parse(labelled, useBigDecimalForDouble = true).transformField {
      case (name, v) if unordered(name) => (name, sorted(v))
    }))
  }
}
