package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sinks.SnapshotTable
import graft.sinks.SnapshotTable.Bound
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

/** A copy-on-write DML writes its survivors and its change rows in one
  * split write; a task whose rows are all change rows opens no data file,
  * and Spark's write tracker must not take that for a lost file. */
class SplitWriteSpec extends SparkSuite {

  test("a delete that empties whole files of its rewrite set logs no missing-file warning") {
    val root = Files.createTempDirectory("graft-split").toString
    // strings past the 64-char stat cap record no min/max, so the stats
    // cannot prove the files wholly match: they are rewritten, every row a
    // change row
    SnapshotTable.create(
      spark,
      root,
      spark.range(0, 40, 1, 4).selectExpr("id AS k", "concat(repeat('x', 70), CAST(id AS STRING)) AS s"))
    val before = SnapshotTable.read(spark, root).count()
    val logger = LogManager
      .getLogger("org.apache.spark.sql.execution.datasources.BasicWriteTaskStatsTracker")
      .asInstanceOf[Logger]
    val seen = new ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("split-write-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    logger.addAppender(capture)
    try SnapshotTable.deleteWhere(spark, root, Seq(Bound("s", Some("x"), None)))
    finally {
      logger.removeAppender(capture)
      capture.stop()
    }
    assert(before == 40 && SnapshotTable.read(spark, root).count() == 0)
    val m = SnapshotTable.history(spark, root).last
    assert(m.action == "delete" && m.addedRows == -40L && m.files.isEmpty, m)
    val missing = seen.asScala.filter(_.contains("Expected"))
    assert(missing.isEmpty, missing.mkString("\n"))
  }
}
