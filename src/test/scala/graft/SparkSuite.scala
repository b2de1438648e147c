package graft

import org.apache.spark.sql.{classic, SparkSession, SparkSessionExtensions}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one forked test JVM → one session). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  val sf001 = "/root/testdata/sf0.001"
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A sibling session on the shared SparkContext with the given
    * extensions applied — for testing the SparkSessionExtensions path
    * (builder.getOrCreate would return the existing session and never run
    * the extension hook). */
  def sessionWithExtensions(f: SparkSessionExtensions => Unit): SparkSession = {
    session // the shared SparkContext the sibling attaches to
    // builder().getOrCreate() returns the default session when one exists,
    // skipping the extension hook — clear it first so a fresh session is
    // built on the existing SparkContext, then restore the prior default.
    val prior = classic.SparkSession.getDefaultSession
    classic.SparkSession.clearDefaultSession()
    classic.SparkSession.clearActiveSession()
    try classic.SparkSession.builder().withExtensions(f).getOrCreate()
    finally prior.foreach { p =>
      classic.SparkSession.setDefaultSession(p)
      classic.SparkSession.setActiveSession(p)
    }
  }
}
