package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Where a query's fixture table lives: `<process dir>/<kind>/<data dir>`,
  * under one temporary dir per JVM that a shutdown hook removes. Two
  * processes over the same data dir (a tree and its parent, say) therefore
  * never share a table, and so never delete or rebuild each other's. The
  * root is deleted before it is returned: a fixture builds from scratch. */
object FixtureRoot {
  private lazy val processDir: Path = {
    val d = Files.createTempDirectory("graft-fixtures")
    sys.addShutdownHook {
      val all = Files.walk(d)
      try all.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally all.close()
    }
    d
  }

  def apply(s: SparkSession, kind: String, dir: String): String = {
    val root = processDir.resolve(kind).resolve(dir.replaceAll("[^a-zA-Z0-9]", "_")).toString
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
    root
  }
}
