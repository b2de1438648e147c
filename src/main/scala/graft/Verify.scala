package graft
import java.nio.file.{Files, Paths}
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Extra args (dev
  * loop only) restrict the dump to the named queries. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = (args(0), args(1), args.drop(2).toSet)
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => only.isEmpty || only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(
      Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql)(org.json4s.DefaultFormats))
    spark.stop()
  }
}
