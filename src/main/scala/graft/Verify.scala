package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. A query that
  * throws leaves no directory; the others are still written, and the run
  * exits 1 at the end. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter { case (name, fn) =>
      try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); false }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        true
      }
    }
    // Static oracles + the data-dependent ones (IVF centroid literals —
    // deterministic given the table, computed here with the same code the
    // queries used above, so query and oracle can't drift).
    val oracles = SparkEntry.oracleSql ++ Queries.oracleDynamic(spark, sfDir)
    val json = oracles
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} of ${SparkEntry.queries.size} queries failed")
      sys.exit(1)
    }
  }
}
