package graft

import org.apache.spark.sql.SparkSession

/** The SparkSession of the single-JVM mains (Verify, Bench and its
  * worker): `local[cores]`, UTC session time zone, UI off, Spark logging
  * at ERROR (the mains report their own failures on stderr). Adaptive
  * execution and the nested-column vectorized parquet reader are on by
  * default in Spark 4. `Main` keeps its own builder: on a cluster,
  * spark-submit supplies the master. */
object LocalSession {
  def apply(cores: Int, shufflePartitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
