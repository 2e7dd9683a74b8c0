package graft

import org.apache.spark.sql.SparkSession

/** The SparkSession of the single-JVM mains (Verify, Bench and its
  * worker): `local[cores]` with as many shuffle partitions, UTC session
  * time zone, UI off, Spark logging at ERROR (the mains report their own
  * failures on stderr). Adaptive execution and the nested-column
  * vectorized parquet reader are on by default in Spark 4. `Main` keeps
  * its own builder: on a cluster, spark-submit supplies the master. */
object LocalSession {
  /** The cores a main uses unless told otherwise: `SPARK_GRAFT_CPUS`, else
    * every core this JVM may run on. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def apply(cores: Int = LocalSession.cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
