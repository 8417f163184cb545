package graft

import org.apache.spark.sql.SparkSession

/** The one `local[n]` session the dev mains (Bench, Verify, Recall,
  * GraphDiag, ScaleSmoke) run on: `n` task slots and `n` shuffle
  * partitions, `n` from `SPARK_GRAFT_CPUS` and otherwise the machine's
  * core count; the session timezone pinned to UTC (the oracle
  * convention: the events NTZ cast must not depend on the machine
  * TZ); no UI; WARN logging.
  */
object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
