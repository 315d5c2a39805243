package graft

import org.apache.spark.sql.SparkSession

/** The local session the dev mains (Verify, PlanAudit, Demo, Ab) run
  * in: GraftExtensions registered, one shuffle partition per core, UTC,
  * no UI. `cores` defaults to `$SPARK_GRAFT_CPUS` (32 when unset).
  */
object LocalSession {
  def apply(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
      logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions",
        classOf[graft.functions.GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
