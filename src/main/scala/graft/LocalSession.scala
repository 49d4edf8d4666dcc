package graft

import org.apache.spark.sql.SparkSession

/** The one builder of local sessions for the mains and the specs: `cpus`
  * worker threads (or an explicit `master`), as many shuffle partitions,
  * UTC session time, no UI. Adaptive execution and skew-join handling are
  * Spark defaults and stay on. A session that already exists is returned
  * with only the runtime SQL settings applied (`getOrCreate`). */
object LocalSession {
  def apply(app: String, cpus: Int, logLevel: String = "WARN",
            master: Option[String] = None): SparkSession = {
    val s = SparkSession.builder()
      .master(master.getOrElse(s"local[$cpus]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
