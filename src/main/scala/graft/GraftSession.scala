package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory: every `main` builds its session here,
  * so the engine's native expressions and planner rules
  * ([[graft.functions.GraftExtensions]]) and the log level are set in one
  * place. `getOrCreate` semantics: a second call returns the running
  * session.
  */
object GraftSession {
  /** Local cores: SPARK_GRAFT_CPUS, else the caller's default. */
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** A `local[cpus]` session with one shuffle partition per core, UTC
    * session time and the UI off. `conf` is applied last, so a caller
    * can override any of these.
    */
  def local(defaultCpus: Int, conf: (String, String)*): SparkSession = {
    val n = cpus(defaultCpus)
    apply(Some(s"local[$n]"), "WARN", Seq(
      "spark.sql.shuffle.partitions" -> n,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ conf)
  }

  /** `master = None` keeps the one spark-submit supplies. */
  def apply(master: Option[String], logLevel: String,
      conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder()
    master.foreach(b.master)
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.withExtensions(new graft.functions.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
