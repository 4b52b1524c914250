package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is configured: every main (Bench,
  * Verify, the plan dumps, the probe) and the test suites build through
  * it, so the plans the oracle checks, the plan dumps and the bench runs
  * all come from one configuration. `perfbench`'s `Harness.sessionConfig`
  * mirrors [[settings]] key for key.
  */
object GraftSession {

  /** Cores of the local session: `SPARK_GRAFT_CPUS`, else every core the
    * JVM sees.
    */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    // scan-split size tuned to LOCAL fixture scale: the default 128 MB
    // leaves every fixture file a single split, so scan-side map work
    // (explodes, parses) runs on one core regardless of the core count.
    // 8 MB splits multi-row-group files across cores; on a real cluster
    // the default is right.
    "spark.sql.files.maxPartitionBytes" -> "8388608",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** A session on `cores` local cores. `deployment` carries settings that
    * do not change a plan (app name, warehouse dir, ...); it may not
    * override any of [[settings]].
    */
  def apply(cores: Int = defaultCores,
      deployment: Map[String, String] = Map.empty): SparkSession = {
    val fixed = settings(cores)
    val clash = deployment.keySet.intersect(fixed.map(_._1).toSet)
    require(clash.isEmpty, s"deployment settings may not override the session config: $clash")
    (fixed ++ deployment).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
  }
}
