package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: `Main`, `Bench`, `Verify`,
  * `ScalingBench`, the dev profiler and the test suites all start Spark
  * here, so they agree on the master rule and the session settings.
  *
  * Master: the `spark.master` that spark-submit sets, else `MASTER`,
  * else `local[n]` with n = `cores`, else `SPARK_GRAFT_CPUS`, else the
  * JVM's available processors. On a local master the shuffle partitions
  * equal its core count; no caller sets another fan-out.
  *
  * Settings: UTC session time zone, no UI, WARN logging, and shuffle and
  * spill files on /dev/shm when it is writable (one tmpfs instead of a
  * shared disk serialising multi-core shuffle I/O).
  */
object Session {

  def apply(app: String, cores: Option[Int] = None): SparkSession = {
    val master = sys.props.get("spark.master")
      .orElse(sys.env.get("MASTER"))
      .getOrElse(s"local[${cores.getOrElse(defaultCores)}]")
    val builder = SparkSession.builder()
      .appName(app)
      .master(master)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite)
      builder.config("spark.local.dir", "/dev/shm/graft-spark")
    localCores(master).foreach(n =>
      builder.config("spark.sql.shuffle.partitions", n.toString))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  private val LocalMaster = """local(?:\[(\*|\d+)(?:,\s*\d+)?\])?""".r

  /** Worker threads of a local master (`local`, `local[n]`, `local[*]`,
    * `local[n,retries]`); None for a cluster master.
    */
  private def localCores(master: String): Option[Int] = master match {
    case LocalMaster(null) => Some(1)
    case LocalMaster("*") => Some(Runtime.getRuntime.availableProcessors())
    case LocalMaster(n) => Some(n.toInt)
    case _ => None
  }
}
