package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session: Bench, Verify, the tools and the test
  * suite all get the same optimizer (GraftExtensions installed), the same
  * session time zone and a shuffle width equal to the core count. Anything
  * else a caller needs (a state-store provider, a per-dataset shuffle
  * width) is set on the live session with `spark.conf.set`.
  */
object GraftSession {
  /** Core count for `local[n]`: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
