package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built: every main and the test suites
  * get theirs here, so the settings they share cannot drift apart.
  */
object Sessions {

  /** Cores the engine may use on this host: `SPARK_GRAFT_CPUS`, else every
    * processor the JVM sees.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  def local(cores: Int): SparkSession = apply(s"local[$cores]", cores)

  def apply(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      // the default 100-entry codegen class cache LRU-thrashes on a
      // 30-query suite: by the time a pass returns to a query, its
      // generated classes are evicted and the sample pays a 1-2 s Janino
      // recompile (measured: a6 3.56 s right after 10 other queries,
      // 1.61 s with this raised — and back to 1.6 on the SECOND run either
      // way, the recompile signature). Any real multi-query deployment
      // wants this above its distinct-plan count. A static conf: it only
      // takes effect when the session is built.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Stops `spark` and forgets it, so the next `apply` builds a new one. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
