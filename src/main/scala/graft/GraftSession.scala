package graft

import org.apache.spark.sql.SparkSession

/** The one way to build graft's SparkSession — "SparkSession is the
  * warehouse", so every main (CLI, oracle dump, bench, probes) and the
  * test fixture run the same session the CLI user gets.
  *
  *   - master: `$SPARK_MASTER`, else `local[cpus]`;
  *   - shuffle partitions = cpus;
  *   - the graft session extension (bucketed path writes need it);
  *   - session time zone UTC; Spark UI off.
  */
object GraftSession {

  /** `$SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(appName: String, cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftSparkSessionExtension")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // The default 100-entry codegen class cache cannot hold a
      // multi-query application's working set, so every re-execution paid
      // a full Janino whole-stage recompilation INSIDE task threads
      // (measured: q_retrieval_bm25_stats 26.7 CPU / 2.48 wall with the
      // default vs 3.9 CPU / 0.98 wall with the cache sized to fit —
      // OPTIMIZATION_r19.md has the receipts). A long-running deployment
      // wants compiled plans cached.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")

  /** Build (or reuse) the session, log level WARN. */
  def apply(appName: String, cpus: Int = GraftSession.cpus): SparkSession = {
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
