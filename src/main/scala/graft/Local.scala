package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local session the three mains (`Bench`, `Verify`, `Dev`) run in,
  * and the one way they evaluate a declared query. */
object Local {
  /** `SPARK_GRAFT_CPUS`, else every core of the host. */
  val cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def session(logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Evaluate the query AS DECLARED: df.count() plans a NEW aggregate
    * over the logical plan, letting Catalyst prune every computed column
    * a narrow query doesn't need for counting — projection-only queries
    * then "benchmark" an empty scan (discovered when a query that
    * count()-timed at 0.4 s took minutes under the correctness gate's
    * full materialization). toRdd executes the declared physical plan,
    * all columns, no driver-side collect. */
  def evaluate(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())
}
