package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness core behind every main (Bench, SkewBench, VolumeBench,
  * Verify, PlanDump) and the test session: one session policy and one
  * cold-run measure, so plan evidence and timings come from the same
  * setup. */
private[graft] object Harness {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The program's only session factory. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // collect_list/typed-aggregator queries build high-cardinality groups
      // (e.g. the 1M+ posting lists of d27/d28); the default 128-group
      // fallback would force them all to sort-based aggregation
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Error text of a failed run: `Class: message`, message cut to 120 chars. */
  def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(120)}"

  /** Wall seconds `f` takes. */
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Seconds `f` takes, or the error text of what it threw — a failure is
    * never a time, so a fast crash cannot read as a speedup. */
  def measure(f: => Unit): Either[String, Double] =
    try Right(timed(f)) catch { case e: Throwable => Left(errorText(e)) }

  /** Drops every cached frame and the process-wide operator memos
    * ([[graft.operators.Relational2.clearMemos]]): queries cache
    * intermediates and cached plans canonicalize equal across invocations,
    * so without this a later run would time cache reads, not the query. */
  def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    graft.operators.Relational2.clearMemos()
  }

  /** Cold cost of one entry: clears, then times frame construction plus
    * `count()`. Construction is inside the timer because export entries
    * (x116/x117) write eagerly while the frame is built. */
  def coldRun(spark: SparkSession)(frame: => DataFrame): Either[String, Double] = {
    clear(spark)
    measure { frame.count(); () }
  }
}
