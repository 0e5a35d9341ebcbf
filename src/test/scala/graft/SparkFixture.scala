package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all Spark-backed suites (session
  * startup dominates test wall-clock otherwise).
  */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A second session on the same SparkContext, built with
    * [[GraftExtensions]] (the way the lynx server builds its own); the
    * shared session above stays the active and default one.
    */
  lazy val graft: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }
}
