package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (SURVEY §5.3). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Run `f` with `spark.graft.localRowBudget=0`: every kernel with a
    * driver-side twin takes its distributed loop. The previous value is
    * restored afterwards. */
  def withLoopPosture[A](f: => A): A = {
    val key = "spark.graft.localRowBudget"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** A session with graft.GraftExtensions applied, sharing the suite's
    * SparkContext (clearing the default session forces getOrCreate to
    * build a fresh SessionState that honors the builder's extensions —
    * `spark.sql.extensions` itself is a static conf that cannot attach
    * to a pre-existing context). */
  def withExtSession[A](f: SparkSession => A): A = {
    spark // ensure the shared context exists
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      f(s)
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
