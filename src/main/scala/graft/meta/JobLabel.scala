package graft.meta

import org.apache.spark.sql.SparkSession

/** The engine stage that launched a Spark job, carried as the job
  * description (`graft:extract`, `graft:load.merge`, ...). Any
  * `SparkListener` then sees it on `SparkListenerJobStart.properties`,
  * and the UI shows it in place of a call site. The description is a
  * thread-local property that SQL executions, broadcasts and subqueries
  * copy into their own threads, so every job of the body carries it. */
object JobLabel {

  /** Run `body` with its Spark jobs described as `label`, then restore
    * the caller's description (null included), so an enclosing label or
    * a listener's own marker jobs stay intact. */
  def during[T](spark: SparkSession, label: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = current(spark).orNull
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(prev)
  }

  /** The description jobs launched from this thread would carry now. */
  def current(spark: SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty("spark.job.description"))
}
