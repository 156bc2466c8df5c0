package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** A Spark job seen by [[JobCounter]]: its description, whether it
  * ran inside a SQL execution (an action on a DataFrame), and the
  * tasks its stages planned. File listing and schema-inference jobs
  * run outside a SQL execution, while the DataFrame is being opened. */
case class SeenJob(description: String, sqlExecution: Boolean, tasks: Int)

/** Counts the Spark jobs `body` launches. Listener events arrive
  * asynchronously but in order, so a marker job before and after
  * `body` brackets exactly its jobs. */
object JobCounter {
  def during[T](spark: SparkSession)(body: => T): (T, Seq[SeenJob]) = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SeenJob]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        seen.add(SeenJob(
          p.flatMap(q => Option(q.getProperty("spark.job.description"))).orNull,
          p.exists(_.getProperty("spark.sql.execution.id") != null),
          e.stageInfos.map(_.numTasks).sum))
      }
    }
    val tag = s"job-counter-${System.nanoTime}"
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker(s"$tag-start")
      val out = body
      marker(s"$tag-end")
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      def all = seen.toArray(Array.empty[SeenJob]).toSeq
      while (!all.exists(_.description == s"$tag-end") &&
             System.nanoTime < deadline) Thread.sleep(10)
      val jobs = all
      val from = jobs.indexWhere(_.description == s"$tag-start")
      val to = jobs.indexWhere(_.description == s"$tag-end")
      require(from >= 0 && to > from, "job counter: markers not seen")
      (out, jobs.slice(from + 1, to))
    } finally sc.removeSparkListener(listener)
  }
}
