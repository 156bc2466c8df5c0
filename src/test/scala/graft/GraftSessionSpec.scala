package graft

import org.scalatest.BeforeAndAfterAll

/** The batteries-included entry point: one call yields a session where
  * the SQL functions and the range-join rewrite are live. */
class GraftSessionSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  override def afterAll(): Unit = {
    // Graft.session() adopts the shared test session — undo the rules
    // and the listing cap so suite ordering stays irrelevant
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(r =>
        (r eq graft.ext.RangeJoinRule) || (r eq graft.ext.DeadSortRule))
    spark.conf.unset("spark.sql.sources.parallelPartitionDiscovery.parallelism")
    super.afterAll()
  }

  test("Graft.session wires functions and the range-join rule") {
    val s = Graft.session(shufflePartitions = 4)
    assert(s.sql("SELECT graft_zorder(3, 5) AS z").as[Long].head() == 39L)
    val joined = Seq(5L).toDF("pt").join(
      Seq((0L, 10L)).toDF("s", "e"),
      org.apache.spark.sql.functions.col("pt") >= org.apache.spark.sql.functions.col("s") &&
        org.apache.spark.sql.functions.col("pt") < org.apache.spark.sql.functions.col("e"))
    assert(joined.count() == 1)
    assert(joined.queryExecution.optimizedPlan.toString.contains("_graft_bucket"))
    // idempotent re-entry: no duplicate rule registration
    Graft.session(shufflePartitions = 4)
    assert(s.experimental.extraOptimizations
      .count(_ eq graft.ext.RangeJoinRule) == 1)
  }

  test("Graft.session lists a 40-directory table in at most shufflePartitions tasks") {
    import org.apache.spark.sql.functions.col
    val dir = tmpDir() + "/t"
    spark.range(40).select(col("id"), (col("id") * 10).as("v"), col("id").as("p"))
      .write.partitionBy("p").parquet(dir)
    val s = Graft.session(shufflePartitions = 4)
    val (df, jobs) = JobCounter.during(s)(s.read.parquet(dir))
    val listing = jobs.filter(j => Option(j.description)
      .exists(_.startsWith("Listing leaf files and directories for 40 paths")))
    assert(listing.size == 1, s"expected one listing job, saw $jobs")
    assert(listing.head.tasks <= 4, s"listing ran ${listing.head.tasks} tasks")
    assert(df.select("id", "v", "p").as[(Long, Long, Long)].collect().sorted.toSeq ==
      (0L until 40L).map(i => (i, i * 10, i)))
  }
}
