package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.io.Tables

/** `Tables.openWritten`, the job-free reader for engine-written tables,
  * against a `dt`-partitioned table with more partitions than Spark
  * lists serially (32): same rows and schema as `spark.read.parquet`
  * plus the same filter, no Spark job to open, hidden residue never
  * read, and an empty frame of the right schema when nothing matches. */
class OpenWrittenSpec extends SparkSpec {
  import spark.implicits._

  private val escaped = "a/b:c"

  /** 40 dated partitions, the null partition and one value that needs
    * escaping (mixed values, so Spark infers `dt` as a string). */
  private def fixture(): String = {
    val path = tmpDir() + "/t"
    val days = (0 until 40).map(d =>
      java.time.LocalDate.of(2025, 1, 1).plusDays(d.toLong).toString)
    val rows = days.zipWithIndex.flatMap { case (d, i) =>
      Seq((i * 2L, i.toDouble, d), (i * 2L + 1, -i.toDouble, d)) } ++
      Seq((100L, 1.0, null), (101L, 2.0, escaped))
    rows.toDF("id", "v", "dt").write.partitionBy("dt").parquet(path)
    path
  }

  private def rowsOf(df: DataFrame) =
    df.select("id", "v", "dt").as[(Long, Double, String)].collect().sortBy(_._1).toSeq

  private def open(path: String)(keep: String => Boolean) =
    JobCounter.during(spark)(Tables.openWritten(spark, path, "dt", StringType)(keep))

  test("openWritten equals spark.read.parquet + filter and opens with no Spark job") {
    val path = fixture()
    assert(new java.io.File(path).list().count(_.startsWith("dt=")) == 42)
    val cases: Seq[(String => Boolean, org.apache.spark.sql.Column)] = Seq(
      (d => d != null && d >= "2025-02-05", col("dt") >= "2025-02-05"),
      (d => d == null, col("dt").isNull),
      (d => d == escaped, col("dt") === escaped),
      (d => d == "2025-01-07" || d == null,
        col("dt") === "2025-01-07" || col("dt").isNull))
    // the default open of this table is a listing job plus a footer job
    val (plain, plainJobs) = JobCounter.during(spark)(spark.read.parquet(path))
    assert(plainJobs.size >= 2, s"fixture too small to list in parallel: $plainJobs")
    cases.foreach { case (keep, pred) =>
      val (got, jobs) = open(path)(keep)
      assert(jobs.isEmpty, s"opening launched Spark jobs: $jobs")
      assert(got.schema == plain.schema)
      val want = rowsOf(plain.filter(pred))
      assert(want.nonEmpty)
      assert(rowsOf(got) == want)
    }
  }

  test("openWritten never reads swap residue, staging or _temporary") {
    val path = fixture()
    val root = new java.io.File(path)
    def copyTree(from: java.io.File, to: java.io.File): Unit = {
      to.mkdirs()
      from.listFiles().filter(_.getName.endsWith(".parquet")).foreach(f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(to, f.getName).toPath))
    }
    val live = new java.io.File(root, "dt=2025-01-05")
    copyTree(live, new java.io.File(root, ".dt=2025-01-05.swap_old"))
    copyTree(live, new java.io.File(root, ".spark-staging-1/dt=2025-01-05"))
    copyTree(live, new java.io.File(root, "_temporary/0/dt=2025-01-05"))
    val (got, jobs) = open(path)(d => d == "2025-01-05")
    assert(jobs.isEmpty, s"opening launched Spark jobs: $jobs")
    assert(rowsOf(got) == Seq((8L, 4.0, "2025-01-05"), (9L, -4.0, "2025-01-05")))
    // every partition kept: still exactly the committed rows
    assert(rowsOf(Tables.openWritten(spark, path, "dt", StringType)(_ => true)) ==
      rowsOf(spark.read.parquet(path)))
  }

  test("openWritten: no matching partition is an empty frame of the table's schema") {
    val path = fixture()
    val (got, jobs) = open(path)(_ => false)
    assert(jobs.isEmpty, s"opening launched Spark jobs: $jobs")
    assert(got.schema == spark.read.parquet(path).schema)
    assert(got.isEmpty)
  }

  test("openWritten on an unpartitioned table: same rows, no Spark job") {
    val path = tmpDir() + "/flat"
    Seq((1L, "x"), (2L, "y"), (3L, null)).toDF("id", "s")
      .repartition(3).write.parquet(path)
    new java.io.File(path, "_temporary").mkdirs()
    val (got, jobs) = JobCounter.during(spark)(Tables.openWritten(spark, path))
    assert(jobs.isEmpty, s"opening launched Spark jobs: $jobs")
    val plain = spark.read.parquet(path)
    assert(got.schema == plain.schema)
    assert(got.as[(Long, String)].collect().toSet ==
      plain.as[(Long, String)].collect().toSet)
  }
}
