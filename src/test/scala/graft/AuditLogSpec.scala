package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.meta.{AuditLog, JobLabel}

/** The JSON-lines audit log: one record per `log`, committed by rename
  * through the Hadoop FileSystem API with no Spark job, read back under
  * a pinned schema that keeps the reference's `(timestamp, log_message)`
  * first, with crash residue skipped and the earlier parquet format
  * still readable. */
class AuditLogSpec extends SparkSpec {
  import spark.implicits._

  test("log launches no Spark job and writes one committed file per call") {
    val dir = tmpDir() + "/audit"
    val audit = new AuditLog(spark, dir)
    val (_, jobs) = JobCounter.during(spark) {
      (1 to 3).foreach(i => audit.log(s"event $i"))
    }
    assert(jobs.isEmpty, s"audit log launched Spark jobs: $jobs")
    val visible = new java.io.File(dir).list().filterNot(_.startsWith("."))
    assert(visible.length == 3 && visible.forall(_.endsWith(".json")))
  }

  test("read: pinned schema and column order, timestamp round-trips") {
    val audit = new AuditLog(spark, tmpDir() + "/audit")
    val before = new java.sql.Timestamp(System.currentTimeMillis())
    audit.log("hello, \"quoted\"\nand a new line")
    val after = new java.sql.Timestamp(System.currentTimeMillis())
    val df = audit.read()
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      AuditLog.schema.map(f => (f.name, f.dataType)))
    assert(df.columns.toSeq ==
      Seq("timestamp", "log_message", "run_id", "seq", "stage"))
    val r = df.collect().toSeq match { case Seq(r) => r }
    val ts = r.get(0).asInstanceOf[java.sql.Timestamp]
    assert(ts != null && !ts.before(before) && !ts.after(after),
      s"timestamp $ts outside [$before, $after]")
    assert(r.get(1) == "hello, \"quoted\"\nand a new line")
    assert(r.getLong(3) == 0L)
    assert(r.isNullAt(4), "no label was current, so no stage")
  }

  test("records come back in commit order by (run_id, seq), runs told apart") {
    val dir = tmpDir() + "/audit"
    val a = new AuditLog(spark, dir)
    val b = new AuditLog(spark, dir)
    a.log("a0"); b.log("b0"); a.log("a1"); a.log("a2"); b.log("b1")
    val rows = a.read().select("run_id", "seq", "log_message")
      .as[(String, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    val byRun = rows.groupBy(_._1).values.map(_.map(r => (r._2, r._3))).toSet
    assert(byRun == Set(Seq(0L -> "a0", 1L -> "a1", 2L -> "a2"),
      Seq(0L -> "b0", 1L -> "b1")))
  }

  test("stage is the job label current at the call") {
    val audit = new AuditLog(spark, tmpDir() + "/audit")
    JobLabel.during(spark, "graft:outer") {
      audit.log("in outer")
      JobLabel.during(spark, "graft:inner")(audit.log("in inner"))
      audit.log("outer again")
    }
    audit.log("unlabelled")
    val got = audit.read().orderBy("seq").select("log_message", "stage")
      .as[(String, String)].collect().toSeq
    assert(got == Seq("in outer" -> "graft:outer", "in inner" -> "graft:inner",
      "outer again" -> "graft:outer", "unlabelled" -> null))
  }

  test("a crashed log's hidden temp file, complete or truncated, is not read") {
    val dir = tmpDir() + "/audit"
    val audit = new AuditLog(spark, dir)
    audit.log("committed")
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val complete = new java.io.File(dir).list()
      .filter(_.endsWith(".json")).head
    def residue(name: String, text: String): Unit = {
      val out = fs.create(new Path(d, name), true)
      try out.write(text.getBytes(UTF_8)) finally out.close()
    }
    val record = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, complete)), UTF_8)
    // the writer died after writing its temp file, before the rename...
    residue(".9999999999999-crashed-0000000000.json.tmp", record)
    // ...or mid-write
    residue(".9999999999999-crashed-0000000001.json.tmp", record.take(20))
    assert(audit.read().select("log_message").as[String].collect().toSeq ==
      Seq("committed"))
  }

  test("legacy parquet audit rows are still read, with null new columns") {
    val dir = tmpDir() + "/audit"
    // the earlier format: one Spark append of (timestamp, log_message)
    Seq("legacy event").toDF("log_message")
      .select(current_timestamp().as("timestamp"), col("log_message"))
      .write.mode(SaveMode.Append).parquet(dir)
    val audit = new AuditLog(spark, dir)
    audit.log("new event")
    val got = audit.read().select("log_message", "run_id", "seq")
      .as[(String, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2 == null, r._3.isEmpty)) ==
      Seq(("legacy event", true, true), ("new event", false, false)))
    assert(audit.read().filter($"timestamp".isNull).isEmpty)
  }
}
