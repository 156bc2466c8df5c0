package graft.meta

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.atomic.AtomicLong
import com.fasterxml.jackson.core.JsonFactory
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Append-only pipeline audit log, mirroring the reference's
  * `metadata(timestamp DateTime, log_message Text)` table and its
  * one-row-per-event writes
  * (reference: etl_project/metadata/log_metadata.py:20-38).
  *
  * On disk each `log` call is one JSON-lines file holding one record,
  * `<dir>/<epoch-ms, 13 digits>-<run_id>-<seq, 10 digits>.json`, so the
  * names sort by time and are never reused. A record keeps the
  * reference's `(timestamp, log_message)` as its first two fields and
  * adds `run_id` (one UUID per `AuditLog` instance, i.e. per pipeline
  * process), `seq` (the record's place in its run, from 0) and `stage`
  * (the caller's [[JobLabel]] at the call, or null). A run's records in
  * commit order are its records ordered by `seq`.
  *
  * A record is one short line, so `log` is plain Hadoop `FileSystem`
  * I/O (local, HDFS, S3A) and never a Spark job: it writes the hidden
  * temp file `.<name>.tmp`, hsyncs it, then renames it to `<name>`.
  * That rename is atomic on local FS and HDFS: a record is complete or
  * absent, and a crashed `log` leaves only the temp file, which `read`
  * skips. (On stores whose rename is a copy, such as S3A, it is not
  * atomic.) The cost is one create, one write, one rename and their
  * round trips: a few milliseconds locally, against a Spark job's
  * ~0.1 s fixed cost.
  *
  * Parquet part files written by the earlier format (one Spark append
  * per record, `timestamp` and `log_message` only) are still read, with
  * null `run_id`, `seq` and `stage`, so an upgraded deployment keeps
  * its history.
  */
class AuditLog(spark: SparkSession, dir: String) {

  private val root = new Path(dir)
  private val runId = java.util.UUID.randomUUID().toString
  private val nextSeq = new AtomicLong(0)

  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def log(message: String): Unit = {
    val now = Instant.now()
    val seq = nextSeq.getAndIncrement()
    val buf = new java.io.StringWriter()
    val g = AuditLog.Json.createGenerator(buf)
    g.writeStartObject()
    g.writeStringField("timestamp", AuditLog.Iso.format(now))
    g.writeStringField("log_message", message)
    g.writeStringField("run_id", runId)
    g.writeNumberField("seq", seq)
    g.writeStringField("stage", JobLabel.current(spark).orNull)
    g.writeEndObject()
    g.close()
    buf.write('\n')

    val name = f"${now.toEpochMilli}%013d-$runId-$seq%010d.json"
    val tmp = new Path(root, s".$name.tmp")
    val out = fs.create(tmp, true)
    try {
      out.write(buf.toString.getBytes(UTF_8))
      out.hsync() // durable before the rename publishes it
    } finally out.close()
    require(fs.rename(tmp, new Path(root, name)),
      s"audit log: could not commit record $name")
  }

  /** Every committed record under [[AuditLog.schema]], unordered. Only
    * `*.json` files are parsed as records: the JSON reader would read a
    * parquet file's bytes as all-null rows. */
  def read(): DataFrame = {
    val records = spark.read.schema(AuditLog.schema)
      .option("pathGlobFilter", "*.json")
      .option("timestampFormat", AuditLog.IsoPattern)
      .json(dir)
    val legacy = fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
    if (legacy.isEmpty) records
    else records.unionByName(
      spark.read.parquet(legacy.map(_.toString).toIndexedSeq: _*),
      allowMissingColumns = true)
  }
}

object AuditLog {
  /** The pinned record schema, in column order. */
  val schema: StructType = StructType(Seq(
    StructField("timestamp", TimestampType),
    StructField("log_message", StringType),
    StructField("run_id", StringType),
    StructField("seq", LongType),
    StructField("stage", StringType)))

  private val IsoPattern = "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
  private val Json = new JsonFactory()
  private val Iso = DateTimeFormatter.ofPattern(IsoPattern).withZone(ZoneOffset.UTC)
}
