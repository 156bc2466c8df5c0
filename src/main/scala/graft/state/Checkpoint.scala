package graft.state

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Incremental-load watermark state, mirroring the reference's
  * `check_points(table_name PK, latest_timestamp)` table and its
  * get/save semantics (reference: etl_project/utilities/utilities.py:8-49).
  *
  * On disk each table owns one directory, `<dir>/table_name=<table>/`,
  * so a save for one table never touches another's — the same
  * upsert-on-PK contract the reference got from ON CONFLICT. It holds
  * the watermark as UTF-8 text in version files `v<n>`; the newest `n`
  * is the committed value. Watermarks are ISO-8601 *strings* compared
  * lexicographically, exactly like the reference's string max
  * (SURVEY §7.4 string-timestamp caveat).
  *
  * A watermark is one string, so this is plain Hadoop `FileSystem` I/O
  * (local, HDFS, S3A) and never a Spark job. A save writes the hidden
  * temp file `.v.tmp`, then renames it to the never-used name
  * `v<newest+1>`. That rename is atomic on local FS and HDFS: a version
  * file is complete or absent, and a crashed save leaves only the temp
  * file, which `get` ignores and the next save overwrites. (On stores
  * whose rename is a copy, such as S3A, it is not atomic.) The newest
  * two versions are kept, so a reader racing one concurrent save still
  * finds the version it listed. ONE pipeline owns a table's checkpoint
  * (the reference's model); reads are safe from anywhere.
  */
class Checkpoint(spark: SparkSession, dir: String) {

  private val Version = """v(\d+)""".r

  private def tableDir(table: String) = new Path(s"$dir/table_name=$table")

  private def fsOf(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version numbers under `d`, oldest first. Anything else in
    * the directory — the temp file, checksum files, a pre-versioning
    * parquet checkpoint — is not a version. */
  private def versions(d: Path): Seq[Long] = {
    val fs = fsOf(d)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case Version(n) => n.toLong }.sorted
  }

  /** Latest watermark for `table`, if any
    * (reference: utilities/utilities.py:8-22). Strictly read-only. */
  def get(table: String): Option[String] = {
    val d = tableDir(table)
    versions(d).lastOption.map { v =>
      val in = fsOf(d).open(new Path(d, s"v$v"))
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    }
  }

  /** Upsert the watermark for `table`
    * (reference: utilities/utilities.py:24-49): commit it as the next
    * version, then drop all but the newest two. */
  def save(table: String, latest: String): Unit = {
    val d = tableDir(table)
    val fs = fsOf(d)
    val vs = versions(d)
    val tmp = new Path(d, ".v.tmp")
    val out = fs.create(tmp, true)
    try {
      new java.io.OutputStreamWriter(out, UTF_8).append(latest).flush()
      out.hsync() // durable before the rename publishes it
    } finally out.close()
    val next = vs.lastOption.getOrElse(0L) + 1
    require(fs.rename(tmp, new Path(d, s"v$next")),
      s"checkpoint: could not commit version $next of $table")
    vs.dropRight(1).foreach(v => fs.delete(new Path(d, s"v$v"), false))
  }
}
