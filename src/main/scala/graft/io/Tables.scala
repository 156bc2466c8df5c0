package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Parquet table access for the driver-generated testdata star schema
  * (TESTDATA.md). Schemas live in the parquet footers; explicit
  * `StructType`s are declared only for the external-format inputs
  * (CSV dimension, raw JSON bars) where inference would be unsafe.
  *
  * Scale note: `spark.read.parquet` on a directory of files yields
  * splittable columnar scans — at 100 TB the same call fans out to
  * row-group-granular tasks, with column pruning and predicate
  * pushdown supplied by Catalyst (see `PushedFilters` in explain).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Scan-parallelism floor (guide: "input skew — one huge unsplittable
    * file … repartition immediately after the read"): when a table's
    * ENTIRE byte size fits inside one scan split (≤
    * `spark.sql.files.maxPartitionBytes`) and it has fewer files than
    * the session has cores, the parquet scan plans 1-ish tasks and
    * every downstream map-side kernel (digest, anchor, shingle, regex
    * chains — the operators this engine deliberately keeps
    * exchange-free) runs single-threaded. A round-robin repartition to
    * `defaultParallelism` immediately after such a scan costs one
    * exchange of a ≤128 MB table and buys full-core parallelism for
    * the map chain above it.
    *
    * SCALE-ADAPTIVE BY CONSTRUCTION: the trigger is measured input
    * layout, not a constant — any production-sized input (multi-file,
    * or single files above one split) skips the floor entirely, so at
    * 100 TB this is a no-op and the "text never shuffles" plan shapes
    * are unchanged. Decisions are memoized per (path, parallelism);
    * the testdata dirs are immutable by contract (the [[graft.Fixtures]]
    * stance), and `maxPartitionBytes` is deliberately NOT part of the
    * memo key — the decision snapshots the conf at first read for the
    * JVM's lifetime (a mid-session split-size change is not a
    * supported way to retune the floor; restart the session). Opt out per session with
    * `spark.graft.scanParallelismFloor=false` — PlanSpec does, to pin
    * the at-scale plan shapes the floor would mask at test scale. */
  private val floorMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def withScanFloor(spark: SparkSession, path: String,
                            df: DataFrame): DataFrame = {
    if (!spark.conf.get("spark.graft.scanParallelismFloor", "true").toBoolean)
      return df
    val par = spark.sparkContext.defaultParallelism
    val under = floorMemo.computeIfAbsent(s"$path|$par", _ => {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // size-suffixed conf values ("128m", "1g") must parse as Spark
      // parses them — a digits-only strip would read "128m" as 128
      // BYTES and silently disable the floor (ADVICE r18)
      val maxSplit = try {
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
          spark.conf.get("spark.sql.files.maxPartitionBytes",
            s"${128L << 20}"))
      } catch { case _: NumberFormatException => 128L << 20 }
      try {
        val it = fs.listFiles(p, true)
        var bytes = 0L; var files = 0
        while (it.hasNext) {
          val f = it.next()
          // mirror Spark's hidden-file filter ("_" AND "."): local-FS
          // ".part-*.crc" checksums must not inflate the census
          val n = f.getPath.getName
          if (f.isFile && !n.startsWith("_") && !n.startsWith(".")) {
            bytes += f.getLen; files += 1
          }
        }
        files > 0 && files < par && bytes <= maxSplit
      } catch { case _: java.io.IOException => false }
    })
    if (under) df.repartition(par) else df
  }

  /** `floorHint = true` marks a read whose consumer is a SINGLE-PASS
    * map-kernel-heavy chain (digest/anchor/shingle/regex over text) —
    * the measured floor winners. Multi-pass consumers (Lloyd rounds,
    * BPE merge rounds, two-pass quantiles) re-execute the floor's
    * exchange on every pass and measured strictly SLOWER with it, so
    * the floor is hint-scoped rather than blanket (interleaved A/B,
    * OPTIMIZATION_r18.md: e.g. q_novelty 4.6→2.2 s median WITH the
    * floor vs q_kmeans_pp 1.7→3.2 s — same session, alternating
    * reps). */
  def read(spark: SparkSession, sfDir: String, name: String,
           floorHint: Boolean = false): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS) (TESTDATA.md fixture), which
    // Spark's reader rejects outright. Read nanos as raw Long and convert
    // to a microsecond timestamp with integer arithmetic (the data is
    // µs-precision, so `div 1000` is lossless; double math would not be,
    // ns epochs exceed 2^53). The DuckDB oracle casts ns -> µs the same way.
    //
    // The nanosAsLong conf is set session-wide ON PURPOSE and not
    // restored: the physical scan consults it at planning/execution, not
    // at DataFrame creation, so save-and-restore here would break the
    // deferred read. Engine-wide contract: ns-precision parquet columns
    // surface as Long and callers convert explicitly (as done here).
    val path = s"$sfDir/$name.parquet"
    val raw = if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(path)
      if (df.schema("ts").dataType == LongType)
        df.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      else df
    } else spark.read.parquet(path)
    if (floorHint) withScanFloor(spark, path, raw) else raw
  }

  /** Dimension-table schema mirroring the reference's company CSV
    * (reference: etl_project/data/top_tech_stock_symbol.csv:1). */
  val dimCsvSchema: StructType = StructType(Seq(
    StructField("Company", StringType),
    StructField("Symbol", StringType),
    StructField("Exchange", StringType)))

  /** Fact schema mirroring the reference's stock_bars table
    * (reference: etl_project/assets/assets.py:150-164). `timestamp`
    * deliberately stays a String: it is part of the PK and the
    * watermark is a lexicographic max over ISO-8601 text. */
  val stockBarsSchema: StructType = StructType(Seq(
    StructField("stock", StringType, nullable = false),
    StructField("company", StringType),
    StructField("timestamp", StringType, nullable = false),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", LongType),
    StructField("volume_weighted_avg_price", DoubleType),
    StructField("number_of_trades", LongType)))

  /** Raw per-symbol bar record as produced by the upstream JSON feed
    * (reference: etl_project/assets/assets.py:81-88): map of
    * symbol -> array of bars with single-letter field names. */
  val rawBarSchema: StructType = StructType(Seq(
    StructField("c", DoubleType), StructField("h", DoubleType),
    StructField("l", DoubleType), StructField("n", LongType),
    StructField("o", DoubleType), StructField("t", StringType),
    StructField("v", LongType), StructField("vw", DoubleType)))

  val rawBarsPayloadSchema: StructType = StructType(Seq(
    StructField("bars", MapType(StringType, ArrayType(rawBarSchema)))))

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)
}
