package graft

import org.apache.spark.sql.functions._
import graft.meta.AuditLog
import graft.pipeline.Runner
import graft.state.Checkpoint

/** End-to-end incremental pipeline semantics, mirroring the reference's
  * full-vs-incremental branch (reference: etl_project/pipelines/
  * stock_bars.py:36-89): full load, overlapping incremental re-extract,
  * idempotent dedup, watermark advance, audit trail, stage isolation. */
class RunnerSpec extends SparkSpec {
  import spark.implicits._

  test("full load then overlapping incremental: no dups, watermark advances") {
    val dir = tmpDir()
    val cp = new Checkpoint(spark, s"$dir/checkpoints")
    val audit = new AuditLog(spark, s"$dir/audit")
    val runner = new Runner(spark, cp, audit)
    val target = s"$dir/bars"

    val day1 = Seq(
      ("TSLA", "2025-10-01T10:00:00Z", 252.0),
      ("AAPL", "2025-10-01T10:00:00Z", 177.0)
    ).toDF("stock", "timestamp", "close")

    assert(runner.loadIncremental(day1, target, "bars",
      Seq("stock", "timestamp"), "timestamp") == 2)
    assert(cp.get("bars").contains("2025-10-01T10:00:00Z"))

    // incremental batch: re-delivers day1 TSLA (modified) + adds day2
    val day2 = Seq(
      ("TSLA", "2025-10-01T10:00:00Z", 260.0), // overlap, updated close
      ("TSLA", "2025-10-02T10:00:00Z", 262.0),
      ("AAPL", "2025-10-02T10:00:00Z", 178.0)
    ).toDF("stock", "timestamp", "close")

    // watermark day is re-read inclusively: the overlap slice after the
    // merge holds all 4 rows, and that is what this run writes
    assert(runner.loadIncremental(day2, target, "bars",
      Seq("stock", "timestamp"), "timestamp") == 4)
    val out = spark.read.parquet(target)
    assert(out.count() == 4)
    assert(out.filter($"stock" === "TSLA" && $"timestamp".startsWith("2025-10-01"))
      .select("close").as[Double].head() == 260.0)
    assert(cp.get("bars").contains("2025-10-02T10:00:00Z"))

    // re-applying the same batch is a no-op on content (idempotence);
    // with the watermark now at day 2 only the day-2 overlap (2 rows)
    // is rewritten
    assert(runner.loadIncremental(day2, target, "bars",
      Seq("stock", "timestamp"), "timestamp") == 2)
    assert(spark.read.parquet(target).count() == 4)

    // audit trail recorded every stage
    assert(audit.read().filter($"log_message".contains("load complete")).count() == 3)
  }

  test("extract->load end-to-end: paginated fetch, overlap re-extract, upsert dedup") {
    import graft.io.BarsHttpClient
    val dir = tmpDir()
    val runner = new Runner(spark, new Checkpoint(spark, s"$dir/cp"),
      new AuditLog(spark, s"$dir/audit"))
    val target = s"$dir/bars"
    def bar(o: Double, t: String) = BarsTestFeed.bar(o, 1, t)
    // day-1 feed split across two pages (the >limit case the reference
    // truncates); day-2 feed re-delivers the overlap day with a revised
    // close plus the new day — the reference's re-extract window
    def client(pages: Map[Option[String], String]) =
      new BarsHttpClient("k", "s",
        BarsTestFeed.scripted(pages.map { case (k, v) => k -> ((200, v)) }))
    val day1 = client(Map(
      None -> s"""{"bars":{"TSLA":[${bar(250.0, "2025-10-01T10:00:00Z")}]},"next_page_token":"t1"}""",
      Some("t1") -> s"""{"bars":{"AAPL":[${bar(170.0, "2025-10-01T10:00:00Z")}]},"next_page_token":null}"""))
    val b1 = runner.extractBars(day1, s"$dir/land1", "TSLA,AAPL", "1Day",
      "2025-09-30")
    assert(runner.loadIncremental(b1, target, "bars",
      Seq("stock", "timestamp"), "timestamp") == 2)
    val day2 = client(Map(
      None -> (s"""{"bars":{"TSLA":[${bar(260.0, "2025-10-01T10:00:00Z")},""" +
        s"""${bar(262.0, "2025-10-02T10:00:00Z")}]},"next_page_token":null}""")))
    val b2 = runner.extractBars(day2, s"$dir/land2", "TSLA,AAPL", "1Day",
      "2025-10-01")
    runner.loadIncremental(b2, target, "bars",
      Seq("stock", "timestamp"), "timestamp")
    val out = spark.read.parquet(target)
    assert(out.count() == 3, "overlap deduped, new day added")
    // the re-delivered overlap row WON (close revised 251.0 -> 261.0)
    assert(out.filter(col("stock") === "TSLA" &&
        col("timestamp") === "2025-10-01T10:00:00Z")
      .select("close").as[Double].head() == 261.0)
    // raw-zone archive: the landed payloads re-scan without a re-fetch
    assert(graft.io.JsonSource.readBars(spark, s"$dir/land1").count() == 2)
    // REUSING a landing dir must not union stale files into the extract
    // (a stale duplicate of a PK could win the upsert tie-break)
    val b3 = runner.extractBars(day2, s"$dir/land1", "TSLA,AAPL", "1Day",
      "2025-10-01")
    assert(b3.count() == 2, "stale landing content leaked into a re-extract")
    // ...but a FAILED re-fetch must leave the previous landing (the
    // raw-zone archive) untouched: stage-then-swap, never
    // delete-then-fetch
    val broken = new BarsHttpClient("k", "s", (_, _) => (500, "outage"))
    intercept[RuntimeException] {
      runner.extractBars(broken, s"$dir/land1", "TSLA,AAPL", "1Day",
        "2025-10-01")
    }
    assert(graft.io.JsonSource.readBars(spark, s"$dir/land1").count() == 2,
      "failed fetch destroyed the raw-zone archive")
  }

  test("incremental run rewrites only overlap partitions (dynamic overwrite)") {
    val dir = tmpDir()
    val runner = new Runner(spark, new Checkpoint(spark, s"$dir/cp"),
      new AuditLog(spark, s"$dir/audit"))
    val target = s"$dir/bars"
    val keys = Seq("stock", "timestamp")

    runner.loadIncremental(
      Seq(("TSLA", "2025-10-01T10:00:00Z", 252.0),
          ("TSLA", "2025-10-02T10:00:00Z", 262.0))
        .toDF("stock", "timestamp", "close"),
      target, "bars", keys, "timestamp")

    // the target is date-partitioned
    val p1 = new java.io.File(s"$target/dt=2025-10-01")
    assert(p1.isDirectory, "target must be partitioned by dt")
    def files(d: java.io.File): Map[String, Long] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = files(p1)
    assert(before.nonEmpty)

    // watermark is 2025-10-02: this batch overlaps day 2 and adds day 3,
    // so the day-1 partition must not be rewritten
    runner.loadIncremental(
      Seq(("TSLA", "2025-10-02T10:00:00Z", 263.0),
          ("TSLA", "2025-10-03T10:00:00Z", 270.0))
        .toDF("stock", "timestamp", "close"),
      target, "bars", keys, "timestamp")

    assert(files(p1) == before, "day-1 partition files were rewritten")
    val out = spark.read.parquet(target)
    assert(out.count() == 3)
    assert(out.filter($"timestamp".startsWith("2025-10-02"))
      .select("close").as[Double].head() == 263.0)
  }

  test("empty batches are safe: no crash on first load, no-op incremental") {
    val dir = tmpDir()
    val cp = new Checkpoint(spark, s"$dir/cp")
    val runner = new Runner(spark, cp, new AuditLog(spark, s"$dir/audit"))
    val target = s"$dir/bars"
    val keys = Seq("stock", "timestamp")
    val empty = Seq.empty[(String, String, Double)]
      .toDF("stock", "timestamp", "close")

    // pipeline deployed before data arrives: nothing written, no throw
    assert(runner.loadIncremental(empty, target, "bars", keys, "timestamp") == 0)
    assert(cp.get("bars").isEmpty)

    // real data lands, then an empty day: watermark and target untouched
    val day1 = Seq(("TSLA", "2025-10-01T10:00:00Z", 252.0))
      .toDF("stock", "timestamp", "close")
    assert(runner.loadIncremental(day1, target, "bars", keys, "timestamp") == 1)
    assert(runner.loadIncremental(empty, target, "bars", keys, "timestamp") == 0)
    assert(cp.get("bars").contains("2025-10-01T10:00:00Z"))
    assert(spark.read.parquet(target).count() == 1)
  }

  test("empty batch + existing target + lost checkpoint: target survives") {
    val dir = tmpDir()
    val runner = new Runner(spark, new Checkpoint(spark, s"$dir/cp"),
      new AuditLog(spark, s"$dir/audit"))
    val target = s"$dir/bars"
    val keys = Seq("stock", "timestamp")
    runner.loadIncremental(
      Seq(("TSLA", "2025-10-01T10:00:00Z", 252.0))
        .toDF("stock", "timestamp", "close"),
      target, "bars", keys, "timestamp")
    // checkpoint store lost AND the re-extract comes back empty (e.g.
    // the same incident took out both): the full-load branch must not
    // swap an empty stage over the surviving table
    val runner2 = new Runner(spark, new Checkpoint(spark, s"$dir/cp_lost"),
      new AuditLog(spark, s"$dir/audit"))
    val empty = Seq.empty[(String, String, Double)]
      .toDF("stock", "timestamp", "close")
    assert(runner2.loadIncremental(empty, target, "bars", keys, "timestamp") == 0)
    assert(spark.read.parquet(target).count() == 1,
      "an empty full-load extract must never replace an existing target")
  }

  test("full load over an existing target replaces it wholesale") {
    val dir = tmpDir()
    val runner = new Runner(spark, new Checkpoint(spark, s"$dir/cp"),
      new AuditLog(spark, s"$dir/audit"))
    val target = s"$dir/bars"
    val keys = Seq("stock", "timestamp")
    runner.loadIncremental(
      Seq(("TSLA", "2025-10-01T10:00:00Z", 252.0),
          ("TSLA", "2025-10-02T10:00:00Z", 262.0))
        .toDF("stock", "timestamp", "close"),
      target, "bars", keys, "timestamp")
    // checkpoint lost (fresh dir) but target survives: the full-load
    // branch must not leave a mix of old and new partitions
    val runner2 = new Runner(spark, new Checkpoint(spark, s"$dir/cp2"),
      new AuditLog(spark, s"$dir/audit"))
    assert(runner2.loadIncremental(
      Seq(("TSLA", "2025-10-03T10:00:00Z", 270.0))
        .toDF("stock", "timestamp", "close"),
      target, "bars", keys, "timestamp") == 1)
    val out = spark.read.parquet(target)
    assert(out.count() == 1, "old partitions must not survive a full load")
    assert(!new java.io.File(s"$target/dt=2025-10-01").exists())
  }

  test("analysis stage is isolated: failure logs but does not throw") {
    val dir = tmpDir()
    val audit = new AuditLog(spark, s"$dir/audit")
    val runner = new Runner(spark, new Checkpoint(spark, s"$dir/cp"), audit)
    val ok = runner.runAnalysis("boom", s"$dir/out") {
      spark.read.parquet("/nonexistent/path")
    }
    assert(!ok)
    assert(audit.read().filter($"log_message".contains("FAILED")).count() == 1)
  }

  test("checkpoint: per-table isolation and lexicographic (ISO) watermark") {
    val cp = new Checkpoint(spark, tmpDir() + "/cp")
    cp.save("t1", "2025-10-01T10:00:00Z")
    cp.save("t2", "2024-01-01T00:00:00Z")
    cp.save("t1", "2025-10-05T10:00:00Z") // upsert overwrites t1 only
    assert(cp.get("t1").contains("2025-10-05T10:00:00Z"))
    assert(cp.get("t2").contains("2024-01-01T00:00:00Z"))
    assert(cp.get("missing").isEmpty)
  }

  test("checkpoint get is read-only mid-swap: committed value, no repair") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir() + "/cp"
    val cp = new Checkpoint(spark, dir)
    cp.save("t", "2025-01-01T00:00:00Z")
    val tdir = new Path(s"$dir/table_name=t")
    val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(tdir, ".v.tmp")
    def crashWith(text: String): Unit = {
      val out = fs.create(tmp, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    // the owner died after writing the temp file, before the rename...
    crashWith("2025-02-02T00:00:00Z")
    assert(cp.get("t").contains("2025-01-01T00:00:00Z"))
    // ...or mid-write, leaving it partial
    crashWith("2025-0")
    assert(cp.get("t").contains("2025-01-01T00:00:00Z"))
    // a reader repairs nothing: the residue is left for the owner
    assert(fs.exists(tmp))
    // the owner's next save overwrites the residue and commits
    cp.save("t", "2025-03-03T00:00:00Z")
    assert(cp.get("t").contains("2025-03-03T00:00:00Z"))
    assert(!fs.exists(tmp))
    // a parquet checkpoint directory (the earlier format) holds no
    // version: it reads as absent, which routes the Runner to a full load
    Seq("2025-05-05T00:00:00Z").toDF("latest_timestamp")
      .write.parquet(s"$dir/table_name=old")
    assert(cp.get("old").isEmpty)
  }

  test("checkpoint get survives the owner completing its swap mid-read") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir() + "/cp"
    val cp = new Checkpoint(spark, dir)
    cp.save("t", "2025-03-03T00:00:00Z")
    val tdir = new Path(s"$dir/table_name=t")
    val fs = tdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def read(name: String): String = {
      val in = fs.open(new Path(tdir, name))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def committed: Seq[String] = fs.listStatus(tdir).map(_.getPath.getName)
      .filter(_.matches("v\\d+")).sorted.toSeq
    // a reader listed v1 as newest; the owner then completes a whole
    // save (rename to v2, prune) before the reader opens v1
    cp.save("t", "2025-04-04T00:00:00Z")
    assert(read("v1") == "2025-03-03T00:00:00Z",
      "the version a racing reader listed must survive one save")
    assert(cp.get("t").contains("2025-04-04T00:00:00Z"))
    // the owner renamed v3 in but has not pruned yet: the newest wins
    val out = fs.create(new Path(tdir, "v3"), false)
    try out.write("2025-05-05T00:00:00Z".getBytes("UTF-8")) finally out.close()
    assert(cp.get("t").contains("2025-05-05T00:00:00Z"))
    // the next save commits v4 and keeps the newest two versions
    cp.save("t", "2025-06-06T00:00:00Z")
    assert(cp.get("t").contains("2025-06-06T00:00:00Z"))
    assert(committed == Seq("v3", "v4"), "the newest two versions are kept")
  }

  test("rollup maintenance: merge equals full recompute, history partitions untouched") {
    val dir = tmpDir()
    val runner = new Runner(spark, new Checkpoint(spark, s"$dir/cp"),
      new AuditLog(spark, s"$dir/audit"))
    val rollup = s"$dir/rollup"
    def batchDf(rows: Seq[(String, String, Double)]) =
      rows.toDF("stock", "d", "v").withColumn("d", to_date($"d"))

    // empty batch: no crash, nothing created
    assert(runner.maintainAggregate(batchDf(Seq.empty), rollup, "rollup",
      "d", Seq("stock"), "v") == 0)
    assert(!new java.io.File(rollup).exists())

    val b1 = Seq(("TSLA", "2025-10-01", 10.0), ("TSLA", "2025-10-01", 20.0),
      ("AAPL", "2025-10-01", 5.0), ("TSLA", "2025-10-02", 30.0))
    assert(runner.maintainAggregate(batchDf(b1), rollup, "rollup",
      "d", Seq("stock"), "v") == 3)

    val p1 = new java.io.File(s"$rollup/dt=2025-10-01")
    assert(p1.isDirectory, "rollup must be partitioned by dt")
    def files(d: java.io.File): Map[String, Long] =
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val before = files(p1)

    // second batch touches day 2 and adds day 3: day-1 partition of the
    // rollup must be neither read-merged nor rewritten
    val b2 = Seq(("TSLA", "2025-10-02", 50.0), ("MSFT", "2025-10-03", 7.0))
    assert(runner.maintainAggregate(batchDf(b2), rollup, "rollup",
      "d", Seq("stock"), "v") == 2)
    assert(files(p1) == before, "day-1 rollup partition was rewritten")

    // the maintained rollup equals a from-scratch aggregation of all rows
    val expect = graft.pipeline.IncrementalAgg.partials(
      batchDf(b1 ++ b2), "d", Seq("stock"), "v")
    val got = spark.read.parquet(rollup)
    assert(got.count() == 4)
    assert(got.join(expect,
        got("dt") === expect("dt") && got("stock") === expect("stock") &&
        got("n") === expect("n") && got("sum_v") === expect("sum_v") &&
        got("min_v") === expect("min_v") && got("max_v") === expect("max_v"),
        "left_semi").count() == 4,
      "incremental rollup diverged from full recompute")
    // derived read-side metric
    val avg = graft.pipeline.IncrementalAgg.finalized(got)
      .filter($"stock" === "TSLA" && $"dt" === to_date(lit("2025-10-02")))
      .select("avg_v").as[Double].head()
    assert(avg == 40.0) // (30 + 50) / 2
  }

  test("plain-path rollup merge never fabricates an idempotence token pair") {
    import graft.pipeline.IncrementalAgg
    val dir = tmpDir(); val agg = s"$dir/rollup"
    def b(v: Double) = Seq(("TSLA", "2025-10-01", v)).toDF("stock", "d", "v")
      .withColumn("d", to_date($"d"))
    // an identified lineage commits batch 9
    IncrementalAgg.maintain(spark, b(1.0), agg, "d", Seq("stock"), "v",
      batchId = Some(9), appId = "app1")
    // a plain (unidentified) maintenance run merges on top: the stored
    // token must be a pair that actually existed — max(app) and max(id)
    // taken independently would splice ('batch', 9)
    IncrementalAgg.maintain(spark, b(2.0), agg, "d", Seq("stock"), "v")
    val tok = spark.read.parquet(agg)
      .select("last_batch_app", "last_batch").head()
    assert((tok.getString(0), tok.getLong(1)) != (("batch", 9L)),
      "fabricated (app, id) token pair")
    // an idempotent caller on the default lineage with batchId <= 9 must
    // still get its NEW data applied (the spliced token would read
    // "already applied" and silently discard it)
    IncrementalAgg.maintain(spark, b(4.0), agg, "d", Seq("stock"), "v",
      batchId = Some(0), appId = "batch")
    val n = spark.read.parquet(agg).agg(sum($"n")).head().getLong(0)
    assert(n == 3L, "real data was discarded as already-applied")
  }
}
