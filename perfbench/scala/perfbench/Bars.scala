package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.io.{BarsHttpClient, Tables}
import graft.meta.AuditLog
import graft.ops.{Enrich, Windows}
import graft.pipeline.{Runner, SqlScripts}
import graft.state.Checkpoint

/** The scheduled stock-bars deployment the bars workloads drive: a
  * scripted, paginated bars API over a [[Market]], the company CSV, and
  * one `Runner` with its checkpoint and audit log, all under `dir`.
  * `round()` is one scheduled run: checkpoint read, extract from the
  * inclusive watermark date, enrichment, incremental load. */
final class BarsDeployment(ctx: Ctx, market: Market, dir: String) {
  import ctx._
  val table = "stock_bars"
  val target = s"$dir/tgt/$table"
  val auditDir = s"$dir/audit_log"
  private val csvPath = s"$dir/company/company.csv"
  Files.createDirectories(Paths.get(csvPath).getParent)
  Files.write(Paths.get(csvPath), market.companyCsv.getBytes("UTF-8"))
  /** The newest trading day the API has published. */
  var newest: Int = -1

  val checkpoint: Checkpoint = new Checkpoint(spark, s"$dir/state_cp") {
    override def get(t: String): Option[String] = tr.span("state.checkpoint.get")(super.get(t))
    override def save(t: String, latest: String): Unit = tr.span("state.checkpoint.save")(super.save(t, latest))
  }
  val audit: AuditLog = new AuditLog(spark, auditDir) {
    override def log(message: String): Unit = {
      tr.count("audit.calls", 1)
      tr.span("meta.audit.log")(super.log(message))
    }
  }
  val runner = new Runner(spark, checkpoint, audit)

  private val transport: BarsHttpClient.Transport = (url, _) => tr.span("io.transport") {
    val q = url.substring(url.indexOf('?') + 1).split('&').map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
    }.toMap
    val (body, _) = market.page(market.day(q("start")), newest,
      q.get("page_token").map(_.toInt).getOrElse(0), q("limit").toInt, newest)
    tr.count("io.pages", 1)
    tr.count("io.landed_bytes", body.length + 1)
    (200, body)
  }
  private val client = new BarsHttpClient("bench-key", "bench-secret", transport,
    baseUrl = "http://bars.invalid/v2/stocks/bars", pageLimit = BarsDeployment.pageLimit)
  private val symbolsParam = market.symbols.mkString(",")
  val barCols: Seq[String] = Tables.stockBarsSchema.fieldNames.toSeq

  /** One scheduled run against the market as of day `newest`. */
  def round(): Long = {
    val start = checkpoint.get(table).map(_.take(10)).getOrElse(market.dates(0))
    val bars = tr.span("io.extract")(
      runner.extractBars(client, s"$dir/landing", symbolsParam, "1Day", start))
    val dim = Tables.readCsv(spark, csvPath, Tables.dimCsvSchema)
    val enriched = tr.span("ops.enrich")(
      Enrich.enrich(bars, dim, "stock", "Symbol", dropDimCols = Seq("Exchange"))
        .withColumnRenamed("Company", "company").select(barCols.map(col): _*))
    tr.span("pipeline.load")(
      runner.loadIncremental(enriched, target, table, Seq("stock", "timestamp"), "timestamp"))
  }

  /** The target holds the market as of `newest`, enriched, and the
    * checkpoint is at the newest landed timestamp. */
  def check(): Seq[String] = {
    val cp = checkpoint.get(table)
    BarsCheck.target(spark, market, target, newest, withCompany = true) ++
      (if (cp.contains(market.ts(newest))) Nil else Seq(s"checkpoint $cp, expected ${market.ts(newest)}"))
  }
}

object BarsDeployment {
  /** Bars per API page: a daily round of 250 symbols spans three pages. */
  val pageLimit = 200
}

object BarsCheck {
  /** Errors of the bars table at `path` against the market as of day
    * `newest`: exactly the generated (stock, timestamp) keys, no key
    * twice, every bar with its newest (restated) close and, if asked,
    * its company. */
  def target(spark: org.apache.spark.sql.SparkSession, market: Market, path: String, newest: Int,
             withCompany: Boolean): Seq[String] = {
    val rows = spark.read.parquet(path).select("stock", "timestamp", "close", if (withCompany) "company" else "stock")
      .collect()
    val want = market.nSym.toLong * (newest + 1)
    val sym = market.symbols.zipWithIndex.toMap
    val day = market.dates.zipWithIndex.toMap
    val seen = new java.util.HashSet[(String, String)]()
    var dups = 0
    var wrong = 0
    rows.foreach { r =>
      val (st, ts) = (r.getString(0), r.getString(1))
      if (!seen.add((st, ts))) dups += 1
      val ok = (sym.get(st), day.get(ts.take(10))) match {
        case (Some(s), Some(d)) if d <= newest && ts == market.ts(d) =>
          r.getDouble(2) == market.close(s, d, newest) && (!withCompany || r.getString(3) == market.company(s))
        case _ => false
      }
      if (!ok) wrong += 1
    }
    Seq(
      if (rows.length != want) Some(s"$path holds ${rows.length} bars, expected $want") else None,
      if (dups != 0) Some(s"$path has $dups duplicate (stock, timestamp) keys") else None,
      if (wrong != 0) Some(s"$wrong bars of $path are not generated keys or differ from the newest generated values")
      else None).flatten
  }
}

/** bars_incremental: one scheduler client, closed loop over the two
  * ingest paths of a deployment, in turn. A `round` publishes the next
  * trading day and runs one scheduled Runner round into the
  * `dt`-partitioned target; a `stream` op lands the same day as a payload
  * file for the streaming ingest (`BarsStream.ingest`, whose sink merges
  * and rewrites its whole table per micro-batch) and waits for it. */
final class BarsIncremental(ctx: Ctx, nSym: Int, historyDays: Int) extends Workload(ctx) {
  import ctx._
  private val maxRounds = 400
  private val market = new Market(seed, nSym, historyDays + maxRounds + 1)
  private var dep: BarsDeployment = _
  private var feed: StreamFeed = _

  def sizes = Seq("symbols" -> nSym.toString, "history_days" -> historyDays.toString,
    "history_bars" -> (nSym.toLong * historyDays).toString, "bars_per_round" -> (2 * nSym).toString,
    "new_bars_per_round" -> nSym.toString, "page_limit" -> BarsDeployment.pageLimit.toString, "rotation" -> "round,stream")

  def setup(dir: String): Unit = {
    dep = new BarsDeployment(ctx, market, dir)
    dep.newest = historyDays - 1
    dep.round()
    feed = new StreamFeed(ctx, market, dir)
    feed.start(historyDays)
  }

  def run(deadlineNs: Long): Unit = {
    tr.writeLabel = p => if (p.contains("/tgt/stock_bars/") || p.endsWith("/tgt/stock_bars")) "load"
      else if (p.contains("audit_log")) "audit" else if (p.contains("state_cp")) "checkpoint" else "other"
    closedLoop(deadlineNs, 2, 4)(i => if (i % 2 == 0) "round" else "stream") { i =>
      require(dep.newest + 1 < market.nDays, "market exhausted")
      if (i % 2 == 0) { dep.newest += 1; dep.round() } else feed.next()
    }
  }

  def check(): Seq[String] = dep.check() ++ feed.check()

  def endToEnd = {
    val (r, st) = (all("round"), all("stream"))
    val (_, bytes) = dataFiles(dep.target)
    printTail("round", "round_tail_s")
    printTail("stream", "stream_freshness_tail_s")
    println(f"[perfbench] round_p50_s = ${r.p50}%.4f s, stream_freshness_p50_s = ${st.p50}%.4f s")
    // new bars per second through both paths, each at its median op time
    Seq(("op_p50_s", r.p50, "s"), ("items_per_s", 2.0 * nSym / (r.p50 + st.p50), "1/s"),
      ("stored_bytes_per_item", bytes.toDouble / (nSym.toLong * (dep.newest + 1)), "B"))
  }

  def perLayer = {
    val rounds = tr.tracedOps.count(_._1 % 2 == 0).max(1)
    val rowsWritten = tr.opTotal("write.load.rows")
    StreamLayer.metrics(tr) ++ Map(
      "load.rows_written" -> rowsWritten / rounds,
      "load.write_amp" -> rowsWritten / (rounds.toDouble * nSym),
      "load.bytes_written" -> tr.opTotal("write.load.bytes") / rounds,
      "load.files_written" -> tr.opTotal("write.load.files") / rounds,
      "load.bytes_read" -> tr.spanTotal("pipeline.load", "task.bytes_read") / rounds,
      "target.files" -> dataFiles(dep.target)._1.toDouble,
      "audit.files" -> dataFiles(dep.auditDir)._1.toDouble,
      "stream.op_p50_s" -> all("stream").p50,
      "stream.sink_bytes_written_per_batch" -> tr.opTotal("task.bytes_written", _ % 2 == 1) /
        tr.tracedOps.count(_._1 % 2 == 1).max(1))
  }
}

/** analytics_curate: one client, closed loop over a fixed seeded rotation
  * of point queries, range queries and the full analysis CTAS, against a
  * table built by the same deployment rounds, and of the daily curation
  * batch ([[CurateFeed]]). Point and range windows of `windowDays` end
  * within the last ten days, so they cover the partitions the
  * incremental rounds rewrote. The curation batch shares the run because
  * a separate curation workload does not fit the run budget. */
final class AnalyticsCurate(ctx: Ctx, nSym: Int, historyDays: Int, setupRounds: Int,
                            windowDays: Int, historyDocs: Int, batchDocs: Int) extends Workload(ctx) {
  import ctx._
  private val market = new Market(seed, nSym, historyDays + setupRounds)
  private var dep: BarsDeployment = _
  private var feed: CurateFeed = _
  private val rnd = new java.util.Random(seed * 31 + 7)
  /** A seeded window of `windowDays` ending within the last ten days: (start, end). */
  private def window(): (Int, Int) = {
    val end = dep.newest - rnd.nextInt(math.min(10, dep.newest + 2 - windowDays))
    (end - windowDays + 1, end)
  }
  /** Seven-slot rotation: four point queries, one range query, one full
    * analysis, one curation batch. It starts with a point query, the
    * untimed warm-up, so every run times the first range query, full
    * analysis and curation batch alike; the other slots are shuffled by
    * the seed. */
  private val rotation: Seq[String] = {
    val r = new java.util.Random(seed)
    val slots = scala.collection.mutable.ArrayBuffer("point", "point", "point", "range", "full", "curate")
    for (i <- slots.indices.reverse) { val j = r.nextInt(i + 1); val t = slots(i); slots(i) = slots(j); slots(j) = t }
    "point" +: slots.toSeq
  }
  private var pointErrors = Seq.empty[String]
  private val sqlDir = s"$benchDir/sql"

  def sizes = Seq("symbols" -> nSym.toString, "days" -> (historyDays + setupRounds).toString,
    "bars" -> (nSym.toLong * (historyDays + setupRounds)).toString, "setup_rounds" -> setupRounds.toString,
    "point_query_days" -> windowDays.toString, "range_query_days" -> windowDays.toString,
    "rotation" -> rotation.mkString(",")) ++ CurateFeed.sizes(historyDocs, batchDocs)

  def setup(dir: String): Unit = {
    dep = new BarsDeployment(ctx, market, dir)
    dep.newest = historyDays - 1
    dep.round()
    for (_ <- 1 to setupRounds) { dep.newest += 1; dep.round() }
    feed = new CurateFeed(ctx, s"$dir/curate", historyDocs, batchDocs)
    feed.start()
  }

  private def table: DataFrame = tr.span("io.scan_open")(spark.read.parquet(dep.target))

  private def point(): Unit = {
    val s = rnd.nextInt(nSym)
    val (start, end) = window()
    val df = table.filter(col("stock") === market.symbols(s) &&
        col("dt").between(market.dates(start), market.dates(end)))
      .select(col("stock"), col("timestamp"), col("close"), col("timestamp").as("bar_id"))
    val res = tr.span("ops.windows")(Windows.rsi(
      Windows.barAnalysis(df, "stock", "timestamp", "bar_id", "close"), "stock", "dt", "bar_id", "close"))
    val rows = tr.span("query.exec")(res.collect()).sortBy(_.getAs[String]("bar_id"))
    tr.count("query.rows_returned", rows.length)
    val errs = checkPoint(s, start, end, rows)
    if (errs.nonEmpty) {
      pointErrors ++= errs.take(3)
      throw new IllegalStateException(s"point query ${market.symbols(s)} check failed: ${errs.head}")
    }
  }

  private def range(): Unit = {
    val (start, end) = window()
    val df = table.filter(col("dt").between(market.dates(start), market.dates(end)))
      .select(col("stock"), col("timestamp"), col("close"), col("timestamp").as("bar_id"))
    val res = tr.span("ops.windows")(Windows.drawdown(
      Windows.barAnalysis(df, "stock", "timestamp", "bar_id", "close"), "stock", "dt", "bar_id", "close"))
    tr.span("query.exec")(res.write.format("noop").mode("overwrite").save())
    tr.count("query.rows_returned", nSym.toDouble * windowDays)
  }

  private def full(): Unit = {
    table.createOrReplaceTempView(dep.table)
    tr.span("pipeline.sql")(SqlScripts.run(spark, sqlDir, Map("table" -> dep.table)))
    tr.count("query.rows_returned", nSym.toDouble * (dep.newest + 1))
  }

  private def hu(x: Double, d: Int): Double = {
    val f = math.pow(10, d)
    (if (x < 0) -math.floor(-x * f + 0.5) else math.floor(x * f + 0.5)) / f
  }

  /** Plain-Scala recomputation of LAG, the 5-row moving average and the
    * 5-row stddev of daily returns over the generated series. The
    * averages may differ by one rounding unit (summation order). */
  private def checkPoint(s: Int, start: Int, end: Int, rows: Array[Row]): Seq[String] = {
    val closes = (start to end).map(d => market.close(s, d, dep.newest))
    if (rows.length != closes.size) return Seq(s"${rows.length} rows, expected ${closes.size}")
    val ret: IndexedSeq[Option[Double]] = closes.indices.map(i =>
      if (i == 0) None else Some(hu((closes(i) - closes(i - 1)) / closes(i - 1), 3)))
    def opt(r: Row, c: String): Option[Double] = { val i = r.fieldIndex(c); if (r.isNullAt(i)) None else Some(r.getDouble(i)) }
    closes.indices.flatMap { i =>
      val r = rows(i)
      val win = closes.slice(math.max(0, i - 4), i + 1)
      val ma = hu(win.sum / win.size, 2)
      val rs = ret.slice(math.max(0, i - 4), i + 1).flatten
      val sd = if (rs.size < 2) None else {
        val m = rs.sum / rs.size
        Some(hu(math.sqrt(rs.map(x => (x - m) * (x - m)).sum / (rs.size - 1)), 2))
      }
      val prev = if (i == 0) None else Some(closes(i - 1))
      val close = r.getDouble(r.fieldIndex("close"))
      def near(a: Option[Double], b: Option[Double]) = (a, b) match {
        case (Some(x), Some(y)) => math.abs(x - y) <= 0.01 + 1e-9
        case (None, None) => true
        case _ => false
      }
      Seq(
        if (close != closes(i)) Some(s"row $i close $close != ${closes(i)}") else None,
        if (opt(r, "prev_value") != prev) Some(s"row $i LAG ${opt(r, "prev_value")} != $prev") else None,
        if (!near(opt(r, "moving_avg_5"), Some(ma))) Some(s"row $i moving_avg_5 ${opt(r, "moving_avg_5")} != $ma") else None,
        if (!near(opt(r, "stddev_5"), sd)) Some(s"row $i stddev_5 ${opt(r, "stddev_5")} != $sd") else None
      ).flatten
    }
  }

  def run(deadlineNs: Long): Unit = {
    tr.writeLabel = p => if (p.contains("_analysis")) "analysis"
      else if (p.contains("/index/")) "index" else if (p.contains("/kept")) "kept" else "other"
    closedLoop(deadlineNs, 1, rotation.size)(kind) { i =>
      kind(i) match {
        case "point" => point()
        case "range" => range()
        case "full" => full()
        case "curate" => feed.next()
      }
    }
  }
  private def kind(i: Int): String = rotation(i % rotation.size)

  def check(): Seq[String] = {
    val n = spark.table(s"${dep.table}_analysis").count()
    val want = nSym.toLong * (dep.newest + 1)
    pointErrors ++ (if (n != want) Seq(s"analysis table holds $n rows, expected $want") else Nil) ++ feed.check()
  }

  /** Operations per second of the rotation at its per-kind medians. */
  private def opsPerS: Double =
    rotation.size / rotation.map(k => all(k).p50).sum

  def endToEnd = {
    val (_, bytes) = dataFiles(dep.target)
    for (k <- Seq("range" -> "range_query_p50_s", "full" -> "full_analysis_p50_s", "curate" -> "curate_batch_p50_s"))
      println(f"[perfbench] ${k._2} = ${all(k._1).p50}%.4f s (${all(k._1).n} samples)")
    println(f"[perfbench] curate stored bytes per doc = ${feed.storedBytesPerDoc}%.1f B")
    printTail("point", "point_query_tail_s")
    Seq(("op_p50_s", all("point").p50, "s"), ("items_per_s", opsPerS, "1/s"),
      ("stored_bytes_per_item", bytes.toDouble / (nSym.toLong * (dep.newest + 1)), "B"))
  }

  def perLayer = {
    val files = dataFiles(dep.target)._1.toDouble
    val query = (i: Int) => kind(i) != "curate"
    val curate = (i: Int) => kind(i) == "curate"
    val scans = tr.opTotal("scan.scans", query).max(1)
    val filesRead = tr.opTotal("scan.files_read", query)
    Map(
      "target.files" -> files,
      "scan.files_read" -> filesRead / tr.tracedOps.count(o => query(o._1)).max(1),
      "scan.files_pruned_frac" -> (1 - filesRead / (scans * files)),
      "scan.rows_read_per_row_returned" -> tr.opTotal("scan.rows_read", query) / tr.opTotal("query.rows_returned").max(1),
      "index.files" -> feed.indexFiles,
      "index.files_read_per_batch" -> tr.opTotal("scan.files_read", curate) / tr.tracedOps.count(o => curate(o._1)).max(1),
      "analytics.point_query_p50_s" -> all("point").p50,
      "analytics.range_query_p50_s" -> all("range").p50,
      "analytics.full_analysis_p50_s" -> all("full").p50)
  }
}
