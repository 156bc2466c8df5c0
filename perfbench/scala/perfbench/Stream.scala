package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.BarsStream

/** The streaming ingest path of a bars deployment, driven closed-loop:
  * `BarsStream.ingest` over its own landing directory and target, both
  * under `dir`. `start` lands the history as one file and waits for it;
  * each `next()` lands the next trading day (every symbol, plus the
  * restated bars of the overlap day before it) and returns when the
  * micro-batch that upserted it has completed. */
final class StreamFeed(ctx: Ctx, market: Market, dir: String) {
  import ctx._
  val target = s"$dir/tgt/stock_bars_stream"
  private val landDir = s"$dir/stream_landing"
  private var query: StreamingQuery = _
  /** The newest trading day landed. */
  var newest: Int = -1

  def start(historyDays: Int): Unit = {
    Files.createDirectories(Paths.get(landDir))
    newest = historyDays - 1
    Landing.land(landDir, "h.jsonl", market.payload(for (s <- 0 until market.nSym; d <- 0 to newest) yield (s, d), newest))
    query = BarsStream.ingest(spark, landDir, target, s"$dir/stream_cp")
    query.processAllAvailable()
  }

  def next(): Unit = {
    newest += 1
    val bars = (0 until market.nSym).map(s => (s, newest)) ++
      (0 until market.nSym).filter(s => market.isRevised(s, newest - 1)).map(s => (s, newest - 1))
    Landing.land(landDir, f"d$newest%05d.jsonl", market.payload(bars, newest))
    tr.count("stream.bars_landed", bars.size)
    tr.span("streaming.ingest")(query.processAllAvailable())
  }

  /** Exact keys, no duplicate key, newest (restated) values; stops the query. */
  def check(): Seq[String] = {
    val failedQuery = Option(query.exception.orNull).map(e => s"stream query failed: $e").toSeq
    query.stop()
    failedQuery ++ BarsCheck.target(spark, market, target, newest, withCompany = false)
  }
}

object Landing {
  /** Commit a payload file into a landing directory the way an uploader
    * does (write hidden, then rename), so the file source never sees a
    * partial file. Returns the commit time in epoch ms. */
  def land(dir: String, name: String, body: String): Long = {
    val tmp = Paths.get(dir, "." + name + ".tmp")
    Files.write(tmp, body.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }
}

/** Per-layer numbers of the streaming ingest from the progress events the
  * traced run collected: mean per non-empty micro-batch. */
object StreamLayer {
  def metrics(tr: Trace): Map[String, Double] = {
    val ps = tr.progress.asScala.filter(_.numInputRows > 0).toSeq
    val nb = ps.size.max(1)
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3 / nb
    Map(
      "stream.add_batch_s" -> dur("addBatch"), "stream.get_batch_s" -> dur("getBatch"),
      "stream.planning_s" -> dur("queryPlanning"), "stream.wal_commit_s" -> dur("walCommit"),
      "stream.rows_per_batch" -> tr.opTotal("stream.bars_landed") / nb)
  }
}

/** bars_stream: open loop. A generator thread lands one payload file
  * (one trading day for every symbol, plus restated bars of one distinct
  * history day) into the landing directory every `intervalMs`, on a
  * schedule that does not wait for the engine; the engine runs
  * `BarsStream.ingest` over a pre-populated target. Freshness of a file
  * runs from when it was due to land to the completion of the
  * micro-batch that upserted it, so generator lateness counts. */
final class BarsStreamWorkload(ctx: Ctx, nSym: Int, historyDays: Int, intervalMs: Int) extends Workload(ctx) {
  import ctx._
  private val maxFiles = math.min(historyDays, 400)
  private val market = new Market(seed, nSym, historyDays + maxFiles)
  private var query: StreamingQuery = _
  private var dir: String = _
  private def landDir = s"$dir/landing"
  private def target = s"$dir/tgt/stock_bars_stream"
  private def cpDir = s"$dir/stream_cp"
  /** file name -> (due ms, committed ms) */
  private val landed = mutable.LinkedHashMap[String, (Long, Long)]()
  private var backlogEnd = 0
  private var firstDue = 0L
  private var lastDone = 0L
  private var ingestedBars = 0L
  private var batches = 0

  def sizes = Seq("symbols" -> nSym.toString, "history_days" -> historyDays.toString,
    "history_bars" -> (nSym.toLong * historyDays).toString, "bars_per_file" -> s"$nSym+restated",
    "interval_ms" -> intervalMs.toString, "rate_files_per_s" -> f"${1000.0 / intervalMs}%.3f")

  /** File i (from 1) publishes day historyDays-1+i and restates the
    * revised share of history day i-1, which no other file touches. */
  private def fileBars(i: Int): Seq[(Int, Int)] = {
    val day = historyDays - 1 + i
    (0 until nSym).map(s => (s, day)) ++
      (0 until nSym).filter(s => market.isRevised(s, i - 1)).map(s => (s, i - 1))
  }

  def setup(d: String): Unit = {
    if (query != null) query.stop()
    dir = d
    Files.createDirectories(Paths.get(landDir))
    val history = for (s <- 0 until nSym; day <- 0 until historyDays) yield (s, day)
    Landing.land(landDir, "h00000.jsonl", market.payload(history, 0))
    query = BarsStream.ingest(spark, landDir, target, cpDir)
    query.processAllAvailable()
  }

  def run(deadlineNs: Long): Unit = {
    landed.clear()
    val startMs = System.currentTimeMillis()
    val endMs = startMs + (deadlineNs - System.nanoTime()) / 1000000
    firstDue = startMs
    tr.openWindow(0)
    val gen = new Thread(() => {
      var i = 1
      while (i <= maxFiles && startMs + (i - 1).toLong * intervalMs < endMs) {
        val due = startMs + (i - 1).toLong * intervalMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = f"d$i%05d.jsonl"
        val body = market.payload(fileBars(i), historyDays - 1 + i)
        val at = Landing.land(landDir, name, body)
        landed.synchronized { landed(name) = (due, at) }
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val landedNames = landed.synchronized(landed.keySet.toSet)
    backlogEnd = landedNames.size - processedFiles().keySet.intersect(landedNames).size
    // drain: everything landed must be ingested before the output check
    val drainUntil = System.nanoTime() + 60L * 1000000000L
    while (processedFiles().keySet.intersect(landedNames).size < landedNames.size &&
        System.nanoTime() < drainUntil && query.isActive) Thread.sleep(20)
    query.processAllAvailable()
    tr.closeWindow(0, (System.currentTimeMillis() - startMs) / 1e3)

    val batchDone = query.recentProgress.filter(_.numInputRows > 0).map { p =>
      p.batchId -> (java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue)
    }.toMap
    val processed = processedFiles()
    batches = processed.filter(kv => landedNames(kv._1)).values.toSet.size
    landed.foreach { case (name, (due, _)) =>
      attempted += 1
      processed.get(name).flatMap(batchDone.get) match {
        case Some(done) =>
          ingestedBars += fileBars(name.drop(1).takeWhile(_.isDigit).toInt).size
          lastDone = math.max(lastDone, done)
          record("freshness", (done - due) / 1e3)
        case None =>
          failed += 1
          System.err.println(s"[perfbench] landed file $name was not ingested")
      }
    }
  }

  /** Landed file name -> micro-batch id, from the file source's log in the
    * query checkpoint (compacted entries keep their batch ids). */
  private def processedFiles(): Map[String, Long] = {
    val log = Paths.get(cpDir, "sources", "0")
    if (!Files.isDirectory(log)) return Map.empty
    val entry = "\"path\":\"([^\"]+)\".*?\"batchId\":(\\d+)".r
    Files.list(log).iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      try Files.readAllLines(f).asScala.flatMap(l => entry.findFirstMatchIn(l).map(m =>
        m.group(1).substring(m.group(1).lastIndexOf('/') + 1) -> m.group(2).toLong))
      catch { case _: java.io.IOException => Nil } // a log file mid-write
    }.toMap
  }

  def check(): Seq[String] = {
    val errs = Seq.newBuilder[String]
    Option(query.exception.orNull).foreach(e => errs += s"stream query failed: $e")
    query.stop()
    import spark.implicits._
    val n = landed.size
    val newest = historyDays - 1 + n
    val revisedDays = (0 until n).toSet
    val expected = (for (s <- 0 until nSym; d <- 0 to newest) yield (market.symbols(s), market.ts(d),
      if (revisedDays(d)) market.close(s, d, newest) else market.close(s, d, d)))
      .toDF("stock", "timestamp", "close")
    val actual = spark.read.parquet(target).select("stock", "timestamp", "close")
    val rows = actual.count()
    val keys = actual.select("stock", "timestamp").distinct().count()
    val wrong = actual.except(expected).count()
    if (rows != nSym.toLong * (newest + 1)) errs += s"target holds $rows bars, expected ${nSym.toLong * (newest + 1)}"
    if (keys != rows) errs += s"target has ${rows - keys} duplicate (stock, timestamp) keys"
    if (wrong != 0) errs += s"$wrong target bars differ from the newest generated values"
    val maxTs = actual.agg(max("timestamp")).head.getString(0)
    if (maxTs != market.ts(newest)) errs += s"newest ingested bar $maxTs, expected ${market.ts(newest)}"
    val unprocessed = landed.keySet -- processedFiles().keySet
    if (unprocessed.nonEmpty) errs += s"${unprocessed.size} landed files missing from the stream's source log"
    errs.result()
  }

  def endToEnd = {
    val f = all("freshness")
    val (_, bytes) = dataFiles(target)
    val bars = nSym.toLong * (historyDays + landed.size)
    printTail("freshness", "freshness_tail_s")
    Seq(("op_p50_s", f.p50, "s"),
      ("items_per_s", ingestedBars / ((lastDone - firstDue) / 1e3).max(1e-3), "1/s"),
      ("stored_bytes_per_item", bytes.toDouble / bars, "B"))
  }

  def perLayer = {
    val nb = tr.progress.asScala.count(_.numInputRows > 0).max(1)
    val late = landed.values.map { case (due, at) => (at - due) / 1e3 }
    StreamLayer.metrics(tr) ++ Map(
      "stream.rows_per_batch" -> ingestedBars.toDouble / batches.max(1),
      "stream.sink_bytes_written_per_batch" -> tr.opTotal("task.bytes_written") / nb,
      "stream.generator_late_s" -> (if (late.isEmpty) 0.0 else late.max),
      "stream.backlog_files_end" -> backlogEnd.toDouble,
      "target.files" -> dataFiles(target)._1.toDouble)
  }
}
