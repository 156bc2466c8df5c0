package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Benchmark entry point. Usage (normally through run.py):
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --bench-dir <perfbench dir> --cores <n>
  * Prints sizes and human-readable lines, then one JSON result line. */
object Main {
  val workloads: Seq[String] = Seq("bars_incremental", "analytics_curate", "curate_incremental", "bars_stream")

  /** Per-layer metrics of the traced run, with units. Every workload
    * reports every one; a layer a workload never calls reads 0. */
  val perLayerUnits: Seq[(String, String)] = Seq(
    "io.extract_s" -> "s", "io.transport_s" -> "s", "io.pages" -> "count", "io.landed_bytes" -> "B",
    "load.self_s" -> "s", "load.rows_written" -> "count", "load.write_amp" -> "ratio",
    "load.bytes_written" -> "B", "load.files_written" -> "count", "load.bytes_read" -> "B",
    "fs.read_ops" -> "count", "fs.write_ops" -> "count", "fs.bytes_read" -> "B", "fs.bytes_written" -> "B",
    "target.files" -> "count",
    "checkpoint.get_s" -> "s", "checkpoint.save_s" -> "s", "audit.log_s" -> "s",
    "audit.calls" -> "count", "audit.files" -> "count",
    "plan.analysis_s" -> "s", "plan.optimizer_s" -> "s", "plan.planning_s" -> "s", "plan.queries" -> "count",
    "query.exchanges" -> "count", "scan.files_read" -> "count", "scan.files_pruned_frac" -> "ratio",
    "scan.rows_read_per_row_returned" -> "ratio",
    "analytics.point_query_p50_s" -> "s", "analytics.range_query_p50_s" -> "s",
    "analytics.full_analysis_p50_s" -> "s", "enrich.build_s" -> "s", "windows.build_s" -> "s",
    "scan.open_s" -> "s", "query.exec_s" -> "s", "sql.script_s" -> "s",
    "quality.filter_s" -> "s", "digest.append_s" -> "s", "dedup.append_s" -> "s", "contam.scan_s" -> "s",
    "kept.write_s" -> "s", "dedup.candidate_pairs" -> "count", "dedup.pairs_confirmed_frac" -> "ratio",
    "index.files" -> "count", "index.files_read_per_batch" -> "count",
    "stream.add_batch_s" -> "s", "stream.get_batch_s" -> "s", "stream.planning_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.rows_per_batch" -> "count",
    "stream.sink_bytes_written_per_batch" -> "B", "stream.generator_late_s" -> "s",
    "stream.backlog_files_end" -> "count", "stream.op_p50_s" -> "s", "stream.ingest_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_run_s" -> "s", "spark.wait_s" -> "s",
    "spark.core_util" -> "ratio", "spark.shuffle_bytes" -> "B", "spark.spill_bytes" -> "B",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "trace.glue_frac" -> "ratio", "trace.op_p50_s" -> "s", "trace.ops" -> "count")

  /** Span name -> per-layer self-time metric. */
  private val selfMetric = Map(
    "io.extract" -> "io.extract_s", "io.transport" -> "io.transport_s", "pipeline.load" -> "load.self_s",
    "state.checkpoint.get" -> "checkpoint.get_s", "state.checkpoint.save" -> "checkpoint.save_s",
    "meta.audit.log" -> "audit.log_s", "ops.quality" -> "quality.filter_s", "ops.digest" -> "digest.append_s",
    "ops.dedup" -> "dedup.append_s", "ops.contam" -> "contam.scan_s", "io.write_kept" -> "kept.write_s",
    "ops.enrich" -> "enrich.build_s", "ops.windows" -> "windows.build_s", "query.exec" -> "query.exec_s",
    "io.scan_open" -> "scan.open_s", "pipeline.sql" -> "sql.script_s", "streaming.ingest" -> "stream.ingest_s")

  /** Per-op counters reported as means over the ops that record them. */
  private val opCounters = Seq("io.pages", "io.landed_bytes", "audit.calls", "fs.read_ops", "fs.write_ops",
    "fs.bytes_read", "fs.bytes_written", "plan.analysis_s", "plan.optimizer_s", "plan.planning_s", "plan.queries", "query.exchanges",
    "scan.files_read", "spark.jobs", "spark.tasks", "spark.task_run_s", "spark.shuffle_bytes",
    "spark.spill_bytes", "jvm.gc_s", "jvm.jit_s", "dedup.candidate_pairs")

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    require(workloads.contains(name), s"unknown workload $name; one of ${workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt
    System.setProperty("spark.local.dir", s"$work/spark-local")
    System.setProperty("spark.sql.warehouse.dir", s"$work/warehouse")
    System.setProperty("spark.ui.enabled", "false")
    if (trace) System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(what: String): Unit =
      println(f"[perfbench] phase $what at ${(System.currentTimeMillis() - jvmStart) / 1e3}%.2f s")
    val spark = graft.Graft.session(s"local[$cores]", "perfbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Trace(spark, trace)
    val ctx = Ctx(spark, tr, seed, opt("bench-dir"))
    val w = make(name, ctx)
    println(s"[perfbench] workload=$name seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} cores=$cores")
    println("[perfbench] sizes: " + w.sizes.map { case (k, v) => s"$k=$v" }.mkString(" "))
    phase("session ready")

    val setupS = {
      val t0 = System.nanoTime()
      w.setup(s"$work/run")
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[perfbench] setup_s = $setupS%.4f s (one set-up, on a cold JVM)")

    val t0 = System.nanoTime()
    w.run(t0 + seconds * 1000000000L)
    val measured = (System.nanoTime() - t0) / 1e9
    phase("measured")
    val errs = try w.check() catch { case e: Exception => Seq(s"output check threw $e") }
    errs.foreach(e => println(s"[perfbench] CHECK FAILED: $e"))
    tr.close()
    phase("checked")

    val e2e = {
      val m = w.endToEnd
      // live heap: the least used heap over a few full collections, so a
      // collection racing Spark's background threads does not count
      spark.catalog.clearCache()
      val heap = (1 to 2).map { _ =>
        System.gc(); Thread.sleep(100)
        java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min
      Seq(("setup_s", setupS, "s")) ++ m ++ Seq(("heap_live_mb", heap, "MB"))
    }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        // the traced run's own end-to-end numbers: minus the untraced
        // run's, they give the tracing overhead
        e2e.foreach { case (k, v, u) => println(f"[perfbench] traced-run $k%-25s $v%14.6f $u") }
        val pl = layerMetrics(tr, w, cores) + ("trace.op_p50_s" -> e2e.find(_._1 == "op_p50_s").get._2)
        val out = Paths.get(".bench_trace", s"$name-seed$seed.jsonl")
        Files.createDirectories(out.getParent)
        tr.dump(out)
        println(s"[perfbench] spans and per-op counters written to $out")
        perLayerUnits.map { case (k, u) => (k, pl.getOrElse(k, 0.0), u) }
      }
    metrics.foreach { case (k, v, u) => println(f"[perfbench] $k%-36s $v%14.6f $u") }
    println(f"[perfbench] measured $measured%.2f s, ${w.attempted} operations, ${w.failed} failed")
    spark.stop()
    phase("stopped")
    println(s"""{"correct": ${errs.isEmpty}, "attempted": ${w.attempted}, "failed": ${w.failed}, "metrics": ${Json.metrics(metrics)}}""")
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "bars_incremental" => new BarsIncremental(ctx, nSym = 250, historyDays = 120)
    case "analytics_curate" => new AnalyticsCurate(ctx, nSym = 250, historyDays = 120, setupRounds = 1,
      windowDays = 60, historyDocs = 300, batchDocs = 100)
    case "curate_incremental" => new CurateIncremental(ctx, historyDocs = 300, batchDocs = 100)
    case "bars_stream" => new BarsStreamWorkload(ctx, nSym = 1000, historyDays = 10, intervalMs = 1500)
  }

  private def layerMetrics(tr: Trace, w: Workload, cores: Int): Map[String, Double] = {
    val n = tr.tracedOps.size.max(1)
    val wall = tr.tracedOps.map(_._2).sum
    val self = tr.selfByName()
    val taskRun = tr.opTotal("spark.task_run_s")
    val base = opCounters.map(k => k -> tr.opMean(k)).toMap ++
      self.collect { case (k, v) if selfMetric.contains(k) => selfMetric(k) -> v } ++ Map(
        "spark.wait_s" -> (wall - taskRun / cores) / n,
        "spark.core_util" -> (if (wall > 0) taskRun / (wall * cores) else 0.0),
        "trace.glue_frac" -> (if (wall > 0) self.getOrElse("op", 0.0) * n / wall else 0.0),
        "dedup.pairs_confirmed_frac" ->
          tr.opTotal("dedup.pairs_confirmed") / tr.opTotal("dedup.candidate_pairs").max(1),
        "trace.ops" -> tr.tracedOps.size.toDouble)
    val all = base ++ w.perLayer
    val unknown = all.keySet -- perLayerUnits.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the declared list: $unknown")
    all
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
  }
}
