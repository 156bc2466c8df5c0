package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer, recorded from outside the engine. */
final case class Span(id: Int, op: Int, name: String, parent: Int, t0: Long, t1: Long) {
  def dur: Double = (t1 - t0) / 1e9
}

/** Outside-in tracing for the traced run. Spans wrap the benchmark's own
  * calls into each layer; the engine is observed only through listeners
  * the benchmark registers (scheduler, SQL query execution, streaming
  * progress) and the Hadoop FileSystem statistics. Everything is kept in
  * memory and summarised (and optionally dumped) when the run ends.
  *
  * With tracing off, `span` and `op` are pass-throughs and no listener
  * is registered, so the untraced run measures the engine alone. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  @volatile private var curOp = -1
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  /** op -> counter name -> value */
  private val perOp = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  /** span id -> counter name -> value (scheduler counters of jobs the span submitted) */
  private val perSpan = new ConcurrentHashMap[Int, mutable.Map[String, Double]]()
  private val jobOwner = scala.collection.concurrent.TrieMap[Int, (Int, Int)]() // job -> (op, span)
  private val stageJob = scala.collection.concurrent.TrieMap[Int, Int]()
  /** Classifies a written path into a layer label for `write.<label>.*` counters. */
  @volatile var writeLabel: String => String = _ => "other"
  val tracedOps = mutable.ArrayBuffer[(Int, Double)]() // (op, wall seconds)

  private def bump(m: ConcurrentHashMap[Int, mutable.Map[String, Double]], k: Int,
                   name: String, v: Double): Unit = {
    val c = m.computeIfAbsent(k, _ => mutable.Map[String, Double]())
    c.synchronized { c(name) = c.getOrElse(name, 0.0) + v }
  }
  def count(name: String, v: Double): Unit = if (enabled && curOp >= 0) bump(perOp, curOp, name, v)

  /** Time `body` as a call into layer `name`, as a child of the
    * innermost open span on this thread. Jobs it submits carry the span
    * id as a local property, so scheduler counters attribute to it. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || curOp < 0) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val prevProp = sc.getLocalProperty("perfbench.span")
      sc.setLocalProperty("perfbench.span", s"$curOp:$id")
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, curOp, name, outer.headOption.getOrElse(0), t0, System.nanoTime()))
        stack.set(outer)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  private def fsStats(): (Double, Double, Double, Double) = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    (CountingLocalFileSystem.reads.get.toDouble, CountingLocalFileSystem.writes.get.toDouble,
      all.map(_.getBytesRead.toDouble).sum, all.map(_.getBytesWritten.toDouble).sum)
  }
  private def jvmStats(): (Double, Double) = {
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
      .getTotalCompilationTime / 1e3
    (gc, jit)
  }

  /** Run operation `i`. In the traced run the op gets a root span,
    * FS/JVM counter deltas, and a listener-bus drain after its end time
    * is taken (so the drain is never billed to the op). Returns the op's
    * wall time. */
  def op(i: Int)(body: => Unit): Double = {
    if (!enabled) {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    } else {
      val (r0, w0, br0, bw0) = fsStats(); val (g0, j0) = jvmStats()
      curOp = i
      val t0 = System.nanoTime()
      var wall = 0.0
      try span("op")(body)
      finally {
        wall = (System.nanoTime() - t0) / 1e9
        val (r1, w1, br1, bw1) = fsStats(); val (g1, j1) = jvmStats()
        bump(perOp, i, "fs.read_ops", r1 - r0); bump(perOp, i, "fs.write_ops", w1 - w0)
        bump(perOp, i, "fs.bytes_read", br1 - br0); bump(perOp, i, "fs.bytes_written", bw1 - bw0)
        bump(perOp, i, "jvm.gc_s", g1 - g0); bump(perOp, i, "jvm.jit_s", j1 - j0)
        org.apache.spark.PerfbenchBus.drain(sc)
        curOp = -1
        tracedOps.synchronized { tracedOps += ((i, wall)) }
      }
      wall
    }
  }

  /** Open a window op for the open-loop workload: everything the engine
    * does until `closeWindow` counts to op `i`, whatever thread runs it. */
  def openWindow(i: Int): Unit = if (enabled) curOp = i
  def closeWindow(i: Int, wall: Double): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    curOp = -1
    tracedOps.synchronized { tracedOps += ((i, wall)) }
  }

  private val schedListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val owner = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
        .map { s => val Array(o, sp) = s.split(":"); (o.toInt, sp.toInt) }
        .getOrElse((curOp, 0))
      if (owner._1 >= 0) {
        jobOwner.put(e.jobId, owner)
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
        bump(perOp, owner._1, "spark.jobs", 1)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val owner = stageJob.get(e.stageId).flatMap(jobOwner.get)
      val m = e.taskMetrics
      if (owner.isDefined && m != null) {
        val (o, sp) = owner.get
        def both(n: String, v: Double): Unit = {
          bump(perOp, o, n, v); if (sp > 0) bump(perSpan, sp, n, v)
        }
        both("spark.tasks", 1)
        both("spark.task_run_s", m.executorRunTime / 1e3)
        both("spark.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        both("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        both("task.bytes_read", m.inputMetrics.bytesRead.toDouble)
        both("task.records_read", m.inputMetrics.recordsRead.toDouble)
        both("task.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        both("task.records_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }
  }

  private object sqlListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val o = curOp
      if (o < 0) return
      def add(n: String, v: Double): Unit = bump(perOp, o, n, v)
      add("plan.queries", 1)
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plan.analysis_s", phase("analysis"))
      add("plan.optimizer_s", phase("optimization"))
      add("plan.planning_s", phase("planning"))
      val plan = qe.executedPlan
      def metric(p: SparkPlan, k: String): Double = p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      collect(plan) { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.foreach { s =>
        add("scan.files_read", metric(s, "numFiles"))
        add("scan.rows_read", metric(s, "numOutputRows"))
        add("scan.scans", 1)
      }
      add("query.exchanges", collect(plan) { case e: ShuffleExchangeLike => e }.size)
      collect(plan) { case w: DataWritingCommandExec => w }.foreach { w =>
        val label = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => writeLabel(i.outputPath.toString)
          case _ => "other"
        }
        val ms = w.cmd.metrics
        def wm(k: String) = ms.get(k).map(_.value.toDouble).getOrElse(0.0)
        add(s"write.$label.files", wm("numFiles"))
        add(s"write.$label.rows", wm("numOutputRows"))
        add(s"write.$label.bytes", wm("numOutputBytes"))
      }
      // near-dup verification (DedupIndex): the engine pins the estimated
      // pairs with a checkpoint whose plan scans the cached candidate
      // pairs (id_a, id_b) and applies the est_jaccard threshold in its
      // top join, so the cached scan's rows are the candidates and the
      // top join's rows the confirmed pairs
      if (plan.output.exists(_.name == "est_jaccard")) {
        val cand = collect(plan) {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
            if s.output.map(_.name) == Seq("id_a", "id_b") => s
        }.headOption
        val top = collect(plan) { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.headOption
        for (c <- cand; t <- top) {
          add("dedup.candidate_pairs", metric(c, "numOutputRows"))
          add("dedup.pairs_confirmed", metric(t, "numOutputRows"))
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (curOp >= 0) progress.add(e.progress)
  }

  if (enabled) {
    sc.addSparkListener(schedListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def close(): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(schedListener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Span self time: its duration minus the time its direct children cover. */
  def selfTimes(): Map[Int, (Span, Double)] = {
    val all = spans.asScala.toSeq
    val childSum = all.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.dur).sum }
    all.map(s => s.id -> (s, s.dur - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Sum of counter `name` over the traced ops (those `ops` accepts). */
  def opTotal(name: String, ops: Int => Boolean = _ => true): Double =
    tracedOps.collect { case (o, _) if ops(o) =>
      Option(perOp.get(o)).map(_.getOrElse(name, 0.0)).getOrElse(0.0) }.sum

  /** Sum of a scheduler counter over every span with the given name. */
  def spanTotal(spanName: String, name: String): Double =
    spans.asScala.filter(_.name == spanName)
      .map(s => Option(perSpan.get(s.id)).map(_.getOrElse(name, 0.0)).getOrElse(0.0)).sum

  /** Mean of counter `name` over the traced ops that recorded it, so a
    * layer only some op kinds call is averaged over those ops. */
  def opMean(name: String): Double = {
    val vs = tracedOps.flatMap { case (o, _) => Option(perOp.get(o)).flatMap(_.get(name)) }
    if (vs.isEmpty) 0.0 else vs.sum / vs.size
  }

  /** Self time of every span name, in seconds, per traced op that has
    * such a span. */
  def selfByName(): Map[String, Double] =
    selfTimes().values.groupBy(_._1.name).map { case (k, v) =>
      k -> v.map(_._2).sum / v.map(_._1.op).toSet.size
    }

  /** Write every span and per-op counter as JSON lines. */
  def dump(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      sb ++= s"""{"span":${s.id},"op":${s.op},"name":${Json.str(s.name)},"parent":${s.parent},"start_ns":${s.t0},"end_ns":${s.t1}}\n"""
    }
    perOp.asScala.toSeq.sortBy(_._1).foreach { case (o, m) =>
      val kv = m.synchronized(m.toSeq.sortBy(_._1)).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      sb ++= s"""{"op":$o,"counters":{${kv.mkString(",")}}}\n"""
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
