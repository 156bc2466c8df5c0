package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, tr: Trace, seed: Long, benchDir: String)

/** One benchmark workload: set-up, a measured loop, an output check, and
  * the numbers it reports. [[Main]] times `setup` once (on the run's
  * fresh JVM), runs `run` until the deadline, then `check`; the workload
  * reports its own end-to-end and per-layer numbers. */
abstract class Workload(val ctx: Ctx) {
  import ctx._
  var attempted = 0
  var failed = 0
  /** op kind -> latency samples */
  val samples = mutable.LinkedHashMap[String, Samples]()
  /** Seconds spent in timed operations, for throughput. */
  var timedSecs = 0.0

  def sizes: Seq[(String, String)]
  /** Build the state the operations run against, under `dir`. */
  def setup(dir: String): Unit
  def run(deadlineNs: Long): Unit
  /** Output check; each returned string is a failed check. */
  def check(): Seq[String]
  /** End-to-end metrics besides setup_s and heap_live_mb. */
  def endToEnd: Seq[(String, Double, String)]
  /** Per-layer metrics specific to this workload (traced run). */
  def perLayer: Map[String, Double]

  protected def record(kind: String, secs: Double): Unit =
    samples.getOrElseUpdate(kind, new Samples) += secs
  def all(kind: String): Samples = samples.getOrElse(kind, new Samples)

  /** Closed loop, one client: the next operation starts when the last one
    * ends. The first `warmOps` operations run code paths set-up did not
    * (on a cold JVM); they are attempted and checked but not timed.
    * Every other operation is timed (and, in the traced run, traced).
    * Runs at least `minOps` timed operations even past the deadline. */
  protected def closedLoop(deadlineNs: Long, warmOps: Int, minOps: Int)(kindOf: Int => String)(body: Int => Unit): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs || i < warmOps + minOps) {
      attempted += 1
      try {
        if (i < warmOps) body(i)
        else {
          val secs = tr.op(i)(body(i))
          record(kindOf(i), secs)
          timedSecs += secs
        }
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] operation $i failed: $e")
      }
      i += 1
    }
  }

  def dataFiles(path: String): (Int, Long) = DataFiles(spark, path)

  /** Print a kind's samples and its tail (with percentile and count). */
  protected def printTail(kind: String, label: String): Unit = {
    val s = all(kind)
    val (v, pct) = s.tail
    println(s"[perfbench] $kind samples (s): " + s.values.map(x => f"$x%.3f").mkString(" "))
    println(f"[perfbench] $label = $v%.4f s at p$pct%.1f of ${s.n} samples")
  }
}

object DataFiles {
  /** Data files (hidden and `_` files excluded) under `path`: (count, bytes). */
  def apply(spark: SparkSession, path: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0, 0L)
    val it = fs.listFiles(p, true)
    var n = 0; var b = 0L
    while (it.hasNext) {
      val f = it.next()
      val hidden = Iterator.iterate(f.getPath)(_.getParent)
        .takeWhile(q => q != null && q.toUri.getPath.startsWith(p.toUri.getPath) && q.toUri.getPath != p.toUri.getPath)
        .exists(q => q.getName.startsWith(".") || q.getName.startsWith("_"))
      if (!hidden) { n += 1; b += f.getLen }
    }
    (n, b)
  }
}
