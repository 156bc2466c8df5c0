package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The failure a [[CrashingLocalFileSystem]] injects. An `IOException`,
  * so Hadoop and Spark code passes it on as a real storage failure. */
class InjectedCrash(msg: String) extends java.io.IOException(msg)

/** The local filesystem with a crash switch. Mutating calls (create,
  * rename, delete, mkdirs) on paths under [[CrashingFs]]'s root are
  * numbered from 1; from the armed call number on, each one throws
  * [[InjectedCrash]] without touching the disk, as a crashed process
  * makes no further change. Reads always pass; the files opened under
  * the root are recorded ([[CrashingFs.opened]]). Installed through
  * `fs.file.impl`, the same hook perfbench's `CountingLocalFileSystem`
  * uses. */
class CrashingLocalFileSystem extends LocalFileSystem {
  import CrashingFs.step
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { step("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { step("delete", f); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { step("mkdirs", f); super.mkdirs(f, permission) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { CrashingFs.read(f); super.open(f, bufferSize) }
}

/** Crash an operation at each of its file-system steps.
  * [[CrashingFs.during]] installs [[CrashingLocalFileSystem]] for the
  * `file` scheme with the FileSystem cache off, so the engine's own
  * calls and Spark's tasks alike get it from every `getFileSystem`, and
  * removes it after.
  * [[CrashingFs.sweep]] counts the N mutating calls of a clean run, then
  * for every k in 1..N crashes a fresh copy at call k, re-runs it with no
  * fault and checks the result. */
object CrashingFs {
  private val calls = new AtomicLong()
  @volatile private var root: String = null
  @volatile private var crashAt = Long.MaxValue
  private val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def inRoot(f: Path): Option[String] = {
    val r = root
    val q = f.toUri.getPath
    if (r != null && (q == r || q.startsWith(r + "/"))) Some(q) else None
  }

  private[graft] def step(op: String, f: Path): Unit = inRoot(f).foreach { _ =>
    val n = calls.incrementAndGet()
    if (n >= crashAt) throw new InjectedCrash(s"injected crash at call $n ($op $f)")
  }

  private[graft] def read(f: Path): Unit = inRoot(f).foreach(reads.add)

  /** The paths opened for reading under the root during the last
    * [[during]] call, tasks' opens included. */
  def opened: Seq[String] = reads.toArray(Array.empty[String]).toSeq

  /** Runs `body` with the crash switch on for paths under `under`,
    * crashing at mutating call `k` (never when `k` is `Long.MaxValue`).
    * Returns the body's outcome and the number of mutating calls made
    * under `under` (counting the one that crashed). Waits for the
    * tasks of a crashed job to stop before it returns. */
  def during[T](spark: SparkSession, under: String, k: Long = Long.MaxValue)(
      body: => T): (Either[Throwable, T], Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val saved = keys.map(key => key -> Option(conf.get(key)))
    conf.set("fs.file.impl", classOf[CrashingLocalFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    calls.set(0); reads.clear(); crashAt = k
    root = new java.io.File(under).getCanonicalPath
    try {
      val out = try Right(body) catch { case e: Exception => Left(e) }
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (spark.sparkContext.statusTracker.getExecutorInfos
               .exists(_.numRunningTasks > 0) && System.nanoTime < deadline)
        Thread.sleep(10)
      (out, calls.get)
    } finally {
      root = null; crashAt = Long.MaxValue
      saved.foreach {
        case (key, Some(v)) => conf.set(key, v)
        case (key, None) => conf.unset(key)
      }
    }
  }

  /** The crash sweep. `fixture` is a directory holding the state the
    * operation starts from; each run gets a fresh copy of it under
    * `scratch`. `op` runs the operation on a copy; `check` asserts the
    * copy's state after a crash and a fault-free re-run, and after the
    * clean run. Returns N, the mutating calls of the clean run, after
    * requiring it to be positive: the switch really intercepts. */
  def sweep(spark: SparkSession, fixture: String, scratch: String)(
      op: String => Unit)(check: String => Unit): Long = {
    val clean = copyOf(fixture, s"$scratch/clean")
    val (ok, n) = during(spark, clean)(op(clean))
    ok.fold(e => throw e, identity)
    require(n > 0, "the crash switch saw no mutating call")
    check(clean)
    (1L to n).foreach { k =>
      val dir = copyOf(fixture, s"$scratch/k$k")
      during(spark, dir, k)(op(dir))
      try { op(dir); check(dir) } catch {
        case e: Throwable => throw new AssertionError(s"crash at call $k of $n: ${e.getMessage}", e)
      }
    }
    n
  }

  /** Copies the directory tree at `from` to `to`; returns `to`. */
  def copyOf(from: String, to: String): String = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(from); val dst = Paths.get(to)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
    to
  }
}
