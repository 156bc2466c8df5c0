package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** Write-side data layout for read-side skipping. At 100 TB the fastest
  * scan is the one that never happens: parquet keeps min/max stats per
  * row group and per file, and Spark's scan prunes row groups whose
  * stats exclude the pushed-down predicate — but only if the data is
  * clustered so the stats are tight. A table written in arrival order
  * has every file spanning the whole key domain (min≈global min,
  * max≈global max) and nothing ever skips.
  *
  * `writeRangeClustered` produces the layout that makes skipping real:
  * a range repartition on the cluster keys (one contiguous key slice
  * per output file — Spark samples the distribution, so skewed keys
  * still split evenly) plus an in-file sort (tight per-row-group stats
  * and run-length/dictionary-friendly pages). A point or range filter
  * on the leading cluster key then touches `1/numFiles` of the data.
  * LayoutSpec asserts the contract: per-file key ranges are pairwise
  * disjoint, so any key predicate selects at most one file per slice.
  */
object Layout {

  /** @param clusterCols leading column(s) queries filter on
    * @param numFiles    target file count (≈ table_bytes / 1 GB at scale) */
  def writeRangeClustered(df: DataFrame, path: String,
                          clusterCols: Seq[String], numFiles: Int,
                          mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(clusterCols.nonEmpty && numFiles > 0)
    df.repartitionByRange(numFiles, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
      .write.mode(mode).parquet(path)
  }

  /** Two-dimensional clustering via the Morton curve: range-partition +
    * sort on `z_order(a, b)` so per-file min/max stats are tight on
    * BOTH columns — a lexicographic sort on (a, b) leaves b spanning
    * its whole domain in every file, so only filters on `a` ever skip.
    * Columns must be non-negative integers (bucket/offset first); the
    * z key is dropped before writing. */
  def writeZOrdered(df: DataFrame, path: String,
                    colA: String, colB: String, numFiles: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(numFiles > 0)
    Reserved.requireAbsent(df, "writeZOrdered", Seq("_graft_z"))
    val z = graft.functions.Expressions.z_order(col(colA), col(colB))
    df.withColumn("_graft_z", z)
      .repartitionByRange(numFiles, col("_graft_z"))
      .sortWithinPartitions(col("_graft_z"))
      .drop("_graft_z")
      .write.mode(mode).parquet(path)
  }

  /** Bucketed-table write: the co-located join layout. Two fact tables
    * written with the same bucket count and key sort-merge join with
    * ZERO exchanges (asserted in BucketingSpec) — at 100 TB the big-big
    * join becomes a per-bucket local merge, no network. `saveAsTable`
    * is required: bucket metadata lives in the catalog, plain
    * `.parquet(path)` writes would lose it. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    buckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(buckets > 0)
    df.write.mode(mode).bucketBy(buckets, bucketCol).sortBy(bucketCol)
      .saveAsTable(table)
  }

  /** Swap/staging state lives at a DOT-PREFIXED SIBLING of the target
    * (`.dt=A.swap_old`, not `dt=A.swap_old`): Spark's file listing
    * skips hidden entries, so crash residue — or the live window of an
    * in-flight swap — inside a partitioned table root can never be
    * partition-discovered as a bogus partition (`dt='A.swap_old'`)
    * that silently duplicates rows on a whole-table read. */
  private def hiddenSibling(p: Path, suffix: String) =
    new Path(p.getParent, "." + p.getName + "." + suffix)
  private def swapOldPath(p: Path) = hiddenSibling(p, "swap_old")
  private def commitMarker(p: Path) = hiddenSibling(p, "swap_commit")
  private def compactTmpPath(p: Path) = hiddenSibling(p, "compact_tmp")

  /** True when `p` holds at least one COMMITTED data file. A bare
    * `fs.exists(dir)` probe is the wrong "does this table exist" test
    * for any writer that may have crashed mid-job: the parquet
    * committer creates the directory (and `_temporary/`) before any
    * file commits, so an existence probe routes the retry down the
    * read-the-existing-table path and `spark.read.parquet` dies on
    * 'unable to infer schema' — the table is wedged until manual
    * cleanup. Scans the listing lazily and stops at the first real
    * data file; `_`-prefixed (committer state, markers) and hidden
    * entries don't count. */
  def hasCommittedFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Boolean = {
    if (!fs.exists(p)) return false
    val qp = fs.makeQualified(p)
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next().getPath
      // a file only counts if NO ancestor inside p is committer/staging
      // state: `_temporary/` (FileOutputCommitter) AND any `.`- or
      // `_`-prefixed directory — dynamic partition overwrite stages
      // task-committed files under `.spark-staging-<job>/`, which
      // Spark's reader skips but a bare name check on the FILE would
      // count, reproducing the exact unreadable-table wedge this
      // helper exists to prevent. The walk must stop AT the table root
      // by Path equality against the QUALIFIED root: listFiles returns
      // scheme-qualified paths (file:/..., hdfs://host:port/...), so a
      // string-length comparison against an unqualified `p` would keep
      // walking into — and name-check — the table's own absolute path,
      // and any hidden-prefixed ancestor ABOVE the table would discount
      // every committed file (table treated as absent ⇒ first-write
      // overwrite of merged history downstream).
      val hiddenAncestor = Iterator.iterate(f.getParent)(_.getParent)
        .takeWhile(q => q != null && q != qp)
        .exists(q => q.getName.startsWith("_") || q.getName.startsWith("."))
      if (!hiddenAncestor && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        return true
    }
    false
  }

  /** Deterministic idempotency key of a batch's CONTENT: an
    * order-independent 64-bit digest (sum of per-row xxhash64 over
    * `cols`) plus the row count, hex-encoded partition-value-safe.
    * The incremental indexes derive their default batch tag from this,
    * so a blind retry of the same batch lands on the SAME tag and
    * dynamic partition overwrite replaces the first attempt instead of
    * double-appending it (ADVICE r10). Distinct batches collide only
    * on a 64-bit hash collision AND equal counts; identical content
    * from different batches is impossible under the indexes' globally-
    * unique-id contract (identical rows ⇒ identical ids ⇒ same batch). */
  private[ops] def contentTag(df: DataFrame, cols: Seq[String]): String = {
    // decimal sum: a long sum of 64-bit hashes overflows under ANSI
    val r = df.agg(
      sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("s"),
      count(lit(1)).as("n")).head()
    val s = if (r.isNullAt(0)) java.math.BigInteger.ZERO
      else r.getDecimal(0).toBigInteger
    s"auto_${s.toString(36)}_${r.getLong(1)}"
  }

  /** The staged dynamic-partition-overwrite cycle shared by
    * Runner.loadIncremental and IncrementalAgg.maintain: a merged frame
    * that lazily READS the live table cannot overwrite it directly
    * (Spark refuses, correctly), so it lands in a hidden staging
    * sibling first, is re-read, and only then dynamically overwrites
    * exactly its partitions. ONE implementation on purpose — the crash
    * windows of this cycle are subtle, and a drifted copy would get a
    * fix to one call site only. Returns rows written.
    *
    * Crash honesty: dynamic overwrite's job commit deletes each matched
    * live partition then renames the staged one in — a driver crash
    * between the two loses that partition's previous contents. Callers
    * must sequence their watermark/token updates AFTER this returns, so
    * a retry re-derives the lost partitions from the source; where the
    * source may not retain the overlap, a table format with atomic
    * commits is the right tool. */
  private[graft] def stagedDynamicOverwrite(spark: SparkSession,
      merged: DataFrame, path: String, partCol: String,
      stageSuffix: String): Long = {
    val p = new Path(path)
    val stage = hiddenSibling(p, stageSuffix)
    merged.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val staged = spark.read.parquet(stage.toString)
    val n = staged.count()
    staged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
    stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(stage, true)
    n
  }

  /** Repair the invariant after a crash mid-swap. Completion is
    * recorded by an explicit COMMIT MARKER, never inferred from the
    * live path existing — on stores whose rename is a copy (S3A) a
    * crash mid-rename leaves a PARTIAL live table, and an
    * existence-based recovery would delete the only complete copy.
    * States:
    *  - `.swap_old` + marker: the new table landed completely (the
    *    marker is written after the rename-in) → drop the old copy;
    *  - `.swap_old`, no marker: the replacement may be partial →
    *    discard whatever sits at the live path and restore the old
    *    table. Worst case this loses the IN-FLIGHT new table (the
    *    writer re-runs and re-creates it); it can never lose the
    *    previously committed one.
    * Idempotent; every swap-based writer calls it on entry, so the
    * recovery runs at the next batch/compaction without operator
    * action. */
  def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
    val old = swapOldPath(p)
    val mark = commitMarker(p)
    if (fs.exists(old)) {
      if (fs.exists(mark)) {
        fs.delete(old, true)
        fs.delete(mark, false)
      } else {
        if (fs.exists(p)) fs.delete(p, true) // possibly partial rename-in
        require(fs.rename(old, p), s"recover: could not restore $old to $p")
      }
    } else if (fs.exists(mark)) fs.delete(mark, false) // stale marker
  }

  /** Heal every crashed swap under a table root — REQUIRED at each
    * owning writer's entry point (the incremental indexes' append/probe
    * calls), not just inside maintenance ops. A fold/compact that died
    * mid-swap leaves the live dir (the table root for flat layouts, a
    * partition dir otherwise) renamed aside with no commit marker; an
    * entry point that then probes committed files reads "absent" and
    * silently drops history from its results, and an append that
    * recreates the dir hands its rows to the NEXT maintenance run's
    * [[recoverSwap]] to delete (restore-old discards the recreated dir
    * wholesale). Heals the root itself first (its swap state lives in
    * the PARENT directory, which no child listing inspects), then walks
    * the partition tree — [[partitionDirs]] heals each level as it
    * lists. Writers only: a reader racing the owning writer must use
    * [[committedReadPath]] instead. Idempotent; cost is one listing per
    * directory level. */
  def healTable(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit = {
    recoverSwap(fs, p)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory)
      partitionDirs(fs, p).foreach(q => healTable(fs, q))
  }

  /** The last-known-complete copy of the table at `p`, for READ-ONLY
    * callers. [[recoverSwap]] is write-shaped (deletes and renames), so
    * a reader racing the owning writer mid-swap must not run it — it
    * could rip directories out from under the in-flight swap. Marker
    * semantics mirror [[recoverSwap]]: with no pending swap, or with
    * the commit marker present, the live path IS the complete copy; a
    * pending `.swap_old` without a marker means the live path may be a
    * partial rename-in and the old copy is the committed one. If the
    * owner completes its swap between this probe and the read, the
    * returned old path is gone and the read fails loudly — never a
    * silent partial read, and repair stays with the writer. */
  def committedReadPath(fs: org.apache.hadoop.fs.FileSystem,
                        p: Path): Path = {
    val old = swapOldPath(p)
    if (fs.exists(old) && !fs.exists(commitMarker(p))) old else p
  }

  /** Replace the directory at `path` wholesale with what `write`
    * produces — the ONE crash-safe replace every rewrite-the-whole-dir
    * writer goes through (compactions, folds, the streaming sink, the
    * Runner's extract landing and full load). In order: heal a crashed
    * swap ([[recoverSwap]]), so `write` may read the live copy; clear
    * the hidden staging sibling (`.<name>.compact_tmp`, crash residue
    * that is never authoritative); run `write` with that staging path;
    * swap the staged copy in. A `write` that throws leaves the live
    * copy untouched and the residue for the next replace to clear.
    * Returns what `write` returns. */
  def replace[T](spark: SparkSession, path: String)(write: String => T): T = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, p)
    val tmp = compactTmpPath(p)
    fs.delete(tmp, true)
    val out = write(tmp.toString)
    swapInPlace(fs, tmp, p)
    out
  }

  /** Move the complete table staged at `tmp` into `p` (healed by the
    * caller): old aside → new in → write commit marker → drop old. Not
    * atomic — between the renames `p` is absent (readers fail loudly
    * rather than merging a partial table) — but crash-consistent at
    * every step: until the marker exists the old table is restorable,
    * and once it exists the new table is known complete. A crash can
    * lose at most the in-flight replacement, never the previously
    * committed table. Hadoop `FileSystem` throughout; correct on
    * HDFS/local and on copy-based renames (S3A), though a real table
    * format is the better tool where rename cost matters. */
  private def swapInPlace(fs: org.apache.hadoop.fs.FileSystem, tmp: Path,
                          p: Path): Unit = {
    val old = swapOldPath(p)
    if (fs.exists(p)) {
      require(fs.rename(p, old), s"swap: could not move $p aside")
      if (!fs.rename(tmp, p)) { // restore and fail loudly, nothing lost
        fs.rename(old, p)
        sys.error(s"swap: could not move $tmp into place; original restored")
      }
      val mark = commitMarker(p)
      fs.create(mark, true).close() // the new table is fully in place
      fs.delete(old, true)
      fs.delete(mark, false)
    } else {
      require(fs.rename(tmp, p), s"swap: could not move $tmp into place")
    }
  }

  /** Small-file compaction. Incremental/streaming writers accrete
    * files; at 100 TB a table of 4 KB files dies on driver file-listing
    * and per-file open cost long before any byte is scanned. Rewrites
    * the table into `ceil(bytes / targetFileBytes)` files through
    * [[replace]] — self-healing on entry, a complete copy of the table
    * always on disk. For a dt-partitioned table, compact per partition
    * directory. Returns the file count written. */
  def compact(spark: SparkSession, path: String,
              targetFileBytes: Long = 512L << 20): Int = {
    require(targetFileBytes > 0)
    replace(spark, path) { tmp =>
      val p = new Path(path)
      val bytes = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
      val nFiles =
        math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      spark.read.parquet(path).repartition(nFiles).write.parquet(tmp)
      nFiles
    }
  }

  /** Partition-scoped compaction for a hive-partitioned table (the
    * steady-state small-file maintenance of an incremental pipeline:
    * every micro-batch appends a few files to the current date's
    * partition). Only partitions whose parquet file count exceeds what
    * `targetFileBytes` calls for are rewritten — each through
    * [[compact]]'s stage-and-swap, so history partitions are never read,
    * and a crash leaves every partition either old or new, never half.
    * A partition directory holds no partition-column data (partitionBy
    * strips it), so the per-directory rewrite preserves the table
    * layout exactly. Returns the number of partitions compacted. */
  def compactPartitions(spark: SparkSession, path: String,
                        targetFileBytes: Long = 512L << 20): Int = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recurse to LEAF partition directories (multi-level layouts like
    // dt=.../hr=... hold their files one level down; compacting an
    // inner node would collapse the sub-partitioning)
    def leaves(dir: Path): Seq[Path] = {
      val sub = partitionDirs(fs, dir)
      if (sub.isEmpty) Seq(dir) else sub.flatMap(leaves)
    }
    val top = partitionDirs(fs, p)
    // an UNPARTITIONED table is its own single leaf (flat append-only
    // tables accrete small files exactly like a partition does): heal
    // any crashed root swap first — the root's swap state lives in its
    // PARENT, which no partitionDirs call inspects
    val leafDirs =
      if (top.isEmpty) { recoverSwap(fs, p); if (fs.exists(p)) Seq(p) else Nil }
      else top.flatMap(leaves)
    var done = 0
    leafDirs.foreach { part =>
      val files = fs.listStatus(part)
        .filter(_.getPath.getName.endsWith(".parquet"))
      val bytes = files.map(_.getLen).sum
      val needed = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      if (files.length > needed) {
        compact(spark, part.toString, targetFileBytes)
        done += 1
      }
    }
    done
  }

  /** Child partition directories of `dir`, self-healed. Swap/staging
    * state is hidden (".<part>.swap_old" etc.), so the visible
    * "="-entries ARE the partitions — but a crash mid-swap can leave
    * ONLY the hidden entry (the live dir renamed aside, the replacement
    * never landed), so crashed-swap partition names are also derived
    * from the hidden entries and healed with [[recoverSwap]] BEFORE the
    * caller sizes or reads anything; without this a lost dt=X would
    * stay lost. Stale ".compact_tmp" staging (crash between staged
    * write and swap) is deleted outright — it is never authoritative
    * and a concurrent recompaction could otherwise race on it. */
  private def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
                            dir: Path): Seq[Path] = {
    val HiddenState = """^\.(.+\=.*)\.(swap_old|swap_commit|compact_tmp)$""".r
    val entries = fs.listStatus(dir).map(_.getPath.getName)
    val hidden = entries.collect { case HiddenState(n, kind) => (n, kind) }
    hidden.collect { case (n, "compact_tmp") => n }.foreach { n =>
      fs.delete(new Path(dir, "." + n + ".compact_tmp"), true)
    }
    val names = (entries.filter(n =>
      !n.startsWith(".") && !n.startsWith("_") && n.contains("=")) ++
      hidden.collect { case (n, k) if k != "compact_tmp" => n }).distinct
    val parts = names.map(n => new Path(dir, n)).toSeq
    parts.foreach(q => recoverSwap(fs, q))
    parts.filter(q => fs.exists(q) && fs.getFileStatus(q).isDirectory)
  }

  /** Consolidate stale `batch_tag=` partitions into one folded
    * partition — the maintenance op that bounds PARTITION-count growth
    * of the tag-scoped incremental indexes ([[graft.ops.DedupIndex]],
    * [[graft.ops.ExactSubstrIndex]]): every append lands a fresh
    * `batch_tag` directory per outer partition, so after a year of
    * daily batches each outer dir holds ~365 children and file listing,
    * not scanning, dominates probe cost. Folding rewrites each outer
    * partition (the table root for a `batch_tag`-only layout, each
    * `band=`/`hb=` dir for two-level layouts) so that all tags NOT in
    * `keepTags` merge into `batch_tag=<foldedTag>`, kept tags are
    * copied through, and the whole outer dir lands via
    * [[replace]] — a crash leaves the old or the new layout, never
    * half.
    *
    * Contract: folding a batch FORFEITS its replay idempotency (its
    * rows no longer carry its tag, so a later replay of that batch
    * appends a duplicate copy) — keep every tag still inside the
    * caller's retry horizon. Returns outer dirs rewritten. */
  def foldBatchTags(spark: SparkSession, path: String,
                    keepTags: Set[String], foldedTag: String = "folded",
                    targetFileBytes: Long = 512L << 20): Int = {
    require(!keepTags.contains(foldedTag),
      "foldedTag cannot also be a kept tag")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, p)
    if (!fs.exists(p)) return 0
    def tagOf(n: String) = n.stripPrefix("batch_tag=")
    def findOuters(dir: Path): Seq[Path] = {
      val subs = partitionDirs(fs, dir)
      if (subs.exists(_.getName.startsWith("batch_tag="))) Seq(dir)
      else subs.flatMap(findOuters)
    }
    var done = 0
    findOuters(p).foreach { outer =>
      val tagDirs = partitionDirs(fs, outer)
        .filter(d => d.getName.startsWith("batch_tag=") &&
          hasCommittedFiles(fs, d)) // committer residue folds to nothing
      val (kept, stale) =
        tagDirs.partition(d => keepTags.contains(tagOf(d.getName)))
      // work only when something would actually merge: a stale set
      // that is empty, or already just the folded partition, is final
      if (stale.exists(d => tagOf(d.getName) != foldedTag)) {
        replace(spark, outer.toString) { tmp =>
          def rewrite(srcs: Seq[Path], destTag: String): Unit = {
            val bytes = srcs.map(s => fs.getContentSummary(s).getLength).sum
            val n = math.max(1L,
              (bytes + targetFileBytes - 1) / targetFileBytes).toInt
            spark.read.parquet(srcs.map(_.toString): _*).repartition(n)
              .write.parquet(s"$tmp/batch_tag=$destTag")
          }
          rewrite(stale, foldedTag)
          kept.foreach(k => rewrite(Seq(k), tagOf(k.getName)))
        }
        done += 1
      }
    }
    done
  }
}
