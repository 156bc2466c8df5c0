package graft

import java.nio.file.Files
import graft.ops.Layout
import org.apache.spark.sql.functions._

/** The range-clustered layout contract: per-file key ranges are pairwise
  * disjoint (so key predicates skip all but one file slice), and the
  * filter that would do the skipping is actually pushed to the scan. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("hasCommittedFiles: crashed-write residue is not an existing table") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Files.createTempDirectory("committed").toString
    val t = new Path(root, "t")
    assert(!Layout.hasCommittedFiles(fs, t)) // absent
    // crash residue: directory with only committer state, no data
    fs.mkdirs(new Path(t, "_temporary/0/task/attempt"))
    fs.create(new Path(t, "_temporary/0/task/attempt/part-0.parquet"), true).close()
    fs.create(new Path(t, "_SUCCESS"), true).close()
    assert(!Layout.hasCommittedFiles(fs, t),
      "_temporary content and markers must not count as data")
    // one committed data file flips it — also nested (partitioned layout)
    fs.create(new Path(t, "dt=2020-01-01/part-0.parquet"), true).close()
    assert(Layout.hasCommittedFiles(fs, t))
  }

  test("hasCommittedFiles: hidden-prefixed ANCESTOR of the table root is not staging state") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = Files.createTempDirectory("committed2").toString
    // the table legitimately lives under hidden-prefixed directories
    // (e.g. a checkpoint root named _state, or a dotted app dir). Only
    // ancestors BELOW the table root may discount files; the walk must
    // stop AT the qualified root — listFiles returns file:/-qualified
    // paths, so an unqualified string-length stop condition would keep
    // walking up into `_state`/`.app` and report the table as absent.
    val t = new Path(root, "_state/.app/table")
    fs.mkdirs(new Path(t, "dt=2020-01-01"))
    fs.create(new Path(t, "dt=2020-01-01/part-0.parquet"), true).close()
    assert(Layout.hasCommittedFiles(fs, t),
      "committed data under a hidden-prefixed ancestor must count")
    // but hidden dirs INSIDE the table still discount their contents
    val t2 = new Path(root, "_state/.app/table2")
    fs.mkdirs(new Path(t2, ".spark-staging-1"))
    fs.create(new Path(t2, ".spark-staging-1/part-0.parquet"), true).close()
    assert(!Layout.hasCommittedFiles(fs, t2),
      "staged-only content must not count even under a hidden ancestor")
  }

  test("per-file key ranges are disjoint and filters reach the scan") {
    val dir = Files.createTempDirectory("layout").toString + "/t"
    val df = spark.range(10000).select(
      (col("id") * 2654435761L % 10007).as("k"), col("id").as("payload"))
    Layout.writeRangeClustered(df, dir, Seq("k"), numFiles = 8)

    val back = spark.read.parquet(dir)
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min("k").as("lo"), max("k").as("hi"))
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(ranges.length == 8, s"expected 8 files, got ${ranges.length}")
    ranges.sliding(2).foreach { case Array((_, _, hi1), (f2, lo2, _)) =>
      assert(lo2 > hi1, s"file ranges overlap: $hi1 >= $lo2 ($f2)")
    }
    assert(back.count() == 10000)

    val scan = back.filter(col("k") === ranges.head._3)
      .queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(k), EqualTo(k,"), scan)
  }

  test("z-order key: known interleavings, SQL parity") {
    import graft.functions.Expressions.z_order
    graft.ext.GraftExtensions.register(spark)
    assert(graft.functions.Kernels.zorder(3L, 5L) == 39L)
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (63L, 63L))
      .toDF("a", "b")
      .select(z_order(col("a"), col("b")).as("z"),
        expr("graft_zorder(a, b)").as("z_sql"))
      .as[(Long, Long)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L, 39L, 4095L))
    assert(out.forall(p => p._1 == p._2)) // SQL surface agrees
  }

  test("z-curve quadrants give BOTH dimensions tight file stats") {
    import graft.functions.Expressions.z_order
    // complete 64x64 grid: z is a bijection onto [0, 4096); slicing z
    // into 4 equal ranges yields exactly the four 32x32 quadrants, so a
    // point filter on EITHER dimension skips half the slices. A
    // lexicographic sort on a would leave b spanning 0..63 in every
    // slice — filters on b could never skip.
    val grid = spark.range(64).select(col("id").as("a"))
      .crossJoin(spark.range(64).select(col("id").as("b")))
    val boxes = grid
      .withColumn("slice", (z_order(col("a"), col("b")) / 1024).cast("int"))
      .groupBy("slice")
      .agg(min("a").as("a_lo"), max("a").as("a_hi"),
        min("b").as("b_lo"), max("b").as("b_hi"))
      .as[(Int, Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(boxes.length == 4)
    boxes.foreach { case (_, aLo, aHi, bLo, bHi) =>
      assert(aHi - aLo == 31 && bHi - bLo == 31, s"not a quadrant: $boxes")
    }
    val hitB = boxes.count { case (_, _, _, bLo, bHi) => bLo <= 17 && 17 <= bHi }
    assert(hitB == 2, s"b=17 should hit 2 of 4 slices, hit $hitB")
  }

  test("compact: collapses a many-file table, preserves content, swaps safely") {
    val dir = Files.createTempDirectory("compact").toString + "/t"
    val df = spark.range(5000).select(col("id"), (col("id") % 7).as("g"))
    df.repartition(40).write.parquet(dir) // 40 tiny files
    val before = spark.read.parquet(dir)
    assert(before.select(input_file_name()).distinct().count() == 40)
    val written = Layout.compact(spark, dir, targetFileBytes = 512L << 20)
    assert(written == 1)
    val after = spark.read.parquet(dir)
    assert(after.select(input_file_name()).distinct().count() == 1)
    assert(after.count() == 5000)
    assert(after.agg(sum("id")).head().getLong(0) == 4999L * 5000 / 2)
    // no stray staging/backup dirs left behind
    val parent = new java.io.File(dir).getParentFile.list().toSeq
    assert(parent == Seq("t"), s"leftovers: $parent")
  }

  test("compactPartitions: rewrites only oversized partitions, keeps layout") {
    val dir = Files.createTempDirectory("compactp").toString + "/t"
    // dt=A: 30 tiny files (the hot append partition); dt=B: already 1 file
    spark.range(3000).select(col("id"), lit("A").as("dt"))
      .repartition(30).write.partitionBy("dt").parquet(dir)
    spark.range(3000, 3100).select(col("id"), lit("B").as("dt"))
      .coalesce(1).write.mode("append").partitionBy("dt").parquet(dir)
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$dir/dt=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val bBefore = files("B")
    assert(files("A").size == 30)
    val done = graft.ops.Layout.compactPartitions(spark, dir,
      targetFileBytes = 512L << 20)
    assert(done == 1, s"expected only dt=A compacted, got $done")
    assert(files("A").size == 1)
    assert(files("B") == bBefore, "already-compact partition was rewritten")
    // table content and partition column survive intact
    val after = spark.read.parquet(dir)
    assert(after.count() == 3100)
    assert(after.filter(col("dt") === "A").count() == 3000)
    assert(after.filter(col("dt") === "B").agg(sum("id")).head().getLong(0) ==
      (3000L until 3100L).sum)
  }

  test("compactPartitions heals a crashed partition swap before sizing") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("compactrec").toString + "/t"
    spark.range(100).select(col("id"), lit("A").as("dt"))
      .repartition(5).write.partitionBy("dt").parquet(dir)
    val p = new Path(s"$dir/dt=A")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash state: the partition was renamed aside and the replacement
    // never landed — dt=A is GONE, the hidden .dt=A.swap_old holds the data
    assert(fs.rename(p, new Path(s"$dir/.dt=A.swap_old")))
    val done = graft.ops.Layout.compactPartitions(spark, dir,
      targetFileBytes = 512L << 20)
    // recovery restored dt=A (and it was over threshold, so compacted);
    // the hidden swap entry must never be treated as a partition
    assert(done == 1)
    assert(!fs.exists(new Path(s"$dir/.dt=A.swap_old")))
    val out = spark.read.parquet(dir)
    assert(out.count() == 100)
    assert(out.select("dt").distinct().collect().map(_.getString(0)).toSeq == Seq("A"))
  }

  test("compactPartitions: stale compaction staging is invisible to readers and cleaned") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("compacttmp").toString + "/t"
    spark.range(100).select(col("id"), lit("A").as("dt"))
      .coalesce(1).write.partitionBy("dt").parquet(dir)
    // crash state: a compaction staged its rewrite (possibly partial)
    // and died before the swap — the hidden staging dir is left behind
    spark.range(900).toDF("id").write.parquet(s"$dir/.dt=A.compact_tmp")
    // a whole-table read must see ONLY the real partition, not the
    // staged (and possibly half-written) copy as a bogus dt value
    val seen = spark.read.parquet(dir)
    assert(seen.count() == 100)
    assert(seen.select("dt").distinct().collect().map(_.getString(0)).toSeq == Seq("A"))
    // a maintenance rerun deletes the stale staging and proceeds
    graft.ops.Layout.compactPartitions(spark, dir, targetFileBytes = 512L << 20)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$dir/.dt=A.compact_tmp")))
    assert(spark.read.parquet(dir).count() == 100)
  }

  test("swap recovery: all three crash states self-heal on entry") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("swaprec").toString + "/t"
    spark.range(100).toDF("id").write.parquet(dir)
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldPath = new Path(p.getParent, "." + p.getName + ".swap_old")
    val markPath = new Path(p.getParent, "." + p.getName + ".swap_commit")
    // crash state A: live table moved aside, replacement never landed
    assert(fs.rename(p, oldPath))
    Layout.recoverSwap(fs, p)
    assert(spark.read.parquet(dir).count() == 100) // restored
    // crash state B: swap committed (marker present) but old survived
    spark.range(5).toDF("id").write.parquet(oldPath.toString)
    fs.create(markPath, true).close()
    Layout.compact(spark, dir) // entry recovery drops the stray copy
    assert(!fs.exists(oldPath))
    assert(!fs.exists(markPath))
    assert(spark.read.parquet(dir).count() == 100)
    // crash state C: NO marker — the live path may be a partial copy, so
    // the old table must win even though the live path exists
    assert(fs.rename(p, oldPath))
    spark.range(7).toDF("id").write.parquet(dir) // "partial" replacement
    Layout.recoverSwap(fs, p)
    assert(spark.read.parquet(dir).count() == 100, "old table must win")
    assert(!fs.exists(oldPath))
  }

  test("replace: a failed write leaves the live table, the next replace commits") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("replace").toString + "/t"
    spark.range(100).toDF("id").write.parquet(dir)
    var staged = ""
    intercept[IllegalStateException] {
      Layout.replace(spark, dir) { tmp =>
        staged = tmp
        spark.range(7).toDF("id").write.parquet(tmp) // partial rewrite...
        throw new IllegalStateException("writer died") // ...then a crash
      }
    }
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the live table is readable and unchanged; the residue is hidden
    assert(spark.read.parquet(dir).count() == 100)
    assert(new Path(staged).getName.startsWith("."))
    assert(fs.exists(new Path(staged)), "crash residue expected")
    // the next replace clears the stale staging (a plain write into it
    // would fail on an existing path) and commits
    val n = Layout.replace(spark, dir) { tmp =>
      assert(tmp == staged && !fs.exists(new Path(tmp)))
      spark.range(40).toDF("id").write.parquet(tmp)
      40
    }
    assert(n == 40)
    assert(spark.read.parquet(dir).count() == 40)
    assert(!fs.exists(new Path(staged)))
  }

  /** (id, p) rows of a table partitioned by the string column `p`. */
  private def idsByPart(dir: String): Seq[(Long, String)] =
    spark.read.parquet(dir).select("id", "p").as[(Long, String)]
      .collect().toSeq.sortBy(r => (Option(r._2), r._1))

  /** A table of `n` rows starting at `from`, partitioned by `p`, in
    * `files` files per partition. */
  private def writeParts(dir: String, from: Long, n: Long, parts: Seq[String],
                         files: Int = 1): Unit =
    spark.range(from, from + n).select(col("id"),
        element_at(typedLit(parts), (col("id") % parts.size + 1).cast("int")).as("p"))
      .repartition(files).write.partitionBy("p").parquet(dir)

  test("replacePartitions: a failed write leaves every live partition, the next call commits") {
    val dir = Files.createTempDirectory("publish").toString + "/t"
    writeParts(dir, 0, 30, Seq("a", "b", "c"))
    val before = idsByPart(dir)
    def files(part: String): Map[String, Long] =
      new java.io.File(s"$dir/p=$part").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val untouched = Seq("a", "c").map(q => q -> files(q)).toMap
    intercept[IllegalStateException] {
      Layout.replacePartitions(spark, dir) { stage =>
        writeParts(stage, 100, 10, Seq("b", "d")) // a partial merge...
        throw new IllegalStateException("writer died") // ...then a crash
      }
    }
    assert(idsByPart(dir) == before)
    // the next call replaces b, adds d and leaves a and c alone
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeParts(stage, 200, 6, Seq("b", "d"))
    }
    assert(n == 6)
    assert(idsByPart(dir) == (before.filter(_._2 != "b") ++
      (200L until 206L).map(i => (i, if (i % 2 == 0) "b" else "d")))
      .sortBy(r => (Option(r._2), r._1)))
    assert(Seq("a", "c").map(q => q -> files(q)).toMap == untouched,
      "a partition the write did not produce was rewritten")
    assert(new java.io.File(dir).list().filterNot(_.contains("_SUCCESS")).toSeq.sorted ==
      Seq("p=a", "p=b", "p=c", "p=d"), "stage or swap residue left in the root")
  }

  test("replacePartitions: a null partition value publishes") {
    val dir = Files.createTempDirectory("publishnull").toString + "/t"
    writeParts(dir, 0, 4, Seq("a", null))
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeParts(stage, 10, 3, Seq(null))
    }
    assert(n == 3)
    assert(new java.io.File(s"$dir/p=__HIVE_DEFAULT_PARTITION__").isDirectory)
    assert(idsByPart(dir) == Seq((0L, "a"), (2L, "a"), (10L, null), (11L, null), (12L, null))
      .sortBy(r => (Option(r._2), r._1)))
  }

  test("replacePartitions: the first publish creates a missing root") {
    val dir = Files.createTempDirectory("publishfirst").toString + "/t"
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeParts(stage, 0, 9, Seq("a", "b", "c"))
    }
    assert(n == 9)
    assert(idsByPart(dir).map(_._1).sorted == (0L until 9L))
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("p=a", "p=b", "p=c"))
  }

  test("replacePartitions: the returned count equals the rows on disk") {
    val dir = Files.createTempDirectory("publishcount").toString + "/t"
    writeParts(dir, 0, 50, Seq("a", "b"))
    // several files per partition: the count sums every staged footer
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeParts(stage, 1000, 777, Seq("b", "c", "d"), files = 4)
    }
    val published = spark.read.parquet(dir).filter(col("p") =!= "a").count()
    assert(new java.io.File(s"$dir/p=c").list().count(_.endsWith(".parquet")) > 1)
    assert(n == published && n == 777)
  }

  test("replacePartitions: leftover stage residue is cleared and never read") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("publishresidue").toString + "/t"
    writeParts(dir, 0, 10, Seq("a"))
    // a publish crashed after staging: its partitions sit in the stage
    writeParts(s"$dir/.publish_tmp", 500, 20, Seq("a", "z"))
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(spark.read.parquet(dir).count() == 10)
    assert(graft.io.Tables.openWritten(spark, dir, "p",
      org.apache.spark.sql.types.StringType)(_ => true).count() == 10)
    // a root holding only the residue holds no table
    val bare = Files.createTempDirectory("publishbare").toString + "/t"
    writeParts(s"$bare/.publish_tmp", 0, 3, Seq("a"))
    assert(!Layout.hasCommittedFiles(fs, new Path(bare)))
    val n = Layout.replacePartitions(spark, dir) { stage =>
      assert(!fs.exists(new Path(stage)), "the stage was not cleared")
      writeParts(stage, 900, 2, Seq("b"))
    }
    assert(n == 2)
    assert(idsByPart(dir) == ((0L until 10L).map(i => (i, "a")) ++
      Seq((900L, "b"), (901L, "b"))))
    assert(!fs.exists(new Path(s"$dir/.publish_tmp")))
  }

  /** (id, db, batch_tag) rows of a `db=/batch_tag=` table. */
  private def tagRows(dir: String): Seq[(Long, Int, String)] =
    spark.read.parquet(dir).select("id", "db", "batch_tag")
      .as[(Long, Int, String)].collect().toSeq.sorted

  /** `n` rows from `from` under one `tag`, spread over the `dbs`
    * buckets, in `files` files per leaf. */
  private def writeTags(dir: String, from: Long, n: Long, dbs: Seq[Int],
                        tag: String, files: Int = 1): Unit =
    spark.range(from, from + n).select(col("id"),
        element_at(typedLit(dbs), (col("id") % dbs.size + 1).cast("int")).as("db"),
        lit(tag).as("batch_tag"))
      .repartition(files).write.partitionBy("db", "batch_tag").parquet(dir)

  private def leafFiles(dir: String): Map[String, Long] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toMap

  test("replacePartitions: a new tag under a live db= leaves its sibling tags' rows") {
    val dir = Files.createTempDirectory("publishtag").toString + "/t"
    writeTags(dir, 0, 10, Seq(1, 2), "t1")
    val before = tagRows(dir)
    val sibling = leafFiles(s"$dir/db=1/batch_tag=t1")
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeTags(stage, 100, 4, Seq(1), "t2")
    }
    assert(tagRows(dir) == (before ++ (100L until 104L).map(i => (i, 1, "t2"))).sorted)
    assert(leafFiles(s"$dir/db=1/batch_tag=t1") == sibling,
      "a sibling tag under the touched db= was rewritten")
    assert(n == 4)
    assert(new java.io.File(s"$dir/db=1").list().toSeq.sorted ==
      Seq("batch_tag=t1", "batch_tag=t2"), "swap residue left under db=1")
  }

  test("replacePartitions: republishing a tag replaces only that leaf") {
    val dir = Files.createTempDirectory("publishretag").toString + "/t"
    writeTags(dir, 0, 10, Seq(1, 2), "t1")
    Layout.replacePartitions(spark, dir) { stage =>
      writeTags(stage, 10, 10, Seq(1, 2), "t2")
    }
    val keep = Seq("db=1/batch_tag=t1", "db=2/batch_tag=t1", "db=2/batch_tag=t2")
      .map(l => l -> leafFiles(s"$dir/$l")).toMap
    // the replay of t2 lands different rows, in db=1 only
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeTags(stage, 500, 3, Seq(1), "t2")
    }
    assert(n == 3)
    assert(tagRows(dir) == ((0L until 20L).map(i => (i, if (i % 2 == 0) 1 else 2,
      if (i < 10) "t1" else "t2")).filterNot(r => r._2 == 1 && r._3 == "t2") ++
      (500L until 503L).map(i => (i, 1, "t2"))).sorted)
    assert(keep.keys.map(l => l -> leafFiles(s"$dir/$l")).toMap == keep,
      "a leaf the replay did not produce was rewritten")
  }

  test("replacePartitions: a new db= lands by one rename") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("publishdb").toString + "/t"
    writeTags(dir, 0, 10, Seq(1, 2), "t1")
    // a complete stage built outside the table, so the write itself
    // makes no file-system call under the table
    val built = Files.createTempDirectory("publishbuilt").toString + "/s"
    writeTags(built, 100, 6, Seq(3), "t2", files = 2)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (out, calls) = CrashingFs.during(spark, dir) {
      Layout.replacePartitions(spark, dir) { stage =>
        require(fs.rename(new Path(built), new Path(stage)))
      }
    }
    assert(out == Right(6L))
    // the stage cleared before and after, and db=3 moved in whole
    assert(calls == 3, s"$calls mutating calls, not 3")
    assert(tagRows(dir) == ((0L until 10L).map(i =>
      (i, if (i % 2 == 0) 1 else 2, "t1")) ++ (100L until 106L).map(i => (i, 3, "t2"))).sorted)
  }

  test("replacePartitions: the returned count equals the rows on disk at depth 2") {
    val dir = Files.createTempDirectory("publishcount2").toString + "/t"
    writeTags(dir, 0, 40, Seq(1, 2), "t1")
    // a live db= and a new one, several files per leaf
    val n = Layout.replacePartitions(spark, dir) { stage =>
      writeTags(stage, 1000, 555, Seq(2, 3), "t2", files = 3)
    }
    assert(new java.io.File(s"$dir/db=2/batch_tag=t2").list().count(_.endsWith(".parquet")) > 1)
    val published = spark.read.parquet(dir).filter(col("batch_tag") === "t2").count()
    assert(n == published && n == 555)
  }

  test("partitionDirs clears .spark-staging residue: a DigestIndex store is clean after the next append") {
    import graft.ops.DigestIndex
    def docs(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
    // (first arrivals, groups, residue left) of a history append, an
    // optional planted crashed dynamic-overwrite stage, then a batch
    def run(idx: String, plant: Boolean) = {
      DigestIndex.appendAndDedup(spark,
        docs(Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))), idx, "text", "id",
        batchTag = Some("h"))
      val staging = new java.io.File(s"$idx/digests/.spark-staging-x")
      if (plant) {
        spark.range(3).select(lit("planted").as("digest"), col("id"), lit(5L).as("n"))
          .write.parquet(s"$staging/db=1/batch_tag=old")
        assert(staging.exists())
      }
      val firsts = DigestIndex.appendAndDedup(spark,
        docs(Seq((10L, "beta"), (11L, "gamma"), (12L, "gamma"))), idx, "text", "id",
        batchTag = Some("b")).select("id").as[Long].collect().toSeq.sorted
      val groups = DigestIndex.currentGroups(spark, idx)
        .as[(Long, Long)].collect().toSeq.sorted
      (firsts, groups, staging.exists())
    }
    val clean = run(Files.createTempDirectory("stagingclean").toString + "/idx", plant = false)
    val planted = run(Files.createTempDirectory("stagingplanted").toString + "/idx", plant = true)
    assert(!planted._3, ".spark-staging-x is still in the store after the append")
    assert(planted == clean)
    assert(clean._1 == Seq(11L))
  }

  test("writeZOrdered: preserves rows across the requested file count") {
    val dir = Files.createTempDirectory("zlayout").toString + "/t"
    val grid = spark.range(64).select(col("id").as("a"))
      .crossJoin(spark.range(64).select(col("id").as("b")))
    Layout.writeZOrdered(grid, dir, "a", "b", numFiles = 4)
    val back = spark.read.parquet(dir)
    assert(back.count() == 4096)
    assert(back.columns.toSeq.sorted == Seq("a", "b")) // z key dropped
    assert(back.select(input_file_name()).distinct().count() == 4)
  }
}
