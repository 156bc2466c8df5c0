package graft

import org.apache.spark.sql.functions._
import graft.meta.AuditLog
import graft.ops.{DedupIndex, DigestIndex}
import graft.pipeline.{IncrementalAgg, Runner}
import graft.state.Checkpoint

/** Crash the write path at every file-system step ([[CrashingFs]]):
  * for each mutating call k of a clean run, crash a fresh copy of the
  * starting state at k, re-run the operation with no fault, and check
  * that the result equals the clean run's. */
class CrashSweepSpec extends SparkSpec {
  import spark.implicits._

  private def ts(d: Int) = s"2025-10-0${d}T10:00:00Z"
  private val keys = Seq("stock", "timestamp")
  private def runner(root: String) = new Runner(spark,
    new Checkpoint(spark, s"$root/cp"), new AuditLog(spark, s"$root/audit"))
  private def bars(rows: Seq[(String, String, Double)]) =
    rows.toDF("stock", "timestamp", "close")

  test("an incremental round crashed at any file-system step re-runs to the clean result") {
    import org.apache.hadoop.fs.Path
    val dir = tmpDir()
    val fixture = s"$dir/fixture"
    val history = for (d <- 1 to 2; s <- Seq("AAPL", "TSLA"))
      yield (s, ts(d), 100.0 * d + s.length)
    runner(fixture).loadIncremental(bars(history), s"$fixture/bars", "bars",
      keys, "timestamp")
    // one restated partition (the watermark day) and one new one
    val batch = Seq(("TSLA", ts(2), 99.0), ("AAPL", ts(3), 301.0),
      ("TSLA", ts(3), 302.0))
    val want = (history.filterNot(r => r._1 == "TSLA" && r._2 == ts(2)) ++ batch)
      .sortBy(r => (r._2, r._1))
    val n = CrashingFs.sweep(spark, fixture, s"$dir/runs") { root =>
      runner(root).loadIncremental(bars(batch), s"$root/bars", "bars",
        keys, "timestamp")
    } { root =>
      // the same keys, no duplicate key, the newest close
      val got = spark.read.parquet(s"$root/bars")
        .select("stock", "timestamp", "close")
        .as[(String, String, Double)].collect().sortBy(r => (r._2, r._1)).toSeq
      assert(got == want)
      assert(new Checkpoint(spark, s"$root/cp").get("bars").contains(ts(3)),
        "the watermark is not at the newest landed bar")
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val left = fs.listStatus(new Path(s"$root/bars")).map(_.getPath.getName)
        .filter(n => n == ".publish_tmp" || n.endsWith(".swap_old") ||
          n.endsWith(".swap_commit"))
      assert(left.isEmpty, s"residue left in the target: ${left.mkString(", ")}")
    }
    info(s"$n mutating calls swept")
  }

  test("a rollup maintenance with a batch token crashed at any step re-runs to the clean result") {
    val dir = tmpDir()
    val fixture = s"$dir/fixture"
    def batch(rows: Seq[(String, String, Double)]) =
      rows.toDF("stock", "d", "v").withColumn("d", to_date($"d"))
    def maintain(root: String, rows: Seq[(String, String, Double)], id: Long) =
      IncrementalAgg.maintain(spark, batch(rows), s"$root/rollup", "d",
        Seq("stock"), "v", batchId = Some(id), appId = "app")
    maintain(fixture, Seq(("TSLA", "2025-10-01", 10.0),
      ("TSLA", "2025-10-02", 20.0), ("AAPL", "2025-10-02", 5.0)), 0)
    // touches a stored partition (a stored group and a new one) and
    // adds a partition
    val next = Seq(("TSLA", "2025-10-02", 30.0), ("MSFT", "2025-10-03", 7.0),
      ("TSLA", "2025-10-03", 1.0))
    // (dt, stock, n, sum, min, max, token batch)
    val want = Seq(
      ("2025-10-01", "TSLA", 1L, 10.0, 10.0, 10.0, 0L),
      ("2025-10-02", "AAPL", 1L, 5.0, 5.0, 5.0, 0L),
      ("2025-10-02", "TSLA", 2L, 50.0, 20.0, 30.0, 1L),
      ("2025-10-03", "MSFT", 1L, 7.0, 7.0, 7.0, 1L),
      ("2025-10-03", "TSLA", 1L, 1.0, 1.0, 1.0, 1L))
    val n = CrashingFs.sweep(spark, fixture, s"$dir/runs") { root =>
      maintain(root, next, 1)
    } { root =>
      val r = spark.read.parquet(s"$root/rollup")
      assert(r.filter($"last_batch_app" =!= "app").isEmpty)
      val got = r.select($"dt".cast("string"), $"stock", $"n",
          $"sum_v".cast("double"), $"min_v", $"max_v", $"last_batch")
        .as[(String, String, Long, Double, Double, Double, Long)]
        .collect().sortBy(g => (g._1, g._2)).toSeq
      assert(got == want)
    }
    info(s"$n mutating calls swept")
  }

  test("a tagged DigestIndex append crashed at any file-system step re-runs to the clean result") {
    val dir = tmpDir()
    val fixture = s"$dir/fixture"
    def docs(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
    val history = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
    DigestIndex.appendAndDedup(spark, docs(history), s"$fixture/idx", "text", "id",
      batchTag = Some("h"))
    // a copy of a history doc and a new doc twice: the batch's tag
    // lands as a new leaf beside the history's
    val batch = Seq((10L, "beta"), (11L, "doc114"), (12L, "doc114"))
    val wantFirsts = Seq(11L)
    // (representative id, copies) per distinct text
    val wantGroups = (history ++ batch).groupBy(_._2).values
      .map(g => (g.map(_._1).min, g.size.toLong)).toSeq.sorted
    val firsts = scala.collection.concurrent.TrieMap.empty[String, Seq[Long]]
    val n = CrashingFs.sweep(spark, fixture, s"$dir/runs") { root =>
      firsts(root) = DigestIndex.appendAndDedup(spark, docs(batch), s"$root/idx",
        "text", "id", batchTag = Some("b")).select("id").as[Long].collect().toSeq.sorted
    } { root =>
      assert(firsts(root) == wantFirsts)
      val groups = DigestIndex.currentGroups(spark, s"$root/idx")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(groups == wantGroups)
      assert(files(s"$root/idx/digests/batch_tag=h") ==
        files(s"$fixture/idx/digests/batch_tag=h"), "the history leaf changed")
      assert(visible(s"$root/idx/digests") == Set("batch_tag=h", "batch_tag=b"),
        "the batch did not land as exactly one leaf")
      assertNoResidue(s"$root/idx/digests")
    }
    info(s"$n mutating calls swept")
  }

  test("a tagged DedupIndex append crashed at any file-system step re-runs to the clean result") {
    val dir = tmpDir()
    val fixture = s"$dir/fixture"
    def docs(rows: Seq[(Long, String)]) = rows.toDF("id", "text")
    val base = "the quick brown fox jumps over the lazy dog " * 4
    val history = Seq((1L, base), (2L, "spark engines shuffle bytes " * 6))
    DedupIndex.appendAndFindDups(spark, docs(history), s"$fixture/idx", "text", "id",
      batchTag = Some("h"))
    // a near copy of doc 1 and an unrelated doc
    val batch = Seq((10L, base + "tail"), (11L, "nothing in common here at all " * 5))
    val pairs = scala.collection.concurrent.TrieMap.empty[String, Seq[(Long, Long)]]
    val n = CrashingFs.sweep(spark, fixture, s"$dir/runs") { root =>
      pairs(root) = DedupIndex.appendAndFindDups(spark, docs(batch), s"$root/idx",
        "text", "id", batchTag = Some("b")).select("id_a", "id_b")
        .as[(Long, Long)].collect().toSeq.sorted
    } { root =>
      assert(pairs(root) == Seq((1L, 10L)))
      def ids(t: String) = spark.read.parquet(s"$root/idx/$t")
        .filter($"batch_tag" === "b").select("id").as[Long].collect().toSeq
      assert(ids("sigs").sorted == Seq(10L, 11L))
      assert(ids("bands").groupBy(identity).map { case (i, r) => i -> r.size } ==
        Map(10L -> 16, 11L -> 16))
      for (t <- Seq("sigs", "bands")) {
        assert(files(s"$root/idx/$t/batch_tag=h") ==
          files(s"$fixture/idx/$t/batch_tag=h"), s"the history leaf of $t changed")
        assertNoResidue(s"$root/idx/$t")
      }
    }
    info(s"$n mutating calls swept")
  }

  /** The visible entries of a directory. */
  private def visible(dir: String): Set[String] =
    new java.io.File(dir).list().filterNot(n => n.startsWith(".") || n.startsWith("_")).toSet

  /** The data files of a leaf, by name and length. */
  private def files(dir: String): Set[(String, Long)] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length)).toSet

  private def assertNoResidue(dir: String): Unit = {
    def names(f: java.io.File): Seq[String] = f.listFiles().toSeq.flatMap { c =>
      c.getName +: (if (c.isDirectory) names(c) else Nil)
    }
    val left = names(new java.io.File(dir)).filter(n =>
      n == ".publish_tmp" || n.endsWith(".swap_old") || n.endsWith(".swap_commit") ||
        n.startsWith(".spark-staging-"))
    assert(left.isEmpty, s"residue left in $dir: ${left.mkString(", ")}")
  }
}
