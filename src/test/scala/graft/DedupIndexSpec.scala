package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupIndex, DedupOps}

/** Incremental MinHash band index: per-batch calls must, in union,
  * reproduce the full-batch pair set exactly — no pair missed across
  * batches, no historical pair re-emitted. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog " * 8
  private val other = "completely different words about spark engines " * 10

  private def batch1 = Seq(
    (0L, base),
    (1L, base + "extra tail tokens appended here"),
    (2L, other)
  ).toDF("doc_id", "text")

  private def batch2 = Seq(
    (10L, base + "another slightly different tail"),
    (11L, other + "slightly changed"),
    (12L, "an unrelated short document with many unique tokens")
  ).toDF("doc_id", "text")

  private def collectPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental calls union to the full-batch pair set, nothing re-emitted") {
    val idx = tmpDir() + "/idx"
    val p1 = collectPairs(
      DedupIndex.appendAndFindDups(spark, batch1, idx, "text", "doc_id"))
    val p2 = collectPairs(
      DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id"))
    val full = collectPairs(DedupOps.minhashDupPairs(
      batch1.unionByName(batch2), "text", "doc_id"))
    assert((p1 ++ p2) == full,
      s"incremental union diverged from full batch:\n p1=$p1\n p2=$p2\n full=$full")
    assert(p1.intersect(p2).isEmpty, "a historical pair was re-emitted")
    // the in-batch pair lands in call 1, the cross-batch dups in call 2
    assert(p1.exists { case (a, b, _) => a == 0L && b == 1L })
    assert(p2.exists { case (a, b, _) => b == 10L },
      "cross-batch near-dup against the indexed history was missed")
    // history-vs-history pairs never appear in call 2
    assert(p2.forall { case (a, b, _) => a >= 10L || b >= 10L })
  }

  test("tagged mode: a replayed batch overwrites its own partitions, never double-appends") {
    val idx = tmpDir() + "/idx"
    val p1 = collectPairs(DedupIndex.appendAndFindDups(spark, batch1, idx,
      "text", "doc_id", batchTag = Some("app-0")))
    val p2 = collectPairs(DedupIndex.appendAndFindDups(spark, batch2, idx,
      "text", "doc_id", batchTag = Some("app-1")))
    val countBefore = (spark.read.parquet(s"$idx/bands").count(),
      spark.read.parquet(s"$idx/sigs").count())
    // at-least-once replay of batch 2: same tag → dynamic overwrite of
    // exactly its own tag-scoped partitions
    val p2replay = collectPairs(DedupIndex.appendAndFindDups(spark, batch2, idx,
      "text", "doc_id", batchTag = Some("app-1")))
    assert((spark.read.parquet(s"$idx/bands").count(),
      spark.read.parquet(s"$idx/sigs").count()) == countBefore,
      "replay grew the index")
    assert(p2replay == p2, "replayed pairs diverged")
    // explicit tags and the auto-tag default find the same pairs
    val untagged = tmpDir() + "/idx2"
    val u1 = collectPairs(DedupIndex.appendAndFindDups(spark, batch1, untagged,
      "text", "doc_id"))
    val u2 = collectPairs(DedupIndex.appendAndFindDups(spark, batch2, untagged,
      "text", "doc_id"))
    assert((p1 ++ p2) == (u1 ++ u2))
  }

  test("default (no batchTag): a BLIND retry derives the same content tag " +
      "and overwrites rather than double-appending") {
    val idx = tmpDir() + "/idx"
    DedupIndex.appendAndFindDups(spark, batch1, idx, "text", "doc_id")
    val first = collectPairs(
      DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id"))
    val countBefore = (spark.read.parquet(s"$idx/bands").count(),
      spark.read.parquet(s"$idx/sigs").count())
    // e.g. the caller crashed after the append but before recording the
    // result, then replayed the batch verbatim with the default tag
    val retry = collectPairs(
      DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id"))
    assert(retry == first, "blind retry diverged")
    assert((spark.read.parquet(s"$idx/bands").count(),
      spark.read.parquet(s"$idx/sigs").count()) == countBefore,
      "blind retry grew the index")
    assert(spark.read.parquet(s"$idx/sigs").columns.contains("batch_tag"),
      "default mode must land in tag-scoped partitions")
  }

  test("tagged replay at the bucket cap: own indexed copy excluded, pairs stable") {
    import spark.implicits._
    // 4 near-identical docs -> every bucket holds exactly the 4 of
    // them; maxBucket = 4 sits right AT the cap. A replay that counted
    // the batch's own indexed copies would see 8-member buckets, drop
    // them all, and return zero pairs.
    val txt = "alpha beta gamma delta epsilon zeta eta theta " * 6
    val batch = (0L until 4L).map(i => (i, txt + s"tail$i"))
      .toDF("doc_id", "text")
    val idx = tmpDir() + "/idx_cap"
    val first = collectPairs(DedupIndex.appendAndFindDups(spark, batch, idx,
      "text", "doc_id", threshold = 0.2, maxBucket = 4,
      batchTag = Some("app-0")))
    assert(first.nonEmpty, "fixture must produce pairs on the first run")
    val replay = collectPairs(DedupIndex.appendAndFindDups(spark, batch, idx,
      "text", "doc_id", threshold = 0.2, maxBucket = 4,
      batchTag = Some("app-0")))
    assert(replay == first,
      "replay must return the first run's pairs even at the bucket cap")
  }

  test("index persists the split layout: thin bands by band, signatures once") {
    val idx = tmpDir() + "/idx"
    DedupIndex.appendAndFindDups(spark, batch1, idx, "text", "doc_id")
    // one batch_tag leaf per table per batch; band is a column
    def leaves(t: String) = new java.io.File(s"$idx/$t").listFiles()
      .filter(f => f.isDirectory && !f.getName.startsWith(".")).map(_.getName).toSeq
    assert(leaves("bands").length == 1 && leaves("bands").forall(_.startsWith("batch_tag=")),
      s"expected one batch_tag leaf, got ${leaves("bands")}")
    assert(leaves("sigs") == leaves("bands"))
    val bandsT = spark.read.parquet(s"$idx/bands")
    assert(bandsT.select("band").distinct().count() == 16)
    // batch_tag: the default content-derived idempotency partition
    assert(bandsT.columns.toSet == Set("band", "bkey", "doc_id", "batch_tag"))
    // one thin row per (doc, band) for every doc with a non-empty signature
    assert(bandsT.count() == 3L * 16)
    // the k-long signature is stored ONCE per doc, not once per band
    val sigsT = spark.read.parquet(s"$idx/sigs")
    assert(sigsT.columns.toSet == Set("doc_id", "sig", "batch_tag"))
    assert(sigsT.count() == 3L)
    // appending batch2 only grows the index by batch2's rows
    DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id")
    assert(leaves("bands").length == 2 && leaves("sigs") == leaves("bands"))
    assert(spark.read.parquet(s"$idx/bands").count() == 6L * 16)
    assert(spark.read.parquet(s"$idx/sigs").count() == 6L)
  }

  private def batch3 = Seq(
    (20L, base + "yet another divergent tail of tokens"),
    (21L, "fresh standalone words nothing shares with anything else")
  ).toDF("doc_id", "text")

  private def tagDirCount(dir: String): Int = {
    val d = new java.io.File(dir)
    if (!d.exists()) 0
    else d.listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("batch_tag="))
  }

  test("folding stale batch tags shrinks partitions, preserves future pairs, idempotent") {
    // two identical indexes, three tag-scoped appends each — b folds
    val a = tmpDir() + "/idx_a"
    val b = tmpDir() + "/idx_b"
    Seq(batch1, batch2, batch3).foreach { df =>
      DedupIndex.appendAndFindDups(spark, df, a, "text", "doc_id").count()
      DedupIndex.appendAndFindDups(spark, df, b, "text", "doc_id").count()
    }
    // every append landed its own tag partition — the unbounded growth
    // foldBatches exists to stop
    assert(tagDirCount(s"$b/sigs") == 3)
    assert(tagDirCount(s"$b/bands") == 3)
    val folded = DedupIndex.foldBatches(spark, b)
    assert(folded == 2, // the sigs root and the bands root
      s"expected every outer dir folded, got $folded")
    assert(tagDirCount(s"$b/sigs") == 1)
    assert(tagDirCount(s"$b/bands") == 1)
    // folding moved rows under one tag, losing none
    assert(spark.read.parquet(s"$b/sigs").drop("batch_tag")
      .orderBy("doc_id").collect().toSeq ==
      spark.read.parquet(s"$a/sigs").drop("batch_tag")
        .orderBy("doc_id").collect().toSeq)
    // a fully-folded index is final: fold and compact are both no-ops
    assert(DedupIndex.foldBatches(spark, b) == 0, "second fold must be a no-op")
    assert(DedupIndex.compact(spark, b) == 0,
      "fold writes right-sized files; compact has nothing to do")
    // ...and the NEXT probe is identical (the operator-level contract)
    val probe = Seq((30L, base + "post compaction probe tail")).toDF("doc_id", "text")
    val pa = collectPairs(DedupIndex.appendAndFindDups(spark, probe, a, "text", "doc_id"))
    val pb = collectPairs(DedupIndex.appendAndFindDups(spark, probe, b, "text", "doc_id"))
    assert(pa == pb)
    assert(pa.nonEmpty, "probe should pair with the indexed near-dups")
  }

  test("crash mid-fold then APPEND: the append entry heals first — history " +
      "pairs survive and later maintenance cannot delete the batch") {
    val idx = tmpDir() + "/idx_crash_append"
    DedupIndex.appendAndFindDups(spark, batch1, idx, "text", "doc_id").count()
    // simulate a fold/compact crash right after moving the live sigs
    // aside (no commit marker): the table looks absent
    val sigs = new java.io.File(s"$idx/sigs")
    val aside = new java.io.File(s"$idx/.sigs.swap_old")
    assert(sigs.renameTo(aside), "test setup: could not stage the crash")
    // the next APPEND must restore sigs before probing — cross-batch
    // pairs against batch-1 history depend on its stored signatures,
    // and an un-healed append would hand its own rows to the next
    // maintenance run's restore-old to delete
    val p2 = collectPairs(
      DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id"))
    assert(!aside.exists(), "append entry did not heal the crashed swap")
    assert(p2.exists { case (a, b, _) => b == 10L },
      s"history pairs lost: the append read a crashed-swap index as absent ($p2)")
    DedupIndex.compact(spark, idx)
    val ids = spark.read.parquet(s"$idx/sigs").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(Set(0L, 1L, 2L, 10L, 11L, 12L).subsetOf(ids),
      s"signatures lost to post-crash maintenance: $ids")
  }

  test("batchTag 'folded' is rejected: appending under the fold target " +
      "would overwrite consolidated history") {
    val idx = tmpDir() + "/idx_reserved"
    intercept[IllegalArgumentException] {
      DedupIndex.appendAndFindDups(spark, batch1, idx, "text", "doc_id",
        batchTag = Some("folded"))
    }
  }

  test("crash mid-compact heals: a flat table renamed aside is restored") {
    val idx = tmpDir() + "/idx_crash"
    Seq(batch1, batch2).foreach { df =>
      DedupIndex.appendAndFindDups(spark, df, idx, "text", "doc_id").count()
    }
    // simulate swapInPlace dying right after moving the live sigs dir
    // aside (no commit marker): the table looks absent
    val sigs = new java.io.File(s"$idx/sigs")
    val aside = new java.io.File(s"$idx/.sigs.swap_old")
    assert(sigs.renameTo(aside), "test setup: could not stage the crash")
    assert(!sigs.exists())
    DedupIndex.compact(spark, idx)
    assert(sigs.exists() && !aside.exists(), "recoverSwap must restore sigs")
    val probe = Seq((40L, base + "post crash probe")).toDF("doc_id", "text")
    assert(collectPairs(
      DedupIndex.appendAndFindDups(spark, probe, idx, "text", "doc_id")).nonEmpty)
  }

  test("an index accreted untagged keeps its layout: a tagged append fails fast, " +
      "an untagged one appends flat") {
    val idx = tmpDir() + "/idx_legacy"
    // the pre-tagging layout: flat sigs/, bands/ partitioned by band only
    val built = tmpDir() + "/idx_built"
    val want = collectPairs(DedupIndex.appendAndFindDups(spark, batch1, built,
      "text", "doc_id"))
    spark.read.parquet(s"$built/sigs").drop("batch_tag").write.parquet(s"$idx/sigs")
    spark.read.parquet(s"$built/bands").drop("batch_tag")
      .write.partitionBy("band").parquet(s"$idx/bands")
    intercept[IllegalArgumentException] {
      DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id",
        batchTag = Some("app-1"))
    }
    val legacy = collectPairs(DedupIndex.appendAndFindDups(spark, batch2, idx,
      "text", "doc_id"))
    val tagged = collectPairs(DedupIndex.appendAndFindDups(spark, batch2, built,
      "text", "doc_id"))
    assert(legacy == tagged && want.nonEmpty)
    val sigs = spark.read.parquet(s"$idx/sigs")
    assert(!sigs.columns.contains("batch_tag"), "the untagged layout was changed")
    assert(sigs.count() == 6L)
  }

  test("a tagged append opens the index without a listing or schema job " +
      "and writes one file per table") {
    val idx = tmpDir() + "/idx_jobs"
    DedupIndex.appendAndFindDups(spark, batch1, idx, "text", "doc_id",
      batchTag = Some("app-0"))
    val sc = spark.sparkContext
    val ((pairs, restored), jobs) = JobCounter.during(spark) {
      sc.setJobDescription("caller")
      try {
        (DedupIndex.appendAndFindDups(spark, batch2, idx, "text", "doc_id",
          batchTag = Some("app-1")), graft.meta.JobLabel.current(spark))
      } finally sc.setJobDescription(null)
    }
    assert(restored.contains("caller"), "the caller's description was lost")
    assert(collectPairs(pairs).exists { case (_, b, _) => b == 10L })
    // listing and footer jobs run outside any SQL execution
    assert(jobs.nonEmpty && jobs.forall(_.sqlExecution),
      s"opening the index launched a Spark job: $jobs")
    assert(jobs.forall(_.description == "graft:index.dedup"),
      s"unlabelled jobs: ${jobs.filter(_.description != "graft:index.dedup")}")
    for (t <- Seq("sigs", "bands")) {
      val root = new java.io.File(s"$idx/$t")
      assert(root.list().filter(_.contains("=")).toSet ==
        Set("batch_tag=app-0", "batch_tag=app-1"))
      assert(new java.io.File(root, "batch_tag=app-1").list()
        .count(_.endsWith(".parquet")) == 1, s"$t wrote more than one file")
    }
  }

  test("a bands/ in the bucketed band= layout fails the append until compact migrates it") {
    val built = tmpDir() + "/idx_built"
    val old = tmpDir() + "/idx_old"
    DedupIndex.appendAndFindDups(spark, batch1, built, "text", "doc_id",
      batchTag = Some("app-0"))
    // the layout earlier builds wrote: a band directory, then the tag
    spark.read.parquet(s"$built/bands")
      .write.partitionBy("band", "batch_tag").parquet(s"$old/bands")
    CrashingFs.copyOf(s"$built/sigs", s"$old/sigs")
    val e = intercept[IllegalArgumentException] {
      DedupIndex.appendAndFindDups(spark, batch2, old, "text", "doc_id",
        batchTag = Some("app-1"))
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
    assert(DedupIndex.compact(spark, old) >= 1)
    assert(new java.io.File(s"$old/bands").list()
      .filter(_.contains("=")).toSeq == Seq("batch_tag=app-0"))
    def pairs(idx: String) = collectPairs(DedupIndex.appendAndFindDups(spark,
      batch2, idx, "text", "doc_id", batchTag = Some("app-1")))
    val want = pairs(built)
    assert(pairs(old) == want && want.nonEmpty)
    assert(spark.read.parquet(s"$old/bands").count() ==
      spark.read.parquet(s"$built/bands").count())
  }
}
