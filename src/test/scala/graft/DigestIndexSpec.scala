package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, DigestIndex}

/** Incremental exact dedup over the persisted digest store: the
  * accumulated groups must fold to the one-shot exactDupGroups answer
  * in any batch order, first arrivals win, replays and compaction
  * change nothing. */
class DigestIndexSpec extends SparkSpec {
  import spark.implicits._

  private val a = "alpha document body"
  private val b = "beta document body"
  private val c = "gamma document body"

  private def groupsOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("accumulated groups == one-shot exactDupGroups, any batch order") {
    // the global representative (doc 1) arrives AFTER a duplicate of
    // its content (doc 5) — min is order-free even when arrival isn't
    val b1 = Seq((5L, a), (6L, b)).toDF("doc_id", "text")
    val b2 = Seq((1L, a), (9L, c), (10L, c)).toDF("doc_id", "text")
    val idx = tmpDir() + "/didx"
    DigestIndex.appendAndDedup(spark, b1, idx, "text", "doc_id",
      batchTag = Some("b1"))
    DigestIndex.appendAndDedup(spark, b2, idx, "text", "doc_id",
      batchTag = Some("b2"))
    val inc = groupsOf(DigestIndex.currentGroups(spark, idx))
    val full = groupsOf(DedupOps.exactDupGroups(
      b1.unionByName(b2), "text", "doc_id"))
    assert(inc == full, s"inc=$inc full=$full")
    assert(inc == Set((1L, 2L), (6L, 1L), (9L, 2L)))
  }

  test("appendAndDedup returns first arrivals only") {
    val idx = tmpDir() + "/didx"
    val r1 = DigestIndex.appendAndDedup(spark,
      Seq((5L, a), (7L, a), (6L, b)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchTag = Some("b1"))
    // batch-internal dup: the smaller id represents
    assert(r1.select("doc_id").as[Long].collect().toSet == Set(5L, 6L))
    val r2 = DigestIndex.appendAndDedup(spark,
      Seq((1L, a), (9L, c)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchTag = Some("b2"))
    // doc 1 duplicates HISTORY (doc 5 arrived first) — not a first
    // arrival, even though its id is globally smaller
    assert(r2.select("doc_id").as[Long].collect().toSet == Set(9L))
  }

  test("tagged and content-tag replays are idempotent") {
    val idx = tmpDir() + "/didx"
    val b1 = Seq((5L, a), (6L, b)).toDF("doc_id", "text")
    val b2 = Seq((1L, a), (9L, c)).toDF("doc_id", "text")
    DigestIndex.appendAndDedup(spark, b1, idx, "text", "doc_id",
      batchTag = Some("b1"))
    val first = DigestIndex.appendAndDedup(spark, b2, idx, "text",
      "doc_id", batchTag = Some("b2")).select("doc_id").as[Long]
      .collect().toSet
    val groups = groupsOf(DigestIndex.currentGroups(spark, idx))
    // blind retry, same tag: same first-arrival set, store unchanged
    val replay = DigestIndex.appendAndDedup(spark, b2, idx, "text",
      "doc_id", batchTag = Some("b2")).select("doc_id").as[Long]
      .collect().toSet
    assert(replay == first)
    assert(groupsOf(DigestIndex.currentGroups(spark, idx)) == groups)
    // untagged appends: a BLIND retry re-derives the same content tag
    // and overwrites itself (a DIFFERENT tag for the same content is a
    // new batch by contract, and its rows count — so the whole lineage
    // here is untagged)
    val idx2 = tmpDir() + "/didx2"
    DigestIndex.appendAndDedup(spark, b1, idx2, "text", "doc_id")
    DigestIndex.appendAndDedup(spark, b2, idx2, "text", "doc_id")
    val g2 = groupsOf(DigestIndex.currentGroups(spark, idx2))
    DigestIndex.appendAndDedup(spark, b2, idx2, "text", "doc_id")
    assert(groupsOf(DigestIndex.currentGroups(spark, idx2)) == g2)
    assert(g2 == groups)
  }

  test("compact folds to one row per digest; answers unchanged, appends work") {
    val idx = tmpDir() + "/didx"
    for ((bid, rows) <- Seq(
        ("b1", Seq((5L, a), (6L, b))),
        ("b2", Seq((1L, a), (9L, c))),
        ("b3", Seq((20L, a), (21L, c)))))
      DigestIndex.appendAndDedup(spark, rows.toDF("doc_id", "text"),
        idx, "text", "doc_id", batchTag = Some(bid))
    val before = groupsOf(DigestIndex.currentGroups(spark, idx))
    DigestIndex.compact(spark, idx, numFiles = 4)
    assert(groupsOf(DigestIndex.currentGroups(spark, idx)) == before)
    // one summary row per digest after the fold
    val rows = spark.read.parquet(s"$idx/digests")
    assert(rows.count() == rows.select("digest").distinct().count())
    // post-compact appends keep deduping against folded history
    val r = DigestIndex.appendAndDedup(spark,
      Seq((30L, a), (31L, "fresh new content")).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchTag = Some("b4"))
    assert(r.select("doc_id").as[Long].collect().toSet == Set(31L))
  }

  test("probe prunes the store by digest-bucket literals") {
    // the store keeps one leaf per batch tag; a (replayed) append opens
    // the other tags' leaves and never its own
    val idx = tmpDir() + "/didx"
    for ((t, rows) <- Seq("b1" -> Seq((5L, a)), "b2" -> Seq((6L, b)),
        "b3" -> Seq((7L, c))))
      DigestIndex.appendAndDedup(spark, rows.toDF("doc_id", "text"),
        idx, "text", "doc_id", batchTag = Some(t))
    val digests = new java.io.File(s"$idx/digests").getCanonicalPath
    val (out, _) = CrashingFs.during(spark, digests) {
      DigestIndex.appendAndDedup(spark, Seq((6L, b)).toDF("doc_id", "text"),
        idx, "text", "doc_id", batchTag = Some("b2"))
        .select("doc_id").as[Long].collect().toSeq
    }
    assert(out == Right(Seq(6L)), "the replay saw its own first attempt")
    val leaves = CrashingFs.opened.map(new java.io.File(_))
      .filter(f => f.getParentFile.getParent == digests)
      .map(_.getParentFile.getName).toSet
    assert(leaves == Set("batch_tag=b1", "batch_tag=b3"),
      s"the probe read leaves $leaves")
  }

  test("a tagged append opens the store without a listing or schema job " +
      "and writes one file") {
    val idx = tmpDir() + "/didx"
    DigestIndex.appendAndDedup(spark, Seq((5L, a), (6L, b)).toDF("doc_id", "text"),
      idx, "text", "doc_id", batchTag = Some("b1"))
    val sc = spark.sparkContext
    val (restored, jobs) = JobCounter.during(spark) {
      sc.setJobDescription("caller")
      try {
        DigestIndex.appendAndDedup(spark,
          Seq((1L, a), (9L, c), (10L, c), (11L, "delta")).toDF("doc_id", "text"),
          idx, "text", "doc_id", batchTag = Some("b2"))
        graft.meta.JobLabel.current(spark)
      } finally sc.setJobDescription(null)
    }
    assert(restored.contains("caller"), "the caller's description was lost")
    // listing and footer jobs run outside any SQL execution
    assert(jobs.nonEmpty && jobs.forall(_.sqlExecution),
      s"opening the store launched a Spark job: $jobs")
    assert(jobs.forall(_.description == "graft:index.digest"),
      s"unlabelled jobs: ${jobs.filter(_.description != "graft:index.digest")}")
    val store = new java.io.File(s"$idx/digests")
    assert(store.list().filter(_.contains("=")).toSet ==
      Set("batch_tag=b1", "batch_tag=b2"))
    assert(new java.io.File(store, "batch_tag=b2").list()
      .count(_.endsWith(".parquet")) == 1)
  }

  test("a store in the bucketed db= layout fails the append until compact migrates it") {
    val built = tmpDir() + "/didx"
    val old = tmpDir() + "/didx_old"
    val b1 = Seq((5L, a), (6L, b)).toDF("doc_id", "text")
    val b2 = Seq((1L, a), (9L, c)).toDF("doc_id", "text")
    DigestIndex.appendAndDedup(spark, b1, built, "text", "doc_id",
      batchTag = Some("b1"))
    // the layout earlier builds wrote: 64 hash buckets, then the tag
    spark.read.parquet(s"$built/digests")
      .withColumn("db", pmod(xxhash64(col("digest")), lit(64L)).cast("int"))
      .write.partitionBy("db", "batch_tag").parquet(s"$old/digests")
    val e = intercept[IllegalArgumentException] {
      DigestIndex.appendAndDedup(spark, b2, old, "text", "doc_id",
        batchTag = Some("b2"))
    }
    assert(e.getMessage.contains("compact"), e.getMessage)
    intercept[IllegalArgumentException](DigestIndex.currentGroups(spark, old))
    DigestIndex.compact(spark, old)
    assert(new java.io.File(s"$old/digests").list()
      .filter(_.contains("=")).toSeq == Seq("batch_tag=folded"))
    def firsts(idx: String) = DigestIndex.appendAndDedup(spark, b2, idx,
      "text", "doc_id", batchTag = Some("b2")).select("doc_id").as[Long]
      .collect().toSet
    assert(firsts(old) == firsts(built))
    assert(groupsOf(DigestIndex.currentGroups(spark, old)) ==
      groupsOf(DigestIndex.currentGroups(spark, built)))
  }

  test("empty batch returns empty and creates nothing") {
    val idx = tmpDir() + "/didx"
    val out = DigestIndex.appendAndDedup(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      idx, "text", "doc_id")
    assert(out.isEmpty)
    assert(!new java.io.File(s"$idx/digests").exists())
  }
}
