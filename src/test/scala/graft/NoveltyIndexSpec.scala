package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, NoveltyIndex}

/** Incremental novelty over the persisted gram-attribution store:
  * per-batch scores under id-monotone ingest concatenate to the
  * one-shot noveltyScore answer, the store folds order-free, replays
  * and compaction change nothing. */
class NoveltyIndexSpec extends SparkSpec {
  import spark.implicits._

  private def scoresOf(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_grams", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "totally fresh unrelated content words here"),
    (3L, "alpha beta gamma omicron sigma tau"),
    // batch 2: a verbatim copy of doc 1, a fresh doc, a partial overlap
    (10L, "alpha beta gamma delta epsilon zeta"),
    (11L, "brand new second batch material entirely"),
    (12L, "totally fresh unrelated content appended differently")
  )

  test("id-monotone batches concatenate to the one-shot noveltyScore answer") {
    val idx = tmpDir() + "/nidx"
    val b1 = corpus.filter(_._1 < 10).toDF("doc_id", "text")
    val b2 = corpus.filter(_._1 >= 10).toDF("doc_id", "text")
    val s1 = scoresOf(NoveltyIndex.appendAndScore(spark, b1, idx,
      "text", "doc_id", batchTag = Some("b1")))
    val s2 = scoresOf(NoveltyIndex.appendAndScore(spark, b2, idx,
      "text", "doc_id", batchTag = Some("b2")))
    val oneShot = scoresOf(DedupOps.noveltyScore(
      corpus.toDF("doc_id", "text"), "text", "doc_id"))
    assert(s1 ++ s2 == oneShot, s"inc=${s1 ++ s2}\none-shot=$oneShot")
    // the planted shapes: verbatim late copy scores 0, fresh scores 1
    assert(s2(10L) == ((4L, 0L, 0.0)), "verbatim copy of history must score 0")
    assert(s2(11L)._3 == 1.0, "fresh content must score 1")
  }

  test("mega-batch routing: the forced shuffled-probe path scores bit-identically to the broadcast path") {
    // broadcastMaxGrams = 0 forces EVERY probe join onto the shuffled
    // route (what a past-broadcast-budget mega-batch takes); the two
    // paths must be bit-identical — same joins, same min folds
    val b1 = corpus.filter(_._1 < 10).toDF("doc_id", "text")
    val b2 = corpus.filter(_._1 >= 10).toDF("doc_id", "text")
    def run(idx: String, maxGrams: Long) = {
      val s1 = scoresOf(NoveltyIndex.appendAndScore(spark, b1, idx,
        "text", "doc_id", batchTag = Some("b1"),
        broadcastMaxGrams = maxGrams))
      val s2 = scoresOf(NoveltyIndex.appendAndScore(spark, b2, idx,
        "text", "doc_id", batchTag = Some("b2"),
        broadcastMaxGrams = maxGrams))
      s1 ++ s2
    }
    val viaBroadcast = run(tmpDir() + "/nidx_bc", Long.MaxValue)
    val viaShuffle = run(tmpDir() + "/nidx_sh", 0L)
    assert(viaShuffle == viaBroadcast,
      s"shuffled probe diverged:\n$viaShuffle\nvs\n$viaBroadcast")
  }

  test("store fold is order-free; currentFirsts equals the one-shot attribution") {
    // REVERSED arrival: the smaller-id batch lands second. Returned
    // scores diverge by design (novelty at arrival); the STORE must
    // still converge to the global-min attribution.
    val idx = tmpDir() + "/nidx"
    val b1 = corpus.filter(_._1 >= 10).toDF("doc_id", "text")
    val b2 = corpus.filter(_._1 < 10).toDF("doc_id", "text")
    NoveltyIndex.appendAndScore(spark, b1, idx, "text", "doc_id",
      batchTag = Some("b1"))
    NoveltyIndex.appendAndScore(spark, b2, idx, "text", "doc_id",
      batchTag = Some("b2"))
    val store = NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toMap
    val truth = corpus.toDF("doc_id", "text")
      .select(col("doc_id"), explode(array_distinct(
        DedupOps.shingles(col("text"), 3))).as("g"))
      .groupBy(xxhash64(col("g")).as("gh"))
      .agg(min(col("doc_id")).as("first"))
      .as[(Long, Long)].collect().toMap
    assert(store == truth, "store fold diverged from global-min attribution")
  }

  test("tagged replay is idempotent: same scores, store unchanged") {
    val idx = tmpDir() + "/nidx"
    val b1 = corpus.filter(_._1 < 10).toDF("doc_id", "text")
    val b2 = corpus.filter(_._1 >= 10).toDF("doc_id", "text")
    NoveltyIndex.appendAndScore(spark, b1, idx, "text", "doc_id",
      batchTag = Some("b1"))
    val first = scoresOf(NoveltyIndex.appendAndScore(spark, b2, idx,
      "text", "doc_id", batchTag = Some("b2")))
    val store = NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet
    val replay = scoresOf(NoveltyIndex.appendAndScore(spark, b2, idx,
      "text", "doc_id", batchTag = Some("b2")))
    assert(replay == first, "replay changed the returned scores")
    assert(NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet == store,
      "replay mutated the store")
  }

  test("compact folds to one row per gram; probes and appends unchanged") {
    val idx = tmpDir() + "/nidx"
    val b1 = corpus.filter(_._1 < 10).toDF("doc_id", "text")
    val b2 = corpus.filter(_._1 >= 10).toDF("doc_id", "text")
    NoveltyIndex.appendAndScore(spark, b1, idx, "text", "doc_id",
      batchTag = Some("b1"))
    NoveltyIndex.appendAndScore(spark, b2, idx, "text", "doc_id",
      batchTag = Some("b2"))
    val before = NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet
    NoveltyIndex.compact(spark, idx, numFiles = 4)
    assert(NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet == before)
    val rows = spark.read.parquet(s"$idx/grams")
    assert(rows.count() == rows.select("gh").distinct().count(),
      "compact left duplicate gram rows")
    // post-compact scoring still sees folded history: a verbatim copy
    // of doc 2's content scores 0 against the folded store
    val s = scoresOf(NoveltyIndex.appendAndScore(spark,
      Seq((30L, "totally fresh unrelated content words here"))
        .toDF("doc_id", "text"),
      idx, "text", "doc_id", batchTag = Some("b3")))
    assert(s(30L) == ((4L, 0L, 0.0)), s"post-compact probe wrong: $s")
    // Indexes.maintain detects the layout and routes here; doc 30's
    // content is doc 2's, so the min fold leaves every attribution as
    // it was before the b3 append
    assert(graft.ops.Indexes.detect(spark, idx) == "novelty")
    val m = graft.ops.Indexes.maintain(spark, idx)
    assert(m.kind == "novelty")
    assert(NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet == before,
      "maintain changed the accumulated attributions")
  }

  test("crash mid-compact heals: the grams table renamed aside is restored") {
    val idx = tmpDir() + "/nidx_crash"
    val b1 = corpus.filter(_._1 < 10).toDF("doc_id", "text")
    val b2 = corpus.filter(_._1 >= 10).toDF("doc_id", "text")
    NoveltyIndex.appendAndScore(spark, b1, idx, "text", "doc_id",
      batchTag = Some("b1")).count()
    NoveltyIndex.appendAndScore(spark, b2, idx, "text", "doc_id",
      batchTag = Some("b2")).count()
    val before = NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet
    // simulate swapInPlace dying right after moving the live grams
    // dir aside (no commit of the staged replacement)
    val grams = new java.io.File(s"$idx/grams")
    val aside = new java.io.File(s"$idx/.grams.swap_old")
    assert(grams.renameTo(aside), "test setup: could not stage the crash")
    assert(!grams.exists())
    NoveltyIndex.compact(spark, idx)
    assert(grams.exists() && !aside.exists(),
      "recoverSwap must restore grams before compacting")
    assert(NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet == before,
      "attribution must survive the crash + heal + compact")
    // the healed store still probes and appends
    val s3 = scoresOf(NoveltyIndex.appendAndScore(spark,
      Seq((20L, "alpha beta gamma delta epsilon zeta"))
        .toDF("doc_id", "text"), idx, "text", "doc_id",
      batchTag = Some("b3")))
    assert(s3(20L)._3 == 0.0, "post-heal probe must still see history")
  }

  test("a batch id reused from history fails the batch; the store is unchanged") {
    val idx = tmpDir() + "/nidx_reuse"
    NoveltyIndex.appendAndScore(spark,
      corpus.filter(_._1 < 10).toDF("doc_id", "text"), idx, "text",
      "doc_id", batchTag = Some("b1"))
    val before = NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet
    // id 2 returns with other text, while doc 13 repeats history doc
    // 2's grams: their first attribution is id 2, which would credit
    // the new doc 2 with grams it does not contain
    val reused = Seq(
      (2L, "brand new second batch material entirely"),
      (13L, "totally fresh unrelated content words here"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      NoveltyIndex.appendAndScore(spark, reused, idx, "text", "doc_id",
        batchTag = Some("b2"))
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("batch id 2") &&
      msgs.contains("unique across batches"), msgs)
    assert(NoveltyIndex.currentFirsts(spark, idx)
      .as[(Long, Long)].collect().toSet == before,
      "a failed batch mutated the store")
    val landed = new java.io.File(s"$idx/grams").listFiles()
      .filter(_.isDirectory).flatMap(_.list())
    assert(!landed.contains("batch_tag=b2"), "the failed batch landed rows")
  }

  test("empty batch returns empty and creates nothing; short docs drop") {
    val idx = tmpDir() + "/nidx"
    val out = NoveltyIndex.appendAndScore(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      idx, "text", "doc_id")
    assert(out.isEmpty)
    assert(!new java.io.File(s"$idx/grams").exists())
    // a doc with fewer than w tokens carries no grams and is absent
    val s = NoveltyIndex.appendAndScore(spark,
      Seq((1L, "too short"), (2L, "alpha beta gamma delta"))
        .toDF("doc_id", "text"), idx, "text", "doc_id",
      batchTag = Some("b1"))
    assert(s.select("doc_id").as[Long].collect().toSet == Set(2L))
  }
}
