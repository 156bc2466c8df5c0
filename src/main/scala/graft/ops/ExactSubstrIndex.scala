package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental exact-substring span detection against a PERSISTED
  * anchor index — [[DedupOps.exactSubstrSpans]] made O(batch): a daily
  * crawl batch is checked for verbatim cross-document spans against
  * the full history without re-reading or re-anchoring a single
  * historical document (the [[DedupIndex]] pattern applied to the
  * Lee et al. ACL'22 signal).
  *
  * Index layout (one table under `indexPath`): `anchors/`, partitioned
  * by `hb` (= pmod(h, 64), a stable fan-out column so probes prune at
  * PARTITION granularity before the row-level semi-join) and, in
  * tagged mode, `batch_tag`. Rows are the kernel-collapsed distinct
  * anchor contexts (h, id, pre, post, c) — the same bounded windows
  * the batch operator ships, never document text.
  *
  * Scale story (100 TB corpus, daily batches):
  *  - The batch's touched (hb, h) keys are BROADCAST against the
  *    anchors scan: partition pruning on hb, then a map-side left-semi
  *    on h — the index is never shuffled and the matched subset is
  *    proportional to the batch's anchor-hash footprint, not history.
  *  - Pair generation happens inside the same capped-bucket aggregate
  *    as the batch operator, restricted to pairs with >= 1 NEW side:
  *    history-vs-history pairs were emitted when the younger doc was
  *    itself the batch, so each call emits exactly the new pairs and
  *    the union of all calls equals the full-batch operator over the
  *    accumulated corpus (ExactSubstrIndexSpec pins it; the one caveat
  *    is a bucket crossing maxBucket only AFTER later batches arrive —
  *    size the cap for the steady-state corpus, not the first batch).
  *  - Appends accrete small files per partition — run
  *    [[Layout.compactPartitions]] as steady-state maintenance.
  *
  * Contract: doc ids are globally unique across batches. Replay safety
  * mirrors [[DedupIndex]]: every batch lands in tag-scoped partitions
  * via [[Layout.replacePartitions]] — the caller's `batchTag` when
  * given, else a [[Layout.contentTag]] derived from the batch's anchor
  * contexts — so a replay (explicit or a BLIND retry of the same
  * batch) overwrites exactly its own rows and returns identical pairs.
  * An index accreted by a pre-tagging version of this operator (no
  * `batch_tag` partition) keeps working: appends stay untagged there
  * (mixing the two layouts breaks partition discovery), with the
  * legacy caveat that blind retries double-append — passing an
  * explicit tag against such an index fails fast. */
object ExactSubstrIndex {

  private def anchorsPath(indexPath: String) = indexPath + "/anchors"
  private val HB = 64

  /** Find cross-document spans of `batch` against the index ∪ the
    * batch itself, then append the batch's anchors. Returns
    * (id_a, id_b, n_anchors, max_len) — the [[DedupOps
    * .exactSubstrSpans]] schema — materialized BEFORE the append so
    * the lazy plan can never read the batch's freshly-written rows. */
  def appendAndFindSpans(spark: SparkSession, batch: DataFrame,
                         indexPath: String, text: String, id: String,
                         k: Int = 8, w: Int = 4, maxExt: Int = 48,
                         minLen: Int = 16, maxBucket: Int = 64,
                         batchTag: Option[String] = None): DataFrame = {
    require(!batchTag.contains("folded"),
      "batchTag 'folded' is reserved for foldBatches' consolidation " +
        "partition: an append under it would OVERWRITE the " +
        "folded history and the probe's replay self-exclusion would " +
        "hide what remains")
    val ctxNew = batchContexts(batch, text, id, k, w, maxExt).persist()
    try {
      if (ctxNew.isEmpty)
        return ctxNew.select(col(id).as("id_a"), col(id).as("id_b"),
          lit(0L).as("n_anchors"), lit(0).as("max_len")).filter(lit(false))
      val fs = new Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // heal crashed maintenance swaps BEFORE any committed-files probe
      // or read (see DedupIndex.appendAndFindDups: a fold/compact crash
      // mid-swap otherwise drops history pairs silently and poisons the
      // next maintenance run's recovery into deleting this append)
      Layout.healTable(fs, new Path(anchorsPath(indexPath)))
      val legacyUntagged =
        Layout.hasCommittedFiles(fs, new Path(anchorsPath(indexPath))) &&
          !spark.read.parquet(anchorsPath(indexPath)).columns
            .contains("batch_tag")
      require(!(legacyUntagged && batchTag.isDefined),
        s"ExactSubstrIndex at $indexPath was accreted untagged; a tagged " +
          "append would break its partition discovery — compact/migrate " +
          "the index or keep appending untagged (batchTag = None)")
      val tag = if (legacyUntagged) None
        else Some(batchTag.getOrElse(Layout.contentTag(ctxNew,
          Seq(id, "h", "pre", "post", "c"))))
      val pairs = probeFrame(spark, ctxNew, indexPath, id, k, maxExt,
          minLen, maxBucket, tag)
        .localCheckpoint(true) // pin results before the index mutates
      // one exchange on hb before the partitioned write: without it
      // every task writes a file into every touched hb dir (tasks×64
      // files per batch — the small-file explosion that would dominate
      // both this append and every later probe's scan at corpus scale);
      // with it each hb dir gets exactly one file per batch
      tag match {
        case Some(t) =>
          val rows = ctxNew.select(col("hb"), lit(t).as("batch_tag"), col(id),
              col("h"), col("pre"), col("post"), col("c"))
            .repartition(HB, col("hb"))
          Layout.replacePartitions(spark, anchorsPath(indexPath))(
            rows.write.partitionBy("hb", "batch_tag").parquet(_))
        case None =>
          ctxNew.select(col("hb"), col(id), col("h"), col("pre"),
              col("post"), col("c"))
            .repartition(HB, col("hb"))
            .write.mode(SaveMode.Append).partitionBy("hb")
            .parquet(anchorsPath(indexPath))
      }
      pairs
    } finally { ctxNew.unpersist(); () }
  }

  /** Steady-state partition maintenance, mirroring
    * [[DedupIndex.foldBatches]]: folds every anchor `batch_tag` NOT in
    * `keepTags` into one folded partition per `hb` dir
    * ([[Layout.foldBatchTags]]). Folding a batch forfeits its replay
    * idempotency — keep the tags still inside the retry horizon.
    * Probe results are unaffected. Returns outer dirs rewritten; run
    * [[Layout.compactPartitions]] after for file-level sizing. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Layout.foldBatchTags(spark, anchorsPath(indexPath), keepTags,
      targetFileBytes = targetFileBytes)

  /** Steady-state file maintenance, mirroring [[DedupIndex.compact]]:
    * rewrite the small files appends accrete under `anchors/`,
    * layout-preserving (every hb / batch_tag partition stays its own
    * directory through the stage-and-swap), so probe pruning and the
    * tagged replay contract are untouched. Returns dirs rewritten. */
  def compact(spark: SparkSession, indexPath: String,
              targetFileBytes: Long = 512L << 20): Int = {
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tp = new Path(anchorsPath(indexPath))
    Layout.recoverSwap(fs, tp)
    if (Layout.hasCommittedFiles(fs, tp))
      Layout.compactPartitions(spark, tp.toString, targetFileBytes)
    else 0
  }

  /** The batch's kernel-collapsed anchor contexts with the index's
    * hb fan-out column attached. */
  private[graft] def batchContexts(batch: DataFrame, text: String,
                                   id: String, k: Int, w: Int,
                                   maxExt: Int): DataFrame =
    batch.filter(col(text).isNotNull)
      .select(col(id),
        explode(graft.functions.Expressions
          .anchor_contexts(col(text), k, w, maxExt)).as("_a"))
      .select(col(id), col("_a.h").as("h"), col("_a.pre").as("pre"),
        col("_a.post").as("post"), size(col("_a.ps")).cast("long").as("c"))
      .withColumn("hb", pmod(col("h"), lit(HB.toLong)).cast("int"))

  /** The LAZY probe plan — everything but the result checkpoint and
    * the index append. Package-private so PlanSpec can pin the O(batch)
    * shape (broadcast semi against the stored anchors, no sort-merge)
    * that [[appendAndFindSpans]]' eager checkpoint hides. */
  private[graft] def probeFrame(spark: SparkSession, ctxNew: DataFrame,
                                indexPath: String, id: String, k: Int,
                                maxExt: Int, minLen: Int, maxBucket: Int,
                                batchTag: Option[String]): DataFrame = {
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val indexExists =
      Layout.hasCommittedFiles(fs, new Path(anchorsPath(indexPath)))
    val newCtx = ctxNew.withColumn("is_new", lit(true))
    val all =
      if (!indexExists) newCtx
      else {
        val newKeys = ctxNew.select("hb", "h").distinct()
        // the batch's touched hb set as a LITERAL partition filter:
        // ≤ HB driver-side values, so the stored scan prunes at
        // directory granularity deterministically (DPP may or may not
        // fire for a broadcast semi; a literal isin always does). A
        // large batch touches all HB buckets and prunes nothing — the
        // win is the 100 TB regime of a small daily batch against
        // years of history, where most hb dirs hold none of the
        // batch's hashes
        val touchedHb = ctxNew.select("hb").distinct()
          .collect().map(_.getInt(0)).toSeq
        val stored = spark.read.parquet(anchorsPath(indexPath))
          .filter(col("hb").isin(touchedHb: _*))
        // a tagged replay must not see its own first attempt (the
        // same double-count-to-cap hazard DedupIndex documents)
        val storedOthers = batchTag match {
          case Some(tag) if stored.columns.contains("batch_tag") =>
            stored.filter(col("batch_tag") =!= tag)
          case _ => stored
        }
        val oldHits = storedOthers
          .join(broadcast(newKeys), Seq("hb", "h"), "left_semi")
          .select(col(id), col("h"), col("pre"), col("post"), col("c"),
            col("hb"))
          .withColumn("is_new", lit(false))
        newCtx.unionByName(oldHits)
      }
    // identical bucket/cap/pair semantics to the batch operator,
    // restricted to pairs touching a NEW entry; the cap gates BEFORE
    // collect ([[DedupOps.cappedBuckets]])
    val buckets = DedupOps.cappedBuckets(all, Seq("h"), col("c"),
      struct(col(id), col("c"), col("pre"), col("post"), col("is_new")),
      maxBucket, "xs")
    buckets.select(explode(
        flatten(transform(col("xs"), (x, i) =>
          transform(slice(col("xs"), i + 2, size(col("xs"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .filter(col("p.a.is_new") || col("p.b.is_new"))
      .filter(col(s"p.a.$id") =!= col(s"p.b.$id"))
      .select(
        least(col(s"p.a.$id"), col(s"p.b.$id")).as("id_a"),
        greatest(col(s"p.a.$id"), col(s"p.b.$id")).as("id_b"),
        (col("p.a.c") * col("p.b.c")).as("w"),
        col("p.a.pre").as("pre_a"), col("p.a.post").as("post_a"),
        col("p.b.pre").as("pre_b"), col("p.b.post").as("post_b"))
      .filter(col("post_a").substr(lit(1), lit(k)) ===
        col("post_b").substr(lit(1), lit(k)))
      .withColumn("ext", lit(k) +
        graft.functions.Expressions.common_suffix_len(col("pre_a"), col("pre_b")) +
        graft.functions.Expressions.common_prefix_len(
          col("post_a").substr(lit(k + 1), lit(maxExt)),
          col("post_b").substr(lit(k + 1), lit(maxExt))))
      .groupBy("id_a", "id_b")
      .agg(sum(col("w")).as("n_anchors"), max(col("ext")).as("max_len"))
      .filter(col("max_len") >= minLen)
  }
}
