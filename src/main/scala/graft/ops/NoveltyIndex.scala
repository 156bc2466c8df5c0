package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental NOVELTY scoring against a PERSISTED gram-attribution
  * store — [[DedupOps.noveltyScore]] made O(batch), completing the
  * incremental quartet-plus-one: exact [[DigestIndex]], lexical
  * [[DedupIndex]], verbatim [[ExactSubstrIndex]], semantic
  * [[EmbedIndex]], and now contribution ([[NoveltyIndex]]). A daily
  * batch is scored for corpus-first n-gram contribution against the
  * FULL history without re-shingling a single historical document.
  *
  * Store discipline (structurally [[DigestIndex]]): one table
  * `grams/`, rows `(gb, batch_tag, gh, first)` — each batch appends
  * ONE row per distinct gram hash it contains, carrying the batch's
  * minimum doc id for that gram. First-attribution is a pure MIN
  * MONOID over those rows, so batch order is irrelevant to the
  * accumulated store ([[currentFirsts]]), duplicate rows from a
  * tag-discipline violation cannot change a min, and [[compact]] can
  * fold history to one row per gram without changing any answer. The
  * shuffle and store currency is the 8-byte xxhash64 gram key — gram
  * TEXT never crosses an exchange and never lands on disk (the
  * [[DedupOps.noveltyScore]] hash-keyed stance, same 64-bit collision
  * posture).
  *
  * Scale story (100 TB corpus, daily batches): the probe prunes
  * `grams/` to the batch's ≤64 `gb` bucket directories (literal isin),
  * then broadcast-semi filters to the batch's gram hashes map-side —
  * matched history is proportional to the BATCH's gram footprint, the
  * store is never shuffled, and scoring is two batch-keyed exchanges.
  * The broadcast is the batch's distinct gram-hash set (8 bytes each);
  * a mega-batch past the `broadcastMaxGrams` budget AUTO-ROUTES both
  * probe joins to shuffled hash joins (bit-identical results — the
  * routing count rides the summary materialization, so the switch is
  * free). Callers may still split a batch manually — the returned
  * scores are unchanged under id-monotone splitting (the
  * union-identity below).
  *
  * RETURN semantics — novelty AT ARRIVAL: each batch doc is scored
  * against history ∪ its own batch (within the batch, smallest id
  * wins; history always wins over the batch). Over ID-MONOTONE
  * batches (each batch's ids all larger than every earlier batch's —
  * the usual append-only ingest), the concatenation of per-batch
  * scores is BIT-IDENTICAL to one-shot [[DedupOps.noveltyScore]] over
  * the accumulated corpus (NoveltyIndexSpec pins it): a later doc can
  * never steal an earlier doc's first-attribution. Under out-of-order
  * id arrival the scores diverge by design — an early batch cannot
  * know a smaller id arrives later (the [[DigestIndex]]
  * first-arrival-vs-min-fold stance); the STORE still converges to
  * the order-free global min either way.
  *
  * Replay safety: batches land in tag-scoped partitions via dynamic
  * overwrite with probe self-exclusion, so an at-least-once retry
  * returns the same scores and overwrites exactly its own partition.
  * Contract: doc ids globally unique; docs with fewer than `w` tokens
  * (or null text) carry no grams and are absent from the result. */
object NoveltyIndex {

  private val NB = 64 // bucket fan-out; ≤64 literals in any prune filter

  private def gramsPath(p: String) = p + "/grams"
  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(c, lit(NB.toLong)).cast("int")

  /** Score the batch's documents for novelty against history ∪ batch,
    * materialized before the store mutates; then append the batch's
    * per-gram (gh, min id) summary rows. Returns
    * (id, n_grams, n_novel, novelty·6dp) — the
    * [[DedupOps.noveltyScore]] schema.
    *
    * MEGA-BATCH routing: the history probe normally BROADCASTS the
    * batch's gram-hash side (8 bytes per distinct gram — the fast
    * path for daily-batch footprints). A batch whose distinct-gram
    * count exceeds `broadcastMaxGrams` auto-switches that join to a
    * shuffled hash join instead of forcing an over-budget broadcast —
    * the routing count is the summary materialization the method
    * already pays, so the switch is free, and the two paths are
    * bit-identical (same join, same min folds; NoveltyIndexSpec pins
    * it). The per-doc scoring fold needs no broadcast at all (see the
    * attribution algebra at the `firsts` derivation below). The
    * directory-level `gb` prune still bounds how much history is read
    * either way. */
  def appendAndScore(spark: SparkSession, batch: DataFrame,
                     indexPath: String, text: String, id: String,
                     w: Int = 3, batchTag: Option[String] = None,
                     broadcastMaxGrams: Long = 10000000L): DataFrame = {
    require(broadcastMaxGrams >= 0,
      s"noveltyIndex: broadcastMaxGrams must be >= 0: $broadcastMaxGrams")
    val grams = batch
      .select(col(id), explode(array_distinct(
        DedupOps.shingles(col(text), w))).as("_gram"))
      .select(col(id), xxhash64(col("_gram")).as("gh"))
      .persist()
    try {
      if (grams.isEmpty)
        return grams.select(col(id), lit(0L).as("n_grams"),
          lit(0L).as("n_novel"), lit(0.0).as("novelty")).filter(lit(false))
      // per-gram batch summary: ONE row per gram hash, min id
      val summary = grams.groupBy(col("gh"))
        .agg(min(col(id)).as("first"))
        .persist()
      val nGrams = summary.count()
      // past the broadcast budget, hint nothing and let the joins
      // shuffle (AQE may still pick a broadcast if the runtime side
      // turns out small — that is the correct call, not ours)
      val bcast: DataFrame => DataFrame =
        if (nGrams > broadcastMaxGrams) identity else broadcast(_)
      val fs = new Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Layout.healTable(fs, new Path(gramsPath(indexPath)))
      val exists =
        Layout.hasCommittedFiles(fs, new Path(gramsPath(indexPath)))
      val tag = batchTag.getOrElse(
        Layout.contentTag(summary, Seq("gh", "first")))
      val hist =
        if (!exists)
          summary.select(col("gh"), col("first").as("_hfirst"))
            .filter(lit(false))
        else {
          val gbs = summary.select(bucketOf(col("gh")).as("gb"))
            .distinct().collect().map(_.getInt(0)).toSeq
          spark.read.parquet(gramsPath(indexPath))
            .filter(col("gb").isin(gbs: _*))
            .filter(col("batch_tag") =!= tag) // replay self-exclusion
            .join(bcast(summary.select("gh")), Seq("gh"), "left_semi")
            .groupBy(col("gh")).agg(min(col("first")).as("_hfirst"))
        }
      // global first per gram = min(history, batch). The per-doc fold
      // then needs NO join back onto the batch's gram rows (the
      // [[DedupOps.noveltyScore]] algebra): a gram's _first can only
      // equal a BATCH doc's id when that doc is the gram's batch-min
      // holder (ids are globally unique, so a history id never
      // collides), and that doc contains the gram by construction —
      // so grouping the gram-bounded attribution table by _first IS
      // the per-doc novel count, and historical attributions drop out
      // in the doc-keyed left join below. n_grams is a direct
      // doc-keyed aggregate of the (persisted) gram table.
      val firsts = summary.join(hist, Seq("gh"), "left")
        .select(col("gh"),
          least(col("first"), coalesce(col("_hfirst"), col("first")))
            .as("_first"))
      val perDoc = grams.groupBy(col(id)).agg(count(lit(1)).as("n_grams"))
      val novel = firsts.groupBy(col("_first"))
        .agg(count(lit(1)).as("n_novel"))
      val out = perDoc.join(novel, perDoc(id) === novel("_first"), "left")
        .select(col(id), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty", graft.functions.Rounding.roundHalfUp(
          col("n_novel").cast("double") / col("n_grams"), 6))
        .localCheckpoint(true) // pin before the store mutates
      // one exchange on gb before the partitioned write: each touched
      // bucket dir gets exactly one file per batch, not one per task
      summary.select(bucketOf(col("gh")).as("gb"),
          lit(tag).as("batch_tag"), col("gh"), col("first"))
        .repartition(NB, col("gb"))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("gb", "batch_tag").parquet(gramsPath(indexPath))
      summary.unpersist()
      out
    } finally { grams.unpersist(); () }
  }

  /** The accumulated first-attribution table: (gh, first) with the
    * order-free global-min fold — the bulk EXPORT path (full store
    * scan); batch scoring goes through [[appendAndScore]]'s pruned
    * probe. */
  def currentFirsts(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(gramsPath(indexPath))
      .groupBy("gh")
      .agg(min(col("first")).as("first"))

  /** Horizon-aware partition maintenance ([[DigestIndex.foldBatches]]):
    * fold gram rows of batches OUTSIDE the retry horizon into one
    * `batch_tag=folded` partition per `gb` dir, kept tags copied
    * through with their replay contract intact. The min fold happens
    * at read either way, so every probe/export answer is unchanged.
    * Returns outer dirs rewritten. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Layout.foldBatchTags(spark, gramsPath(indexPath), keepTags,
      targetFileBytes = targetFileBytes)

  /** Steady-state maintenance once every tag is behind the retry
    * horizon: fold history to ONE row per gram hash (the min monoid)
    * under a single `batch_tag=folded` partition per bucket dir,
    * through the stage-and-swap discipline. */
  def compact(spark: SparkSession, indexPath: String,
              numFiles: Int = NB): Unit = {
    val live = gramsPath(indexPath)
    Layout.replace(spark, live) { tmp =>
      val folded = spark.read.parquet(live)
        .groupBy("gh")
        .agg(min(col("first")).as("first"))
        .select(bucketOf(col("gh")).as("gb"),
          lit("folded").as("batch_tag"), col("gh"), col("first"))
        .localCheckpoint(true)
      folded.repartition(numFiles, col("gb"))
        .write.partitionBy("gb", "batch_tag").parquet(tmp)
    }
  }
}
