package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.functions.Rounding.roundHalfUp
import graft.functions.Expressions.{band_keys, minhash_sig}
import graft.io.Tables
import graft.meta.JobLabel

/** Incremental near-duplicate detection against a PERSISTED MinHash
  * index — the operator that makes corpus dedup O(batch) instead of
  * O(corpus): a daily crawl batch is checked against the full history
  * without re-reading or re-hashing a single historical document.
  *
  * Index layout (two tables under `indexPath`, each partitioned by
  * `batch_tag` only — a batch lands ONE leaf per table, its files
  * sized by Spark to the data, so a small batch writes one file each):
  *  - `bands/batch_tag=<tag>/`: (band, bkey, id) — 12-byte rows, the
  *    LSH candidate structure; `band` is a column, not a directory;
  *  - `sigs/batch_tag=<tag>/`: (id, sig) — each doc's k-minhash
  *    signature stored ONCE.
  * Storing the signature per BAND row instead (the naive layout) would
  * multiply the index by the band count — 16× more bytes written per
  * batch and scanned per probe at 100 TB. Earlier builds also split
  * `bands/` into one `band=` directory per band; the probe never
  * pruned by band (it scans every band and semi-joins the batch's
  * keys), so those 16 directories only cost files, listings and
  * publishes. A tagged append fails on a store in that layout;
  * [[compact]] migrates it once.
  *
  * Scale story (100 TB corpus, daily batches):
  *  - Both tables open through [[Tables.openWritten]] — one root
  *    listing, one footer read, no Spark job while a table keeps ≤ 32
  *    tags ([[foldBatches]] bounds that) — the stored bands without
  *    the batch's own tag, the stored sigs whole.
  *  - The batch's band keys (|batch| × bands rows of 12 bytes) are
  *    BROADCAST against the bands scan, so only index rows whose
  *    (band, bkey) bucket is touched by the batch survive map-side —
  *    the index is never shuffled, and the matched subset is
  *    proportional to the batch, not the history.
  *  - Candidate pairs are generated from id-only bucket members; the
  *    signatures for Jaccard estimation join back against
  *    (batch sigs ∪ `sigs/`) with the candidate side broadcast — the
  *    big sigs table is never shuffled either. Z-order or bucket
  *    `sigs/` by id to prune that scan at extreme scale.
  *  - Pairs where both sides are historical are skipped: they were
  *    emitted when the younger of the two docs was itself the batch.
  *    Each call therefore emits exactly the NEW pairs, and the union
  *    of all calls equals the full-batch [[DedupOps.minhashDupPairs]]
  *    over the accumulated corpus (asserted in DedupIndexSpec).
  *  - Appends accrete one leaf per table per batch — run
  *    [[foldBatches]] and [[compact]] as steady-state maintenance.
  *
  * Contract: doc ids are globally unique across batches. Replay
  * safety: every batch lands in tag-scoped partitions via
  * [[Layout.replacePartitions]] — the caller's `batchTag` when given, else a
  * [[Layout.contentTag]] derived from the batch's signatures — so a
  * replay with the same tag (explicit, or a BLIND retry of the same
  * batch re-deriving it) overwrites exactly its own partitions: the
  * index never double-counts and the returned pairs are identical
  * (the pair set is deterministic given the same batch and surviving
  * index state). An index accreted by a pre-tagging version (no
  * `batch_tag` partition) keeps appending untagged — mixing the two
  * layouts breaks partition discovery — with the legacy caveat that
  * blind retries there double-append; an explicit tag against such an
  * index fails fast.
  */
object DedupIndex {

  private def bandsPath(indexPath: String) = indexPath + "/bands"
  private def sigsPath(indexPath: String) = indexPath + "/sigs"

  /** Find near-dup pairs of `batch` against the index ∪ the batch
    * itself, then append the batch's bands and signatures to the index.
    * Returns (id_a, id_b, est_jaccard), materialized BEFORE the append
    * so the lazy plan can never read the batch's own freshly-written
    * rows. Every Spark job it launches is labelled `graft:index.dedup`. */
  def appendAndFindDups(spark: SparkSession, batch: DataFrame,
                        indexPath: String, text: String, id: String,
                        shingleWidth: Int = 3, k: Int = 64, bands: Int = 16,
                        threshold: Double = 0.5, maxBucket: Int = 200,
                        batchTag: Option[String] = None): DataFrame = {
    require(k % bands == 0, "bands must divide signature length")
    require(!batchTag.contains("folded"),
      "batchTag 'folded' is reserved for foldBatches' consolidation " +
        "partition: an append under it would OVERWRITE the " +
        "folded history and the probe's replay self-exclusion would " +
        "hide what remains")
    JobLabel.during(spark, "graft:index.dedup")(findAndAppend(spark, batch,
      indexPath, text, id, shingleWidth, k, bands, threshold, maxBucket,
      batchTag))
  }

  private def findAndAppend(spark: SparkSession, batch: DataFrame,
                            indexPath: String, text: String, id: String,
                            shingleWidth: Int, k: Int, bands: Int,
                            threshold: Double, maxBucket: Int,
                            batchTag: Option[String]): DataFrame = {
    val sigsNew = batch
      .select(col(id), minhash_sig(split(col(text), " "), shingleWidth, k).as("sig"))
      .filter(size(col("sig")) > 0)
      .persist() // safe to unpersist on exit: the result is materialized
    try {
      // empty batch (or all-empty signatures): nothing to pair, nothing
      // to append — and never CREATE a schema-less index directory that
      // would wedge the next call's parquet read
      if (sigsNew.isEmpty)
        return sigsNew.select(col(id).as("id_a"), col(id).as("id_b"),
          lit(0.0).as("est_jaccard")).filter(lit(false))
      val newBands = sigsNew.select(col(id),
        posexplode(band_keys(col("sig"), bands)).as(Seq("band", "bkey")))
        .withColumn("is_new", lit(true))
      val fs = new Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // heal crashed maintenance swaps BEFORE any committed-files probe
      // or read: a fold/compact that died mid-swap leaves the live dir
      // renamed aside — probing it as "absent" silently drops history
      // pairs, and appending into a recreated dir hands those rows to
      // the next maintenance run's restore-old to delete
      Layout.healTable(fs, new Path(sigsPath(indexPath)))
      Layout.healTable(fs, new Path(bandsPath(indexPath)))
      // committed-data probes, not bare exists(): a crashed write leaves
      // a schema-less directory (only _temporary/) that would wedge
      // spark.read.parquet on every subsequent call
      val indexExists =
        Layout.hasCommittedFiles(fs, new Path(bandsPath(indexPath)))
      // layout detection reads SIGS (written first, so it leads after a
      // crash between the two appends); a pre-tagging untagged index
      // keeps its layout — appending tagged rows there breaks partition
      // discovery. One listing, no Spark job: the untagged layout holds
      // committed files at its root and no `batch_tag=` child
      val sigsTop = visibleChildren(fs, new Path(sigsPath(indexPath)))
      val legacyUntagged = sigsTop.exists(_.isFile) &&
        !sigsTop.exists(_.getPath.getName.startsWith("batch_tag="))
      require(!(legacyUntagged && batchTag.isDefined),
        s"DedupIndex at $indexPath was accreted untagged; a tagged append " +
          "would break its partition discovery — compact/migrate the " +
          "index or keep appending untagged (batchTag = None)")
      // the tag-only open would read a `band=` tree as empty, and every
      // pair against history would be lost
      require(legacyUntagged ||
        !bucketedBands(fs, new Path(bandsPath(indexPath))),
        s"DedupIndex at $indexPath holds the bucketed band=/batch_tag= " +
          "bands layout of earlier builds; run DedupIndex.compact on it " +
          "once to migrate")
      val tag = if (legacyUntagged) None
        else Some(batchTag.getOrElse(
          Layout.contentTag(sigsNew, Seq(id, "sig"))))
      val allBands =
        if (!indexExists) newBands
        else {
          // map-side pruning of the historical index: broadcast the
          // batch's touched bucket keys, keep only matching index rows
          val newKeys = newBands.select("band", "bkey").distinct()
          // a tagged REPLAY sees its own first attempt in the index; it
          // must be excluded or every batch doc counts twice in its
          // buckets — sizes near maxBucket then cross the cap and get
          // dropped, so the replayed pair set would silently differ
          // from the first run's (breaking the replay contract)
          val storedOthers = tag match {
            case Some(t) => openTagged(spark, bandsPath(indexPath))(_ != t)
            case None => spark.read.parquet(bandsPath(indexPath))
          }
          val oldHits = storedOthers
            .join(broadcast(newKeys), Seq("band", "bkey"), "left_semi")
            .select(col(id), col("band"), col("bkey"))
            .withColumn("is_new", lit(false))
          newBands.unionByName(oldHits)
        }
      // capped-bucket candidate generation over id-only members — the
      // same bucket/cap semantics as the batch path, minus the carried
      // signatures (joined back below, for candidates only); the cap
      // gates BEFORE collect ([[DedupOps.cappedBuckets]])
      val buckets = DedupOps.cappedBuckets(allBands, Seq("band", "bkey"),
        lit(1L), struct(col(id), col("is_new")), maxBucket, "members")
      val cand = buckets.select(explode(
        flatten(transform(col("members"), (x, i) =>
          transform(slice(col("members"), i + 2, size(col("members"))),
            y => struct(x.as("a"), y.as("b"))))))
        .as("p"))
        .filter(col("p.a.is_new") || col("p.b.is_new"))
        .filter(col(s"p.a.$id") =!= col(s"p.b.$id")) // id re-appended over its own entry
        .select(
          least(col(s"p.a.$id"), col(s"p.b.$id")).as("id_a"),
          greatest(col(s"p.a.$id"), col(s"p.b.$id")).as("id_b"))
        .dropDuplicates("id_a", "id_b")
        .persist() // read 3x below (two sig joins + the candidate-id
                   // broadcast); without the pin the bucket aggregation
                   // re-runs for each subtree
      // signature lookup RESTRICTED to candidate ids before anything
      // heavy: the candidate set is bounded (capped buckets × batch
      // size), so it broadcasts into a semi-join that filters the
      // stored sigs scan MAP-SIDE — a plain union+dropDuplicates(id)
      // would hash-exchange the entire historical sigs table every
      // batch, turning the O(batch) operator into O(corpus).
      // dedup by id after the filter: a tagged replay sees its own ids
      // on both sides with identical sig bytes, so any survivor is
      // correct. Sigs presence probed independently of `indexExists`
      // (bands dir): a crash between the two appends can leave either
      // table ahead of the other.
      val candIds = cand.select(col("id_a").as(id))
        .unionByName(cand.select(col("id_b").as(id))).distinct()
      val sigsExist =
        Layout.hasCommittedFiles(fs, new Path(sigsPath(indexPath)))
      def storedSigs =
        if (tag.isDefined) openTagged(spark, sigsPath(indexPath))(_ => true)
        else spark.read.parquet(sigsPath(indexPath))
      val sigSrc = (if (!sigsExist) sigsNew.select(col(id), col("sig"))
        else sigsNew.select(col(id), col("sig")).unionByName(
          storedSigs
            .join(broadcast(candIds), Seq(id), "left_semi")
            .select(col(id), col("sig"))))
        .dropDuplicates(id)
      val pairs = cand
        .join(sigSrc.select(col(id).as("id_a"), col("sig").as("sig_a")), "id_a")
        .join(sigSrc.select(col(id).as("id_b"), col("sig").as("sig_b")), "id_b")
        .withColumn("est_jaccard", roundHalfUp(
          aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v) / lit(k.toDouble), 4))
        .filter(col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .localCheckpoint(true) // pin results before the index mutates
      cand.unpersist()
      // Write order is load-bearing: SIGS FIRST. A crash between the two
      // writes then leaves ids with a signature but no band rows — they
      // are merely not-yet-findable, and the retry re-appends both
      // (sig duplicates are healed by the dropDuplicates(id) read).
      // Bands-first would leave ids discoverable as candidates with NO
      // signature, and the inner sig join would silently drop every
      // future pair involving them.
      // each tagged table is rebalanced before its write, the exchange
      // AQE sizes for writes: a small batch lands as one file per leaf, a
      // large one in files of the advisory partition size, where the task
      // count alone would set the file count.
      tag match {
        case Some(t) =>
          val sigRows =
            sigsNew.select(lit(t).as("batch_tag"), col(id), col("sig"))
              .hint("rebalance", col(id))
          Layout.replacePartitions(spark, sigsPath(indexPath))(
            sigRows.write.partitionBy("batch_tag").parquet(_))
          val bandRows = newBands.select(lit(t).as("batch_tag"), col("band"),
              col("bkey"), col(id))
            .hint("rebalance", col("band"), col("bkey"))
          Layout.replacePartitions(spark, bandsPath(indexPath))(
            bandRows.write.partitionBy("batch_tag").parquet(_))
        case None =>
          sigsNew.select(col(id), col("sig"))
            .write.mode(SaveMode.Append).parquet(sigsPath(indexPath))
          newBands.select(col("band"), col("bkey"), col(id))
            .repartition(bands, col("band"))
            .write.mode(SaveMode.Append).partitionBy("band")
            .parquet(bandsPath(indexPath))
      }
      pairs
    } finally { sigsNew.unpersist(); () }
  }

  /** Steady-state partition maintenance for the tag-scoped layout:
    * every append lands a fresh `batch_tag` partition, so tag dirs
    * accrete one per batch forever. Folds every tag NOT in `keepTags`
    * into one `batch_tag=folded` partition across both tables
    * ([[Layout.foldBatchTags]]). Folding a batch forfeits its replay
    * idempotency — keep the tags still inside the retry horizon (e.g.
    * the last few days of auto/explicit tags). Probes are unaffected:
    * tag identity only matters for self-exclusion and overwrite
    * targeting, and folded rows can be neither. Returns outer dirs
    * rewritten; run [[compact]] after for file-level sizing. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Seq(sigsPath(indexPath), bandsPath(indexPath)).map(
      Layout.foldBatchTags(spark, _, keepTags,
        targetFileBytes = targetFileBytes)).sum

  /** Steady-state file maintenance: compact the small files appends
    * accrete under `bands/` and `sigs/`. First migrates a `bands/` in
    * the bucketed `band=/batch_tag=` layout of earlier builds to the
    * tag-only layout, tags kept, through one [[Layout.replace]].
    * Otherwise layout-preserving — every
    * batch_tag partition is rewritten in place through
    * [[Layout.compactPartitions]]' stage-and-swap (flat untagged
    * `sigs/` counts as its own single leaf), so probe pruning and the
    * tagged replay contract are untouched, and a crash leaves each
    * partition either old or new, never half (the swap heals on the
    * next call). Pair results are bit-identical before and after
    * (DedupIndexSpec pins it): compaction moves bytes, not rows.
    * Returns the number of directories rewritten. */
  def compact(spark: SparkSession, indexPath: String,
              targetFileBytes: Long = 512L << 20): Int = {
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(sigsPath(indexPath), bandsPath(indexPath)).map { t =>
      val tp = new Path(t)
      // a crash mid-swap of a FLAT table renames it aside whole — heal
      // before probing, or the committed-files check reads "no table"
      // and silently skips the directory that most needs recovery
      Layout.recoverSwap(fs, tp)
      val migrated = if (!bucketedBands(fs, tp)) 0 else {
        Layout.replace(spark, t)(
          spark.read.parquet(t).write.partitionBy("batch_tag").parquet(_))
        1
      }
      migrated + (if (Layout.hasCommittedFiles(fs, tp))
        Layout.compactPartitions(spark, t, targetFileBytes)
      else 0)
    }.sum
  }

  private def visibleChildren(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
    if (fs.exists(p)) fs.listStatus(p).filter(Tables.visible)
    else Array.empty[org.apache.hadoop.fs.FileStatus]

  /** `bands/` in the layout of earlier tagged builds: `band=` directories
    * holding `batch_tag=` children. */
  private def bucketedBands(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
    visibleChildren(fs, p).find(st => st.isDirectory &&
        st.getPath.getName.startsWith("band=")).exists(d =>
      visibleChildren(fs, d.getPath)
        .exists(_.getPath.getName.startsWith("batch_tag=")))

  /** A tagged table's leaves whose tag passes `keep`, opened without a
    * Spark job. */
  private def openTagged(spark: SparkSession, path: String)(
      keep: String => Boolean): DataFrame =
    Tables.openWritten(spark, path, "batch_tag", StringType)(keep)
}
