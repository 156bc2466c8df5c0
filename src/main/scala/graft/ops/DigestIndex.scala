package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.io.Tables
import graft.meta.JobLabel

/** Incremental EXACT dedup against a PERSISTED digest store — the
  * fourth (and most-used) member of the incremental index family:
  * exact [[DigestIndex]], lexical [[DedupIndex]], verbatim
  * [[ExactSubstrIndex]], semantic [[EmbedIndex]]. A daily batch is
  * checked for first-arrival documents against the full history
  * without re-hashing a single historical byte, in O(batch).
  *
  * Store discipline: one table `digests/`, partitioned by `batch_tag`
  * only, rows `(digest, id, n)` — each batch appends ONE summary row
  * per digest it contains (its min id and its copy count), never a
  * row per document, as ONE `batch_tag=<tag>/` leaf whose files Spark
  * sizes to the data (a small batch is one file). The accumulated
  * group state is a pure monoid fold — representative = min(id),
  * copies = sum(n), both commutative and associative — so batch ORDER
  * is irrelevant to [[currentGroups]], duplicate rows from a
  * tag-discipline violation can only be healed by the fold (min is
  * idempotent) for the representative, and [[compact]] can fold
  * history to one row per digest without changing any answer. The
  * shuffle currency is the 32-byte digest and two longs — document
  * text never enters the store.
  *
  * Scale story (100 TB corpus, daily batches): the probe opens every
  * OTHER tag's leaf through [[Tables.openWritten]] (one root listing,
  * one footer read, no Spark job while the store keeps ≤ 32 tags —
  * [[foldBatches]] bounds that), then broadcast-semi filters it to the
  * batch's digests map-side: matched history is proportional to the
  * batch, the store is never shuffled, and the returned first-arrival
  * set joins back to batch rows only. Earlier builds bucketed the
  * store into 64 `db=` hash directories and pruned the probe to the
  * batch's buckets; a batch of d distinct digests leaves on average
  * 64·(63/64)^d buckets unread — about a quarter of the store at 90
  * digests, under 1% at 300 — so at any daily size the prune read
  * nearly every bucket while costing a file and a publish per touched
  * bucket. A store in that layout fails the append; [[compact]]
  * migrates it once. Appends land tag-scoped through
  * [[Layout.replacePartitions]] with replay self-exclusion on the
  * probe (the open skips the batch's own tag), so an at-least-once
  * retry returns the same first-arrival set and replaces exactly its
  * own leaf.
  *
  * Contract: doc ids globally unique, non-null text. First-arrival
  * semantics for [[appendAndDedup]]'s RETURN (history wins over the
  * batch; within a batch the smallest id wins); [[currentGroups]] is
  * order-free (global min) by the monoid argument above. */
object DigestIndex {

  private def digestsPath(p: String) = p + "/digests"

  /** Fails on a store in the bucketed `db=/batch_tag=` layout of
    * earlier builds: the tag-only open would read it as empty and
    * return every document as a first arrival. */
  private def requireTagLayout(spark: SparkSession, indexPath: String): Unit = {
    val root = new Path(digestsPath(indexPath))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(root) ||
      !fs.listStatus(root).exists(_.getPath.getName.startsWith("db=")),
      s"DigestIndex at $indexPath holds the bucketed db=/batch_tag= layout " +
        "of earlier builds; run DigestIndex.compact on it once to migrate")
  }

  /** The store's leaves whose tag passes `keep`, opened without a job. */
  private def open(spark: SparkSession, indexPath: String)(
      keep: String => Boolean): DataFrame =
    Tables.openWritten(spark, digestsPath(indexPath), "batch_tag",
      StringType)(keep)

  /** Return the batch rows that are FIRST ARRIVALS (digest unseen in
    * history; smallest id within the batch for a batch-new digest),
    * materialized before the store mutates; then publish the batch's
    * per-digest summary rows as its own `batch_tag=<tag>` leaf
    * ([[Layout.replacePartitions]]: a new leaf is one rename, a
    * replayed one swaps in; sibling tags are untouched). Every Spark
    * job it launches is labelled `graft:index.digest`. */
  def appendAndDedup(spark: SparkSession, batch: DataFrame,
                     indexPath: String, text: String, id: String,
                     batchTag: Option[String] = None): DataFrame =
    JobLabel.during(spark, "graft:index.digest") {
      val dig = batch
        .withColumn("_digest", sha2(col(text), 256))
        .persist()
      // per-digest batch summary: ONE row per digest, min id, copy count
      val summary = dig.groupBy(col("_digest").as("digest"))
        .agg(min(col(id)).as("id"), count(lit(1)).as("n"))
        .persist()
      try {
        if (summary.count() == 0) dig.drop("_digest")
        else append(spark, dig, summary, indexPath, id, batchTag)
      } finally { summary.unpersist(); dig.unpersist(); () }
    }

  private def append(spark: SparkSession, dig: DataFrame, summary: DataFrame,
                     indexPath: String, id: String,
                     batchTag: Option[String]): DataFrame = {
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.healTable(fs, new Path(digestsPath(indexPath)))
    requireTagLayout(spark, indexPath)
    val exists =
      Layout.hasCommittedFiles(fs, new Path(digestsPath(indexPath)))
    val tag = batchTag.getOrElse(
      Layout.contentTag(summary, Seq("digest", "id", "n")))
    val seen =
      if (!exists) summary.select("digest").filter(lit(false))
      else open(spark, indexPath)(_ != tag) // replay self-exclusion
        .join(broadcast(summary.select("digest")), Seq("digest"), "left_semi")
        .select("digest")
    // first arrivals: batch-new digests' representatives, joined back
    // to the full batch row (the summary side is batch-bounded —
    // broadcast both filters, the batch itself never re-shuffles; a
    // digest `seen` under several tags repeats there, which an anti
    // join ignores, so it needs no distinct and no exchange)
    val firsts = summary
      .join(broadcast(seen), Seq("digest"), "left_anti")
      .select(col("digest").as("_digest"), col("id").as("_rep"))
    val out = dig
      .join(broadcast(firsts), dig("_digest") === firsts("_digest") &&
        col(id) === col("_rep"), "left_semi")
      .drop("_digest")
      .localCheckpoint(true) // pin before the store mutates
    // rebalance, the exchange AQE sizes for a write: a small batch
    // lands as one file, a large one in files of the advisory partition
    // size. A repartition on `digest` would be planned away (the cached
    // summary is already hash-partitioned on it, and AQE never coalesces
    // a cached plan's partitions), leaving one file per shuffle partition
    val rows = summary.select(lit(tag).as("batch_tag"), col("digest"),
        col("id"), col("n"))
      .hint("rebalance", col("digest"))
    Layout.replacePartitions(spark, digestsPath(indexPath))(
      rows.write.partitionBy("batch_tag").parquet(_))
    out
  }

  /** The accumulated exact-dup groups: representative id (global min)
    * and total copy count per distinct content — the
    * [[DedupOps.exactDupGroups]] answer, resolved from bounded summary
    * rows instead of a corpus scan. Bulk EXPORT path (full store
    * fold, opened without a Spark job); batch-side checks go through
    * [[appendAndDedup]]'s probe. */
  def currentGroups(spark: SparkSession, indexPath: String): DataFrame = {
    requireTagLayout(spark, indexPath)
    open(spark, indexPath)(_ => true)
      .groupBy("digest")
      .agg(min(col("id")).as("id"), sum(col("n")).as("n_copies"))
      .select("id", "n_copies")
  }

  /** Horizon-aware partition maintenance: fold summary rows of batches
    * OUTSIDE the retry horizon (`keepTags` = the tags still inside it)
    * into one `batch_tag=folded` leaf, kept tags copied through with
    * their replay contract intact ([[Layout.foldBatchTags]]; the
    * tag-only root is its one outer directory). Unlike [[compact]]
    * this does not min/sum-aggregate the folded rows — the monoid fold
    * happens at read ([[currentGroups]] / the probe's anti join), so
    * answers are unchanged either way; run [[compact]] instead once
    * every tag is behind the horizon for the stronger
    * one-row-per-digest shape. Returns outer dirs rewritten. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Layout.foldBatchTags(spark, digestsPath(indexPath), keepTags,
      targetFileBytes = targetFileBytes)

  /** Steady-state maintenance: fold the per-batch summary rows to ONE
    * row per digest (min id, summed count) in `numFiles` files under
    * the single leaf `batch_tag=folded`, through [[Layout.replace]].
    * Reads either layout, so it is also the one-time migration of a
    * store in the bucketed `db=` layout of earlier builds. Folding
    * forfeits per-batch replay idempotency for the folded history (run
    * it behind the retry horizon); every [[currentGroups]] / probe
    * answer is unchanged by the monoid fold (DigestIndexSpec pins
    * it). */
  def compact(spark: SparkSession, indexPath: String,
              numFiles: Int = 64): Unit = {
    val live = digestsPath(indexPath)
    Layout.replace(spark, live) { tmp =>
      val folded = spark.read.parquet(live)
        .groupBy("digest")
        .agg(min(col("id")).as("id"), sum(col("n")).cast("long").as("n"))
        .select(lit("folded").as("batch_tag"), col("digest"), col("id"),
          col("n"))
        .localCheckpoint(true)
      folded.repartition(numFiles, col("digest"))
        .write.partitionBy("batch_tag").parquet(tmp)
    }
  }
}
