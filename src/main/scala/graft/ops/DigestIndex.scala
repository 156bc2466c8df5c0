package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental EXACT dedup against a PERSISTED digest store — the
  * fourth (and most-used) member of the incremental index family:
  * exact [[DigestIndex]], lexical [[DedupIndex]], verbatim
  * [[ExactSubstrIndex]], semantic [[EmbedIndex]]. A daily batch is
  * checked for first-arrival documents against the full history
  * without re-hashing a single historical byte, in O(batch).
  *
  * Store discipline: one table `digests/`, rows
  * `(db, batch_tag, digest, id, n)` — each batch appends ONE summary
  * row per digest it contains (its min id and its copy count), never a
  * row per document. The accumulated group state is a pure monoid fold
  * — representative = min(id), copies = sum(n), both commutative and
  * associative — so batch ORDER is irrelevant to [[currentGroups]],
  * duplicate rows from a tag-discipline violation can only be healed
  * by the fold (min is idempotent) for the representative, and
  * [[compact]] can fold history to one row per digest without changing
  * any answer. The shuffle currency is the 32-byte digest and two
  * longs — document text never enters the store.
  *
  * Scale story (100 TB corpus, daily batches): the probe prunes
  * `digests/` to the batch's ≤64 `db` bucket directories (literal
  * isin — deterministic pruning), then broadcast-semi filters to the
  * batch's digests map-side: matched history is proportional to the
  * batch, the store is never shuffled, and the returned first-arrival
  * set joins back to batch rows only. Appends land tag-scoped through
  * [[Layout.replacePartitions]] with replay self-exclusion on the
  * probe, so an at-least-once retry returns the same first-arrival
  * set and replaces exactly its own `db=/batch_tag=` leaves.
  *
  * Contract: doc ids globally unique, non-null text. First-arrival
  * semantics for [[appendAndDedup]]'s RETURN (history wins over the
  * batch; within a batch the smallest id wins); [[currentGroups]] is
  * order-free (global min) by the monoid argument above. */
object DigestIndex {

  private val NB = 64 // bucket fan-out; ≤64 literals in any prune filter

  private def digestsPath(p: String) = p + "/digests"
  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(NB.toLong)).cast("int")

  /** Return the batch rows that are FIRST ARRIVALS (digest unseen in
    * history; smallest id within the batch for a batch-new digest),
    * materialized before the store mutates; then publish the batch's
    * per-digest summary rows as its own `batch_tag` leaf under each
    * touched `db` bucket ([[Layout.replacePartitions]]: a new leaf is
    * one rename, a replayed one swaps in; sibling tags are untouched). */
  def appendAndDedup(spark: SparkSession, batch: DataFrame,
                     indexPath: String, text: String, id: String,
                     batchTag: Option[String] = None): DataFrame = {
    val dig = batch
      .withColumn("_digest", sha2(col(text), 256))
      .persist()
    try {
      if (dig.isEmpty) return dig.drop("_digest")
      // per-digest batch summary: ONE row per digest, min id, copy count
      val summary = dig.groupBy(col("_digest").as("digest"))
        .agg(min(col(id)).as("id"), count(lit(1)).as("n"))
        .persist()
      summary.count()
      val fs = new Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Layout.healTable(fs, new Path(digestsPath(indexPath)))
      val exists =
        Layout.hasCommittedFiles(fs, new Path(digestsPath(indexPath)))
      val tag = batchTag.getOrElse(
        Layout.contentTag(summary, Seq("digest", "id", "n")))
      val seen =
        if (!exists) summary.select("digest").filter(lit(false))
        else {
          val dbs = summary.select(bucketOf(col("digest")).as("db"))
            .distinct().collect().map(_.getInt(0)).toSeq
          spark.read.parquet(digestsPath(indexPath))
            .filter(col("db").isin(dbs: _*))
            .filter(col("batch_tag") =!= tag) // replay self-exclusion
            .join(broadcast(summary.select("digest")),
              Seq("digest"), "left_semi")
            .select("digest").distinct()
        }
      // first arrivals: batch-new digests' representatives, joined back
      // to the full batch row (the summary side is batch-bounded —
      // broadcast both filters, the batch itself never re-shuffles)
      val firsts = summary
        .join(broadcast(seen), Seq("digest"), "left_anti")
        .select(col("digest").as("_digest"), col("id").as("_rep"))
      val out = dig
        .join(broadcast(firsts), dig("_digest") === firsts("_digest") &&
          col(id) === col("_rep"), "left_semi")
        .drop("_digest")
        .localCheckpoint(true) // pin before the store mutates
      // one exchange on db before the partitioned write: each touched
      // bucket dir gets exactly one file per batch, not one per task
      val rows = summary.select(bucketOf(col("digest")).as("db"),
          lit(tag).as("batch_tag"), col("digest"), col("id"), col("n"))
        .repartition(NB, col("db"))
      Layout.replacePartitions(spark, digestsPath(indexPath))(
        rows.write.partitionBy("db", "batch_tag").parquet(_))
      summary.unpersist()
      out
    } finally { dig.unpersist(); () }
  }

  /** The accumulated exact-dup groups: representative id (global min)
    * and total copy count per distinct content — the
    * [[DedupOps.exactDupGroups]] answer, resolved from bounded summary
    * rows instead of a corpus scan. Bulk EXPORT path (full store
    * fold); batch-side checks go through [[appendAndDedup]]'s pruned
    * probe. */
  def currentGroups(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(digestsPath(indexPath))
      .groupBy("digest")
      .agg(min(col("id")).as("id"), sum(col("n")).as("n_copies"))
      .select("id", "n_copies")

  /** Steady-state maintenance: fold the per-batch summary rows to ONE
    * row per digest (min id, summed count) under a single
    * `batch_tag=folded` partition per bucket dir, through the
    * stage-and-swap discipline. Folding forfeits per-batch replay
    * idempotency for the folded history (run it behind the retry
    * horizon); every [[currentGroups]] / probe answer is unchanged by
    * the monoid fold (DigestIndexSpec pins it). */
  /** Horizon-aware partition maintenance: fold summary rows of batches
    * OUTSIDE the retry horizon (`keepTags` = the tags still inside it)
    * into one `batch_tag=folded` partition per `db` dir, kept tags
    * copied through with their replay contract intact
    * ([[Layout.foldBatchTags]]). Unlike [[compact]] this does not
    * min/sum-aggregate the folded rows — the monoid fold happens at
    * read ([[currentGroups]] / the probe's distinct), so answers are
    * unchanged either way; run [[compact]] instead once every tag is
    * behind the horizon for the stronger one-row-per-digest shape.
    * Returns outer dirs rewritten. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Layout.foldBatchTags(spark, digestsPath(indexPath), keepTags,
      targetFileBytes = targetFileBytes)

  def compact(spark: SparkSession, indexPath: String,
              numFiles: Int = NB): Unit = {
    val live = digestsPath(indexPath)
    Layout.replace(spark, live) { tmp =>
      val folded = spark.read.parquet(live)
        .groupBy("digest")
        .agg(min(col("id")).as("id"), sum(col("n")).cast("long").as("n"))
        .select(bucketOf(col("digest")).as("db"),
          lit("folded").as("batch_tag"), col("digest"), col("id"), col("n"))
        .localCheckpoint(true)
      folded.repartition(numFiles, col("db"))
        .write.partitionBy("db", "batch_tag").parquet(tmp)
    }
  }
}
