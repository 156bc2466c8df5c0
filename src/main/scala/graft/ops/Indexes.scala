package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** ONE maintenance entry point for the persisted-index family — the
  * op a production scheduler actually calls, instead of seven per-index
  * fold/compact pairs with the same caveat scattered across seven
  * scaladocs.
  *
  * The cadence policy, stated once:
  *  - Every index accretes a `batch_tag=` partition (and a file
  *    generation) per append; at streaming cadence the probe cost
  *    becomes directory listing and per-file opens long before any
  *    byte is scanned. Maintenance folds stale tags and re-sizes
  *    files.
  *  - Folding a batch FORFEITS its replay idempotency: its rows no
  *    longer carry its tag, so a later at-least-once redelivery of
  *    that batch appends (or answers) as if new. `keepTags` must
  *    therefore hold every tag still inside the caller's retry
  *    horizon — for a streaming sink tagged `appId-batchId`, the tags
  *    of the last few un-checkpointed batches; for daily batch loads,
  *    the last few days. Run maintenance BEHIND the horizon (e.g.
  *    nightly, folding everything but today's tags).
  *  - With an EMPTY `keepTags` (everything behind the horizon), the
  *    indexes with a read-side fold ([[DigestIndex]]'s min/sum monoid,
  *    [[ComponentsIndex]]'s min-lattice) additionally collapse history
  *    to its current summary — the strongest shape; the others fold
  *    tags and re-cluster files.
  *  - Every rewrite lands through the stage-and-swap discipline
  *    ([[Layout.replace]]): a crash leaves the old or the new
  *    layout, never half, and the owning writer self-heals on its next
  *    entry. Probe/search answers are pinned unchanged across
  *    maintenance by each index's spec and by IndexesSpec end-to-end.
  *
  * The index type is detected from the on-disk layout (each index has
  * a distinctive table set), so a scheduler can sweep a directory of
  * index roots without knowing what built them. */
object Indexes {

  /** What [[maintain]] found and did. */
  final case class Maintenance(kind: String, dirsRewritten: Int)

  private def exists(fs: org.apache.hadoop.fs.FileSystem, root: String,
                     child: String) =
    fs.exists(new Path(root, child))

  /** Detect the index type at `indexPath` from its table layout; fails
    * loudly on anything unrecognized rather than "maintaining" a
    * directory it does not understand. */
  def detect(spark: SparkSession, indexPath: String): String = {
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (exists(fs, indexPath, "_meta_pq")) "pq"
    else if (exists(fs, indexPath, "digests")) "digest"
    else if (exists(fs, indexPath, "sigs") && exists(fs, indexPath, "bands"))
      "lexical"
    else if (exists(fs, indexPath, "anchors")) "exactsubstr"
    else if (exists(fs, indexPath, "_meta_bits") ||
      exists(fs, indexPath, "vectors")) {
      // EmbedIndex and AnnIndex share the vectors/ + _meta_bits names;
      // the semantic index is hive-partitioned (`bg=`/`batch_tag=`
      // dirs), the flat ANN index holds bare files — a listing probe
      // disambiguates without reading a byte
      val vecs = new Path(indexPath, "vectors")
      val partitioned = fs.exists(vecs) &&
        fs.listStatus(vecs).exists(s =>
          s.isDirectory && s.getPath.getName.contains("="))
      if (partitioned) "semantic" else "ann"
    }
    else if (exists(fs, indexPath, "byid") && exists(fs, indexPath, "bycomp"))
      "components"
    else if (exists(fs, indexPath, "grams")) "novelty"
    else sys.error(s"Indexes.maintain: no known index layout at " +
      s"$indexPath (expected one of: pq, digest, lexical, exactsubstr, " +
      "semantic, ann, components, novelty)")
  }

  /** Fold batch tags outside the retry horizon, then compact files —
    * dispatched on the detected index type. See the object scaladoc
    * for the cadence policy; `keepTags` = tags still INSIDE the
    * horizon (their replay contract survives maintenance). */
  def maintain(spark: SparkSession, indexPath: String,
               keepTags: Set[String] = Set.empty,
               targetFileBytes: Long = 512L << 20): Maintenance = {
    val kind = detect(spark, indexPath)
    val dirs = kind match {
      case "pq" =>
        PqDiskIndex.compact(spark, indexPath, keepTags = keepTags); 1
      case "digest" =>
        if (keepTags.isEmpty) { DigestIndex.compact(spark, indexPath); 1 }
        else DigestIndex.foldBatches(spark, indexPath, keepTags,
          targetFileBytes)
      case "lexical" =>
        DedupIndex.foldBatches(spark, indexPath, keepTags,
          targetFileBytes) +
          DedupIndex.compact(spark, indexPath, targetFileBytes)
      case "exactsubstr" =>
        ExactSubstrIndex.foldBatches(spark, indexPath, keepTags,
          targetFileBytes) +
          ExactSubstrIndex.compact(spark, indexPath, targetFileBytes)
      case "semantic" =>
        EmbedIndex.foldBatches(spark, indexPath, keepTags,
          targetFileBytes) +
          EmbedIndex.compact(spark, indexPath, targetFileBytes)
      case "ann" =>
        // flat LSH index: no tags to fold (appends are untagged — see
        // AnnIndex.append's replay caveat); maintenance is the bucket-
        // preserving re-cluster
        AnnIndex.compact(spark, indexPath); 1
      case "components" =>
        if (keepTags.isEmpty) { ComponentsIndex.compact(spark, indexPath); 2 }
        else ComponentsIndex.foldBatches(spark, indexPath, keepTags,
          targetFileBytes)
      case "novelty" =>
        if (keepTags.isEmpty) { NoveltyIndex.compact(spark, indexPath); 1 }
        else NoveltyIndex.foldBatches(spark, indexPath, keepTags,
          targetFileBytes)
    }
    Maintenance(kind, dirs)
  }
}
