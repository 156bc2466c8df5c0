package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Expressions.{cosine_sim, hyperplane_lsh}
import graft.functions.Rounding.roundHalfUp

/** Persisted approximate-nearest-neighbor index over an embedding
  * column — the incremental complement of [[SimilarityOps.lshTopK]]:
  * build once, append new vectors per batch, search any time, without
  * ever re-hashing or re-clustering the stored corpus.
  *
  * Layout under `indexPath`:
  *  - `vectors/`: (neighbor_id, nvec, bucket) RANGE-CLUSTERED on the
  *    hyperplane-LSH bucket ([[Layout.writeRangeClustered]]) — each
  *    parquet file covers a contiguous bucket slice, so a probe's
  *    `bucket IN (...)` filter pushes into the scan and prunes whole
  *    files/row groups by min/max stats. A search touches
  *    O(|probes| / keyspace) of the index, not all of it.
  *  - `_meta_bits`: the hyperplane count, FIXED at build time. Bucket
  *    assignments are only comparable under one plane set, so appends
  *    and searches always derive it from here, never from corpus size
  *    (autoBits on a growing corpus would silently re-key the index).
  *
  * Appends write their own range-clustered files; per-file disjointness
  * holds within each batch, so pruning stays effective while batches
  * accrete — run [[compact]] (bucket-preserving re-cluster through the
  * stage-and-swap discipline) when small appended files accumulate, or
  * re-run [[build]] to re-key the planes.
  *
  * Searches mirror lshTopK's multi-probe scheme (base bucket + all
  * 1-bit flips), with the probe keys computed driver-side from the
  * already-collected query set — the query side is broadcast-small by
  * contract, the index side never shuffles, and top-k is the same
  * TypedImperativeAggregate (k candidates per partition per query reach
  * the exchange). */
object AnnIndex {

  private def vecsPath(indexPath: String) = indexPath + "/vectors"
  private def metaPath(indexPath: String) = new Path(indexPath, "_meta_bits")

  private def fsFor(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build (or rebuild) the index from a corpus. Returns the hyperplane
    * bit count in force (sized to the corpus when `bits = 0`). The meta
    * file is written LAST — its presence marks the index complete. */
  def build(spark: SparkSession, corpus: DataFrame, indexPath: String,
            vec: String, id: String, bits: Int = 0,
            numFiles: Int = 32): Int = {
    val b = if (bits > 0) bits else SimilarityOps.autoBits(corpus.count())
    // REBUILD crash-safety: drop the old meta BEFORE touching vectors.
    // Meta present == index complete; were the old meta left standing
    // while vectors/ is overwritten under a NEW plane count, a crash
    // mid-rebuild would leave readBits serving the old bit count over
    // re-keyed (or partial) vectors — searches would silently return
    // wrong neighbors. With the meta gone first, that crash makes
    // readBits fail loudly until the rebuild is re-run.
    val fs = fsFor(spark, indexPath)
    fs.delete(metaPath(indexPath), false)
    val rows = corpus.select(col(id).as("neighbor_id"), col(vec).as("nvec"),
      hyperplane_lsh(col(vec), b).as("bucket"))
    Layout.writeRangeClustered(rows, vecsPath(indexPath), Seq("bucket"), numFiles)
    val out = fs.create(metaPath(indexPath), true)
    try out.write(b.toString.getBytes("UTF-8")) finally out.close()
    b
  }

  /** The hyperplane count the index was built with. */
  def readBits(spark: SparkSession, indexPath: String): Int = {
    val fs = fsFor(spark, indexPath)
    val in = fs.open(metaPath(indexPath))
    try new String(
      org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      .trim.toInt
    finally in.close()
  }

  /** Append a batch of new vectors under the index's fixed plane set.
    * The batch's files are range-clustered on bucket like the base
    * build, so probe pruning keeps working as the index accretes.
    * Heals a crashed [[compact]] swap at entry (the owning-writer
    * discipline): without it, a batch landed in the marker-less window
    * would be deleted wholesale by the next compact's restore-old
    * recovery. NOTE: appends are untagged (flat layout) — a blind
    * retry double-appends its rows; results stay correct because the
    * top-k aggregate dedups by neighbor id, but storage grows — prefer
    * the tag-scoped indexes where at-least-once delivery is the norm. */
  def append(spark: SparkSession, batch: DataFrame, indexPath: String,
             vec: String, id: String, numFiles: Int = 4): Unit = {
    Layout.recoverSwap(fsFor(spark, indexPath),
      new Path(vecsPath(indexPath)))
    val b = readBits(spark, indexPath)
    Layout.writeRangeClustered(
      batch.select(col(id).as("neighbor_id"), col(vec).as("nvec"),
        hyperplane_lsh(col(vec), b).as("bucket")),
      vecsPath(indexPath), Seq("bucket"), numFiles, SaveMode.Append)
  }

  /** Re-cluster the accreted vector table back into `numFiles`
    * range-clustered files — the [[PqDiskIndex.compact]] move for the
    * LSH layout: every append lands its own file set whose bucket
    * ranges overlap the base build's, so a probe's `bucket IN` filter
    * opens ~appends× more files than a fresh build. Rewrites
    * `vectors/` as ONE range-clustered file set through the
    * stage-and-swap discipline; planes (`_meta_bits`) are untouched —
    * compaction moves bytes, it never re-hashes, so search results
    * are unchanged by construction (AnnIndexSpec pins it). A plain
    * [[Layout.compact]] would be WRONG here: its hash repartition
    * destroys the bucket range-clustering that probe pruning needs. */
  def compact(spark: SparkSession, indexPath: String,
              numFiles: Int = 32): Unit = {
    readBits(spark, indexPath) // incomplete index: fail loudly, as search
    val p = vecsPath(indexPath)
    Layout.replace(spark, p) { tmp =>
      Layout.writeRangeClustered(spark.read.parquet(p), tmp, Seq("bucket"),
        numFiles)
    }
  }

  /** Multi-probe cosine top-k against the stored index. Identical
    * output to [[SimilarityOps.lshTopK]] over the same corpus and bit
    * count (AnnIndexSpec pins the equality) — but the corpus side is
    * the persisted index, scanned with the probe keys pushed down. */
  def search(spark: SparkSession, queries: DataFrame, indexPath: String,
             vec: String, id: String, k: Int): DataFrame = {
    val b = readBits(spark, indexPath)
    // one row per query id, materialized ONCE to a driver-side local
    // relation (the lshTopK rationale: feeds two broadcasts that must
    // agree, and the query set is broadcast-small by contract)
    // null-vector queries have no bucket (the LSH null-propagates) —
    // drop them here like lshTopK leaves them unmatched; without the
    // filter the driver-side getInt below NPEs on the whole search
    val qPlan = queries.filter(col(vec).isNotNull)
      .select(col(id).as("query_id"), col(vec).as("qvec"),
        hyperplane_lsh(col(vec), b).as("_bucket0"))
      .filter(col("_bucket0").isNotNull)
      .dropDuplicates("query_id")
    val qRows = qPlan.collect()
    val qBase = spark.createDataFrame(
      java.util.Arrays.asList(qRows: _*), qPlan.schema)
    // probe keys (base + every 1-bit flip) computed driver-side from
    // the collected rows — no extra job, and the IN-list pushes into
    // the parquet scan where the range-clustered layout turns it into
    // file/row-group pruning
    val b0Idx = qPlan.schema.fieldIndex("_bucket0")
    val probeKeys = qRows.flatMap { r =>
      val b0 = r.getInt(b0Idx)
      (0 to b).map(j => if (j == 0) b0 else b0 ^ (1 << (j - 1)))
    }.distinct.toSeq
    val probes = array((0 to b).map { j =>
      if (j == 0) col("_bucket0")
      else col("_bucket0").bitwiseXOR(lit(1 << (j - 1)))
    }: _*)
    val qProbes = qBase
      .withColumn("bucket", explode(array_distinct(probes)))
      .select("query_id", "bucket")
    // read-only path: a search racing a compact mid-swap follows the
    // last COMMITTED copy (marker semantics), never a partial rename-in
    val c = spark.read.parquet(Layout.committedReadPath(
        fsFor(spark, indexPath), new Path(vecsPath(indexPath))).toString)
      .filter(col("bucket").isInCollection(probeKeys))
    val scored = c.join(broadcast(qProbes), Seq("bucket"))
      .join(broadcast(qBase.select(col("query_id"), col("qvec"))), Seq("query_id"))
      .withColumn("sim", roundHalfUp(cosine_sim(col("qvec"), col("nvec")), 6))
    SimilarityOps.rankTopK(scored, k)
  }
}
