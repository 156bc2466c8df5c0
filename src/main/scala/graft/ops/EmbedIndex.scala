package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Expressions.{dot_product, hyperplane_lsh, vec_norm}
import graft.functions.Rounding.roundHalfUp

/** Incremental SEMANTIC near-duplicate detection against a persisted
  * embedding index — the third member of the incremental-dedup trio
  * (lexical: [[DedupIndex]]; verbatim: [[ExactSubstrIndex]]; semantic:
  * this). A daily batch of embedded documents is checked for
  * high-cosine duplicates against the full indexed history in O(batch):
  * history is never re-hashed, re-bucketed, or re-scored.
  *
  * Candidate rule (deterministic, oracle-replayable): two vectors are
  * compared iff their hyperplane-LSH buckets differ in AT MOST ONE bit
  * — exactly the base + 1-bit-flip multi-probe recall contract of
  * [[SimilarityOps.lshTopK]], stated symmetrically. A pair is a
  * duplicate when its rounded cosine (6 dp, [[graft.functions.Rounding
  * .roundHalfUp]]) reaches `threshold`. Recall < 1 by construction
  * (bucket-boundary pairs beyond one bit are not compared) — the same
  * trade every LSH dedup makes; the rule is replayed verbatim by the
  * DuckDB oracle so the approximation is value-checked, not waved at.
  *
  * Bucket membership is generated by exploding each NEW vector to its
  * base bucket plus every 1-bit flip (flagged `at_base`), while stored
  * vectors participate at their base bucket only (it is persisted in
  * the index — history is never re-hashed). A pair requires at least
  * one side at its base bucket, which is precisely the hamming <= 1
  * relation: hamming 0 meets at the shared base; hamming 1 meets in
  * the bucket where one side is at base and the other flipped in; a
  * two-flip meeting would have neither side at base and is excluded.
  *
  * Index layout under `indexPath`:
  *  - `vectors/` partitioned by `bg = bucket mod `[[BucketGroups]]
  *    (plus `batch_tag` unless the index is legacy-untagged):
  *    (bucket, id, vec) rows. A probe touches only the partitions its
  *    batch's probe keys land in (the `bg IN (...)` filter prunes at
  *    directory level — the [[ExactSubstrIndex]] hb idiom), then a
  *    broadcast semi-join on the exact bucket keys prunes row groups
  *    map-side. The index is never shuffled.
  *  - `_meta_bits`: the hyperplane count, FIXED at first append —
  *    bucket values are only comparable under one plane set
  *    (the [[AnnIndex]] contract), so later calls read it and ignore
  *    their `bits` argument.
  *
  * Scale story (100 TB corpus, daily batches): the batch's probe keys
  * are broadcast against the partition-pruned index scan, candidate
  * pairs are generated inside capped buckets ([[DedupOps
  * .cappedBuckets]] — the cap gates BEFORE any member list
  * materializes), and vectors are joined back for the CANDIDATE ids
  * only (broadcast semi-join prunes the stored scan map-side), so
  * matched work is proportional to the batch, not the history. Pairs
  * where both sides are historical are skipped — they were emitted
  * when the younger side was itself the batch — so the union of all
  * calls equals [[dupPairs]] over the accumulated corpus while every
  * bucket stays under the cap (EmbedIndexSpec pins the identity; a
  * bucket that CROSSES the cap mid-history diverges by design: the
  * incremental calls emitted its early pairs, the full-batch replay
  * drops the whole bucket — the same honesty note as [[DedupIndex]]).
  *
  * Replay safety mirrors [[DedupIndex]]: batches land in tag-scoped
  * partitions via [[Layout.replacePartitions]] (caller's `batchTag`, or
  * a [[Layout.contentTag]] derived from (id, vec)), the probe excludes
  * the replay's own tag, so a blind retry returns the identical pair
  * set over a pristine history. Steady-state maintenance:
  * [[foldBatches]] + [[compact]].
  */
object EmbedIndex {

  /** Partition-count for the bucket-group directory key: buckets mod
    * this land in one directory, so a probe lists at most this many
    * partitions regardless of 2^bits keyspace size. */
  val BucketGroups = 32

  private def vecsPath(indexPath: String) = indexPath + "/vectors"
  private def metaPath(indexPath: String) = new Path(indexPath, "_meta_bits")

  private def fsFor(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readBits(spark: SparkSession, indexPath: String): Option[Int] = {
    val fs = fsFor(spark, indexPath)
    if (!fs.exists(metaPath(indexPath))) None
    else {
      val in = fs.open(metaPath(indexPath))
      try Some(new String(
        org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
        .trim.toInt)
      finally in.close()
    }
  }

  /** (id, vec, bucket) for the non-null-vector rows of `df` under a
    * fixed plane count. */
  private def bucketed(df: DataFrame, vec: String, id: String,
                       bits: Int): DataFrame =
    df.filter(col(vec).isNotNull)
      .select(col(id).as("_eid"), col(vec).as("_evec"),
        hyperplane_lsh(col(vec), bits).as("_eb0"))

  /** Explode to base + every 1-bit flip, flagged. */
  private def probeEntries(b: DataFrame, bits: Int): DataFrame =
    b.select(col("_eid"), explode(array((0 to bits).map { j =>
        struct(
          (if (j == 0) col("_eb0")
           else col("_eb0").bitwiseXOR(lit(1 << (j - 1)))).as("bucket"),
          lit(j == 0).as("at_base"))
      }: _*)).as("_pe"))
      .select(col("_eid"), col("_pe.bucket").as("bucket"),
        col("_pe.at_base").as("at_base"))

  /** Capped-bucket pair generation + cosine scoring shared by the
    * batch and incremental paths. `entries`: (_eid, bucket, at_base,
    * is_new); `vecSrc`: (_eid, _evec) covering at least every id that
    * can appear in a candidate pair. Returns (id_a, id_b, sim). */
  private def scorePairs(entries: DataFrame, vecSrc: DataFrame,
                         threshold: Double, maxBucket: Int): DataFrame = {
    val buckets = DedupOps.cappedBuckets(entries, Seq("bucket"), lit(1L),
      struct(col("_eid"), col("is_new"), col("at_base")), maxBucket, "xs")
    val cand = buckets.select(explode(
        flatten(transform(col("xs"), (x, i) =>
          transform(slice(col("xs"), i + 2, size(col("xs"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
      .filter(col("p.a.is_new") || col("p.b.is_new"))
      .filter(col("p.a.at_base") || col("p.b.at_base"))
      .filter(col("p.a._eid") =!= col("p.b._eid"))
      .select(least(col("p.a._eid"), col("p.b._eid")).as("id_a"),
        greatest(col("p.a._eid"), col("p.b._eid")).as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist() // read twice below (vector prune + the pair join)
    // vectors joined back for CANDIDATE ids only: the candidate set is
    // bounded (capped buckets x batch size), so it broadcasts into a
    // semi-join that prunes the vector source map-side — never an
    // id-keyed shuffle of the corpus/history
    val candIds = cand.select(col("id_a").as("_eid"))
      .unionByName(cand.select(col("id_b").as("_eid"))).distinct()
    // persisted: the pruned set is BOUNDED (capped buckets x batch) and
    // feeds both sides of the pair join below — without the pin each
    // join subtree re-runs the semi-join AND rebuilds the candidate-id
    // broadcast
    val v = vecSrc.join(broadcast(candIds), Seq("_eid"), "left_semi")
      .dropDuplicates("_eid") // tagged replay sees its own ids twice
      .withColumn("_enrm", vec_norm(col("_evec")))
      .persist()
    // precomputed-norm cosine — bit-identical to CosineSim (the
    // [[graft.ops.Clustering.semdedup]] pair-stage contract, pinned in
    // SimilaritySpec)
    val sim = when(col("_na") === 0.0 || col("_nb") === 0.0, lit(0.0))
      .otherwise(dot_product(col("_va"), col("_vb"))
        / (col("_na") * col("_nb")))
    val out = cand
      .join(v.select(col("_eid").as("id_a"), col("_evec").as("_va"),
        col("_enrm").as("_na")), "id_a")
      .join(v.select(col("_eid").as("id_b"), col("_evec").as("_vb"),
        col("_enrm").as("_nb")), "id_b")
      .withColumn("sim", roundHalfUp(sim, 6))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
      .localCheckpoint(true) // pin before cand unpersists / index mutates
    cand.unpersist()
    v.unpersist(blocking = false)
    out
  }

  /** Batch-mode embedding near-dup pairs over a full corpus — the
    * non-incremental counterpart (and the replay target of the
    * union-of-calls identity): every vector participates at base AND
    * flips. Returns (id_a, id_b, sim) with id_a < id_b,
    * sim >= threshold. */
  def dupPairs(corpus: DataFrame, vec: String, id: String, bits: Int,
               threshold: Double, maxBucket: Int = 200): DataFrame = {
    val b = bucketed(corpus, vec, id, bits)
    val entries = probeEntries(b, bits).withColumn("is_new", lit(true))
    scorePairs(entries, b.select(col("_eid"), col("_evec")),
      threshold, maxBucket)
  }

  /** Find semantic near-dup pairs of `batch` against the index ∪ the
    * batch itself, then append the batch's vectors to the index.
    * Returns (id_a, id_b, sim), materialized BEFORE the append so the
    * lazy plan can never read the batch's freshly-written rows. `bits`
    * applies only when the index does not exist yet; later calls use
    * the persisted plane count. */
  def appendAndFindDups(spark: SparkSession, batch: DataFrame,
                        indexPath: String, vec: String, id: String,
                        bits: Int = 12, threshold: Double = 0.95,
                        maxBucket: Int = 200,
                        batchTag: Option[String] = None): DataFrame = {
    require(!batchTag.contains("folded"),
      "batchTag 'folded' is reserved for foldBatches' consolidation " +
        "partition (see DedupIndex.appendAndFindDups)")
    val fs = fsFor(spark, indexPath)
    // heal crashed maintenance swaps BEFORE any committed-files probe
    Layout.healTable(fs, new Path(vecsPath(indexPath)))
    val b = readBits(spark, indexPath).getOrElse(bits)
    val newB = bucketed(batch, vec, id, b).persist()
    try {
      if (newB.isEmpty)
        return newB.select(col("_eid").as("id_a"), col("_eid").as("id_b"),
          lit(0.0).as("sim")).filter(lit(false))
      val indexExists =
        Layout.hasCommittedFiles(fs, new Path(vecsPath(indexPath)))
      val legacyUntagged = indexExists &&
        !spark.read.parquet(vecsPath(indexPath)).columns
          .contains("batch_tag")
      require(!(legacyUntagged && batchTag.isDefined),
        s"EmbedIndex at $indexPath was accreted untagged; a tagged " +
          "append would break its partition discovery — compact/migrate " +
          "the index or keep appending untagged (batchTag = None)")
      val tag = if (legacyUntagged) None
        else Some(batchTag.getOrElse(
          Layout.contentTag(newB, Seq("_eid", "_evec"))))
      val newEntries = probeEntries(newB, b).withColumn("is_new", lit(true))
      // directory-level pruning keys, shared by the entries scan and
      // the vector source: <= BucketGroups ints collected from the
      // batch's probe keys. A LITERAL filter, not a hoped-for DPP — at
      // probe scale every bg is touched and it prunes nothing, but in
      // the small-daily-batch-vs-years-of-history regime it bounds
      // both scans to the batch's partition footprint (the
      // ExactSubstrIndex hb idiom).
      val touchedBg: Seq[Int] =
        if (!indexExists) Nil
        else newEntries
          .select(pmod(col("bucket"), lit(BucketGroups)).as("bg"))
          .distinct().collect().map(_.getInt(0)).toSeq
      val entries =
        if (!indexExists) newEntries
        else {
          // then the exact bucket-key semi-join prunes map-side — the
          // index never shuffles
          val newKeys = newEntries.select("bucket").distinct()
          val stored = spark.read.parquet(vecsPath(indexPath))
            .filter(col("bg").isInCollection(touchedBg))
          // a tagged REPLAY sees its own first attempt: exclude it, or
          // bucket sizes double and cap decisions silently differ from
          // the first run's
          val storedOthers = tag match {
            case Some(t) if !legacyUntagged =>
              stored.filter(col("batch_tag") =!= t)
            case _ => stored
          }
          val oldHits = storedOthers
            .join(broadcast(newKeys), Seq("bucket"), "left_semi")
            .select(col("_eid"), col("bucket"), lit(true).as("at_base"),
              lit(false).as("is_new"))
          newEntries.unionByName(oldHits)
        }
      // vector source for candidate scoring: the batch itself plus the
      // stored vectors (bg-pruned here at directory level — a stored
      // candidate's base bucket is necessarily one of the batch's probe
      // keys, so its partition is in touchedBg — then pruned to exact
      // candidate ids inside scorePairs)
      val vecSrc =
        if (!indexExists) newB.select(col("_eid"), col("_evec"))
        else newB.select(col("_eid"), col("_evec")).unionByName(
          spark.read.parquet(vecsPath(indexPath))
            .filter(col("bg").isInCollection(touchedBg))
            .select(col("_eid"), col("_evec")))
      val pairs = scorePairs(entries, vecSrc, threshold, maxBucket)
      // meta BEFORE vectors on the first append: a crash in between
      // leaves a plane count with no rows — an empty index, not a
      // re-keyable one
      if (readBits(spark, indexPath).isEmpty) {
        val out = fs.create(metaPath(indexPath), true)
        try out.write(b.toString.getBytes("UTF-8")) finally out.close()
      }
      val rows = newB.select(
        pmod(col("_eb0"), lit(BucketGroups)).as("bg"),
        col("_eb0").as("bucket"), col("_eid"), col("_evec"))
      // one exchange on bg before the partitioned write: one file per
      // touched partition per batch (the DedupIndex band idiom)
      tag match {
        case Some(t) =>
          val tagged = rows.withColumn("batch_tag", lit(t))
            .repartition(BucketGroups, col("bg"))
          Layout.replacePartitions(spark, vecsPath(indexPath))(
            tagged.write.partitionBy("bg", "batch_tag").parquet(_))
        case None =>
          rows.repartition(BucketGroups, col("bg"))
            .write.mode(SaveMode.Append).partitionBy("bg")
            .parquet(vecsPath(indexPath))
      }
      pairs
    } finally { newB.unpersist(); () }
  }

  /** Fold per-batch tag partitions outside the retry horizon into one
    * `batch_tag=folded` partition — [[DedupIndex.foldBatches]]
    * semantics. Returns outer dirs rewritten. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Layout.foldBatchTags(spark, vecsPath(indexPath), keepTags,
      targetFileBytes = targetFileBytes)

  /** Compact the small files appends accrete — layout-preserving,
    * probe results bit-identical before/after. Returns dirs
    * rewritten. */
  def compact(spark: SparkSession, indexPath: String,
              targetFileBytes: Long = 512L << 20): Int =
    Layout.compactPartitions(spark, vecsPath(indexPath), targetFileBytes)
}
