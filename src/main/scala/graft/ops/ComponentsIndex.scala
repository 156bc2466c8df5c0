package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental connected components over a PERSISTED label store — the
  * operator that turns the candidate-pair indexes ([[DedupIndex]],
  * [[ExactSubstrIndex]], [[EmbedIndex]]) into a maintained dedup
  * CLUSTERING: each daily batch of duplicate pairs updates stable
  * per-document cluster labels in O(batch + affected-component members)
  * without ever re-running components over the accumulated pair
  * history, let alone the corpus.
  *
  * Label discipline (the whole design): a component's label is the
  * MINIMUM document id among its members. Merges take the min of mins,
  * so a document's label can only ever DECREASE — the store is a
  * min-lattice and "current label" = min over all rows ever appended
  * for that id. That makes the index APPEND-ONLY (no row is updated in
  * place), blind replays harmless even without tag overwrite (duplicate
  * rows cannot change a min), and concurrent readers always see a
  * consistent (possibly slightly stale) labeling.
  *
  * Index layout (two tables under `indexPath`, same rows, two access
  * paths — the bands/sigs split of [[DedupIndex]] applied to lookups):
  *  - `byid/` partitioned by `ib` = pmod(xxhash64(id), 64): resolves a
  *    batch endpoint's current label with a literal partition filter;
  *  - `bycomp/` partitioned by `cb` = pmod(xxhash64(component), 64):
  *    loads the MEMBERS of an affected component the same way.
  * Retired labels never alias a live component (a label is an id; once
  * a component merges into a smaller label, the old label's own doc
  * carries the new label, and no other component can claim the old one
  * without containing that doc), so rows under a CURRENT label are
  * exactly its current members — stale rows are dead weight for
  * [[compact]] to drop, never a correctness hazard.
  *
  * Scale story (100 TB corpus, daily batches):
  *  - Endpoint lookups and member loads prune at directory granularity
  *    via ≤64 literal bucket values, then broadcast-semi filter
  *    map-side: the stored tables are never shuffled.
  *  - The union-find step runs [[DedupOps.connectedComponents]] over
  *    the batch pairs plus one STAR edge per affected member (member →
  *    current label), a graph of diameter ≤ batch-chain + 2 — bounded
  *    rounds, each an exchange of the bounded affected set.
  *  - Only CHANGED rows are appended (new ids, or labels that
  *    decreased). A batch that merges nothing writes nothing.
  *  - The honest cost term: a batch that bridges two mega-clusters
  *    loads both member sets. That is inherent to exact component
  *    maintenance — the relabel IS proportional to the smaller side's
  *    membership — and the min-label rule confines it to affected
  *    components only.
  *
  * Replay safety: rows land in tag-scoped partitions via
  * [[Layout.replacePartitions]] (caller's `batchTag`, else a content
  * tag from the pair set); a replay self-excludes its own tag when
  * reading stored state, so it recomputes the first attempt's exact
  * changed-set and overwrites it in place. Crash between the two
  * table writes (byid first, on purpose): reads stay CORRECT —
  * endpoint lookups see the new labels — but `bycomp/` misses the
  * batch's member rows until the standard tagged retry heals it, so
  * a merge landing in that window could under-relabel. Byid-first
  * makes the crashed state consistent for readers; bycomp-first
  * would let a later batch re-seed an id
  * under a spurious fresh label.
  *
  * Contract: doc ids are globally unique and non-null; pairs are
  * undirected (a,b) duplicate claims (orientation is ignored).
  */
object ComponentsIndex {

  private val NB = 64 // bucket fan-out; ≤64 literals in any prune filter

  private def byIdPath(p: String) = p + "/byid"
  private def byCompPath(p: String) = p + "/bycomp"
  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(NB.toLong)).cast("int")

  /** Fold label rows into each id's current (minimum) label. */
  private def resolve(rows: DataFrame): DataFrame =
    rows.groupBy("id").agg(min(col("component")).as("component"))

  /** Update the persisted labeling with one batch of duplicate pairs;
    * returns the post-batch (id, component) labels for every AFFECTED
    * id (batch endpoints plus all members of any component they touch),
    * materialized before the index mutates. */
  def appendAndLabel(spark: SparkSession, pairs: DataFrame,
                     indexPath: String,
                     idA: String = "id_a", idB: String = "id_b",
                     batchTag: Option[String] = None,
                     maxIter: Int = 25,
                     star: Boolean = false): DataFrame = {
    // the union graph's diameter is the batch's pair-chain length + 2
    // (stored components arrive as stars): near-clique dup batches
    // resolve in a few propagation rounds, and a batch that CHAINS
    // (verbatim-overlap runs) falls back AUTOMATICALLY to
    // connectedComponentsStar — same labels (StarComponentsSpec pins
    // the equality), diameter-independent round count — so the DEFAULT
    // configuration survives any batch shape. star = true skips the
    // propagation attempt for callers that KNOW their batches chain.
    def cc(g: DataFrame) =
      if (star) DedupOps.connectedComponentsStar(g, maxIter = maxIter)
      else DedupOps.connectedComponentsAuto(g, maxIter = maxIter)
    val p = pairs.select(col(idA).cast("long").as("id_a"),
      col(idB).cast("long").as("id_b")).persist()
    try {
      if (p.isEmpty)
        return p.select(col("id_a").as("id"), col("id_b").as("component"))
          .filter(lit(false))
      val fs = new Path(indexPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // heal crashed maintenance swaps BEFORE any committed-files probe
      Layout.healTable(fs, new Path(byIdPath(indexPath)))
      Layout.healTable(fs, new Path(byCompPath(indexPath)))
      val exists =
        Layout.hasCommittedFiles(fs, new Path(byIdPath(indexPath)))
      val tag = batchTag.getOrElse(
        Layout.contentTag(p, Seq("id_a", "id_b")))
      val (labels, prior) =
        if (!exists) {
          val l = cc(p)
          (l, l.select(col("id"), col("component").as("old"))
            .filter(lit(false)))
        } else {
          val ep = p.select(col("id_a").as("id"))
            .unionByName(p.select(col("id_b").as("id"))).distinct()
          // endpoint lookup: literal ib pruning (DPP may or may not fire
          // for a broadcast semi; a literal isin always does), then a
          // batch-bounded broadcast semi — the store never shuffles
          val ibs = ep.select(bucketOf(col("id")).as("ib")).distinct()
            .collect().map(_.getInt(0)).toSeq
          val known = resolve(
            spark.read.parquet(byIdPath(indexPath))
              .filter(col("ib").isin(ibs: _*))
              .filter(col("batch_tag") =!= tag) // replay self-exclusion
              .join(broadcast(ep), Seq("id"), "left_semi")
              .select("id", "component"))
          val comps = known.select("component").distinct().persist()
          val cbs = comps.select(bucketOf(col("component")).as("cb"))
            .distinct().collect().map(_.getInt(0)).toSeq
          val members =
            (if (cbs.isEmpty)
              comps.select(col("component"), col("component").as("id"))
                .filter(lit(false))
            else spark.read.parquet(byCompPath(indexPath))
              .filter(col("cb").isin(cbs: _*))
              .filter(col("batch_tag") =!= tag)
              .join(broadcast(comps), Seq("component"), "left_semi")
              .select("component", "id"))
              .dropDuplicates("id", "component").persist()
          // star edges: every affected member — label node included,
          // since a label is the min member and carries its own (c, c)
          // row — keeps its component connected through the label
          val g = p.unionByName(members.select(
            col("id").as("id_a"), col("component").as("id_b")))
          val next = cc(g)
          // labels only decrease; anything else is a broken invariant
          val regressed = next.join(
            members.withColumnRenamed("component", "old"), Seq("id"))
            .filter(col("component") > col("old"))
          require(regressed.isEmpty,
            s"ComponentsIndex at $indexPath: a label regressed upward — " +
              "the store is inconsistent (mixed writes without the tag " +
              "discipline?); refusing to append")
          // prior = everything already loaded: endpoint labels ∪
          // affected members, all current — no second index read
          val old = known.unionByName(members.select("id", "component"))
            .dropDuplicates("id")
            .withColumnRenamed("component", "old")
            .localCheckpoint(true)
          comps.unpersist(); members.unpersist()
          (next, old)
        }
      // changed rows only: new ids, or labels that decreased. Pinned
      // before any write so the lazy plan can never read the batch's
      // own freshly-written rows.
      val changed = labels.join(prior, Seq("id"), "left")
        .filter(col("old").isNull || col("component") < col("old"))
        .select("id", "component")
        .localCheckpoint(true)
      val out = labels.localCheckpoint(true)
      // byid FIRST (see scaladoc crash discipline); one exchange per
      // table before the partitioned write so each bucket dir gets one
      // file per batch, not one per task
      val byId = changed.select(bucketOf(col("id")).as("ib"),
          lit(tag).as("batch_tag"), col("id"), col("component"))
        .repartition(NB, col("ib"))
      Layout.replacePartitions(spark, byIdPath(indexPath))(
        byId.write.partitionBy("ib", "batch_tag").parquet(_))
      val byComp = changed.select(bucketOf(col("component")).as("cb"),
          lit(tag).as("batch_tag"), col("component"), col("id"))
        .repartition(NB, col("cb"))
      Layout.replacePartitions(spark, byCompPath(indexPath))(
        byComp.write.partitionBy("cb", "batch_tag").parquet(_))
      out
    } finally { p.unpersist(); () }
  }

  /** Current label of every id the index has ever seen — the bulk
    * EXPORT path (one full scan of `byid/` + a groupBy on id). Point
    * lookups go through [[lookupLabels]], which prunes. */
  def currentLabels(spark: SparkSession, indexPath: String): DataFrame =
    resolve(spark.read.parquet(byIdPath(indexPath))
      .select("id", "component"))

  /** Current labels for a bounded id set, pruned to its ib buckets;
    * ids the index has never seen are absent from the result. */
  def lookupLabels(spark: SparkSession, indexPath: String,
                   ids: DataFrame, id: String = "id"): DataFrame = {
    val want = ids.select(col(id).cast("long").as("id")).distinct()
    val ibs = want.select(bucketOf(col("id")).as("ib")).distinct()
      .collect().map(_.getInt(0)).toSeq
    resolve(spark.read.parquet(byIdPath(indexPath))
      .filter(col("ib").isin(ibs: _*))
      .join(broadcast(want), Seq("id"), "left_semi")
      .select("id", "component"))
  }

  /** Steady-state maintenance: drop superseded rows (every row whose
    * label a later merge decreased) and rewrite both tables as ONE
    * `batch_tag=folded` partition per bucket dir through the
    * stage-and-swap discipline — the [[DedupIndex.foldBatches]] +
    * [[Layout.compactPartitions]] move in one pass, plus the min-fold
    * neither can do. Folding forfeits per-batch replay idempotency for
    * the folded history (keep tags inside the retry horizon by running
    * this behind it). Current labels are unchanged by construction —
    * the fold keeps exactly each id's min — so lookups and future
    * appends are unaffected (ComponentsIndexSpec pins the equality). */
  /** Horizon-aware partition maintenance: fold label rows of batches
    * OUTSIDE the retry horizon into one `batch_tag=folded` partition
    * per bucket dir on BOTH access paths, kept tags copied through
    * with their replay contract intact ([[Layout.foldBatchTags]]).
    * Unlike [[compact]] this keeps superseded rows (harmless dead
    * weight under the min-lattice — the read-side min ignores them);
    * run [[compact]] once every tag is behind the horizon for the
    * stronger current-labels-only shape. Returns outer dirs
    * rewritten. */
  def foldBatches(spark: SparkSession, indexPath: String,
                  keepTags: Set[String] = Set.empty,
                  targetFileBytes: Long = 512L << 20): Int =
    Seq(byIdPath(indexPath), byCompPath(indexPath)).map(
      Layout.foldBatchTags(spark, _, keepTags,
        targetFileBytes = targetFileBytes)).sum

  def compact(spark: SparkSession, indexPath: String,
              numFiles: Int = NB): Unit = {
    // localCheckpoint, not persist: the fold must be materialized
    // INDEPENDENT of the tables being swapped — a persisted partition
    // evicted under memory pressure would recompute from the live
    // byid/ path mid-swap (absent between the replace's two renames)
    // and fail the job or race the rewrite. The lineage cut severs
    // that dependency (the DigestIndex.compact discipline).
    val cur = currentLabels(spark, indexPath).localCheckpoint(true)
    for ((path, keyCol, bCol) <- Seq(
        (byIdPath(indexPath), "id", "ib"),
        (byCompPath(indexPath), "component", "cb")))
      Layout.replace(spark, path) { tmp =>
        cur.select(bucketOf(col(keyCol)).as(bCol),
            lit("folded").as("batch_tag"), col("id"), col("component"))
          .repartition(numFiles, col(bCol))
          .write.partitionBy(bCol, "batch_tag").parquet(tmp)
      }
  }
}
