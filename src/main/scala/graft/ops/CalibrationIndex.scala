package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental CLASSIFIER-CALIBRATION store — the monitoring half of
  * the deploy loop: a quality filter is trained offline
  * ([[Classifier.fitLogistic]]), frozen into the streaming funnel
  * (`EventStream.curateSink(logit = ...)`), and then WATCHED — each
  * scored micro-batch lands its bounded per-score aggregate here, and
  * the PR curve / ROC AUC of the deployed filter derive on read from
  * the accumulated store, so calibration drift is visible without
  * ever re-scanning a byte of the corpus.
  *
  * Store discipline (structurally [[DigestIndex]]): one table
  * `scoreagg/`, rows `(batch_tag, thr, n, pos)` — each batch appends
  * its [[Classifier.scoreAggregate]], at most 10^scale + 1 rows
  * (score ∈ [0,1], loudly guarded). The accumulated state is a pure
  * ADDITIVE monoid — component-wise sums per `thr` — so batch order
  * is irrelevant, duplicate-tag rows only ever double counts (and the
  * tag discipline prevents that), and [[compact]] can fold history to
  * one row per score without changing any answer. No per-batch probe
  * exists (metrics always need the WHOLE folded aggregate), so there
  * are no bucket directories: reads scan the store — which is
  * batches × curve points, never corpus-sized.
  *
  * Replay safety: batches land in tag-scoped partitions via dynamic
  * overwrite, so an at-least-once retry overwrites exactly its own
  * partition — same `(appId-batchId)` scheme as every other sink. */
object CalibrationIndex {

  private def aggPath(p: String) = p + "/scoreagg"

  /** Append one batch's per-score aggregate. An empty (or all-null)
    * batch writes nothing — never a schema-less directory.
    *
    * Tag semantics: production callers (the streaming sinks) pass an
    * explicit `batchTag` (appId-batchId) — ALWAYS do the same for
    * repeated appends. The default tag hashes the RAW batch's rows
    * over ALL its columns, so id-bearing batches that merely share a
    * score/label aggregate land under distinct tags and accrete; two
    * batches identical in EVERY column still collapse to one tag
    * (indistinguishable content = the replay-idempotence contract),
    * so a caller that genuinely re-observes identical batches and
    * wants them double-counted must tag them apart explicitly. */
  def append(spark: SparkSession, batch: DataFrame, indexPath: String,
             score: String, label: String, scale: Int = 6,
             batchTag: Option[String] = None): Unit = {
    val summary = Classifier
      .scoreAggregate(batch, score, label, scale)
      .localCheckpoint(true) // bounded rows; score once, write once
    if (summary.isEmpty) return
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.healTable(fs, new Path(aggPath(indexPath)))
    val tag = batchTag.getOrElse(
      Layout.contentTag(batch, batch.columns.toSeq))
    summary
      .select(lit(tag).as("batch_tag"), col("thr"), col("n"), col("pos"))
      .repartition(1) // one file per batch — the aggregate is tiny
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_tag").parquet(aggPath(indexPath))
  }

  /** The accumulated `(thr, n, pos)` aggregate with the monoid fold
    * applied — the store's canonical export. */
  def currentAggregate(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.parquet(aggPath(indexPath))
      .groupBy(col("thr"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))

  /** PR curve of everything scored so far — identical to
    * [[Classifier.prCurve]] over the concatenated batches
    * (StreamingSpec pins it). */
  def prCurve(spark: SparkSession, indexPath: String): DataFrame =
    Classifier.prCurveFromAggregate(
      spark.read.parquet(aggPath(indexPath))
        .select("thr", "n", "pos"))

  /** ROC AUC of everything scored so far — identical to
    * [[Classifier.rocAuc]] over the concatenated batches. */
  def rocAuc(spark: SparkSession, indexPath: String): DataFrame =
    Classifier.rocAucFromAggregate(
      spark.read.parquet(aggPath(indexPath))
        .select("thr", "n", "pos"))

  /** Expected calibration error of everything scored so far —
    * identical to [[Classifier.calibrationError]] over the
    * concatenated batches (the all-integer fold). */
  def ece(spark: SparkSession, indexPath: String,
          bins: Int = 10): DataFrame =
    Classifier.eceFromAggregate(
      spark.read.parquet(aggPath(indexPath))
        .select("thr", "n", "pos"), bins)

  /** Brier score of everything scored so far — identical to
    * [[Classifier.brierScore]] over the concatenated batches. */
  def brier(spark: SparkSession, indexPath: String): DataFrame =
    Classifier.brierFromAggregate(
      spark.read.parquet(aggPath(indexPath))
        .select("thr", "n", "pos"))

  /** Reliability diagram of everything scored so far — identical to
    * [[Classifier.reliability]] over the concatenated batches. */
  def reliability(spark: SparkSession, indexPath: String,
                  bins: Int = 10): DataFrame =
    Classifier.reliabilityFromAggregate(
      spark.read.parquet(aggPath(indexPath))
        .select("thr", "n", "pos"), bins)

  /** The F_β-optimal operating threshold over everything scored so
    * far — the re-calibration read of the deploy loop: refresh the
    * frozen gate's `minP` from accumulated production evidence. */
  def bestThreshold(spark: SparkSession, indexPath: String,
                    beta: Double = 1.0): DataFrame =
    Classifier.bestThresholdFromAggregate(
      spark.read.parquet(aggPath(indexPath))
        .select("thr", "n", "pos"), beta)

  /** The folded `(thr, n, pos)` aggregate of ONE WINDOW of batches —
    * the store is partitioned by `batch_tag`, so a window read prunes
    * to exactly its tags' partitions. Loud on a tag with no landed
    * batch (a misspelled or never-landed tag would otherwise read as
    * an empty-but-valid window and silently skew any derived
    * metric). NOTE: [[compact]] folds ALL history under the single
    * tag `folded` — run it only when no window read still needs the
    * folded tags (the whole-store metrics are unaffected). */
  def windowAggregate(spark: SparkSession, indexPath: String,
                      tags: Seq[String]): DataFrame = {
    require(tags.nonEmpty, "calibration: window tags must be non-empty")
    val store = spark.read.parquet(aggPath(indexPath))
      .filter(col("batch_tag").isin(tags: _*))
    val present = store.select("batch_tag").distinct()
      .collect().map(_.getString(0)).toSet // ≤ |tags| rows
    val missing = tags.filterNot(present)
    require(missing.isEmpty,
      s"calibration: no landed batch for tag(s) ${missing.mkString(", ")}")
    store.groupBy(col("thr"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))
  }

  /** Score-distribution drift (PSI, [[Classifier.scoreDrift]])
    * between two TAG WINDOWS of the store — e.g. last week's batches
    * as the reference and today's as the current: the label-free
    * "did the scored population move" monitor, derived entirely from
    * the accreted aggregates without re-scanning a scored row. */
  def drift(spark: SparkSession, indexPath: String,
            refTags: Seq[String], curTags: Seq[String],
            bins: Int = 10): DataFrame =
    Classifier.driftFromAggregates(
      windowAggregate(spark, indexPath, refTags),
      windowAggregate(spark, indexPath, curTags), bins)

  /** The MONITORING REPORT — the whole deployed-filter dashboard row
    * in ONE store read: ranking quality on each window (AUC), honesty
    * and sharpness on the current window (ECE, Brier), and both
    * drift statistics between the windows (PSI, KS), as long-format
    * `(metric, value)` rows — the shape a dashboard or alert rule
    * consumes directly. Pure unions of the one-row metric reads (no
    * joins — every branch folds the bounded tag-window aggregates);
    * a null value surfaces an undefined metric (one-class AUC, an
    * empty window's KS) instead of a fabricated number. */
  def monitorReport(spark: SparkSession, indexPath: String,
                    refTags: Seq[String], curTags: Seq[String],
                    bins: Int = 10): DataFrame = {
    // pin the two window folds (≤ 10^6+1 rows each) before the six
    // metric branches fan out — unpinned, every branch re-reads the
    // store parquet (~13 scans per report); pinned, the store is read
    // exactly twice
    val ref = windowAggregate(spark, indexPath, refTags)
      .localCheckpoint(true)
    val cur = windowAggregate(spark, indexPath, curTags)
      .localCheckpoint(true)
    def one(name: String, df: DataFrame, v: String) =
      df.select(lit(name).as("metric"),
        col(v).cast("double").as("value"))
    one("auc_ref", Classifier.rocAucFromAggregate(ref), "auc")
      .unionByName(
        one("auc_cur", Classifier.rocAucFromAggregate(cur), "auc"))
      .unionByName(
        one("ece_cur", Classifier.eceFromAggregate(cur, bins), "ece"))
      .unionByName(
        one("brier_cur", Classifier.brierFromAggregate(cur), "brier"))
      .unionByName(
        one("psi", Classifier.driftFromAggregates(ref, cur, bins),
          "psi"))
      .unionByName(
        one("ks", Classifier.ksFromAggregates(ref, cur), "ks"))
  }

  /** Kolmogorov–Smirnov drift ([[Classifier.scoreDriftKs]]) between
    * two tag windows — the binning-free two-sample test, derived from
    * the same accreted aggregates. */
  def driftKs(spark: SparkSession, indexPath: String,
              refTags: Seq[String], curTags: Seq[String]): DataFrame =
    Classifier.ksFromAggregates(
      windowAggregate(spark, indexPath, refTags),
      windowAggregate(spark, indexPath, curTags))

  // ---- PER-SOURCE (grouped) store: the multi-domain deploy loop ----
  // One filter over many ingestion sources is monitored per source;
  // the store keeps the GROUPED monoid (batch_tag, <group>, thr, n,
  // pos) — batches × groups × (10^scale + 1) rows — under the same
  // tag-partition replay discipline, and every grouped metric
  // derives on read. One group column per store (the column name is
  // stored as written; reads must pass the same name — loudly
  // checked).

  private def aggByPath(p: String) = p + "/scoreaggby"

  private def readBy(spark: SparkSession, indexPath: String,
                     group: String): DataFrame = {
    val df = spark.read.parquet(aggByPath(indexPath))
    require(df.columns.contains(group),
      s"calibration: grouped store has columns " +
        s"${df.columns.mkString(", ")} — no group column '$group'")
    df.select(col(group), col("thr"), col("n"), col("pos"))
  }

  /** The grouped store's group-cardinality budget: the monoid is
    * groups × (10^scale + 1) rows, bounded ONLY while the group column
    * is a source/domain-cardinality key — a URL- or doc-id-valued
    * group would silently bloat the store (and every read) to corpus
    * scale. [[appendBy]] enforces it loudly (the
    * `NoveltyIndex.broadcastMaxGrams` / `Mixing.maxSources` stance). */
  val maxGroups: Int = 10000

  /** Append one batch's PER-SOURCE aggregate
    * ([[Classifier.scoreAggregateBy]]). Same empty-batch,
    * tag-partition, and default-tag semantics as [[append]]. Loud
    * when the batch carries more than [[maxGroups]] distinct groups —
    * the group column is per-source by contract. */
  def appendBy(spark: SparkSession, batch: DataFrame, indexPath: String,
               group: String, score: String, label: String,
               scale: Int = 6, batchTag: Option[String] = None): Unit = {
    val summary = Classifier
      .scoreAggregateBy(batch, group, score, label, scale)
      .localCheckpoint(true)
    if (summary.isEmpty) return
    val nGroups = summary.select(col(group)).distinct()
      .limit(maxGroups + 1).count() // bounded probe of the pinned frame
    require(nGroups <= maxGroups,
      s"calibration: group cardinality exceeds budget $maxGroups in " +
        s"'$group' — monitoring groups are sources/domains by " +
        "contract; a URL- or id-valued column would bloat the store " +
        "to groups x lattice rows")
    val fs = new Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Layout.healTable(fs, new Path(aggByPath(indexPath)))
    val tag = batchTag.getOrElse(
      Layout.contentTag(batch, batch.columns.toSeq))
    summary
      .select(lit(tag).as("batch_tag"), col(group), col("thr"),
        col("n"), col("pos"))
      .repartition(1)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_tag").parquet(aggByPath(indexPath))
  }

  /** The accumulated grouped aggregate with the monoid fold applied. */
  def currentAggregateBy(spark: SparkSession, indexPath: String,
                         group: String): DataFrame =
    readBy(spark, indexPath, group)
      .groupBy(col(group), col("thr"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))

  /** Per-source PR curve of everything scored so far — identical to
    * [[Classifier.prCurveBy]] over the concatenated batches. */
  def prCurveBy(spark: SparkSession, indexPath: String,
                group: String): DataFrame =
    Classifier.prCurveByFromAggregate(
      readBy(spark, indexPath, group), group)

  /** Per-source ROC AUC of everything scored so far. */
  def rocAucBy(spark: SparkSession, indexPath: String,
               group: String): DataFrame =
    Classifier.rocAucByFromAggregate(
      readBy(spark, indexPath, group), group)

  /** Per-source expected calibration error of everything scored so
    * far. */
  def eceBy(spark: SparkSession, indexPath: String, group: String,
            bins: Int = 10): DataFrame =
    Classifier.eceByFromAggregate(
      readBy(spark, indexPath, group), group, bins)

  /** Per-source Brier score of everything scored so far — identical
    * to [[Classifier.brierScoreBy]] over the concatenated batches. */
  def brierBy(spark: SparkSession, indexPath: String,
              group: String): DataFrame =
    Classifier.brierByFromAggregate(
      readBy(spark, indexPath, group), group)

  /** Per-source reliability diagram of everything scored so far —
    * identical to [[Classifier.reliabilityBy]] over the concatenated
    * batches. */
  def reliabilityBy(spark: SparkSession, indexPath: String,
                    group: String, bins: Int = 10): DataFrame =
    Classifier.reliabilityByFromAggregate(
      readBy(spark, indexPath, group), group, bins)

  /** The per-source F_β-optimal operating thresholds over everything
    * scored so far — the multi-source deploy loop's RE-CALIBRATION
    * read: each source's frozen `minP` refreshed from its accumulated
    * production evidence in one store read. */
  def bestThresholdBy(spark: SparkSession, indexPath: String,
                      group: String, beta: Double = 1.0): DataFrame =
    Classifier.bestThresholdByFromAggregate(
      readBy(spark, indexPath, group), group, beta)

  /** The folded grouped aggregate of one tag window (the
    * [[windowAggregate]] discipline: loud on a never-landed tag). */
  def windowAggregateBy(spark: SparkSession, indexPath: String,
                        group: String, tags: Seq[String]): DataFrame = {
    require(tags.nonEmpty, "calibration: window tags must be non-empty")
    val store = spark.read.parquet(aggByPath(indexPath))
      .filter(col("batch_tag").isin(tags: _*))
    val present = store.select("batch_tag").distinct()
      .collect().map(_.getString(0)).toSet // ≤ |tags| rows
    val missing = tags.filterNot(present)
    require(missing.isEmpty,
      s"calibration: no landed batch for tag(s) ${missing.mkString(", ")}")
    require(store.columns.contains(group),
      s"calibration: grouped store has columns " +
        s"${store.columns.mkString(", ")} — no group column '$group'")
    store.groupBy(col(group), col("thr"))
      .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))
  }

  /** Per-source drift (PSI) between two tag windows of the grouped
    * store — [[Classifier.scoreDriftBy]] on read. */
  def driftBy(spark: SparkSession, indexPath: String, group: String,
              refTags: Seq[String], curTags: Seq[String],
              bins: Int = 10): DataFrame =
    Classifier.driftFromAggregatesBy(
      windowAggregateBy(spark, indexPath, group, refTags),
      windowAggregateBy(spark, indexPath, group, curTags), group, bins)

  /** Per-source KS drift ([[Classifier.scoreDriftKsBy]]) between two
    * tag windows of the grouped store — the binning-free two-sample
    * test, per source, from the accreted aggregates. */
  def driftKsBy(spark: SparkSession, indexPath: String, group: String,
                refTags: Seq[String], curTags: Seq[String]): DataFrame =
    Classifier.ksFromAggregatesBy(
      windowAggregateBy(spark, indexPath, group, refTags),
      windowAggregateBy(spark, indexPath, group, curTags), group)

  /** [[monitorReport]]'s per-source twin — the multi-source
    * dashboard: one row per (group, metric) with the same six-metric
    * union shape (per-window AUC, current ECE + Brier, PSI and KS
    * between the windows), every fold partitioned on the group. The
    * two grouped window folds are pinned once (groups × bounded
    * rows), so the store is read exactly twice per report; a null
    * value surfaces an undefined per-source metric (a one-class
    * source's AUC) instead of a fabricated number. */
  def monitorReportBy(spark: SparkSession, indexPath: String,
                      group: String, refTags: Seq[String],
                      curTags: Seq[String], bins: Int = 10): DataFrame = {
    val ref = windowAggregateBy(spark, indexPath, group, refTags)
      .localCheckpoint(true)
    val cur = windowAggregateBy(spark, indexPath, group, curTags)
      .localCheckpoint(true)
    def one(name: String, df: DataFrame, v: String) =
      df.select(col(group), lit(name).as("metric"),
        col(v).cast("double").as("value"))
    one("auc_ref", Classifier.rocAucByFromAggregate(ref, group), "auc")
      .unionByName(
        one("auc_cur", Classifier.rocAucByFromAggregate(cur, group),
          "auc"))
      .unionByName(
        one("ece_cur", Classifier.eceByFromAggregate(cur, group, bins),
          "ece"))
      .unionByName(
        one("brier_cur", Classifier.brierByFromAggregate(cur, group),
          "brier"))
      .unionByName(
        one("psi",
          Classifier.driftFromAggregatesBy(ref, cur, group, bins),
          "psi"))
      .unionByName(
        one("ks", Classifier.ksFromAggregatesBy(ref, cur, group), "ks"))
  }

  /** [[compact]] for the grouped store: fold to one row per
    * (group, thr) under `batch_tag=folded`; same stage-and-swap
    * discipline, same window caveat. */
  def compactBy(spark: SparkSession, indexPath: String,
                group: String): Unit = {
    val live = aggByPath(indexPath)
    Layout.replace(spark, live) { tmp =>
      val folded = spark.read.parquet(live)
        .groupBy(col(group), col("thr"))
        .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))
        .select(lit("folded").as("batch_tag"), col(group), col("thr"),
          col("n"), col("pos"))
        .localCheckpoint(true)
      folded.repartition(1).write.partitionBy("batch_tag").parquet(tmp)
    }
  }

  /** Steady-state maintenance once every tag is behind the retry
    * horizon: fold history to ONE row per score (the additive monoid)
    * under a single `batch_tag=folded` partition, through the
    * stage-and-swap discipline. Every read answer is unchanged. */
  def compact(spark: SparkSession, indexPath: String): Unit = {
    val live = aggPath(indexPath)
    Layout.replace(spark, live) { tmp =>
      val folded = spark.read.parquet(live)
        .groupBy(col("thr"))
        .agg(sum(col("n")).as("n"), sum(col("pos")).as("pos"))
        .select(lit("folded").as("batch_tag"), col("thr"), col("n"),
          col("pos"))
        .localCheckpoint(true)
      folded.repartition(1).write.partitionBy("batch_tag").parquet(tmp)
    }
  }
}
