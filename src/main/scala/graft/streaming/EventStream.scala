package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming variant of the reference's incremental model
  * (SURVEY §2.8): the hand-rolled batch watermark loop
  * (reference: etl_project/pipelines/stock_bars.py:36-66) becomes
  * `withWatermark` + windowed aggregation, and the per-key running
  * analytics become `mapGroupsWithState`.
  *
  * Both transforms are expressed on unbounded inputs — in production the
  * source is `spark.readStream` (kafka/files); tests drive them with a
  * `MemoryStream`. State is bounded: the windowed agg drops state past
  * the watermark; the stateful map keeps O(1) per key.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class TypeStats(event_type: String, lastValue: Double, n: Long,
                       total: Double)

  /** Tumbling-window per-type aggregation with a 10-minute watermark —
    * late events beyond the watermark are dropped, exactly the
    * idempotent-overlap contract of the reference's checkpoint loop. */
  def windowedAgg(events: DataFrame, window_ : String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Streaming ingest: the batch Runner's incremental loop as a file
    * stream — new files landing in `srcDir` are read incrementally
    * (Spark's file source tracks processed files in the checkpoint, the
    * streaming analogue of the watermark re-extract), deduped against
    * the target per micro-batch with the SAME [[graft.ops.Upsert]]
    * operator, and swapped in with checked renames
    * ([[graft.ops.Layout.replace]]): the merge is staged beside the
    * target and never overwrites it in place, so no batch ever reads a
    * half-written table. A crash between the swap's renames leaves the
    * previous table at `<target>.swap_old`; the next batch's entry
    * recovery restores it before merging. Exactly-once comes from the
    * source checkpoint + idempotent upsert + that recovery invariant —
    * for NON-null-key rows only: Upsert's Postgres-parity contract says
    * null keys never conflict, so a replayed batch re-adds its null-key
    * rows. Feed this sink key columns that are never null (or route
    * null-key rows aside first).
    *
    * Cost contract: each micro-batch re-reads and rewrites the WHOLE
    * target — right for the compact-state tables this mirrors (the
    * reference's stock_bars). For a large, ever-growing target use the
    * batch Runner's date-partitioned dynamic-partition-overwrite merge
    * (only overlap partitions rewrite) or a transactional table format;
    * a full-table upsert per batch is quadratic in table size.
    */
  def fileIngest(spark: SparkSession, srcDir: String, schema:
                 org.apache.spark.sql.types.StructType, targetPath: String,
                 checkpointDir: String, keys: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(schema).parquet(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(upsertSink(targetPath, keys))
      .start()

  /** The micro-batch upsert body shared by every streaming ingest
    * ([[fileIngest]], [[BarsStream.ingest]]): dedup against the target
    * with the batch [[graft.ops.Upsert]] operator, then
    * [[graft.ops.Layout.replace]] the target. */
  private[streaming] def upsertSink(targetPath: String, keys: Seq[String])
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, _) => {
      // empty micro-batch (restart recovery, no new files) writes
      // nothing — same contract as Runner.loadIncremental; without
      // the guard an empty trigger would re-read and rewrite the
      // whole target for zero new rows. (No `return` here: a return
      // inside a lambda is a non-local return from the enclosing
      // method, which has already returned — it would throw.)
      if (!batch.isEmpty) {
        val spark2 = batch.sparkSession
        val target = new org.apache.hadoop.fs.Path(targetPath)
        val fs = target
          .getFileSystem(spark2.sparkContext.hadoopConfiguration)
        // the merge lazily READS the live target, so it lands in the
        // replace's staging dir first, then replaces the target whole
        graft.ops.Layout.replace(spark2, targetPath) { stage =>
          val merged =
            if (fs.exists(target))
              graft.ops.Upsert.upsert(
                spark2.read.parquet(targetPath), batch.toDF(), keys)
            else batch.toDF()
          merged.write.parquet(stage)
        }
      }
      ()
    }

  /** Gap-based sessionization on an unbounded stream: the streaming twin
    * of the batch `q_sessionize` key, expressed with Spark's native
    * `session_window` (state closes when the watermark passes a
    * session's gap — bounded memory, exactly the semantics of the batch
    * 30-minute-idle rule). Emits one row per closed session. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total"))

  /** Streaming exact dedup: the unbounded twin of the batch
    * `DedupOps.exactDupGroups`/`Upsert` pair. State is keyed on
    * `keyCols` and dropped once the event-time watermark passes, so
    * memory stays bounded while duplicates arriving within the
    * watermark horizon (the at-least-once redelivery window of any
    * real source) are suppressed exactly once. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming rollup maintenance (the materialized-view pattern):
    * each micro-batch folds into a date-partitioned rollup table via
    * [[graft.pipeline.IncrementalAgg.maintain]], passing the batch id
    * as the idempotence token. foreachBatch replays the SAME id after a
    * failure, and the per-group `last_batch` guard discards already-
    * applied partials — so at-least-once replays cannot double-count,
    * even across a partially committed overwrite. Unlike append-mode
    * windowed aggregation there is no watermark cutoff here: a late
    * event merges into its (old) date partition whenever it arrives.
    *
    * `appId` scopes the idempotence token to THIS query lineage (the
    * Delta txnAppId pattern): batch ids restart at 0 when a stream gets
    * a fresh checkpointLocation, and without the scope those early
    * batches would read as replays of the old lineage and be silently
    * discarded. Change `appId` whenever the checkpoint is reset.
    * Caller starts the returned writer with a checkpointLocation. */
  def rollupSink(stream: DataFrame, aggPath: String, tsCol: String,
                 keys: Seq[String], valueCol: String, appId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    graft.ops.Reserved.requireAbsent(stream, "rollupSink", Seq("_dt_src"))
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.pipeline.IncrementalAgg.maintain(
        batch.sparkSession,
        batch.withColumn("_dt_src", to_date(col(tsCol))),
        aggPath, "_dt_src", keys, valueCol, Some(batchId), appId)
      ()
    }
  }

  /** Streaming near-duplicate detection: each micro-batch of documents
    * is checked against the persisted MinHash band index
    * ([[graft.ops.DedupIndex.appendAndFindDups]] — O(batch), history
    * never re-hashed) and the discovered pairs append to `pairsPath`.
    * At-least-once: a replayed batch re-appends its bands and re-emits
    * REPLAY-IDEMPOTENT: bands and pairs land in per-batch
    * `(appId-batchId)` partitions via dynamic partition overwrite, so a
    * foreachBatch replay overwrites exactly its own partitions instead
    * of double-appending (DedupIndex's tagged mode). `appId` scopes the
    * tags to this query lineage — change it whenever the stream's
    * checkpointLocation is reset, or the restarted stream's batch 0
    * would overwrite the old lineage's batch-0 partitions. Caller
    * starts the returned writer with a checkpointLocation. */
  def nearDupSink(docsStream: DataFrame, indexPath: String,
                  pairsPath: String, text: String, id: String,
                  appId: String, threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      val pairs = graft.ops.DedupIndex.appendAndFindDups(
        batch.sparkSession, batch, indexPath, text, id,
        threshold = threshold, batchTag = Some(tag))
      // an empty pair set writes nothing — never a schema-less dir.
      // (A replay whose first run wrote pairs rewrites the same pairs:
      // the pair set is deterministic given the same batch + index.)
      if (!pairs.isEmpty)
        pairs.withColumn("batch_tag", lit(tag))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_tag").parquet(pairsPath)
      ()
    }

  /** Streaming SEMANTIC near-dup detection over a persisted
    * [[graft.ops.EmbedIndex]] — the embedding twin of [[nearDupSink]]:
    * each micro-batch of (id, vector) rows probes the index for
    * high-cosine duplicates in O(batch) (history is never re-hashed or
    * re-scored), appends itself, and lands discovered pairs under the
    * same replay-idempotent `(appId-batchId)` tag scheme — a
    * foreachBatch replay overwrites exactly its own partitions on both
    * the index and the pairs table. Same `appId` caveat as
    * [[nearDupSink]]: change it whenever checkpointLocation is
    * reset. */
  def semanticDupSink(docsStream: DataFrame, indexPath: String,
                      pairsPath: String, vec: String, id: String,
                      appId: String, threshold: Double = 0.95)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      val pairs = graft.ops.EmbedIndex.appendAndFindDups(
        batch.sparkSession, batch, indexPath, vec, id,
        threshold = threshold, batchTag = Some(tag))
      if (!pairs.isEmpty)
        pairs.withColumn("batch_tag", lit(tag))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_tag").parquet(pairsPath)
      ()
    }

  /** Streaming quantile maintenance over the mergeable bit-prefix
    * sketch ([[graft.ops.Quantiles.bucketCounts]]): each micro-batch
    * lands its own bounded partial sketch (≤ 63·2^(B−1) rows
    * regardless of batch size) under the replay-idempotent
    * `(appId-batchId)` tag scheme — a foreachBatch replay overwrites
    * exactly its own partition, so at-least-once delivery never
    * double-counts. Query-time quantiles over ANY accumulated horizon
    * are then [[graft.ops.Quantiles.quantilesFromSketch]] on the
    * landed table (optionally filtered to a tag subset): the union of
    * partials re-aggregates into exactly the sketch the full stream
    * would have produced, because the bucket function is stateless
    * and counts add. This is the "p99 over 100 TB of history without
    * rescanning it" shape: the readback is bounded by sketch size ×
    * number of batches, never by data volume (fold old tags with
    * [[graft.ops.Layout]] maintenance if batch count itself grows
    * unbounded). Same `appId` caveat as [[nearDupSink]]. */
  def quantileSketchSink(stream: DataFrame, sketchPath: String,
                         value: String, appId: String,
                         prefixBits: Int = 10, quant: Int = 2)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      val partial = graft.ops.Quantiles.bucketCounts(
        batch, value, prefixBits, quant)
      // an all-filtered batch writes nothing — never a schema-less dir
      if (!partial.isEmpty)
        partial.withColumn("batch_tag", lit(tag))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_tag").parquet(sketchPath)
      ()
    }

  /** Streaming ANN ingest over a persisted [[graft.ops.PqDiskIndex]]:
    * each micro-batch of (id, vector) rows is encoded under the
    * index's FIXED stored codebooks and landed as its own tag-scoped
    * generation — searches see the accumulated corpus immediately, and
    * an at-least-once replay overwrites exactly its own partition
    * (the PQ append tag discipline). The index must exist (built once
    * from a training corpus); codebooks are never retrained by the
    * stream — rebuild offline when drift warrants. Run
    * [[graft.ops.PqDiskIndex.compact]] as steady-state maintenance:
    * every batch adds a file generation and the probe's file-listing
    * cost accretes with them. Same `appId` caveat as
    * [[nearDupSink]]. */
  def annIngestSink(vecStream: DataFrame, indexPath: String,
                    vec: String, id: String, appId: String,
                    numFiles: Int = 4)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    vecStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      graft.ops.PqDiskIndex.append(batch.sparkSession, batch, indexPath,
        vec, id, numFiles, batchTag = Some(s"$appId-$batchId"))
      ()
    }

  /** Streaming EXACT dedup over a persisted [[graft.ops.DigestIndex]]:
    * each micro-batch is filtered to its FIRST-ARRIVAL documents
    * (digest unseen across the whole stream history, O(batch) probe)
    * and those land at `keptPath` under the replay-idempotent
    * `(appId-batchId)` tag scheme — the keep-first filter that turns
    * an at-least-once ingest stream into an exactly-once-content
    * corpus. Same `appId` caveat as [[nearDupSink]]. */
  def exactDedupSink(docsStream: DataFrame, indexPath: String,
                     keptPath: String, text: String, id: String,
                     appId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      val kept = graft.ops.DigestIndex.appendAndDedup(
        batch.sparkSession, batch, indexPath, text, id,
        batchTag = Some(tag))
      // an empty keep set writes nothing — never a schema-less dir
      if (!kept.isEmpty)
        kept.withColumn("batch_tag", lit(tag))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_tag").parquet(keptPath)
      ()
    }

  /** The FULL training-data curation funnel as one streaming sink —
    * the streaming twin of the `q_curate_incremental` batch pipeline,
    * every stage composed inside one foreachBatch under the shared
    * `(appId-batchId)` tag:
    *  -1. (optional, `c4 = true`) C4 line cleanup
    *     ([[graft.ops.TextOps.c4Filters]]) FIRST — the q_curate_full
    *     batch order: the text column is REPLACED by the cleaned
    *     text, so every later stage scores what survives, not raw
    *     boilerplate; payload columns ride through map-side
    *     (`extraCols`), and all-boilerplate / code-marker documents
    *     drop here;
    *  0. (optional, `gopher = true`) the Gopher A1.1 rule set
    *     ([[graft.ops.TextOps.gopherQuality]]) — the document-shape
    *     filters production pipelines run first; map-side, signal
    *     columns dropped after the keep decision;
    *  0a. (optional, `logit = Some((weights, minP))`) the frozen
    *     LEARNED quality filter: the canonical
    *     [[graft.ops.Classifier.textFeatures]] triple + one map-side
    *     sigmoid against offline-fit [[graft.ops.Classifier
    *     .fitLogistic]] weights, keep `p ≥ minP`. The weights must
    *     come from a fit over the SAME textFeatures projection
    *     (weight order = bias :: textFeatureCols). GATE CALIBRATION:
    *     this stage freezes an ABSOLUTE `minP` — correct for a
    *     deployed stream, where batch-to-batch gate stability is the
    *     contract (a per-batch quantile would let each micro-batch's
    *     mix move the bar). The BATCH funnel (`q_curate_full`)
    *     instead calibrates at the in-batch MEDIAN score — correct
    *     for exploratory one-shot curation, where the fit's score
    *     band is corpus-scale-dependent and a fixed minP does not
    *     travel. The production bridge between the two is
    *     [[graft.ops.Classifier.bestThreshold]] read from the
    *     accreted [[graft.ops.CalibrationIndex]] store: monitor the
    *     deployed gate's scored+labeled feedback, then re-freeze
    *     `minP` at the measured F_β-optimal operating point (graded
    *     as `q_recalibrate_gate`; the StreamingSpec actuation drill
    *     walks the full loop);
    *  0a'. (optional, `logitBy = Some((weights, groupCol, minPBy))`)
    *     the PER-SOURCE frozen gate — the multi-source deployment's
    *     reality: each ingestion source keeps its own `minP` (one
    *     global threshold over-filters the source whose score
    *     distribution sits low), frozen from the grouped store's
    *     measured operating points ([[graft.ops.CalibrationIndex
    *     .bestThresholdBy]], graded as `q_recalibrate_gate_grouped`).
    *     The threshold map unrolls to a map-side CASE over the
    *     bounded source set; a source absent from the map DROPS
    *     wholesale (an uncalibrated source must not pass ungated —
    *     the absent-source contract). The grouped StreamingSpec
    *     actuation drill walks store → per-source re-freeze → gate;
    *  0a''. if both `logit` and `logitBy` are set they compose (the
    *     global gate first) — normally exactly one is deployed;
    *  0b. (optional, `dsir = Some((model, minLogweight))`) DSIR
    *     domain-relevance gate: score each doc against a FROZEN
    *     [[graft.ops.Mixing.importanceModel]] (fit once on samples,
    *     broadcast — the model/apply split exists exactly for this
    *     stage) and keep `logweight ≥ minLogweight`. Docs with no
    *     model-known features score no weight and are dropped — the
    *     same no-features contract as the batch operator;
    *  1. quality gate ([[graft.ops.TextOps.qualityScore]] ≥
    *     `minQuality`) — map-side, only passers enter the funnel;
    *  2. exact dedup: [[graft.ops.DigestIndex.appendAndDedup]] filters
    *     the batch to FIRST-ARRIVAL documents against the whole stream
    *     history (O(batch) pruned probe) and accretes the store;
    *  3. decontamination: shingle overlap against the (bounded,
    *     broadcast) `benchmark` set drops any doc sharing a w-gram
    *     with an eval document ([[graft.ops.DedupOps.contaminationScan]]).
    *     The scan runs with `exactRecount = true` (collision-proofed
    *     since the r16 upgrade): a stream RESTARTED across that
    *     upgrade may emit marginally different keep decisions on
    *     replayed batches than its pre-upgrade history did — docs a
    *     64-bit shingle collision used to drop are now correctly
    *     kept. This is the intended direction (a replay is more
    *     correct, never less), but operators diffing replayed batch
    *     output against pre-upgrade output should expect it;
    *  3b. (optional, `fuzzy = Some((fw, threshold))`) FUZZY
    *     decontamination: w-gram Jaccard against the same broadcast
    *     benchmark ([[graft.ops.DedupOps.fuzzyContamination]]) at its
    *     own (smaller) gram width `fw` — catches REPHRASED eval
    *     leakage the binary any-shingle scan at width `w` passes (an
    *     edit every few tokens breaks all long grams while most short
    *     grams survive), while the threshold lets incidental short-
    *     gram overlap through;
    *  4. deterministic hash draw ([[graft.functions.PortableHash]]
    *     `< samplePct` of 100) — the subsampling stage.
    * Survivors land at `keptPath` in the batch's own tag partition, so
    * an at-least-once replay overwrites exactly its own output AND
    * recomputes the same first-arrival set (DigestIndex replay
    * self-exclusion) — the whole funnel is replay-idempotent
    * end-to-end (StreamingSpec drives a redelivery through it).
    * Dedup semantics vs the batch funnel: first-arrival (stream
    * history wins) rather than the store fold's global-min-id
    * representative — identical keep sets whenever each content's
    * smallest id arrives in its earliest batch, the usual monotone
    * ingest shape; under out-of-order id arrival both keep exactly one
    * copy per content, the stream keeping the earlier-seen one
    * (StreamingSpec pins BOTH regimes — the monotone equality and the
    * non-monotone first-arrival-vs-min-id divergence). Same
    * `appId` caveat as [[nearDupSink]]. */
  def curateSink(docsStream: DataFrame, indexPath: String,
                 keptPath: String, text: String, id: String,
                 appId: String, benchmark: DataFrame,
                 minQuality: Double = 0.3, w: Int = 3,
                 samplePct: Int = 50, gopher: Boolean = false,
                 dsir: Option[(DataFrame, Double)] = None,
                 dsirBuckets: Int = 256, dsirPortable: Boolean = false,
                 fuzzy: Option[(Int, Double)] = None,
                 c4: Boolean = false,
                 logit: Option[(Seq[Double], Double)] = None,
                 logitBy: Option[(Seq[Double], String, Map[String, Double])] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      // C4 line cleanup FIRST (the q_curate_full batch order): the
      // doc-level stages score the CLEANED text. Payload columns ride
      // through map-side (extraCols); the text column is REPLACED by
      // clean_text, so every later stage — and the landed keep rows —
      // carries the cleaned text.
      val cleaned =
        if (!c4) batch
        else graft.ops.TextOps.c4Filters(batch, text, id,
            extraCols = batch.columns.toSeq
              .filterNot(c => c == id || c == text))
          .drop("n_lines", "n_kept")
          .withColumnRenamed("clean_text", text)
      val pre =
        if (!gopher) cleaned
        else graft.ops.TextOps.gopherQuality(cleaned, text)
          .filter(col("gopher_keep"))
          .drop(graft.ops.TextOps.gopherCols: _*)
      // frozen LEARNED quality filter (the classifier counterpart of
      // the frozen-DSIR stage): the canonical text-feature triple +
      // one map-side sigmoid against offline-fit weights — weights
      // MUST come from a fit over the same textFeatures projection
      val gated0 = logit match {
        case None => pre
        case Some((wts, minP)) =>
          graft.ops.Classifier.scoreLogistic(
              graft.ops.Classifier.textFeatures(pre, text),
              graft.ops.Classifier.textFeatureCols, wts)
            .filter(col("p") >= minP)
            .drop("p")
            .drop(graft.ops.Classifier.textFeatureCols: _*)
      }
      // PER-SOURCE learned gate: each source keeps its own frozen
      // minP (the bestThresholdBy / q_recalibrate_gate_grouped
      // semantics deployed) — the threshold map unrolls to a map-side
      // CASE over the bounded source set (no join, no broadcast
      // frame), and a doc whose source has NO calibrated threshold
      // drops wholesale (the replicateEpochs absent-source contract:
      // an uncalibrated source must not pass ungated)
      val gated = logitBy match {
        case None => gated0
        case Some((wts, groupCol, minPBy)) =>
          require(minPBy.nonEmpty,
            "curateSink: logitBy threshold map must be non-empty")
          val thr = minPBy.toSeq.sortBy(_._1)
            .foldLeft(lit(null).cast("double")) { case (acc, (g, p)) =>
              when(col(groupCol) === g, lit(p)).otherwise(acc) }
          graft.ops.Classifier.scoreLogistic(
              graft.ops.Classifier.textFeatures(gated0, text),
              graft.ops.Classifier.textFeatureCols, wts)
            .filter(col("p") >= thr) // null thr (absent source) drops
            .drop("p")
            .drop(graft.ops.Classifier.textFeatureCols: _*)
      }
      val scored = dsir match {
        case None => gated
        case Some((model, minLw)) =>
          // dsirBuckets/dsirPortable MUST match the model's fit
          // configuration — the bucket hash is part of the model
          val keep = graft.ops.Mixing
            .applyImportanceWeights(gated, model, text, id,
              buckets = dsirBuckets, portable = dsirPortable)
            .filter(col("logweight") >= minLw)
            .select(id)
          gated.join(keep, Seq(id), "left_semi")
      }
      val q = graft.ops.TextOps.qualityScore(scored, text)
        .filter(col("quality") >= minQuality)
      val firsts = graft.ops.DigestIndex.appendAndDedup(
        batch.sparkSession, q, indexPath, text, id, batchTag = Some(tag))
      // exactRecount: survivor-bounded second pass — a 64-bit shingle
      // collision may inflate a candidate but never a dropped doc
      val contaminated = graft.ops.DedupOps
        .contaminationScan(firsts, benchmark, text, id, w = w,
          exactRecount = true)
        .select(id)
      val clean0 = firsts.join(contaminated, Seq(id), "left_anti")
      val clean = fuzzy match {
        case None => clean0
        case Some((fw, thr)) =>
          // benchmark id column name is irrelevant to the DROP decision
          // — synthesize one so callers need not carry an id at all
          val benchIdd = benchmark
            .withColumn("_bench_id", monotonically_increasing_id())
          val fuzzHits = graft.ops.DedupOps
            .fuzzyContamination(clean0, benchIdd, text, id, "_bench_id",
              w = fw, threshold = thr)
            .select(id).distinct()
          clean0.join(fuzzHits, Seq(id), "left_anti")
      }
      val kept = clean
        .filter(graft.functions.PortableHash
          .hashMod(col(id), 100) < samplePct)
      // an empty keep set writes nothing — never a schema-less dir
      if (!kept.isEmpty)
        kept.withColumn("batch_tag", lit(tag))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_tag").parquet(keptPath)
      ()
    }

  /** Streaming CALIBRATION monitoring for a deployed classifier
    * filter — the missing third of the deploy loop (train offline →
    * gate the stream with frozen weights → WATCH the deployed
    * filter): each micro-batch of scored-and-labeled rows lands its
    * bounded per-score aggregate in a persisted
    * [[graft.ops.CalibrationIndex]], and the accumulated PR curve /
    * ROC AUC derive on read ([[graft.ops.CalibrationIndex.prCurve]] /
    * `rocAuc`) — identical to the batch metrics over the concatenated
    * input (the aggregate is an additive monoid; StreamingSpec pins
    * the equality and the replay drill). Each batch's exchange
    * carries at most 10^scale + 1 rows regardless of batch size.
    * Replay-idempotent via the `(appId-batchId)` tag scheme; same
    * `appId` caveat as [[nearDupSink]]. */
  def calibrationSink(scoredStream: DataFrame, indexPath: String,
                      score: String, label: String, appId: String,
                      scale: Int = 6)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scoredStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ops.CalibrationIndex.append(batch.sparkSession, batch,
          indexPath, score, label, scale,
          batchTag = Some(s"$appId-$batchId"))
        ()
    }

  /** [[calibrationSink]] PER SOURCE: each micro-batch lands its
    * GROUPED aggregate (`[[graft.ops.CalibrationIndex.appendBy]]`,
    * batches × groups × bounded rows), so the deployed filter's
    * per-source curve / AUC / ECE / window drift derive on read —
    * the multi-domain deploy loop's monitoring half. */
  def calibrationSinkBy(scoredStream: DataFrame, indexPath: String,
                        group: String, score: String, label: String,
                        appId: String, scale: Int = 6)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    scoredStream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.ops.CalibrationIndex.appendBy(batch.sparkSession, batch,
          indexPath, group, score, label, scale,
          batchTag = Some(s"$appId-$batchId"))
        ()
    }

  /** Streaming cluster-label maintenance over a persisted
    * [[graft.ops.ComponentsIndex]]: each micro-batch of duplicate
    * pairs updates the stable per-document labels in O(batch +
    * affected members) under the replay-idempotent `(appId-batchId)`
    * tag scheme — and the store is a min-lattice besides, so even a
    * tag-scheme violation can only duplicate rows, never corrupt a
    * label. Query-time labels over the accumulated stream are
    * [[graft.ops.ComponentsIndex.currentLabels]] /
    * `lookupLabels` on the landed store. Same `appId` caveat as
    * [[nearDupSink]]: change it whenever checkpointLocation is
    * reset. */
  def componentsSink(pairsStream: DataFrame, indexPath: String,
                     appId: String,
                     idA: String = "id_a", idB: String = "id_b",
                     star: Boolean = false, maxIter: Int = 25)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    pairsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      // star/maxIter plumbed through so chain-shaped ingest can force
      // the diameter-independent merge up front; the default is safe
      // regardless (appendAndLabel auto-falls-back to star contraction
      // when a batch chains past the propagation budget)
      graft.ops.ComponentsIndex.appendAndLabel(batch.sparkSession, batch,
        indexPath, idA, idB, batchTag = Some(s"$appId-$batchId"),
        maxIter = maxIter, star = star)
      ()
    }

  /** The full streaming dedup pipeline in one sink: each micro-batch
    * of documents probes + appends the [[graft.ops.DedupIndex]] (near
    * -dup pairs vs all history, O(batch)), then feeds the discovered
    * pairs straight into the [[graft.ops.ComponentsIndex]] label store
    * — documents in, maintained cluster labels out, no intermediate
    * pairs table to re-scan. Both stores advance under the SAME
    * `(appId-batchId)` tag, so an at-least-once replay overwrites its
    * own partitions on both: the re-probed pair set is deterministic
    * (DedupIndex replay contract) and the label update self-excludes
    * its first attempt (ComponentsIndex replay contract). Same `appId`
    * caveat as [[nearDupSink]]. */
  def dedupClusterSink(docsStream: DataFrame, dedupIndexPath: String,
                       labelsIndexPath: String, text: String, id: String,
                       appId: String, threshold: Double = 0.5,
                       star: Boolean = false, maxIter: Int = 25)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docsStream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      val pairs = graft.ops.DedupIndex.appendAndFindDups(
        batch.sparkSession, batch, dedupIndexPath, text, id,
        threshold = threshold, batchTag = Some(tag))
      // near-dup pair batches are near-cliques in practice, but a
      // verbatim-overlap run CAN chain — the label merge auto-falls-
      // back to star contraction, and callers that know their corpus
      // chains can force it via star = true
      graft.ops.ComponentsIndex.appendAndLabel(batch.sparkSession, pairs,
        labelsIndexPath, batchTag = Some(tag),
        maxIter = maxIter, star = star)
      ()
    }

  /** Streaming heavy-hitter maintenance over the mergeable Misra–Gries
    * summary ([[graft.functions.MisraGriesSketch]]): each micro-batch
    * lands ONE row — its bounded k-entry partial sketch plus its
    * non-null item count — under the replay-idempotent
    * `(appId-batchId)` tag scheme (a foreachBatch replay overwrites
    * exactly its own partition, so at-least-once delivery never
    * double-counts). θ-heavy queries over ANY accumulated horizon are
    * then [[graft.ops.HeavyHitters.heavyHittersFromSketches]]: merge
    * the partials (readback bounded by k × batches, never data
    * volume), exact-recount the candidates against the horizon's
    * rows. Size `k ≥ 2·⌈1/θ_min⌉` for the smallest θ the horizon
    * queries will ask. Same `appId` caveat as [[nearDupSink]]. */
  def heavyHitterSketchSink(stream: DataFrame, sketchPath: String,
                            item: String, appId: String, k: Int = 1024)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val tag = s"$appId-$batchId"
      val partial = batch.filter(col(item).isNotNull)
        .select(col(item).cast("string").as("item"))
        .agg(graft.functions.MisraGriesSketch.mg_sketch(col("item"), k)
          .as("sketch"), count(lit(1)).as("n"))
        .withColumn("k", lit(k))
        // an all-null/empty batch has nothing to merge — never land a
        // zero-count partial (and never a schema-less dir)
        .filter(col("n") > 0)
      if (!partial.isEmpty)
        partial.withColumn("batch_tag", lit(tag))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_tag").parquet(sketchPath)
      ()
    }

  case class Impression(i_id: Long, i_ts: Timestamp, i_user: Long)
  case class Click(c_id: Long, c_ts: Timestamp, c_user: Long)

  /** Watermarked stream-stream interval join (click attribution): each
    * click matches the impressions shown to the same user within
    * `horizon` BEFORE the click. Both sides carry event-time watermarks
    * and the join condition bounds the event-time distance, so Spark
    * can expire buffered state once the watermark passes
    * `i_ts + horizon` — without the bound, a stream-stream join must
    * buffer both streams forever. Inner joins emit as soon as both
    * sides arrive; the watermark only governs state eviction. */
  def attributeClicks(impressions: DataFrame, clicks: DataFrame,
                      horizon: String = "1 hour",
                      watermark: String = "10 minutes"): DataFrame =
    impressions.withWatermark("i_ts", watermark)
      .join(clicks.withWatermark("c_ts", watermark),
        expr("i_user = c_user AND c_ts >= i_ts AND " +
          s"c_ts <= i_ts + interval $horizon"))

  case class SessionAgg(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long, total: Double)
  /** Internal state of [[statefulSessions]] — public only because the
    * state encoder's generated code must reach the constructor. */
  case class OpenSession(start: Long, last: Long, n: Long, total: Double)

  /** Custom gap sessionization via flatMapGroupsWithState with an
    * EVENT-TIME timeout — the fully-general state machine underneath
    * [[sessionWindows]]'s built-in `session_window`. Use this shape when
    * the close condition isn't a plain gap (session caps, logout events,
    * per-user gap overrides): the state is yours, the watermark still
    * bounds it.
    *
    * A session is emitted only when the WATERMARK passes `last + gap` —
    * the session_window contract — never merely because a later event
    * overshot the gap: until the watermark moves, a late within-
    * watermark event can still extend a session, open one fully in the
    * past, or BRIDGE two open sessions (which then merge). State is the
    * per-user list of open sessions; its size is bounded by the
    * watermark horizon over the gap, and the event-time timeout flushes
    * sessions even for users that go silent. */
  def statefulSessions(events: Dataset[Event],
                       gapMs: Long = 30L * 60 * 1000): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    def agg(user: Long, s: OpenSession) = SessionAgg(user,
      new Timestamp(s.start), new Timestamp(s.last), s.n, s.total)
    events.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], SessionAgg](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user, rows, state: GroupState[List[OpenSession]]) =>
          val wm = state.getCurrentWatermarkMs()
          var sessions = state.getOption.getOrElse(Nil)
          rows.foreach { e =>
            val t = e.ts.getTime
            // absorb every session the event touches (it can bridge two)
            val (touching, apart) = sessions.partition(s =>
              t >= s.start - gapMs && t <= s.last + gapMs)
            val merged = touching.foldLeft(OpenSession(t, t, 1L, e.value)) {
              (acc, s) => OpenSession(math.min(acc.start, s.start),
                math.max(acc.last, s.last), acc.n + s.n, acc.total + s.total)
            }
            sessions = merged :: apart
          }
          val (closed, open) = sessions.partition(_.last + gapMs < wm)
          if (open.nonEmpty) {
            state.update(open)
            state.setTimeoutTimestamp(
              math.max(open.map(_.last + gapMs).min, wm + 1))
          } else state.remove()
          closed.sortBy(_.start).map(agg(user, _)).iterator
      }
  }

  /** Per-key running stats via mapGroupsWithState: the streaming analogue
    * of the LAG/running analysis (last value, count, running total). */
  def runningStats(events: Dataset[Event]): Dataset[TypeStats] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .mapGroupsWithState[TypeStats, TypeStats](GroupStateTimeout.NoTimeout()) {
        (key, rows, state: GroupState[TypeStats]) =>
          val prev = state.getOption.getOrElse(TypeStats(key, 0.0, 0L, 0.0))
          val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          val next = batch.foldLeft(prev) { (s, e) =>
            TypeStats(key, e.value, s.n + 1, s.total + e.value)
          }
          state.update(next)
          next
      }
  }
}
