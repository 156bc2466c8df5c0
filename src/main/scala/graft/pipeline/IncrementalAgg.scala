package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Mergeable partial aggregates for incrementally-maintained rollup
  * tables: the aggregate table stores only states that merge
  * associatively across batches — count, decimal-exact sum, min, max —
  * plus an idempotence token (`last_batch_app`, `last_batch`). Ratios
  * (avg = sum/n) derive at read time; storing them would make the
  * partials non-mergeable and force full recomputes.
  *
  * Scale story: a daily batch touching d dates re-aggregates d
  * partitions of the rollup table, never the full history, published
  * like Runner.loadIncremental's. At 100 TB of detail, the rollup
  * stays maintainable in O(batch) work per run.
  */
object IncrementalAgg {

  /** Output/working names the input must not collide with — the same
    * fail-fast reserved-name contract as Upsert/redactPii/gapFill. */
  val reservedCols: Seq[String] =
    Seq("dt", "n", "sum_v", "min_v", "max_v", "last_batch", "last_batch_app")

  private def groupCols(keys: Seq[String]) = col("dt") +: keys.map(col)

  private def requireNoCollision(keys: Seq[String], valueCol: String): Unit = {
    // case-insensitive, like Spark's default column resolver — a key
    // named "N" would otherwise collide with the count alias only at
    // the SECOND maintain run, deep inside the merge
    val lower = reservedCols.map(_.toLowerCase)
    val clash = (keys :+ valueCol).filter(c => lower.contains(c.toLowerCase))
    require(clash.isEmpty,
      s"rollup keys/value must not use reserved columns: ${clash.mkString(", ")}" +
        s" (reserved: ${reservedCols.mkString(", ")})")
  }

  /** Per-(dt, keys) partial states of a raw batch. `dateCol` must be a
    * DATE column (it becomes the `dt` partition column of the stored
    * rollup). The sum runs in DECIMAL so merge order can never shift a
    * bit of the stored state. */
  def partials(batch: DataFrame, dateCol: String, keys: Seq[String],
               valueCol: String): DataFrame = {
    requireNoCollision(keys, valueCol)
    batch.groupBy(col(dateCol).as("dt") +: keys.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(28,6)")).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))
  }

  /** Merge stored partials with a batch's partials (same schema,
    * including the token columns): one hash aggregation, every state
    * column combined with its own merge function. Used by the batch
    * path, where each call is distinct new data. */
  def merge(stored: DataFrame, fresh: DataFrame, keys: Seq[String]): DataFrame = {
    val gk = "dt" +: keys
    stored.unionByName(fresh)
      .groupBy(groupCols(keys): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"),
        // the token travels as ONE (app, id) pair, picked atomically
        // (struct max compares field-by-field): max(app) and max(id)
        // taken independently can fabricate a pair that never existed —
        // e.g. stored ('app1', 9) merged with a plain-path ('batch', -1)
        // would yield ('batch', 9), and a later idempotent caller on the
        // 'batch' lineage with batch ids 0..9 would read "already
        // applied" and silently discard its real data
        max(struct(col("last_batch_app"), col("last_batch"))).as("_tok"))
      .select(gk.map(col) ++ Seq(col("n"), col("sum_v"), col("min_v"),
        col("max_v"), col("_tok.last_batch").as("last_batch"),
        col("_tok.last_batch_app").as("last_batch_app")): _*)
  }

  /** Idempotent merge for IDENTIFIED batches (streaming foreachBatch
    * replays the same batch id after a failure): a stored group that
    * already recorded (`last_batch_app` == this app, `last_batch` >=
    * batchId) passes through unchanged and the replayed partial is
    * discarded — at-least-once replays cannot double-count, even when a
    * crash committed only SOME touched partitions (the guard is per
    * group, not per job). The token is scoped to `appId` (the
    * Delta-style txnAppId pattern): a DIFFERENT app lineage — e.g. a
    * stream restarted with a fresh checkpoint, whose batch ids regress
    * to 0 — does not match the guard, so its data merges instead of
    * being silently discarded, and the token resets to the new lineage. */
  private def mergeIdempotent(stored: DataFrame, fresh: DataFrame,
                              keys: Seq[String], appId: String,
                              batchId: Long): DataFrame = {
    val gk = "dt" +: keys
    val s = stored.as("s"); val f = fresh.as("f")
    val cond = gk.map(c => s(c) <=> f(c)).reduce(_ && _)
    val applied =
      s("last_batch_app") <=> lit(appId) && s("last_batch") >= lit(batchId)
    def mergedCol(c: String, combine: (Column, Column) => Column) =
      when(f("n").isNull || applied, s(c))
        .when(s("n").isNull, f(c))
        .otherwise(combine(s(c), f(c))).as(c)
    s.join(f, cond, "full_outer").select(
      gk.map(c => coalesce(s(c), f(c)).as(c)) ++ Seq(
        mergedCol("n", _ + _),
        // an all-null-value batch stores a NULL sum_v partial; the
        // aggregate-path sum() ignores nulls, so the join path must too
        mergedCol("sum_v", (a, b) => coalesce(a + b, a, b)),
        mergedCol("min_v", least(_, _)),     // least/greatest skip nulls
        mergedCol("max_v", greatest(_, _)),
        // the token always moves to THIS application's batch id — never
        // greatest(): a stale high id from a previous lineage would
        // swallow the new lineage's early batches
        mergedCol("last_batch", (_, b) => b),
        mergedCol("last_batch_app", (_, b) => b)): _*)
  }

  /** Read-side finalization: the derived metrics the partials support. */
  def finalized(rollup: DataFrame): DataFrame =
    rollup.withColumn("avg_v",
      (col("sum_v") / col("n")).cast("double"))

  /** Maintain the date-partitioned rollup at `aggPath` from one raw
    * batch: aggregate the batch to partials, read ONLY the rollup
    * partitions for the batch's dates (one per-date count of the
    * partials names them — bounded by days-per-batch, so the
    * driver-side collect is a few rows; a touched null date opens the
    * null partition too), merge, and publish just those partitions
    * through [[graft.ops.Layout.replacePartitions]] (the first write
    * publishes the partials alone). Untouched history is never read or
    * rewritten.
    *
    * `batchId = Some(id)` makes the application IDEMPOTENT per group
    * within the `appId` lineage (see [[mergeIdempotent]]) — pass the
    * foreachBatch batch id from a streaming caller, or a run counter
    * from an orchestrator that may retry a crashed run (the groups a
    * crash already published keep their token). `None` is the plain
    * path where every call is new data (a retry after a partial crash
    * WILL double-count on this path — give retryable callers a token).
    * An empty batch writes nothing; returns rows written. */
  def maintain(spark: SparkSession, batch: DataFrame, aggPath: String,
               dateCol: String, keys: Seq[String], valueCol: String,
               batchId: Option[Long] = None,
               appId: String = "batch"): Long = {
    val fresh = partials(batch, dateCol, keys, valueCol)
      .withColumn("last_batch", lit(batchId.getOrElse(-1L)))
      .withColumn("last_batch_app", lit(appId))
    fresh.persist()
    try {
      // ONE probe of the persisted partials: an empty result is an
      // empty batch, and the touched dates come from it (a null date is
      // the null partition)
      val byDate = fresh.groupBy("dt").count().collect()
      if (byDate.isEmpty) 0L
      else graft.ops.Layout.replacePartitions(spark, aggPath) { stage =>
        val tpath = new Path(aggPath)
        val hfs = tpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // committed-data probe, not bare exists(): a first write that
        // crashed mid-job leaves the directory (with only _temporary/)
        // behind, and an existence probe would route the retry into
        // reading a schema-less dir — wedged forever
        val merged =
          if (!graft.ops.Layout.hasCommittedFiles(hfs, tpath)) fresh
          else {
            // open only the touched partitions (one root listing, no
            // Spark job); Spark writes a date partition as its ISO text
            val touched = byDate
              .map(r => if (r.isNullAt(0)) null else r.get(0).toString).toSet
            val stored = graft.io.Tables.openWritten(
              spark, aggPath, "dt", DateType)(touched.contains)
            batchId match {
              case Some(id) => mergeIdempotent(stored, fresh, keys, appId, id)
              case None => merge(stored, fresh, keys)
            }
          }
        merged.write.partitionBy("dt").parquet(stage)
      }
    } finally { fresh.unpersist(); () }
  }
}
