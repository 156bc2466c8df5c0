package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import graft.meta.{AuditLog, JobLabel}
import graft.ops.Upsert
import graft.state.Checkpoint

/** Incremental pipeline runner reproducing the reference's `pipeline()`
  * control flow (reference: etl_project/pipelines/stock_bars.py:33-134):
  *
  *   target exists?
  *     yes -> read checkpoint -> re-extract from watermark date
  *            (INCLUSIVE — the overlap day is re-read and idempotently
  *            deduped by the upsert, stock_bars.py:42-57) -> upsert
  *     no  -> full extract -> create + insert
  *   then: save checkpoint = max(order column) as ISO string
  *   then: analysis transform (isolated failure domain — it runs and
  *         logs even if the load stage failed, stock_bars.py:126-134)
  *
  * Each stage is wrapped in its own try/catch that appends to the audit
  * log, mirroring the reference's two try/except domains. Operators stay
  * pure `DataFrame => DataFrame`; only this runner touches storage.
  *
  * Every Spark job a stage launches carries its [[graft.meta.JobLabel]]
  * as the job description: `graft:extract` (landing and opening the
  * fetch), `graft:load.probe` (the one-aggregate batch probe),
  * `graft:load.merge` (the overlap upsert and its partition publish),
  * `graft:load.full` (the full-load replace), `graft:rollup` and
  * `graft:analysis`. The extract frame is lazy, so its scan runs in
  * the load jobs that consume it. An audit record written inside a
  * stage carries the label as its `stage`.
  *
  * Scale design (the part the reference's row-store never had to solve):
  *  - The target is **partitioned by `dt`** (the date of the order
  *    column). An incremental run reads only the partitions at/after the
  *    watermark date, upserts the batch into that overlap slice, and
  *    publishes the merged partitions, written once and each swapped
  *    in ([[graft.ops.Layout.replacePartitions]]) — only they are
  *    replaced. A daily run against a 100 TB target therefore touches
  *    one or two date partitions, never the full table. The overlap
  *    read lists the
  *    target root once and opens only the overlap partitions, with the
  *    schema from one footer read on the driver
  *    ([[graft.io.Tables.openWritten]]): no listing job and no footer
  *    job, however many partitions the target holds.
  *  - All storage access goes through the Hadoop `FileSystem` API, so
  *    the same runner works on local FS, HDFS, and S3A.
  *  - A crash leaves every partition old or new, and the publish heals
  *    a crashed swap before the overlap is opened. The watermark only
  *    advances after the publish returns, so a retry re-extracts the
  *    overlap and the upsert re-merges it idempotently.
  *
  * Contract: the PK `keys` must functionally determine the order column
  * (in the reference, `timestamp` IS part of the PK,
  * assets/assets.py:150-164), so a key can never move between date
  * partitions and replacing whole partitions preserves upsert semantics.
  */
class Runner(spark: SparkSession, checkpoint: Checkpoint, audit: AuditLog) {

  /** Derived date partition column: first 10 chars of the ISO order
    * column (string or timestamp), as a DATE so it round-trips through
    * partition-directory type inference unchanged. */
  private def withDt(df: DataFrame, orderCol: String): DataFrame =
    df.withColumn("dt", to_date(substring(col(orderCol).cast("string"), 1, 10)))

  /** The reference's extract step (pipelines/stock_bars.py:42-57) with
    * the live connector: fetch every page of the requested range
    * (pagination fixed vs the reference — see [[graft.io.BarsHttpClient]]),
    * streaming each page straight to the landed payload file (O(1)
    * driver memory for multi-year backfills), and return the bars frame
    * through the distributed scan path. `start` is the INCLUSIVE
    * watermark date — the overlap re-read the downstream upsert
    * dedupes. The landed payload doubles as the raw-zone archive:
    * re-running the transform needs no re-fetch. */
  def extractBars(client: graft.io.BarsHttpClient, landDir: String,
                  symbols: String, timeframe: String, start: String,
                  end: Option[String] = None): DataFrame = {
    // THIS extract owns the whole landing dir (overwrite semantics, as
    // a batch extract must): stale files from a previous run would be
    // unioned into the scan and could win the upsert tie-break over
    // fresh rows. But the PREVIOUS landing is also the raw-zone
    // archive, and a failed fetch must not destroy it — so the fetch
    // lands in a hidden staging sibling and only a SUCCESSFUL fetch
    // swaps it in (the same Layout.replace as the streaming sink). The
    // accumulating-directory shape belongs to the streaming ingest
    // (BarsStream), which tracks files by name.
    JobLabel.during(spark, "graft:extract") {
      val pages = graft.ops.Layout.replace(spark, landDir) { stage =>
        client.fetchAndLand(spark, stage, symbols, timeframe, start, end)
      }
      audit.log(s"extract: $pages page(s) landed at $landDir")
      graft.io.JsonSource.readBars(spark, landDir)
    }
  }

  /** One incremental load round. `source` is the already-extracted batch
    * (the reference's API extract); returns the rows WRITTEN this run
    * (the merged overlap slice, or the whole batch on a full load) —
    * never a full-target count, which at the design scale would list
    * and footer-read every file of a 100 TB table just for an audit
    * line. An empty batch writes nothing and leaves the watermark and
    * target untouched.
    *
    * The order column must be NON-NULL and date-parseable: every load
    * enforces it loudly, because the incremental watermark filter could
    * only drop such rows silently (null >= watermark is null). */
  def loadIncremental(source: DataFrame, targetPath: String, table: String,
                      keys: Seq[String], orderCol: String): Long = {
    try {
      audit.log(s"$table: load starting")
      val tpath = new Path(targetPath)
      // committed-data probe, not bare exists(): a directory holding
      // only crash residue must route to the self-healing full load,
      // not into spark.read.parquet on a schema-less path
      val exists = graft.ops.Layout.hasCommittedFiles(
        tpath.getFileSystem(spark.sparkContext.hadoopConfiguration), tpath)
      // the batch is consumed twice (probe, target write); cache it so
      // an expensive source extract runs ONCE per load and the
      // watermark can't diverge from what was written. ONE aggregate
      // probes it: row count, the non-null/parseable-date contract, and
      // the watermark. An empty batch writes nothing. The date contract
      // holds on both branches: the incremental `>= watermark` filter
      // would silently DROP null-ordered rows (null >= x is null), and
      // one garbage order value (a non-ISO string sorting above the
      // watermark) would land in the null partition AND poison the
      // saved watermark, stalling every later run.
      def probed(batch: DataFrame)(write: (DataFrame, Long) => Long): (Long, String) = {
        batch.persist()
        try {
          val r = JobLabel.during(spark, "graft:load.probe") {
            batch.agg(count(lit(1)), count(when(col("dt").isNull, 1)),
              max(col(orderCol).cast("string"))).head()
          }
          if (r.getLong(0) == 0) (0L, null)
          else {
            require(r.getLong(1) == 0,
              s"$table: order column '$orderCol' has rows with NULL or " +
                "unparseable dates; a watermark pipeline cannot window " +
                "them — clean or default them upstream")
            (write(batch, r.getLong(0)), r.getString(2))
          }
        } finally { batch.unpersist(); () }
      }
      val checkpointBefore = checkpoint.get(table)
      val (written, batchWm) = checkpointBefore match {
        case Some(wm) if exists =>
          // inclusive re-extraction from the watermark's date, like the
          // reference's start=checkpoint_date[:10] slice
          val fromDate = wm.substring(0, 10)
          probed(withDt(source.filter(col(orderCol) >= lit(fromDate)),
              orderCol)) { (batch, _) =>
            JobLabel.during(spark, "graft:load.merge") {
              graft.ops.Layout.replacePartitions(spark, targetPath) { stage =>
                // opened after the publish healed the root: only the
                // overlap partitions (one root listing, no Spark job;
                // ISO dates compare as text)
                val overlap = graft.io.Tables
                  .openWritten(spark, targetPath, "dt", DateType)(
                    d => d != null && d >= fromDate)
                  .filter(col("dt") >= to_date(lit(fromDate)))
                Upsert.upsert(overlap, batch, keys)
                  .write.partitionBy("dt").parquet(stage)
              }
            }
          }
        case _ =>
          // full load: the target (if any) is REPLACED wholesale, making
          // "full extract -> create + insert" literally true. A lost
          // checkpoint over an existing target must not publish partitions
          // — that would replace only the batch's partitions and leave a
          // silent mix of old and new data. Layout.replace keeps the old
          // table recoverable until the new one is fully in place.
          // An EMPTY batch never replaces anything: with a lost checkpoint
          // over an existing target (e.g. a source outage on the same run
          // that lost the state store), swapping in an empty extract would
          // wipe the table and leave a schema-less path behind.
          probed(withDt(source, orderCol)) { (batch, n) =>
            JobLabel.during(spark, "graft:load.full") {
              graft.ops.Layout.replace(spark, targetPath) { stage =>
                batch.write.partitionBy("dt").parquet(stage)
              }
            }
            n
          }
      }
      // watermark advances monotonically; an empty batch leaves it
      // alone. Reuses the run-entry read — this Runner is the table's
      // sole checkpoint owner, so a second read could never observe a
      // different value. An UNCHANGED watermark is not re-saved: an
      // idle run (weekend, source outage) writes no new version for
      // zero state change.
      val wm = (checkpointBefore.toSeq ++ Option(batchWm).toSeq)
        .sorted.lastOption.orNull
      if (wm != null && !checkpointBefore.contains(wm))
        checkpoint.save(table, wm)
      audit.log(s"$table: load complete, $written rows written, watermark $wm")
      written
    } catch {
      case e: Exception =>
        audit.log(s"$table: load FAILED: ${e.getMessage}")
        throw e
    }
  }

  /** Incrementally maintain a date-partitioned rollup table from a raw
    * batch: aggregate the batch to mergeable partials
    * ([[IncrementalAgg.partials]]), read ONLY the rollup partitions for
    * the batch's dates (bounded by days-per-batch, so the driver-side
    * collect is a few values), merge, and publish just those partitions
    * through [[graft.ops.Layout.replacePartitions]]. Untouched history
    * is never read or rewritten — O(batch) work per run against an
    * arbitrarily large rollup. Returns rows written.
    *
    * An empty batch writes nothing. First run creates the rollup from
    * the batch's partials alone. Orchestrators that may RETRY a crashed
    * run must pass a stable (`appId`, `batchId`) token — without one, a
    * retry after a crash that published only some partitions
    * double-counts those (see [[IncrementalAgg.maintain]]). */
  def maintainAggregate(batch: DataFrame, aggPath: String, table: String,
                        dateCol: String, keys: Seq[String], valueCol: String,
                        batchId: Option[Long] = None,
                        appId: String = "batch"): Long =
    try {
      audit.log(s"$table: rollup maintenance starting")
      val written = JobLabel.during(spark, "graft:rollup") {
        IncrementalAgg.maintain(
          spark, batch, aggPath, dateCol, keys, valueCol, batchId, appId)
      }
      audit.log(s"$table: rollup maintenance complete, $written rows written")
      written
    } catch {
      case e: Exception =>
        audit.log(s"$table: rollup maintenance FAILED: ${e.getMessage}")
        throw e
    }

  /** The analysis stage: its own failure domain, like the reference's
    * second try/except (stock_bars.py:126-134). The output is replaced
    * through [[graft.ops.Layout.replace]], so a body that fails, at
    * planning or while its job runs, leaves the previous output in
    * place. */
  def runAnalysis(name: String, out: String)(body: => DataFrame): Boolean =
    try {
      audit.log(s"$name: analysis starting")
      JobLabel.during(spark, "graft:analysis") {
        graft.ops.Layout.replace(spark, out)(stage => body.write.parquet(stage))
      }
      audit.log(s"$name: analysis complete")
      true
    } catch {
      case e: Exception =>
        audit.log(s"$name: analysis FAILED: ${e.getMessage}")
        false
    }
}
