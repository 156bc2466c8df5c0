package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.functions.Rounding.roundHalfUp

/** The reference's analytical surface — LAG, framed AVG, framed STDDEV
  * over per-key time-ordered partitions — as reusable window specs
  * (reference: etl_project/assets/sql/transform/stock_bars_analysis.sql:4-35).
  *
  * Scale notes:
  *  - All window ops here hash-partition on the series key (`stock` /
  *    `event_type`) and sort within partitions: ONE exchange feeds every
  *    window column because all specs share the same partitioning +
  *    ordering — Catalyst collapses them into a single `WindowExec`
  *    (verify: one Exchange in the formatted plan, not three).
  *  - ONE exchange per series holds for chained ops too: `barAnalysis`
  *    ends with a presentation `orderBy`, and when a partitioned window
  *    (`rsi`, `drawdown`) consumes its result, [[graft.ext.DeadSortRule]]
  *    drops that sort — the window's hash exchange would discard its
  *    order anyway. Without the rule (a session built without
  *    `GraftExtensions`) the sort costs a sampling job and a range
  *    exchange: three exchanges instead of one.
  *  - Each dependency level of derived columns is ONE projection
  *    (`select(col("*"), ...)`), not a `withColumn` per column: every
  *    `withColumn` re-analyzes the whole plan.
  *  - Frames are ROWS-bounded (4 PRECEDING..CURRENT ROW): constant-memory
  *    streaming frame evaluation per partition; no unbounded state.
  *  - At 100 TB the only skew risk is a hot series key; the key space is
  *    the partition strategy, so pre-bucketing the fact table by the
  *    series key removes even this single exchange.
  *  - Ordering carries a unique tie-breaker column so results are
  *    deterministic for the oracle hash-compare (SURVEY §2.5 caveat).
  */
object Windows {

  /** PARTITION BY part ORDER BY (order, tie) — the canonical series spec. */
  def series(part: Column, order: Column, tie: Column): WindowSpec =
    Window.partitionBy(part).orderBy(order, tie)

  /** 5-row trailing frame on the same series spec. */
  def trailing5(part: Column, order: Column, tie: Column): WindowSpec =
    series(part, order, tie).rowsBetween(-4, Window.currentRow)

  /** W1: previous value per series (reference: stock_bars_analysis.sql:10). */
  def withPrev(df: DataFrame, part: String, order: String, tie: String,
               value: String, out: String = "prev_value"): DataFrame =
    df.withColumn(out, lag(col(value), 1).over(series(col(part), col(order), col(tie))))

  /** W2: round(((v - prev) / nullif(prev, 0)), 3)
    * (reference: stock_bars_analysis.sql:21). */
  def dailyReturn(value: Column, prev: Column): Column =
    roundHalfUp((value - prev) / nullif(prev, lit(0.0)), 3)

  /** Gap fill / densify: one row per (key, day) across each key's
    * observed [min, max] date span, with missing days synthesized and
    * the value forward-filled from the last observation
    * (`last(ignoreNulls)` over an unbounded-preceding ROWS frame — the
    * streaming-friendly frame: one pass per partition, constant state).
    * `is_filled` marks SYNTHESIZED rows — rows absent from the input —
    * via a presence marker, never by a null value test: an OBSERVED row
    * whose value is null keeps is_filled = 0 (and forward-fills like
    * any gap), so observation-coverage audits stay truthful. The first
    * row per key is always an observation (the span starts at the key's
    * min date); v_filled can be null only until the key's first
    * non-null observation.
    *
    * Scale notes: the dense calendar is generated from the per-key span
    * aggregate (`sequence` + `explode`) — rows created executor-side,
    * never a driver loop. Row growth is bounded by span_days per key; a
    * key with a decade-long span and one observation generates ~3.7k
    * rows — acceptable for per-entity daily series, not for sparse
    * millisecond series (gap-fill at finer grain wants a bucketed
    * variant). Two exchanges: the (key, date) join hash and the per-key
    * window sort; both partial-free and AQE-coalesced. */
  def gapFill(df: DataFrame, part: String, dateCol: String,
              value: String): DataFrame = {
    Reserved.requireAbsent(df, "gapFill", Seq("v_filled", "is_filled", "_obs"))
    val spans = df.groupBy(col(part))
      .agg(min(col(dateCol)).as("_lo"), max(col(dateCol)).as("_hi"))
    val dense = spans.select(col(part),
      explode(sequence(col("_lo"), col("_hi"))).as(dateCol))
    val w = Window.partitionBy(col(part)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(df.withColumn("_obs", lit(1)), Seq(part, dateCol), "left")
      .withColumn("v_filled", last(col(value), ignoreNulls = true).over(w))
      .withColumn("is_filled", when(col("_obs").isNull, lit(1L)).otherwise(lit(0L)))
      .select(col(part), col(dateCol), col("v_filled"), col("is_filled"))
  }

  /** RSI-n, simple-average form: momentum oscillator over a per-key
    * series. Gains/losses via explicit CASE (not `greatest` — its
    * null-handling differs across engines); the n-row trailing frame is
    * constant-memory streaming. First row per key (no prev) yields NULL
    * gain/loss, which the frame AVG ignores on every engine. avg_loss=0
    * (monotone-up frame) defines RSI=100. Adds `rsi` (HALF_UP, 4dp). */
  def rsi(df: DataFrame, part: String, order: String, tie: String,
          value: String, n: Int = 14): DataFrame = {
    require(n >= 1, s"rsi: n must be >= 1, got $n") // n<=0 would build a
    // backwards/look-ahead frame and fail (or silently peek at future rows)
    Reserved.requireAbsent(df, "rsi",
      Seq("_prev", "_gain", "_loss", "_avg_gain", "_avg_loss", "rsi"))
    val w = series(col(part), col(order), col(tie))
    val wn = w.rowsBetween(-(n - 1), Window.currentRow)
    val v = col(value)
    val prev = df.select(col("*"), lag(v, 1).over(w).as("_prev"))
    val moves = prev.select(col("*"),
      // a NULL current value propagates NULL (the frame AVG skips it) —
      // without the explicit branch `v > _prev` is NULL and the
      // otherwise(0.0) would count the missing observation as a
      // zero-change day, deflating both trailing averages toward 50
      when(v.isNull || col("_prev").isNull, lit(null).cast("double"))
        .when(v > col("_prev"), v - col("_prev")).otherwise(lit(0.0)).as("_gain"),
      when(v.isNull || col("_prev").isNull, lit(null).cast("double"))
        .when(v < col("_prev"), col("_prev") - v).otherwise(lit(0.0)).as("_loss"))
    val avgs = moves.select(col("*"),
      avg(col("_gain")).over(wn).as("_avg_gain"),
      avg(col("_loss")).over(wn).as("_avg_loss"))
    avgs.select(df.col("*"), roundHalfUp(
      when(col("_avg_loss") === 0.0, lit(100.0))
        .otherwise(lit(100.0) - lit(100.0) /
          (lit(1.0) + col("_avg_gain") / col("_avg_loss"))), 4).as("rsi"))
  }

  /** Running-peak drawdown: unbounded-preceding MAX frame (exact — no
    * FP accumulation, constant state) then the relative drop from the
    * peak, NULLIF-guarded against a zero peak. Adds `peak` and
    * `drawdown` (HALF_UP, 6dp). */
  def drawdown(df: DataFrame, part: String, order: String, tie: String,
               value: String): DataFrame = {
    Reserved.requireAbsent(df, "drawdown", Seq("peak", "drawdown"))
    val w = series(col(part), col(order), col(tie))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // divide by |peak|: a NEGATIVE running peak (PnL-style series) would
    // otherwise flip the sign and report a drop as a positive number;
    // with |peak| the drawdown is <= 0 for any non-zero peak
    df.withColumn("peak", max(col(value)).over(w))
      .withColumn("drawdown",
        roundHalfUp((col(value) - col("peak")) / nullif(abs(col("peak")), lit(0.0)), 6))
  }

  /** Full analysis pipeline = the reference's stock_bars_analysis CTAS body
    * transplanted onto a generic (part, order, tie, value) series.
    * Output schema mirrors stock_bars_analysis.sql:25-33.
    *
    * The result is ordered by (part, order, tie) for when it is the
    * final output. When a partitioned window consumes it instead (as
    * `rsi` and `drawdown` do), [[graft.ext.DeadSortRule]] drops that
    * sort in the optimizer: the window's own exchange would throw its
    * order away, so the chained query plans one exchange, not three.
    */
  def barAnalysis(df: DataFrame, part: String, order: String, tie: String,
                  value: String): DataFrame = {
    Reserved.requireAbsent(df, "barAnalysis", Seq("dt", "prev_value",
      "daily_return", "daily_return_pct", "moving_avg_5", "stddev_5"))
    val w = series(col(part), col(order), col(tie))
    val w5 = trailing5(col(part), col(order), col(tie))
    val prev = df.select(col("*"), to_date(col(order)).as("dt"),
      lag(col(value), 1).over(w).as("prev_value"),
      roundHalfUp(avg(col(value)).over(w5), 2).as("moving_avg_5"))
    val ret = prev.select(col("*"),
      dailyReturn(col(value), col("prev_value")).as("daily_return"))
    ret.select(col("*"),
      // pct derives from the already-rounded return — the reference
      // double-rounds (sql:21 then :31); preserved for hash parity.
      roundHalfUp(col("daily_return") * 100, 1).as("daily_return_pct"),
      roundHalfUp(stddev_samp(col("daily_return")).over(w5), 2).as("stddev_5"))
      .orderBy(col(part), col(order), col(tie))
      .select(col(part), col(tie), col("dt"), col(value), col("prev_value"),
        col("daily_return"), col("daily_return_pct"), col("moving_avg_5"),
        col("stddev_5"))
  }
}
