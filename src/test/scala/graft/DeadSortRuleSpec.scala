package graft

import graft.ext.DeadSortRule
import graft.io.Tables
import graft.ops.Windows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import org.scalatest.BeforeAndAfterAll

/** A global sort that a partitioned window re-partitions is dropped:
  * the chained window query plans one exchange and runs two jobs, with
  * the same rows as without the rule. A sort anyone can observe stays:
  * presentation order with no window above it, keys the window's
  * partitioning already covers, a nondeterministic projection or a
  * limit in between, and a window with no partition spec. */
class DeadSortRuleSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var installed = Seq.empty[Rule[LogicalPlan]]

  override def beforeAll(): Unit = {
    super.beforeAll()
    installed = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      installed.filterNot(_ eq DeadSortRule) :+ DeadSortRule
  }

  override def afterAll(): Unit = {
    spark.experimental.extraOptimizations = installed
    super.afterAll()
  }

  /** `body` on a session without the rule (it reads plans lazily, so a
    * frame built inside is planned inside). */
  private def withoutRule[T](body: => T): T = {
    val withRule = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = withRule.filterNot(_ eq DeadSortRule)
    try body finally spark.experimental.extraOptimizations = withRule
  }

  private def exchanges(df: DataFrame): Int =
    df.queryExecution.explainString(FormattedMode).linesIterator
      .count(_.matches(raw"\(\d+\) Exchange( .*)?"))

  private def sorts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case s: Sort if s.global => s }.size

  /** 3 symbols × 12 days, partitioned by `dt`, opened the way the
    * engine opens its own tables (no listing or schema job). */
  private lazy val bars: DataFrame = {
    val dir = tmpDir() + "/bars"
    val days = (1 to 12).map(d => f"2025-01-$d%02d")
    days.flatMap(d => Seq("A", "B", "C").zipWithIndex.map { case (s, i) =>
      (s, java.sql.Timestamp.valueOf(s"$d 16:00:00"),
        100.0 + i * 10 + (d.takeRight(2).toInt * 7 % 5), d) })
      .toDF("stock", "timestamp", "close", "dt")
      .withColumn("dt", to_date($"dt"))
      .write.partitionBy("dt").parquet(dir)
    Tables.openWritten(spark, dir, "dt", DateType)(_ => true)
  }

  private def pointQuery(): DataFrame = {
    val df = bars.filter($"stock" === "B")
      .select($"stock", $"timestamp", $"close", $"timestamp".as("bar_id"))
    Windows.rsi(Windows.barAnalysis(df, "stock", "timestamp", "bar_id", "close"),
      "stock", "dt", "bar_id", "close")
  }

  test("rsi over barAnalysis plans one exchange and runs two jobs, same rows") {
    val q = pointQuery()
    assert(sorts(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(exchanges(q) == 1, q.queryExecution.explainString(FormattedMode))
    val (rows, jobs) = JobCounter.during(spark)(q.collect())
    assert(jobs.size == 2, jobs.mkString("\n"))

    val (before, jobsBefore) = withoutRule {
      val p = pointQuery()
      assert(sorts(p) == 1 && exchanges(p) == 3)
      JobCounter.during(spark)(p.collect())
    }
    assert(jobsBefore.size == 5, jobsBefore.mkString("\n"))
    assert(rows.length == 12)
    assert(rows.map(_.toString).sorted.toSeq == before.map(_.toString).sorted.toSeq)
  }

  test("SQL: an inner ORDER BY under a partitioned window is dropped") {
    Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 5.0), ("b", 3L, 4.0))
      .toDF("k", "t", "v").createOrReplaceTempView("dead_sort_x")
    val sql = "SELECT k, t, lag(v) OVER (PARTITION BY k ORDER BY t) AS p " +
      "FROM (SELECT * FROM dead_sort_x ORDER BY t)"
    val q = spark.sql(sql)
    assert(sorts(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(exchanges(q) == 1)
    assert(withoutRule(sorts(spark.sql(sql))) == 1)
    assert(q.as[(String, Long, Option[Double])].collect().toSet ==
      Set(("a", 1L, None), ("a", 2L, Some(1.0)), ("b", 1L, None), ("b", 3L, Some(5.0))))
  }

  test("a presentation orderBy with no window above it stays (q_full_analysis)") {
    val q = SparkEntry.entry(spark)
    val plan = q.queryExecution.optimizedPlan
    assert(sorts(q) == 1)
    assert(DeadSortRule(plan) eq plan, "the rule must leave the plan as it is")
  }

  private val x = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 5.0)).toDF("k", "t", "v")

  test("a sort on window partition keys only stays (its order is observable)") {
    val q = x.orderBy($"k").withColumn("p",
      lag($"v", 1).over(Window.partitionBy($"k").orderBy($"t")))
    assert(sorts(q) == 1)
    // also through an alias: the window partitions on k2 = k
    val aliased = x.orderBy($"k").select($"k".as("k2"), $"t", $"v")
      .withColumn("p", lag($"v", 1).over(Window.partitionBy($"k2").orderBy($"t")))
    assert(sorts(aliased) == 1)
  }

  test("a nondeterministic projection or a limit between sort and window keeps the sort") {
    val w = Window.partitionBy($"k").orderBy($"t")
    val nondet = x.orderBy($"t").withColumn("id", monotonically_increasing_id())
      .withColumn("p", lag($"v", 1).over(w))
    assert(sorts(nondet) == 1)
    val limited = x.orderBy($"t").limit(2).withColumn("p", lag($"v", 1).over(w))
    assert(sorts(limited) == 1)
  }

  test("a window with no partition spec keeps the sort") {
    val q = x.orderBy($"k", $"t").withColumn("p",
      lag($"v", 1).over(Window.orderBy($"t")))
    assert(sorts(q) == 1)
  }
}
