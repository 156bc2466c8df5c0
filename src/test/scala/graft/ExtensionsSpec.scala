package graft

import org.apache.spark.sql.functions._
import graft.ext.GraftExtensions
import org.scalatest.BeforeAndAfterAll

/** SQL registration of the native expressions: after registration the
  * functions are callable from spark.sql and agree bit-for-bit with the
  * Column API (same Expression underneath — codegen'd, no UDF). */
class ExtensionsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  // registerAll installs the optimizer rules on the shared test
  // session — take them out again so suite ordering stays irrelevant
  private lazy val before = spark.experimental.extraOptimizations

  override def beforeAll(): Unit = { super.beforeAll(); before }

  override def afterAll(): Unit = {
    spark.experimental.extraOptimizations = before
    super.afterAll()
  }

  test("registered SQL functions match the Column API bit-for-bit") {
    GraftExtensions.register(spark)
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f), "the quick brown fox"))
      .toDF("a", "b", "text").createOrReplaceTempView("ext_t")

    val sqlOut = spark.sql(
      """SELECT graft_cosine_sim(a, b) AS cs,
        |       graft_simhash64(split(text, ' ')) AS sh,
        |       graft_minhash_sig(split(text, ' '), 2, 8) AS mh,
        |       graft_winnow_fingerprint(text, 4, 3) AS fp,
        |       graft_hyperplane_lsh(a, 8) AS bucket
        |FROM ext_t""".stripMargin).head()

    val apiOut = spark.table("ext_t").select(
      graft.functions.Expressions.cosine_sim($"a", $"b").as("cs"),
      graft.functions.Expressions.simhash64(split($"text", " ")).as("sh"),
      graft.functions.Expressions.minhash_sig(split($"text", " "), 2, 8).as("mh"),
      graft.functions.Expressions.winnow_fingerprint($"text", 4, 3).as("fp"),
      graft.functions.Expressions.hyperplane_lsh($"a", 8).as("bucket")).head()

    assert(sqlOut == apiOut)
  }

  test("non-literal static args fail fast with a clear message") {
    GraftExtensions.register(spark)
    Seq(("a b c", 3)).toDF("text", "n").createOrReplaceTempView("ext_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(split(text,' '), n, 8) FROM ext_bad")
        .collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("the SparkSessionExtensions injection point accepts all descriptors") {
    // cluster path: spark.sql.extensions=graft.ext.GraftExtensions —
    // the class must inject every descriptor without error
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    assert(GraftExtensions.descriptors.map(_._1.funcName).distinct.size ==
      GraftExtensions.descriptors.size)
  }

  test("registerAll rewrites naive SQL inequality joins (the adoption path)") {
    // a user adopting via Graft.session / spark.sql.extensions writes the
    // naive BETWEEN-style join and must still get the bucketized plan
    GraftExtensions.registerAll(spark)
    Seq(0L, 5L, 9L).toDF("pt").createOrReplaceTempView("ext_pts")
    Seq((1, 0L, 10L), (2, 8L, 13L)).toDF("iv_id", "s", "e")
      .createOrReplaceTempView("ext_ivs")
    val joined = spark.sql(
      "SELECT iv_id, pt FROM ext_pts JOIN ext_ivs ON pt >= s AND pt < e")
    assert(joined.queryExecution.executedPlan.toString.contains("_graft_bucket"))
    assert(joined.as[(Int, Long)].collect().toSet ==
      Set((1, 0L), (1, 5L), (1, 9L), (2, 9L)))
    // idempotent: registering twice must not stack the rule
    GraftExtensions.registerAll(spark)
    assert(spark.experimental.extraOptimizations
      .count(_ eq graft.ext.RangeJoinRule) == 1)
    assert(spark.experimental.extraOptimizations
      .count(_ eq graft.ext.DeadSortRule) == 1)
  }

  test("SQL-surface dedup: minhash signatures from SQL agree with DedupOps") {
    GraftExtensions.register(spark)
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_minhash_sig(split(text, ' '), 3, 64) AS sig FROM ext_docs")
      .as[(Long, Seq[Long])].collect().toMap
    val viaApi = docs.select($"doc_id",
      graft.functions.Expressions.minhash_sig(split($"text", " "), 3, 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaSql == viaApi)
  }
}
