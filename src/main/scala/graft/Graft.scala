package graft

import org.apache.spark.sql.SparkSession

/** The one-call entry point for a user adopting the engine: a
  * `SparkSession` builder pre-wired with everything the library
  * assumes — the native SQL functions and two optimizer rules
  * ([[graft.ext.GraftExtensions]]): [[graft.ext.RangeJoinRule]], which
  * turns a bare inequality join into a bucketized equi-join, and
  * [[graft.ext.DeadSortRule]], which drops a global sort that a
  * partitioned window re-partitions (`Windows.rsi` over
  * `Windows.barAnalysis` plans one exchange instead of three) — plus
  * AQE with skew-join handling and a UTC session zone (the
  * oracle-parity contract every operator here is verified under).
  *
  * On a cluster, prefer submitting with
  * `--conf spark.sql.extensions=graft.ext.GraftExtensions` and your
  * own sizing; this builder is the batteries-included local/default
  * path. `shufflePartitions` should be ~2-3× total executor cores on
  * a real cluster (AQE coalesces the excess).
  *
  * `shufflePartitions` also caps the tasks of Spark's parallel file
  * discovery (`spark.sql.sources.parallelPartitionDiscovery.parallelism`).
  * Once an open passes the discovery threshold (32 paths, left at its
  * default so a very wide open still lists in a distributed job),
  * Spark's default of 10,000 launches one listing task per directory:
  * the 121-partition bars table listed in 121 tasks. Capped, it lists
  * in one wave of at most `shufflePartitions` tasks, with the same job
  * and the same file-system calls. Measured on a 4-vCPU VM (perfbench
  * `analytics_curate`, per 60-day point query, traced seed 7): tasks
  * 130 → 13, open 0.67 → 0.18 s, jobs 7 and file-system reads 428 on
  * both sides; untraced, the median point query went 1.29 → 0.80 s.
  * `getOrCreate` applies it to an adopted session too, as it does
  * every runtime SQL conf set here.
  */
object Graft {

  def session(master: String = "local[*]",
              appName: String = "graft",
              shufflePartitions: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Always use the unified sort shuffle writer. The bypass-merge
      // writer (default for ≤200 reduce partitions, i.e. ONLY in
      // small/local runs — at production partition counts it never
      // fires) opens one file per reduce partition per map task:
      // measured locally that file open/write/concat/delete churn
      // dominated every small exchange (~250 ms CPU per task of pure
      // file metadata ops). Forcing the sort path makes local runs
      // take exactly the one-file-per-map-task path a cluster takes.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .getOrCreate()
    // getOrCreate can return a pre-existing session whose builder ran
    // without the extensions conf — make adoption idempotent. NOTE:
    // bypassMergeThreshold above is a CORE SparkConf setting, fixed at
    // SparkContext creation — on this adoption path the pre-existing
    // context keeps whatever writer it started with (for ≤200-partition
    // exchanges that is the bypass-merge writer, measurably slower
    // locally); only the SQL confs can be re-applied after the fact.
    if (spark.sparkContext.getConf
        .get("spark.shuffle.sort.bypassMergeThreshold", "200") != "0")
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "graft: adopted SparkContext keeps the bypass-merge shuffle " +
          "writer (spark.shuffle.sort.bypassMergeThreshold unset at " +
          "context creation); small-exchange performance will differ " +
          "from a Graft-built session")
    ext.GraftExtensions.registerAll(spark)
    spark
  }

  /** The session Bench and Verify share: local[n], n shuffle
    * partitions, quiet UI, UTC. ONE builder on purpose — the session
    * timezone is part of the oracle-parity contract, and a hand-rolled
    * copy in either harness would let the benchmarked engine silently
    * drift from the verified one. */
  def harnessSession(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // unified sort shuffle writer — see Graft.session: the bypass-
      // merge writer's per-(map task × reduce partition) file churn
      // dominates small exchanges locally, and production partition
      // counts never take that path anyway.
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      // AQE stays OFF here, deliberately diverging from the adoption
      // path (Graft.session, AQE+skew on — the 100 TB-correct setting):
      // measured at sf0.1/local[32], adaptive re-planning costs +28%
      // total bench wall time (61s -> 78s, round 7) because per-stage
      // re-optimization overhead dominates when every shuffle is tiny.
      // Parity is config-independent either way (verified 117/117 with
      // AQE on before reverting — the rounding contract absorbs
      // partial-agg reordering).
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
