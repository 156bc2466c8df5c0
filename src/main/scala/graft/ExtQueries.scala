package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.ops.{DedupOps, SimilarityOps, TextOps}
import graft.functions.Rounding.sqlRound

/** Training-data-pipeline query keys (north-star extensions, SURVEY
  * §7.4): dedup, similarity search, text analysis. Keys with DuckDB-
  * expressible semantics carry oracle SQL; the approximate operators
  * (MinHash/SimHash/LSH) are rows-only here and verified against exact
  * ground truth in ScalaTest.
  *
  * Derived integer columns are cast to long so the dumped parquet dtype
  * matches DuckDB's BIGINT outputs byte-for-byte.
  */
object ExtQueries {
  import CoreQueries.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents")

  /** [[docs]] with the scan-parallelism floor hint
    * ([[graft.io.Tables.read]]): used by the SINGLE-PASS map-kernel
    * keys (shingle/anchor/digest/regex chains), where the floor's one
    * small exchange buys full-core kernel parallelism on an
    * otherwise-1-task local scan. Multi-pass consumers keep [[docs]] —
    * they re-pay the exchange per pass and measured slower with it
    * (interleaved A/B, OPTIMIZATION_r18.md). */
  private def docsPar(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents", floorHint = true)

  /** The q_c4_filters line synthesis, shared with the composed funnel
    * (q_curate_full): the corpus docs are single-line, so C4's line
    * rules need deterministic structure — tokens chunked 10 per line,
    * terminal '.' on (doc_id + line) % 3 == 0 lines, then the four
    * marker/boilerplate injections (javascript % 9, cookie % 15,
    * '{' code % 13, lorem-ipsum % 17). Both oracles replay it
    * verbatim; change them together. */
  private def c4SynthText(d: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val nLines = ceil(size(toks) / lit(10.0)).cast("int")
    val lines = transform(sequence(lit(0), nLines - 1),
      i => concat(
        concat_ws(" ", slice(toks, i * 10 + 1, lit(10))),
        when((col("doc_id") + i) % 3 === 0, lit(".")).otherwise(lit(""))))
    d.withColumn("text", concat_ws("\n", lines))
      .withColumn("text",
        when(col("doc_id") % 9 === 0, concat(col("text"),
          lit("\nplease enable javascript to view this page.")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 15 === 0, concat(col("text"),
          lit("\nwe use cookies to improve your experience.")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"),
          lit("\nfunction f() { return 1; }")))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 17 === 0, concat(col("text"),
          lit("\nlorem ipsum dolor sit amet.")))
          .otherwise(col("text")))
  }
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")


  /** Embeddings plus deterministic affine mutants (vec_id + 1,000,000,
    * each component x*1.1 + 0.01 re-cast to float32): the planted
    * near-dup corpus shared by q_dedup_embed, q_semdedup and
    * q_semdedup_tree. ONE construction on purpose — its DuckDB twin is
    * [[affineMutantCorpusSql]]; change both together. */
  private def embWithAffineMutants(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    e.unionByName(e.select((col("vec_id") + lit(1000000L)).as("vec_id"),
      transform(col("embedding"),
        x => (x * lit(1.1) + lit(0.01)).cast("float")).as("embedding")))
  }

  /** DuckDB twin of [[embWithAffineMutants]] — the corpus CTE body the
    * three near-dup oracles share. */
  private val affineMutantCorpusSql: String =
    """SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.1 + 0.01 AS REAL))
      |  FROM embeddings""".stripMargin

  /** `base` plus 80%-prefix mutants of `mutate` (doc_id + 1,000,000):
    * deterministic planted near-dups. The mutation formula is mirrored
    * verbatim in the DuckDB oracle CTEs (q_boilerplate,
    * q_dedup_components, q_dedup_apply) — change both sides together. */
  private def withPrefixMutants(base: DataFrame, mutate: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    base.unionByName(mutate.select(
      (col("doc_id") + lit(1000000L)).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1),
        greatest(floor((size(toks) * 4) / 5).cast("int"), lit(3)))).as("text")))
  }

  /** The shared portable hash ([[graft.functions.PortableHash]]):
    * every sampled key and its oracle SQL mirror its exact arithmetic. */
  private def hashMod(c: org.apache.spark.sql.Column, m: Long) =
    graft.functions.PortableHash.hashMod(c, m)

  private def docsWithMutants(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    withPrefixMutants(d, d)
  }

  /** [[docsWithMutants]] over the floor-hinted scan — see [[docsPar]]. */
  private def docsWithMutantsPar(s: SparkSession, dir: String): DataFrame = {
    val d = docsPar(s, dir).select("doc_id", "text")
    withPrefixMutants(d, d)
  }

  /** The synthetic media corpus shared by q_media_probe and
    * q_media_resize: ONE construction so the two oracled keys can never
    * silently drift apart in charset or null handling. */
  private def synthMedia(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.ops.Multimodal.MediaRow] = {
    import s.implicits._
    docs(s, dir)
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        graft.ops.Multimodal.MediaRow(id, "synth",
          graft.ops.Multimodal.syntheticPayload(id, text.getBytes("UTF-8")))
      }
  }

  /** In-order double dot product over two SQL list columns — the DuckDB
    * twin of [[graft.functions.Kernels.cosine]]'s accumulation (index
    * order, every element promoted to DOUBLE before multiply). ONE
    * definition on purpose: this string is the oracle side of the
    * cosine bit-parity contract, embedded (directly or via kmeansCtes)
    * in q_dedup_embed, q_cluster_assign, q_similarity_cosine, q_kmeans,
    * q_cluster_medoids and q_semdedup — keys that must never drift
    * apart. */
  private def sqlDot(x: String, y: String): String =
    s"list_sum(list_transform(range(1, len($x) + 1), i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))"

  /** [[sqlDot]] unrolled over the fixed embeddings width ([[annDims]]):
    * the same left-associated double accumulation DuckDB's list_sum
    * performs (verified bit-identical on every dot and norm over 154k
    * sf0.1 pairs), minus the per-pair range/lambda allocation — the
    * difference between the semdedup pair stages streaming at the sf1
    * sweep's 40k-vector corpus (~88M within-cluster pairs) and DuckDB
    * grinding >10 min while spilling tens of GB. ONLY for columns that
    * are exactly annDims wide (embeddings, centroids): an out-of-range
    * index in DuckDB yields NULL and would silently NULL the whole sum
    * on a shorter list — sqlDot stays the general, width-agnostic
    * form. */
  private def sqlDotU(x: String, y: String): String =
    (1 to annDims).map(i =>
      s"CAST($x[$i] AS DOUBLE) * CAST($y[$i] AS DOUBLE)").mkString(" + ")

  /** Shared CTE chain replaying [[graft.ops.Clustering.kmeans]] in
    * DuckDB: `v` (non-null corpus), `vq` (components quantized to
    * BIGINT at 1e6, floor(x*1e6+0.5) — the operator's exact formula),
    * `c0` (seeds = k smallest ids), then per round i: `a_i`/`b_i`
    * (rounded-cosine arg-max, ties to smallest cid), `m_i` (exact
    * integer component sums + counts), `c_i` (truncating `//` mean
    * re-scaled to REAL; absent clusters inherit c_{i-1}), ending with
    * `af`/`bf` — the final assignment against `c_iters`. Callers append
    * their SELECT (and extra CTEs) after this. */
  private def kmeansCtes(corpusSql: String, k: Int, iters: Int,
                         init: String = "minid"): String = {
    val simExpr = sqlRound(
      s"${sqlDot("ev", "cvec")} / (sqrt(${sqlDot("ev", "ev")}) * sqrt(${sqlDot("cvec", "cvec")}))", 6)
    // Clustering.seedPlusPlus replay: per seeding round j, the unchosen
    // vector maximizing the exact-integer draw key dq²·(1+hash) — dq
    // from the best rounded cosine against the seeds so far, hash =
    // PortableHash((vec_id + j) mod 2^20). ORDER BY key DESC, vec_id
    // is the max(struct(key, -id)) total order.
    // AS MATERIALIZED is load-bearing: each sd references sd_{j-1}
    // twice (UNION branch + NOT IN), so inlined CTEs would expand the
    // chain 2^(k-1)-fold — at k=8 DuckDB then opens the corpus parquet
    // hundreds of times and dies on the fd limit
    val seedRounds = (2 to k).map { j =>
      s"""sd$j AS MATERIALIZED (SELECT cid, cvec FROM sd${j - 1}
         |  UNION ALL
         |  SELECT vec_id AS cid, ev AS cvec FROM (
         |    SELECT t.vec_id, t.ev,
         |      (1000000 - CAST(round(t.mx * 1000000) AS BIGINT)) AS dq,
         |      ((t.vec_id + $j) * 2654435761) % 1048576 AS hm
         |    FROM (SELECT v.vec_id, v.ev, max($simExpr) AS mx
         |          FROM v, sd${j - 1} c(cid, cvec)
         |          WHERE v.vec_id NOT IN (SELECT cid FROM sd${j - 1})
         |          GROUP BY v.vec_id, v.ev) t
         |    ORDER BY dq * dq * (1 + hm) DESC, t.vec_id LIMIT 1))""".stripMargin
    }.mkString(",\n")
    val c0 = init match {
      case "minid" =>
        s"c0 AS (SELECT vec_id AS cid, ev AS cvec FROM v ORDER BY vec_id LIMIT $k)"
      case "kmeanspp" if k == 1 =>
        "c0 AS (SELECT vec_id AS cid, ev AS cvec FROM v ORDER BY vec_id LIMIT 1)"
      case "kmeanspp" =>
        s"""sd1 AS MATERIALIZED (SELECT vec_id AS cid, ev AS cvec FROM v ORDER BY vec_id LIMIT 1),
           |$seedRounds,
           |c0 AS (SELECT cid, cvec FROM sd$k)""".stripMargin
    }
    val rounds = (1 to iters).map { i =>
      s"""a$i AS (SELECT vec_id, cid, $simExpr AS sim FROM v, c${i - 1}),
         |b$i AS (SELECT vec_id, cid, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM a$i),
         |m$i AS (SELECT b.cid, q.pos, sum(q.q) AS s, count(*) AS n
         |  FROM b$i b JOIN vq q ON b.vec_id = q.vec_id WHERE b.rk = 1
         |  GROUP BY b.cid, q.pos),
         |c$i AS (
         |  SELECT cid,
         |    list(CAST(CAST(s // n AS DOUBLE) / 1000000.0 AS REAL) ORDER BY pos) AS cvec
         |  FROM m$i GROUP BY cid
         |  UNION ALL
         |  SELECT cid, cvec FROM c${i - 1}
         |  WHERE cid NOT IN (SELECT cid FROM m$i))""".stripMargin
    }.mkString(",\n")
    // iters = 0 (assignment against the raw seeds) is a supported
    // Clustering.kmeans configuration: emit no round CTEs rather than a
    // dangling comma that would fail at DuckDB parse time
    val roundsSeg = if (iters == 0) "" else s"$rounds,\n"
    s"""WITH corpus AS ($corpusSql),
       |v AS (SELECT vec_id, embedding AS ev FROM corpus
       |      WHERE embedding IS NOT NULL),
       |vq AS (SELECT vec_id, pos,
       |    CAST(floor(CAST(ev[pos] AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS q
       |  FROM (SELECT vec_id, ev, unnest(range(1, len(ev) + 1)) AS pos FROM v)),
       |$c0,
       |${roundsSeg}af AS (SELECT vec_id, cid, $simExpr AS sim FROM v, c$iters),
       |bf AS (SELECT vec_id, cid, sim, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM af)""".stripMargin
  }

  /** Shared CTE chain replaying [[graft.ops.Clustering.kmeansTree]] in
    * DuckDB — [[kmeansCtes]] with k = g trains the coarse stage (its
    * `bf` rk=1 rows ARE the fixed group routing), then: `gasg`
    * (vec_id → gid), `fsd`/`f0` (per-group minid seeds, ceil(k/g) per
    * group), per round i `fa_i`/`fb_i` (rounded-cosine arg-max
    * restricted to the row's OWN group — the kernel's routed
    * assignment), `fm_i`/`f_i` (the same exact-integer update), ending
    * with `faf`/`fbf` — the final routed assignment against `f_iters`.
    * Callers append their SELECT after this. */
  private def treeKmeansCtes(corpusSql: String, k: Int, g: Int,
                             iters: Int,
                             perGroupSql: Option[String] = None): String = {
    // k reaches the tree ONLY through the per-group seed count
    // (kmeansTree: perGroup = ceil(k/g), `srk <= perGroup`), so a
    // DATA-DERIVED k (the scaled-k policy) replays by swapping the
    // literal for a scalar subquery — the CTE structure never depends
    // on k, only g and iters unroll.
    val perGroup = perGroupSql.getOrElse(((k + g - 1) / g).toString)
    val simExpr = sqlRound(
      s"${sqlDot("ev", "cvec")} / (sqrt(${sqlDot("ev", "ev")}) * sqrt(${sqlDot("cvec", "cvec")}))", 6)
    val rounds = (1 to iters).map { i =>
      s"""fa$i AS (SELECT v.vec_id, f.fid, $simExpr AS sim
         |  FROM v JOIN gasg a ON a.vec_id = v.vec_id
         |         JOIN f${i - 1} f ON f.gid = a.gid),
         |fb$i AS (SELECT vec_id, fid, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, fid) AS rk FROM fa$i),
         |fm$i AS (SELECT b.fid, q.pos, sum(q.q) AS s, count(*) AS n
         |  FROM fb$i b JOIN vq q ON b.vec_id = q.vec_id WHERE b.rk = 1
         |  GROUP BY b.fid, q.pos),
         |f$i AS (
         |  SELECT m.fid, s0.gid,
         |    list(CAST(CAST(m.s // m.n AS DOUBLE) / 1000000.0 AS REAL) ORDER BY m.pos) AS cvec
         |  FROM fm$i m JOIN (SELECT DISTINCT fid, gid FROM f0) s0 ON s0.fid = m.fid
         |  GROUP BY m.fid, s0.gid
         |  UNION ALL
         |  SELECT fid, gid, cvec FROM f${i - 1}
         |  WHERE fid NOT IN (SELECT fid FROM fm$i))""".stripMargin
    }.mkString(",\n")
    val roundsSeg = if (iters == 0) "" else s"$rounds,\n"
    s"""${kmeansCtes(corpusSql, k = g, iters = iters)},
       |gasg AS (SELECT vec_id, cid AS gid FROM bf WHERE rk = 1),
       |fsd AS (SELECT vec_id, gid, row_number() OVER (
       |    PARTITION BY gid ORDER BY vec_id) AS srk FROM gasg),
       |f0 AS (SELECT s.vec_id AS fid, s.gid, v.ev AS cvec
       |       FROM fsd s JOIN v ON v.vec_id = s.vec_id
       |       WHERE s.srk <= $perGroup),
       |${roundsSeg}faf AS (SELECT v.vec_id, f.fid, $simExpr AS sim
       |  FROM v JOIN gasg a ON a.vec_id = v.vec_id
       |         JOIN f$iters f ON f.gid = a.gid),
       |fbf AS (SELECT vec_id, fid, sim, row_number() OVER (
       |    PARTITION BY vec_id ORDER BY sim DESC, fid) AS rk FROM faf)""".stripMargin
  }

  /** ANN-family hyperparameters, defined ONCE for both the query keys
    * and their oracle SQL so the two sides cannot drift. `annBits` must
    * stay explicit (never autoBits) in the keys: the oracle's plane
    * literal is generated for exactly this plane count. `annDims` is
    * the embeddings table's fixed vector width (the oracle embeds a
    * bits×dims sign matrix; the Spark side reads dims per row, so only
    * the oracle depends on it — TESTDATA generates 64-dim at every SF). */
  private val annBits = 8
  private val annDims = 64
  private val annK = 8
  private val annIvfIters = 2
  private val annNprobe = 3
  private val annTopK = 10

  /** DuckDB replay of [[SimilarityOps.lshTopK]] (= AnnIndex.search —
    * AnnIndexSpec pins the equality): hyperplane buckets from the
    * kernel's own ±1 sign matrix ([[graft.functions.Expressions
    * .HyperplaneLsh.signs]] embedded as a literal — the minhashParams
    * no-drift pattern), in-order double dots (sqlDot = the kernel's
    * accumulation), sign test `dot >= 0` setting bit `1 << j`, 1-bit
    * multi-probe via xor, then rounded-cosine row_number (sim DESC,
    * neighbor_id) — the TopKNeighbors total order. */
  private def lshAnnOracleSql: String = {
    val planeRows = graft.functions.Expressions.HyperplaneLsh
      .signs(annBits, annDims).zipWithIndex.map { case (row, j) =>
        s"($j, [${row.map(v => s"$v.0").mkString(",")}])"
      }.mkString(",\n    ")
    val simExpr = sqlRound(
      s"${sqlDot("qv.ev", "nv.ev")} / (sqrt(${sqlDot("qv.ev", "qv.ev")}) * sqrt(${sqlDot("nv.ev", "nv.ev")}))", 6)
    s"""WITH v AS (SELECT vec_id, embedding AS ev FROM embeddings
       |      WHERE embedding IS NOT NULL),
       |pl AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(j, p)),
       |bkt AS (SELECT vec_id,
       |    CAST(sum(CASE WHEN ${sqlDot("ev", "p")} >= 0
       |             THEN 1 << j ELSE 0 END) AS INTEGER) AS bucket
       |  FROM v, pl GROUP BY vec_id),
       |qb AS (SELECT vec_id AS query_id, bucket FROM bkt WHERE vec_id < 5),
       |pr AS (SELECT query_id, bucket FROM qb
       |       UNION
       |       SELECT query_id,
       |              xor(bucket, CAST(1 << (f.range - 1) AS INTEGER))
       |       FROM qb, range(1, ${annBits + 1}) f),
       |cand AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id
       |         FROM pr p JOIN bkt c ON c.bucket = p.bucket),
       |s AS (SELECT ca.query_id, ca.neighbor_id, $simExpr AS sim
       |      FROM cand ca JOIN v qv ON qv.vec_id = ca.query_id
       |                   JOIN v nv ON nv.vec_id = ca.neighbor_id),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
       |SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= $annTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** EmbedIndex hyperparameters, shared by the two engine keys and
    * their oracles. 12 bits (4096 buckets) keeps bucket populations
    * scale-stable through the sf1 sweep corpus. */
  private val embIdxBits = 12
  private val embIdxMaxBucket = 200

  /** Plane-literal + bucket + norm CTEs for the [[graft.ops
    * .EmbedIndex]] replay: `corpusSql` must yield
    * (vec_id, embedding, is_daily). Same sign-matrix-literal /
    * in-order-dot scheme as [[lshAnnOracleSql]], at [[embIdxBits]]
    * bits; `bkt`/`pv` are MATERIALIZED — both sit on both sides of the
    * downstream bucket self-join (the q_semdedup_tree sf1 lesson). */
  private def embedBucketCtes(corpusSql: String): String = {
    val planeRows = graft.functions.Expressions.HyperplaneLsh
      .signs(embIdxBits, annDims).zipWithIndex.map { case (row, j) =>
        s"($j, [${row.map(v => s"$v.0").mkString(",")}])"
      }.mkString(",\n    ")
    s"""WITH ev0 AS ($corpusSql),
       |v AS (SELECT vec_id, embedding AS ev, is_daily FROM ev0
       |      WHERE embedding IS NOT NULL),
       |pl AS (SELECT * FROM (VALUES
       |    $planeRows) AS t(j, p)),
       |bkt AS MATERIALIZED (SELECT vec_id, is_daily,
       |    CAST(sum(CASE WHEN ${sqlDot("ev", "p")} >= 0
       |             THEN 1 << j ELSE 0 END) AS INTEGER) AS bk
       |  FROM v, pl GROUP BY vec_id, is_daily),
       |pv AS MATERIALIZED (SELECT vec_id, ev,
       |    sqrt(${sqlDot("ev", "ev")}) AS nrm FROM v)""".stripMargin
  }

  /** The scored-pair tail shared by the two EmbedIndex oracles: `ent`
    * must yield (vec_id, bucket, at_base, is_new). Bucket weights are
    * entry counts (cap between 2 and [[embIdxMaxBucket]] — the
    * cappedBuckets gate), a pair needs one side at base (the
    * hamming<=1 rule), one side new, distinct ids; sim is the
    * precomputed-norm unrolled dot with the zero-norm guard. */
  private def embedPairTailSql(entSql: String, sfx: String = ""): String =
    s"""ent$sfx AS MATERIALIZED ($entSql),
       |okb$sfx AS (SELECT bucket FROM ent$sfx GROUP BY bucket
       |        HAVING count(*) BETWEEN 2 AND $embIdxMaxBucket),
       |cpr$sfx AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |        FROM ent$sfx a JOIN ent$sfx b ON a.bucket = b.bucket
       |          JOIN okb$sfx o ON o.bucket = a.bucket
       |        WHERE a.vec_id < b.vec_id
       |          AND (a.at_base OR b.at_base)
       |          AND (a.is_new OR b.is_new)),
       |sc$sfx AS (SELECT p.id_a, p.id_b,
       |        CASE WHEN x.nrm = 0 OR y.nrm = 0 THEN 0.0
       |             ELSE ${sqlRound(s"(${sqlDotU("x.ev", "y.ev")}) / (x.nrm * y.nrm)", 6)}
       |        END AS sim
       |      FROM cpr$sfx p JOIN pv x ON x.vec_id = p.id_a
       |                 JOIN pv y ON y.vec_id = p.id_b)""".stripMargin

  /** All base buckets + 1-bit flips for a `bkt` subset. */
  private def embedEntriesSql(where: String, isNew: String): String =
    s"""SELECT vec_id, bk AS bucket, TRUE AS at_base, $isNew AS is_new
       |        FROM bkt WHERE $where
       |        UNION ALL
       |        SELECT vec_id, xor(bk, CAST(1 << (f.range - 1) AS INTEGER)),
       |               FALSE, $isNew
       |        FROM bkt, range(1, ${embIdxBits + 1}) f WHERE $where""".stripMargin

  /** DuckDB replay of the deterministic-IVF search (q_ann_ivf):
    * kmeansCtes trains the centroids and assigns the corpus (bf rk=1 =
    * the map-side best_centroid assignment), the probe step ranks
    * centroids per query by rounded cosine (ties to smallest cid,
    * crk <= nprobe — ivfSearch's exact window), and candidates are the
    * probed clusters' members under the rounded-cosine top-k order. */
  private def ivfAnnOracleSql: String = {
    val probeSim = sqlRound(
      s"${sqlDot("q.qvec", "c.cvec")} / (sqrt(${sqlDot("q.qvec", "q.qvec")}) * sqrt(${sqlDot("c.cvec", "c.cvec")}))", 6)
    val simExpr = sqlRound(
      s"${sqlDot("qv.ev", "nv.ev")} / (sqrt(${sqlDot("qv.ev", "qv.ev")}) * sqrt(${sqlDot("nv.ev", "nv.ev")}))", 6)
    s"""${kmeansCtes("SELECT vec_id, embedding FROM embeddings", k = annK, iters = annIvfIters)},
       |asg AS (SELECT vec_id AS neighbor_id, cid AS cluster FROM bf WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, ev AS qvec FROM v WHERE vec_id < 5),
       |ps AS (SELECT q.query_id, c.cid, $probeSim AS csim
       |       FROM q, c$annIvfIters c),
       |pp AS (SELECT query_id, cid, row_number() OVER (
       |    PARTITION BY query_id ORDER BY csim DESC, cid) AS crk FROM ps),
       |s AS (SELECT p.query_id, a.neighbor_id, $simExpr AS sim
       |      FROM pp p JOIN asg a ON a.cluster = p.cid
       |        JOIN v qv ON qv.vec_id = p.query_id
       |        JOIN v nv ON nv.vec_id = a.neighbor_id
       |      WHERE p.crk <= $annNprobe),
       |r AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM s)
       |SELECT query_id, neighbor_id, sim, rk FROM r WHERE rk <= $annTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  /** PQ hyperparameters ([[graft.ops.SimilarityOps.pqTopK]]), defined
    * once for the key and its oracle. */
  private val pqM = 4
  private val pqCands = 32

  /** DuckDB replay of [[graft.ops.SimilarityOps.pqTopK]] end-to-end:
    * one [[kmeansCtes]] instance per subspace (a nested WITH inside
    * each eN derived table — per-subspace training + encoding come
    * free as that chain's `bf`/`c_iters`), then the ADC expression
    * mirrored term-for-term in the engine's evaluation order (per-
    * subspace sqlDot sums left-associated, CASE zero-norm guard,
    * dots / (sqrt(qn²)·sqrt(rn²)), HALF_UP 6), the candidate rank
    * (ties to smallest neighbor), and the exact-cosine rerank. */
  /** Per-subspace PQ training/encoding CTEs (`e0..e{m-1}`, each a
    * nested [[kmeansCtes]] chain) plus the m-way joined `pq` code
    * table. The join chain AND the column list are generated from
    * [[pqM]] — changing the subspace count regenerates both sides, so
    * the oracle cannot silently desynchronize from the engine. */
  private def pqSubspaceCtes: String = {
    val d = annDims / pqM
    def sub(j: Int): String = {
      val a = j * d + 1; val b = (j + 1) * d
      s"""e$j AS (
         |${kmeansCtes(s"SELECT vec_id, embedding[$a:$b] AS embedding FROM embeddings",
            k = annK, iters = annIvfIters)}
         |SELECT bb.vec_id, cc.cvec AS c$j FROM bf bb
         |JOIN c$annIvfIters cc ON bb.cid = cc.cid WHERE bb.rk = 1)""".stripMargin
    }
    val pqCols = (0 until pqM).map(j => s"e$j.c$j").mkString(", ")
    val pqJoins = (1 until pqM).map(j => s"JOIN e$j USING (vec_id)")
      .mkString(" ")
    s"""${(0 until pqM).map(sub).mkString(",\n")},
       |pq AS (SELECT e0.vec_id, $pqCols
       |       FROM e0 $pqJoins)""".stripMargin
  }

  /** The ADC approximate-cosine expression over `q.qvec` / `p.c{j}`
    * (engine evaluation order: per-subspace dots summed left-
    * associated, zero-norm CASE, HALF_UP 6). */
  private def pqAdcExprSql: String = {
    val d = annDims / pqM
    val dots = (0 until pqM).map(j =>
      s"(${sqlDot(s"q.qvec[${j * d + 1}:${(j + 1) * d}]", s"p.c$j")})").mkString(" + ")
    val rn2 = (0 until pqM).map(j =>
      s"(${sqlDot(s"p.c$j", s"p.c$j")})").mkString(" + ")
    val qn2 = s"(${sqlDot("q.qvec", "q.qvec")})"
    sqlRound(
      s"CASE WHEN ($rn2) = 0 OR ($qn2) = 0 THEN 0.0 " +
        s"ELSE ($dots) / (sqrt($qn2) * sqrt($rn2)) END", 6)
  }

  /** Candidate-rank + exact-rerank + final-top-k tail shared by the two
    * PQ oracles: `adc` must yield (query_id, neighbor_id, sim), `q`
    * (query_id, qvec). */
  private def pqRerankTailSql: String = {
    val exact = sqlRound(
      s"(${sqlDotU("q.qvec", "n.embedding")}) / (sqrt(${sqlDotU("q.qvec", "q.qvec")}) * " +
        s"sqrt(${sqlDotU("n.embedding", "n.embedding")}))", 6)
    s"""cnd AS (SELECT query_id, neighbor_id, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS ark FROM adc),
       |rr AS (SELECT c.query_id, c.neighbor_id, $exact AS sim
       |       FROM cnd c JOIN q ON q.query_id = c.query_id
       |            JOIN embeddings n ON n.vec_id = c.neighbor_id
       |       WHERE c.ark <= $pqCands),
       |fr AS (SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk FROM rr)
       |SELECT query_id, neighbor_id, sim, rk FROM fr WHERE rk <= $annTopK
       |ORDER BY query_id, rk""".stripMargin
  }

  private def pqAnnOracleSql: String =
    s"""WITH
       |$pqSubspaceCtes,
       |q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
       |      WHERE vec_id < 5 AND embedding IS NOT NULL),
       |adc AS (SELECT q.query_id, p.vec_id AS neighbor_id, $pqAdcExprSql AS sim
       |        FROM q, pq p),
       |$pqRerankTailSql""".stripMargin

  /** DuckDB replay of [[graft.ops.SimilarityOps.ivfpqTopK]] (IVFADC):
    * the coarse quantizer is the q_ann_ivf chain (top-level kmeansCtes
    * → `asg` lists, rounded nprobe probe rank), the code table is the
    * q_ann_pq chain (pqSubspaceCtes — PQ on the raw vector, FAISS
    * by_residual=false, so the ADC expression is the flat one), and the
    * ADC scan joins ONLY the probed lists' members before the shared
    * rerank tail. */
  private def ivfpqAnnOracleSql: String = {
    val probeSim = sqlRound(
      s"${sqlDot("q.qvec", "c.cvec")} / (sqrt(${sqlDot("q.qvec", "q.qvec")}) * sqrt(${sqlDot("c.cvec", "c.cvec")}))", 6)
    s"""${kmeansCtes("SELECT vec_id, embedding FROM embeddings", k = annK, iters = annIvfIters)},
       |asg AS (SELECT vec_id AS neighbor_id, cid AS cluster FROM bf WHERE rk = 1),
       |q AS (SELECT vec_id AS query_id, ev AS qvec FROM v WHERE vec_id < 5),
       |ps AS (SELECT q.query_id, c.cid, $probeSim AS csim
       |       FROM q, c$annIvfIters c),
       |pp AS (SELECT query_id, cid, row_number() OVER (
       |    PARTITION BY query_id ORDER BY csim DESC, cid) AS crk FROM ps),
       |$pqSubspaceCtes,
       |adc AS (SELECT q.query_id, p.vec_id AS neighbor_id, $pqAdcExprSql AS sim
       |        FROM pp JOIN asg a ON a.cluster = pp.cid
       |          JOIN pq p ON p.vec_id = a.neighbor_id
       |          JOIN q ON q.query_id = pp.query_id
       |        WHERE pp.crk <= $annNprobe),
       |$pqRerankTailSql""".stripMargin
  }

  /** BPE merge-round count ([[graft.ops.Bpe.train]]) — well below the
    * 31-word corpus's fusion horizon at every SF, so the early-stop
    * branch can never make engine and oracle row counts diverge. */
  private val bpeMerges = 16

  /** DuckDB replay of [[graft.ops.Bpe.train]], one CTE triple per
    * round: p_i = overlapping adjacent-pair counts weighted by word
    * frequency, b_i = arg-max pair (exact integer counts, ties to the
    * lexicographically smallest pair — the engine's orderBy), w_i =
    * the merged word table. The left-to-right NON-overlapping merge is
    * replayed as a sentinel-string `replace`: symbols join on DOUBLE
    * U+001F with single sentinels at the ends, the pattern
    * `<S>l<S><S>r<S>` (S = U+001F) consumes one sentinel from each
    * side's pair, and the replacement re-emits the structure — SQL
    * `replace` scans left-to-right and continues AFTER each
    * replacement, which matches the engine's fold exactly (a merged
    * symbol can never re-match as a left element: its text is l+r with
    * r nonempty). Words containing U+001F are dropped on both sides
    * (the operator's documented charset contract). MATERIALIZED is
    * load-bearing: each w_i is referenced twice, and inlining would
    * re-derive the whole chain exponentially. */
  private def bpeRoundCtes(n: Int): String = {
    val S = "chr(31)"
    (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (SELECT syms[i] l, syms[i+1] r, sum(cnt) c
         |  FROM w${i - 1}, unnest(generate_series(1, len(syms)-1)) t(i)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r, c FROM p$i
         |  ORDER BY c DESC, l, r LIMIT 1),
         |w$i AS MATERIALIZED (SELECT w, cnt, list_filter(str_split(replace(
         |    $S || array_to_string(syms, $S||$S) || $S,
         |    $S||b.l||$S||$S||b.r||$S,
         |    $S||b.l||b.r||$S), chr(31)), x -> x <> '') syms
         |  FROM w${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
  }

  /** Shared training CTEs: word counts (the one corpus-sized step,
    * over the rows matching `trainWhere`) + character seeding + all
    * `bpeMerges` replayed rounds. */
  private def bpeBaseCtes(trainWhere: String = "text IS NOT NULL"): String =
    s"""words AS MATERIALIZED (
       |  SELECT w, count(*)::BIGINT cnt FROM (
       |    SELECT unnest(str_split(text, ' ')) w FROM documents
       |    WHERE $trainWhere)
       |  WHERE w <> '' AND NOT contains(w, chr(31)) GROUP BY w),
       |w0 AS MATERIALIZED (SELECT w, cnt,
       |  list_filter(str_split(w, ''), x -> x <> '') syms FROM words),
       |${bpeRoundCtes(bpeMerges)}""".stripMargin

  private def bpeTrainOracleSql: String =
    s"""WITH
       |${bpeBaseCtes()}
       |${(1 to bpeMerges).map(i =>
          s"SELECT CAST($i AS INT) merge_rank, l AS lft, r AS rgt, " +
            s"c::BIGINT pair_count FROM b$i").mkString("\nUNION ALL\n")}
       |ORDER BY merge_rank""".stripMargin

  /** The per-doc re-aggregation tail shared by the two encode oracles:
    * positioned words joined to a word-segmentation table `segTbl`. */
  private def bpeEncodeTailSql(segTbl: String): String =
    s"""docw AS (
       |  SELECT doc_id, i, ws[i] w FROM (
       |    SELECT doc_id, str_split(text, ' ') ws FROM documents
       |    WHERE text IS NOT NULL) d,
       |  unnest(generate_series(1, len(ws))) t(i)
       |  WHERE ws[i] <> '' AND NOT contains(ws[i], chr(31)))
       |SELECT d.doc_id,
       |  sum(len(v.syms))::BIGINT AS n_bpe_tokens,
       |  string_agg(array_to_string(v.syms, ' '), ' ' ORDER BY d.i)
       |    AS bpe_tokens
       |FROM docw d JOIN $segTbl v ON v.w = d.w
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Encode replay: documents exploded to positioned words, joined to
    * the final round's word segmentation (w$bpeMerges), re-aggregated
    * per doc with the token stream in word order. */
  private def bpeEncodeOracleSql: String =
    s"""WITH
       |${bpeBaseCtes()},
       |${bpeEncodeTailSql(s"w$bpeMerges")}""".stripMargin

  /** OOV-encode replay: the model trains on HALF the corpus (even
    * doc_ids) and encodes ALL documents. Every encode word — in-vocab
    * or OOV — replays the learned rules b1..bM with the training
    * chain's sentinel-replace (we_i); on in-vocab words that
    * reproduces the dictionary segmentation exactly (the engine's
    * fast-path/replay equivalence, pinned in BpeSpec), on OOV words
    * it IS the engine's bpe_segment path. */
  private def bpeEncodeOovOracleSql: String = {
    val S = "chr(31)"
    val replay = (1 to bpeMerges).map { i =>
      s"""we$i AS MATERIALIZED (SELECT w, list_filter(str_split(replace(
         |    $S || array_to_string(syms, $S||$S) || $S,
         |    $S||b.l||$S||$S||b.r||$S,
         |    $S||b.l||b.r||$S), chr(31)), x -> x <> '') syms
         |  FROM we${i - 1}, b$i b)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |${bpeBaseCtes("text IS NOT NULL AND doc_id % 2 = 0")},
       |we0 AS MATERIALIZED (SELECT w,
       |  list_filter(str_split(w, ''), x -> x <> '') syms
       |  FROM (SELECT DISTINCT unnest(str_split(text, ' ')) w
       |        FROM documents WHERE text IS NOT NULL)
       |  WHERE w <> '' AND NOT contains(w, chr(31))),
       |$replay,
       |${bpeEncodeTailSql(s"we$bpeMerges")}""".stripMargin
  }

  /** The novelty one-shot oracle, shared VERBATIM by `q_novelty` and
    * `q_novelty_incremental`: first-attribution per gram (min doc id)
    * over docs + their 80%-prefix mutants, then the per-doc fold — the
    * mutants (always later ids) must score ~0, and the incremental
    * path's id-monotone batch concatenation must reproduce the
    * one-shot answer exactly. */
  private lazy val noveltySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)]
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
       |        FROM documents)),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(toks) >= 3
       |       THEN list_distinct(list_transform(range(1, len(toks) - 1),
       |              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
       |       ELSE CAST([] AS VARCHAR[]) END AS s
       |  FROM base),
       |g AS (SELECT doc_id, unnest(s) AS gram FROM sh),
       |f AS (SELECT gram, min(doc_id) AS first FROM g GROUP BY 1)
       |SELECT g.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_grams,
       |  CAST(sum(CASE WHEN f.first = g.doc_id THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_novel,
       |  ${sqlRound(
      "sum(CASE WHEN f.first = g.doc_id THEN 1 ELSE 0 END) / count(*)",
      6)} AS novelty
       |FROM g JOIN f USING (gram)
       |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin

  /** The q_quality_classifier / q_pr_curve shared feature frame:
    * [[graft.ops.Classifier.textFeatures]] over the corpus with the
    * lang == 'en' target. ONE construction on purpose — its DuckDB
    * twin is [[classifierLoopCtes]]'s `feats` CTE. */
  /** The standard 3-round fit's weights, memoized per sf dir: the GD
    * trajectory is deterministic (partitioning-invariance is
    * spec-pinned), so the ~15 keys sharing the (iters = 3, lr = 0.5)
    * fit reuse ONE computation per corpus instead of each re-paying
    * the three full-corpus gradient scans in a Verify/Bench pass.
    * Values are identical by construction; the driver memory is
    * d + 1 doubles per distinct dir.
    *
    * DIR-IMMUTABILITY ASSUMPTION: the memo key is the sf-dir STRING,
    * so the corpus at that path must not change within one JVM's
    * lifetime — regenerating a fixture dir in place (or re-pointing a
    * reused path at re-scaled data) would leave ~15 scoring keys on
    * stale weights and fail the hash gate far from the cause. The
    * driver's testdata dirs are write-once and ScaleLand lands each
    * scale at its own path, so the assumption holds everywhere this
    * memo is reachable; a caller that rebuilds a dir in place must
    * restart the JVM (or clear the memo). */
  private val fitMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private def classifierWeights(s: SparkSession,
                                dir: String): Array[Double] =
    fitMemo.computeIfAbsent(dir, _ =>
      graft.ops.Classifier.fitLogistic(classifierFeats(s, dir),
        graft.ops.Classifier.textFeatureCols, "y", iters = 3, lr = 0.5))

  /** The CHAMPION (2-round) fit's weights, memoized like
    * [[classifierWeights]] — the A/B keys (`q_filter_ab`,
    * `q_ab_promote`, `q_promote_gate`) share one frozen champion per
    * corpus instead of each re-paying two gradient scans; the 2-round
    * trajectory is the 3-round chain's prefix (deterministic GD), so
    * the value is fixed by the dir exactly as the 3-round one is.
    * Same dir-immutability contract. */
  private def championWeights(s: SparkSession,
                              dir: String): Array[Double] =
    fitMemo.computeIfAbsent(dir + "|iters=2", _ =>
      graft.ops.Classifier.fitLogistic(classifierFeats(s, dir),
        graft.ops.Classifier.textFeatureCols, "y", iters = 2, lr = 0.5))

  private def classifierFeats(s: SparkSession, dir: String): DataFrame =
    graft.ops.Classifier.textFeatures(
        docs(s, dir).filter(col("text").isNotNull && col("lang").isNotNull),
        "text")
      .select(col("doc_id"), (col("lang") === "en").cast("double").as("y"),
        col("f_len"), col("f_stop"), col("f_punct"))
      .filter(col("f_stop").isNotNull && col("f_punct").isNotNull)

  /** The classifier training-loop CTE chain (feature projection +
    * three unrolled mean-gradient/update rounds), parameterized on an
    * optional L2 coefficient. With `l2 = None` the update is the
    * plain `w − lr·g`; with `Some(λ)` each non-bias weight's gradient
    * gains the re-rounded `λ·w` term BEFORE the update — exactly
    * [[graft.ops.Classifier.fitLogistic]]'s driver arithmetic
    * (`round8(g + λ·w)`, bias exempt), so both engines walk the
    * identical regularized trajectory. */
  private def classifierLoopCtesWith(l2: Option[String]): String = {
    def grad(i: Int) =
      s"""g$i AS (SELECT ${sqlRound("avg(e)", 8)} AS g0,
         |  ${sqlRound("avg(e * f_len)", 8)} AS ga,
         |  ${sqlRound("avg(e * f_stop)", 8)} AS gb,
         |  ${sqlRound("avg(e * f_punct)", 8)} AS gc
         |  FROM (SELECT f_len, f_stop, f_punct,
         |    1.0/(1.0 + exp(-(((b + wa*f_len) + wb*f_stop)
         |      + wc*f_punct))) - y AS e
         |    FROM feats, w${i - 1}))""".stripMargin
    def gterm(g: String, w: String) = l2 match {
      case None      => g
      case Some(lam) => sqlRound(s"$g + $lam*$w", 8)
    }
    def upd(i: Int) =
      s"""w$i AS (SELECT ${sqlRound("b - 0.5*g0", 8)} AS b,
         |  ${sqlRound(s"wa - 0.5*${gterm("ga", "wa")}", 8)} AS wa,
         |  ${sqlRound(s"wb - 0.5*${gterm("gb", "wb")}", 8)} AS wb,
         |  ${sqlRound(s"wc - 0.5*${gterm("gc", "wc")}", 8)} AS wc
         |  FROM w${i - 1}, g$i)""".stripMargin
    s"""t AS (SELECT doc_id, lang, text,
       |    string_split(text, ' ') AS toks
       |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
       |f0 AS (SELECT doc_id,
       |  CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE)
       |    AS y,
       |  least(1.0, len(toks)/100.0) AS f_len,
       |  len(list_filter(toks, x -> list_contains($stopList, x)))
       |    / CAST(nullif(len(toks), 0) AS DOUBLE) AS f_stop,
       |  (length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')))
       |    / CAST(nullif(length(text), 0) AS DOUBLE) AS f_punct
       |  FROM t),
       |feats AS MATERIALIZED (SELECT * FROM f0
       |  WHERE f_stop IS NOT NULL AND f_punct IS NOT NULL),
       |w0 AS (SELECT CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS wa,
       |       CAST(0.0 AS DOUBLE) AS wb, CAST(0.0 AS DOUBLE) AS wc),
       |${grad(1)},
       |${upd(1)},
       |${grad(2)},
       |${upd(2)},
       |${grad(3)},
       |${upd(3)}""".stripMargin
  }

  /** The unregularized loop, shared VERBATIM by every classifier-
    * family oracle (the identical rounded weight trajectory). */
  private lazy val classifierLoopCtes: String =
    classifierLoopCtesWith(None)

  /** The rounded sigmoid scoring expression over `feats, w3` — the
    * [[classifierLoopCtes]] tail both classifier oracles share. */
  private lazy val classifierScoreSql: String = sqlRound(
    "1.0/(1.0 + exp(-(((b + wa*f_len) + wb*f_stop) + wc*f_punct)))", 6)

  /** The q_token_budget_waterfill global token target — ONE definition
    * shared by the Spark key's `selectToBudgetWaterFill` call, the
    * oracle's unrolled cap passes ([[waterfillPassSql]]) and its final
    * distribution CTE, so engine/oracle parity cannot silently drift
    * from editing one site. */
  private val waterfillTotal = 18000L

  /** One unrolled [[graft.ops.Mixing.waterFill]] cap pass for the
    * q_token_budget_waterfill oracle: fix every still-unfixed group
    * whose supply is at or under the current even share. A pass that
    * caps nothing leaves the state unchanged, so extra passes are
    * no-ops — running a fixed unroll then one final distribution is
    * exactly the driver loop. */
  private def waterfillPassSql(total: Long)(i: Int): String =
    s"""wf$i AS (SELECT lang, sup,
       |  CASE WHEN fixed IS NOT NULL THEN fixed
       |       WHEN cnt > 0 AND sup <= lft // cnt THEN sup END AS fixed
       |  FROM (SELECT lang, sup, fixed,
       |      least($total, sum(sup) OVER ()) -
       |        sum(coalesce(fixed, 0)) OVER () AS lft,
       |      sum(CASE WHEN fixed IS NULL THEN 1 ELSE 0 END) OVER ()
       |        AS cnt
       |    FROM wf${i - 1}))""".stripMargin

  /** The PR-curve oracle, shared VERBATIM by `q_pr_curve` and
    * `q_pr_curve_incremental` (the accreted store's additive-monoid
    * fold must reproduce the one-shot curve exactly): the training-
    * loop CTEs, the 6dp per-score aggregate, cumulative confusion
    * counts over the score-DESC window. */
  private lazy val prCurveOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT y, $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n, sum(y) AS pos
       |      FROM scored GROUP BY 1),
       |c AS (SELECT thr,
       |    sum(pos) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS tp,
       |    sum(n) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS nge,
       |    sum(pos) OVER () AS p_all
       |  FROM g)
       |SELECT thr, CAST(tp AS BIGINT) AS tp,
       |  CAST(nge - tp AS BIGINT) AS fp,
       |  CAST(p_all - tp AS BIGINT) AS fn,
       |  ${sqlRound("tp / CAST(nge AS DOUBLE)", 6)} AS "precision",
       |  ${sqlRound("tp / CAST(nullif(p_all, 0) AS DOUBLE)", 6)}
       |    AS recall
       |FROM c ORDER BY thr""".stripMargin

  /** The ROC-AUC oracle, shared VERBATIM by `q_roc_auc` and
    * `q_roc_auc_incremental`: same training-loop CTEs, Mann-Whitney
    * fold over the per-score aggregate. */
  private lazy val rocAucOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT y, $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n, sum(y) AS pos
       |      FROM scored GROUP BY 1),
       |c AS (SELECT thr, n, pos,
       |    sum(n) OVER (ORDER BY thr ASC ROWS UNBOUNDED PRECEDING) - n
       |      AS bef
       |  FROM g),
       |a AS (SELECT sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |       sum(pos) AS p_all, sum(n) AS nn FROM c)
       |SELECT CAST(p_all AS BIGINT) AS pos,
       |  CAST(nn - p_all AS BIGINT) AS neg,
       |  ${sqlRound("(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)", 6)}
       |    AS auc
       |FROM a""".stripMargin

  /** The per-shard scored/aggregated CTE pair shared by the three
    * grouped-calibration oracles (doc_id % 4 shards, integer pos). */
  private lazy val groupedScoredCtes: String =
    s"""scored AS (SELECT doc_id % 4 AS shard, y,
       |    $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT shard, p AS thr, count(*) AS n,
       |      CAST(sum(y) AS BIGINT) AS pos FROM scored GROUP BY 1, 2)""".stripMargin

  /** The grouped PR-curve oracle, shared by `q_pr_curve_grouped` and
    * its grouped-store read: every window partitioned on the shard. */
  private lazy val prCurveGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |$groupedScoredCtes,
       |c AS (SELECT shard, thr,
       |    sum(pos) OVER (PARTITION BY shard ORDER BY thr DESC
       |      ROWS UNBOUNDED PRECEDING) AS tp,
       |    sum(n) OVER (PARTITION BY shard ORDER BY thr DESC
       |      ROWS UNBOUNDED PRECEDING) AS nge,
       |    sum(pos) OVER (PARTITION BY shard) AS p_all
       |  FROM g)
       |SELECT shard, thr, CAST(tp AS BIGINT) AS tp,
       |  CAST(nge - tp AS BIGINT) AS fp,
       |  CAST(p_all - tp AS BIGINT) AS fn,
       |  ${sqlRound("tp / CAST(nge AS DOUBLE)", 6)} AS "precision",
       |  ${sqlRound("tp / CAST(nullif(p_all, 0) AS DOUBLE)", 6)}
       |    AS recall
       |FROM c ORDER BY shard, thr""".stripMargin

  /** The grouped AUC oracle, shared by `q_roc_auc_grouped` and its
    * grouped-store read. */
  private lazy val rocAucGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |$groupedScoredCtes,
       |c AS (SELECT shard, thr, n, pos,
       |    sum(n) OVER (PARTITION BY shard ORDER BY thr ASC
       |      ROWS UNBOUNDED PRECEDING) - n AS bef
       |  FROM g),
       |a AS (SELECT shard, sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |       sum(pos) AS p_all, sum(n) AS nn FROM c GROUP BY shard)
       |SELECT shard, CAST(p_all AS BIGINT) AS pos,
       |  CAST(nn - p_all AS BIGINT) AS neg,
       |  ${sqlRound("(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)", 6)}
       |    AS auc
       |FROM a ORDER BY shard""".stripMargin

  /** The grouped ECE oracle, shared by `q_ece_grouped` and its
    * grouped-store read. */
  private lazy val eceGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |$groupedScoredCtes,
       |gk AS (SELECT shard, CAST(${sqlRound("thr * 1000000.0", 0)}
       |    AS BIGINT) AS k, n, pos FROM g),
       |b AS (SELECT shard, least((k * 10) // 1000000, 9) AS bin,
       |    sum(n) AS nb, sum(pos) AS pb, sum(n * k) AS sk
       |  FROM gk GROUP BY 1, 2)
       |SELECT shard, CAST(sum(nb) AS BIGINT) AS n,
       |  ${sqlRound(
      "sum(abs(pb * 1000000 - sk)) / (1000000.0 * nullif(sum(nb), 0))",
      6)} AS ece
       |FROM b GROUP BY shard ORDER BY shard""".stripMargin

  /** The ECE oracle, shared by `q_ece` and `q_ece_incremental`:
    * training-loop CTEs, the integer-exact per-score aggregate, the
    * 10-bin equal-width fold with all-integer numerators. */
  private lazy val eceOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT y, $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n,
       |      CAST(sum(y) AS BIGINT) AS pos FROM scored GROUP BY 1),
       |gk AS (SELECT CAST(${sqlRound("thr * 1000000.0", 0)} AS BIGINT)
       |    AS k, n, pos FROM g),
       |b AS (SELECT least((k * 10) // 1000000, 9) AS bin,
       |    sum(n) AS nb, sum(pos) AS pb, sum(n * k) AS sk
       |  FROM gk GROUP BY 1)
       |SELECT CAST(sum(nb) AS BIGINT) AS n,
       |  ${sqlRound(
      "sum(abs(pb * 1000000 - sk)) / (1000000.0 * nullif(sum(nb), 0))",
      6)} AS ece
       |FROM b""".stripMargin

  /** The Brier oracle, shared by `q_brier` and `q_brier_incremental`:
    * exact integer expansion of Σ(p−y)² on the score lattice. */
  private lazy val brierOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT y, $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n,
       |      CAST(sum(y) AS BIGINT) AS pos FROM scored GROUP BY 1),
       |gk AS (SELECT CAST(${sqlRound("thr * 1000000.0", 0)} AS BIGINT)
       |    AS k, n, pos FROM g),
       |a AS (SELECT sum(n) AS nn,
       |    sum(CAST(n AS HUGEINT) * k * k) AS skk,
       |    sum(CAST(pos AS HUGEINT) * k) AS skp,
       |    sum(pos) AS p_all FROM gk)
       |SELECT CAST(nn AS BIGINT) AS n,
       |  ${sqlRound(
      "CAST(skk - 2000000 * skp + 1000000000000 * CAST(p_all AS HUGEINT)" +
        " AS DOUBLE) / (1000000000000.0 * nullif(nn, 0))",
      6)} AS brier
       |FROM a""".stripMargin

  /** The reliability-diagram oracle, shared by `q_reliability` and
    * `q_reliability_incremental`: the ECE bin fold kept per-bin, with
    * the signed gap's exact integer numerator. */
  private lazy val reliabilityOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT y, $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n,
       |      CAST(sum(y) AS BIGINT) AS pos FROM scored GROUP BY 1),
       |gk AS (SELECT CAST(${sqlRound("thr * 1000000.0", 0)} AS BIGINT)
       |    AS k, n, pos FROM g),
       |b AS (SELECT least((k * 100) // 1000000, 99) AS bin,
       |    sum(n) AS nb, sum(pos) AS pb, sum(n * k) AS sk
       |  FROM gk GROUP BY 1)
       |SELECT bin, CAST(nb AS BIGINT) AS n,
       |  ${sqlRound("sk / (1000000.0 * nb)", 6)} AS confidence,
       |  ${sqlRound("pb / CAST(nb AS DOUBLE)", 6)} AS accuracy,
       |  ${sqlRound("(pb * 1000000 - sk) / (1000000.0 * nb)", 6)}
       |    AS gap
       |FROM b ORDER BY bin""".stripMargin

  /** The F1 operating-point oracle, shared by `q_threshold_f1` and
    * `q_threshold_f1_incremental`: the PR confusion counts, rounded
    * F1 over exact integers, the larger-thr tie rule as ORDER BY. */
  private lazy val thresholdOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT y, $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n, sum(y) AS pos
       |      FROM scored GROUP BY 1),
       |c AS (SELECT thr,
       |    sum(pos) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS tp,
       |    sum(n) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS nge,
       |    sum(pos) OVER () AS p_all
       |  FROM g),
       |f AS (SELECT thr, CAST(tp AS BIGINT) AS tp,
       |    CAST(nge - tp AS BIGINT) AS fp,
       |    CAST(p_all - tp AS BIGINT) AS fn FROM c),
       |s AS (SELECT thr, tp, fp, fn,
       |    ${sqlRound("(2.0 * tp) / (2.0 * tp + 1.0 * fn + fp)", 6)}
       |      AS fbeta FROM f)
       |SELECT thr, tp, fp, fn, fbeta FROM s
       |ORDER BY fbeta DESC, thr DESC LIMIT 1""".stripMargin

  /** The PSI drift oracle, shared by `q_drift_psi` and
    * `q_drift_psi_incremental` (the store's two tag windows ARE the
    * doc-parity halves): per-side bounded histograms, the full
    * 10-bin spine, Laplace-smoothed shares, per-bin terms quantized
    * to 1e-9 longs and summed exactly. */
  private lazy val driftOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, $classifierScoreSql AS p
       |           FROM feats, w3),
       |hr AS (SELECT p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 2 = 0 GROUP BY 1),
       |hc AS (SELECT p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 2 <> 0 GROUP BY 1),
       |br AS (SELECT least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM hr GROUP BY 1),
       |bc AS (SELECT least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM hc GROUP BY 1),
       |sp AS (SELECT range AS bin FROM range(10)),
       |j AS (SELECT sp.bin AS bin, coalesce(br.nb, 0) AS nr,
       |      coalesce(bc.nb, 0) AS nc
       |  FROM sp LEFT JOIN br ON br.bin = sp.bin
       |          LEFT JOIN bc ON bc.bin = sp.bin),
       |tt AS (SELECT nr, nc, sum(nr) OVER () AS tr,
       |       sum(nc) OVER () AS tc FROM j),
       |tm AS (SELECT nr, nc, CAST(${sqlRound(
      "((nc + 1) / CAST(tc + 10 AS DOUBLE) - " +
        "(nr + 1) / CAST(tr + 10 AS DOUBLE)) * " +
        "ln(((nc + 1) / CAST(tc + 10 AS DOUBLE)) / " +
        "((nr + 1) / CAST(tr + 10 AS DOUBLE))) * 1000000000.0", 0)}
       |    AS BIGINT) AS tq FROM tt)
       |SELECT CAST(sum(nr) AS BIGINT) AS n_ref,
       |  CAST(sum(nc) AS BIGINT) AS n_cur,
       |  ${sqlRound("CAST(sum(tq) AS DOUBLE) / 1000000000.0", 6)}
       |    AS psi
       |FROM tm""".stripMargin

  /** The KS-drift oracle, shared by `q_drift_ks` and
    * `q_drift_ks_incremental`: per-side bounded histograms, the
    * merged full-outer threshold spine, exact cross-multiplied
    * integer numerators over HUGEINT, one division + 6dp rounding. */
  private lazy val driftKsOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, $classifierScoreSql AS p
       |           FROM feats, w3),
       |hr AS (SELECT p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 2 = 0 GROUP BY 1),
       |hc AS (SELECT p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 2 <> 0 GROUP BY 1),
       |u AS (SELECT coalesce(hr.thr, hc.thr) AS thr,
       |      coalesce(hr.n, 0) AS nr, coalesce(hc.n, 0) AS nc
       |  FROM hr FULL OUTER JOIN hc ON hr.thr = hc.thr),
       |c AS (SELECT
       |    sum(nr) OVER (ORDER BY thr ROWS UNBOUNDED PRECEDING) AS ca,
       |    sum(nc) OVER (ORDER BY thr ROWS UNBOUNDED PRECEDING) AS cb,
       |    sum(nr) OVER () AS ta, sum(nc) OVER () AS tb FROM u)
       |SELECT CAST(max(ta) AS BIGINT) AS n_ref,
       |  CAST(max(tb) AS BIGINT) AS n_cur,
       |  ${sqlRound(
      "CAST(max(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))" +
        " AS DOUBLE) / (CAST(nullif(max(ta), 0) AS DOUBLE) *" +
        " CAST(nullif(max(tb), 0) AS DOUBLE))", 6)} AS ks
       |FROM c""".stripMargin

  /** The monitoring-report oracle for `q_monitor_report`: every
    * metric's established fold replayed over the two window
    * aggregates (ref = even doc_ids = the store's "hist" window,
    * cur = odd = "daily"), emitted long-format via UNION ALL —
    * mirroring the engine's join-free union of one-row reads. */
  private lazy val monitorReportOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, y, $classifierScoreSql AS p
       |           FROM feats, w3),
       |gr AS (SELECT p AS thr, count(*) AS n,
       |       CAST(sum(y) AS BIGINT) AS pos FROM scored
       |       WHERE doc_id % 2 = 0 GROUP BY 1),
       |gc AS (SELECT p AS thr, count(*) AS n,
       |       CAST(sum(y) AS BIGINT) AS pos FROM scored
       |       WHERE doc_id % 2 <> 0 GROUP BY 1),
       |awr AS (SELECT thr, n, pos,
       |    sum(n) OVER (ORDER BY thr ASC ROWS UNBOUNDED PRECEDING) - n
       |      AS bef FROM gr),
       |aar AS (SELECT sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |        sum(pos) AS p_all, sum(n) AS nn FROM awr),
       |awc AS (SELECT thr, n, pos,
       |    sum(n) OVER (ORDER BY thr ASC ROWS UNBOUNDED PRECEDING) - n
       |      AS bef FROM gc),
       |aac AS (SELECT sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |        sum(pos) AS p_all, sum(n) AS nn FROM awc),
       |egk AS (SELECT CAST(${sqlRound("thr * 1000000.0", 0)} AS BIGINT)
       |    AS k, n, pos FROM gc),
       |eb AS (SELECT least((k * 10) // 1000000, 9) AS bin,
       |    sum(n) AS nb, sum(pos) AS pb, sum(n * k) AS sk
       |  FROM egk GROUP BY 1),
       |bag AS (SELECT sum(n) AS nn,
       |    sum(CAST(n AS HUGEINT) * k * k) AS skk,
       |    sum(CAST(pos AS HUGEINT) * k) AS skp,
       |    sum(pos) AS p_all FROM egk),
       |pbr AS (SELECT least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM gr GROUP BY 1),
       |pbc AS (SELECT least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM gc GROUP BY 1),
       |psp AS (SELECT range AS bin FROM range(10)),
       |pj AS (SELECT psp.bin AS bin, coalesce(pbr.nb, 0) AS nr,
       |      coalesce(pbc.nb, 0) AS nc
       |  FROM psp LEFT JOIN pbr ON pbr.bin = psp.bin
       |           LEFT JOIN pbc ON pbc.bin = psp.bin),
       |ptt AS (SELECT nr, nc, sum(nr) OVER () AS tr,
       |        sum(nc) OVER () AS tc FROM pj),
       |ptm AS (SELECT CAST(${sqlRound(
      "((nc + 1) / CAST(tc + 10 AS DOUBLE) - " +
        "(nr + 1) / CAST(tr + 10 AS DOUBLE)) * " +
        "ln(((nc + 1) / CAST(tc + 10 AS DOUBLE)) / " +
        "((nr + 1) / CAST(tr + 10 AS DOUBLE))) * 1000000000.0", 0)}
       |    AS BIGINT) AS tq FROM ptt),
       |ku AS (SELECT coalesce(gr.thr, gc.thr) AS thr,
       |      coalesce(gr.n, 0) AS nr, coalesce(gc.n, 0) AS nc
       |  FROM gr FULL OUTER JOIN gc ON gr.thr = gc.thr),
       |kc AS (SELECT
       |    sum(nr) OVER (ORDER BY thr ROWS UNBOUNDED PRECEDING) AS ca,
       |    sum(nc) OVER (ORDER BY thr ROWS UNBOUNDED PRECEDING) AS cb,
       |    sum(nr) OVER () AS ta, sum(nc) OVER () AS tb FROM ku)
       |SELECT metric, value FROM (
       |  SELECT 'auc_ref' AS metric, ${sqlRound(
      "(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)",
      6)} AS value FROM aar
       |  UNION ALL
       |  SELECT 'auc_cur' AS metric, ${sqlRound(
      "(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)",
      6)} AS value FROM aac
       |  UNION ALL
       |  SELECT 'ece_cur' AS metric, ${sqlRound(
      "sum(abs(pb * 1000000 - sk)) / (1000000.0 * nullif(sum(nb), 0))",
      6)} AS value FROM eb
       |  UNION ALL
       |  SELECT 'brier_cur' AS metric, ${sqlRound(
      "CAST(skk - 2000000 * skp + 1000000000000 * CAST(p_all AS HUGEINT)" +
        " AS DOUBLE) / (1000000000000.0 * nullif(nn, 0))",
      6)} AS value FROM bag
       |  UNION ALL
       |  SELECT 'psi' AS metric, ${sqlRound(
      "CAST(sum(tq) AS DOUBLE) / 1000000000.0", 6)} AS value FROM ptm
       |  UNION ALL
       |  SELECT 'ks' AS metric, ${sqlRound(
      "CAST(max(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))" +
        " AS DOUBLE) / (CAST(nullif(max(ta), 0) AS DOUBLE) *" +
        " CAST(nullif(max(tb), 0) AS DOUBLE))", 6)} AS value FROM kc
       |) ORDER BY metric""".stripMargin

  /** The grouped operating-point oracle for `q_threshold_f1_grouped`:
    * the grouped PR fold + per-shard F1 argmax with the larger-thr
    * tie rule (arg_max over the (fbeta, thr) pair). */
  private lazy val thresholdGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |$groupedScoredCtes,
       |c AS (SELECT shard, thr,
       |    sum(pos) OVER (PARTITION BY shard ORDER BY thr DESC
       |      ROWS UNBOUNDED PRECEDING) AS tp,
       |    sum(n) OVER (PARTITION BY shard ORDER BY thr DESC
       |      ROWS UNBOUNDED PRECEDING) AS nge,
       |    sum(pos) OVER (PARTITION BY shard) AS p_all
       |  FROM g),
       |f AS (SELECT shard, thr, CAST(tp AS BIGINT) AS tp,
       |    CAST(nge - tp AS BIGINT) AS fp,
       |    CAST(p_all - tp AS BIGINT) AS fn FROM c),
       |s AS (SELECT shard, thr, tp, fp, fn,
       |    ${sqlRound("(2.0 * tp) / (2.0 * tp + 1.0 * fn + fp)", 6)}
       |      AS fbeta FROM f),
       |r AS (SELECT shard, thr, tp, fp, fn, fbeta,
       |    row_number() OVER (PARTITION BY shard
       |      ORDER BY fbeta DESC, thr DESC) AS rk FROM s)
       |SELECT shard, thr, tp, fp, fn, fbeta FROM r WHERE rk = 1
       |ORDER BY shard""".stripMargin

  /** The grouped-KS oracle for `q_drift_ks_grouped`: the merged
    * per-shard threshold spine, exact cross-multiplied numerators,
    * every window partitioned on the shard. */
  private lazy val driftKsGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, doc_id % 4 AS shard,
       |    $classifierScoreSql AS p FROM feats, w3),
       |hr AS (SELECT shard, p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 8 < 4 GROUP BY 1, 2),
       |hc AS (SELECT shard, p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 8 >= 4 GROUP BY 1, 2),
       |u AS (SELECT coalesce(hr.shard, hc.shard) AS shard,
       |      coalesce(hr.thr, hc.thr) AS thr,
       |      coalesce(hr.n, 0) AS nr, coalesce(hc.n, 0) AS nc
       |  FROM hr FULL OUTER JOIN hc
       |    ON hr.shard = hc.shard AND hr.thr = hc.thr),
       |c AS (SELECT shard,
       |    sum(nr) OVER (PARTITION BY shard ORDER BY thr
       |      ROWS UNBOUNDED PRECEDING) AS ca,
       |    sum(nc) OVER (PARTITION BY shard ORDER BY thr
       |      ROWS UNBOUNDED PRECEDING) AS cb,
       |    sum(nr) OVER (PARTITION BY shard) AS ta,
       |    sum(nc) OVER (PARTITION BY shard) AS tb FROM u)
       |SELECT shard, CAST(max(ta) AS BIGINT) AS n_ref,
       |  CAST(max(tb) AS BIGINT) AS n_cur,
       |  ${sqlRound(
      "CAST(max(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))" +
        " AS DOUBLE) / (CAST(nullif(max(ta), 0) AS DOUBLE) *" +
        " CAST(nullif(max(tb), 0) AS DOUBLE))", 6)} AS ks
       |FROM c GROUP BY shard ORDER BY shard""".stripMargin

  /** The grouped-PSI oracle for `q_drift_psi_grouped`: the drift
    * replay run per shard, with the spine covering every shard seen
    * in either window and every fold partitioned on the shard. */
  private lazy val driftGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, doc_id % 4 AS shard,
       |    $classifierScoreSql AS p FROM feats, w3),
       |hr AS (SELECT shard, p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 8 < 4 GROUP BY 1, 2),
       |hc AS (SELECT shard, p AS thr, count(*) AS n FROM scored
       |       WHERE doc_id % 8 >= 4 GROUP BY 1, 2),
       |br AS (SELECT shard, least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM hr GROUP BY 1, 2),
       |bc AS (SELECT shard, least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM hc GROUP BY 1, 2),
       |gs AS (SELECT shard FROM hr UNION SELECT shard FROM hc),
       |sp AS (SELECT gs.shard AS shard, r.range AS bin
       |       FROM gs, range(10) r),
       |j AS (SELECT sp.shard AS shard, sp.bin AS bin,
       |      coalesce(br.nb, 0) AS nr, coalesce(bc.nb, 0) AS nc
       |  FROM sp LEFT JOIN br ON br.shard = sp.shard AND br.bin = sp.bin
       |          LEFT JOIN bc ON bc.shard = sp.shard AND bc.bin = sp.bin),
       |tt AS (SELECT shard, nr, nc,
       |       sum(nr) OVER (PARTITION BY shard) AS tr,
       |       sum(nc) OVER (PARTITION BY shard) AS tc FROM j),
       |tm AS (SELECT shard, nr, nc, CAST(${sqlRound(
      "((nc + 1) / CAST(tc + 10 AS DOUBLE) - " +
        "(nr + 1) / CAST(tr + 10 AS DOUBLE)) * " +
        "ln(((nc + 1) / CAST(tc + 10 AS DOUBLE)) / " +
        "((nr + 1) / CAST(tr + 10 AS DOUBLE))) * 1000000000.0", 0)}
       |    AS BIGINT) AS tq FROM tt)
       |SELECT shard, CAST(sum(nr) AS BIGINT) AS n_ref,
       |  CAST(sum(nc) AS BIGINT) AS n_cur,
       |  ${sqlRound("CAST(sum(tq) AS DOUBLE) / 1000000000.0", 6)}
       |    AS psi
       |FROM tm GROUP BY shard ORDER BY shard""".stripMargin

  /** The champion/challenger CTE chain shared VERBATIM by
    * `q_filter_ab` and `q_ab_promote`: both weight rows from the SAME
    * training chain (w2 is w3's prefix), per-model Mann–Whitney folds
    * partitioned on the model tag, ending at the per-model AUC rows
    * `r`. */
  private lazy val filterAbCtes: String =
    s"""$classifierLoopCtes,
       |u AS (
       |  SELECT doc_id, 'champion_2r' AS model, y,
       |    $classifierScoreSql AS p FROM feats, w2
       |  UNION ALL
       |  SELECT doc_id, 'challenger_3r' AS model, y,
       |    $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT model, p AS thr, count(*) AS n, sum(y) AS pos
       |      FROM u GROUP BY 1, 2),
       |c AS (SELECT model, thr, n, pos,
       |    sum(n) OVER (PARTITION BY model ORDER BY thr ASC
       |      ROWS UNBOUNDED PRECEDING) - n AS bef
       |  FROM g),
       |a AS (SELECT model, sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |       sum(pos) AS p_all, sum(n) AS nn FROM c GROUP BY model),
       |r AS (SELECT model, CAST(p_all AS BIGINT) AS pos,
       |  CAST(nn - p_all AS BIGINT) AS neg,
       |  ${sqlRound("(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)", 6)}
       |    AS auc
       |  FROM a)""".stripMargin

  private lazy val filterAbOracle: String =
    s"""WITH $filterAbCtes
       |SELECT model, pos, neg, auc FROM r ORDER BY model""".stripMargin

  /** The promotion-rule oracle for `q_ab_promote`: the same AUC rows,
    * one winner — argmax AUC, ties toward the lexicographically first
    * model name (the replayable total order). */
  private lazy val abPromoteOracle: String =
    s"""WITH $filterAbCtes,
       |rk AS (SELECT model, pos, neg, auc, row_number()
       |    OVER (ORDER BY auc DESC NULLS LAST, model) AS rn FROM r)
       |SELECT model, pos, neg, auc FROM rk WHERE rn = 1""".stripMargin

  /** The promotion-actuated oracle for `q_promote_gate`: the winner
    * derives IN SQL from the shared AB chain (argmax AUC, the
    * q_ab_promote total order), then the winner's own F1-argmax
    * threshold gates the winner's scored rows. */
  private lazy val promoteGateOracle: String =
    s"""WITH $filterAbCtes,
       |rk AS (SELECT model, row_number()
       |    OVER (ORDER BY auc DESC NULLS LAST, model) AS rn FROM r),
       |win AS (SELECT model FROM rk WHERE rn = 1),
       |ws AS (SELECT u.doc_id, u.model, u.y, u.p
       |       FROM u JOIN win USING (model)),
       |wg AS (SELECT p AS thr, count(*) AS n, sum(y) AS pos
       |       FROM ws GROUP BY 1),
       |wc AS (SELECT thr,
       |    sum(pos) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS tp,
       |    sum(n) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS nge,
       |    sum(pos) OVER () AS p_all
       |  FROM wg),
       |wf AS (SELECT thr, CAST(tp AS BIGINT) AS tp,
       |    CAST(nge - tp AS BIGINT) AS fp,
       |    CAST(p_all - tp AS BIGINT) AS fn FROM wc),
       |wsx AS (SELECT thr,
       |    ${sqlRound("(2.0 * tp) / (2.0 * tp + 1.0 * fn + fp)", 6)}
       |      AS fbeta FROM wf),
       |pick AS (SELECT thr FROM wsx
       |         ORDER BY fbeta DESC, thr DESC LIMIT 1)
       |SELECT ws.doc_id, ws.model, ws.y, ws.p FROM ws, pick
       |WHERE ws.p >= pick.thr ORDER BY doc_id""".stripMargin

  /** The actuation oracle for `q_recalibrate_gate`: the F1-argmax CTE
    * (the `q_threshold_f1` fold over the WHOLE scored corpus — which
    * is exactly what the accreted store's hist+daily windows sum to)
    * feeding the gate predicate `p >= thr`. */
  private lazy val recalibrateGateOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, y, $classifierScoreSql AS p
       |           FROM feats, w3),
       |g AS (SELECT p AS thr, count(*) AS n, sum(y) AS pos
       |      FROM scored GROUP BY 1),
       |c AS (SELECT thr,
       |    sum(pos) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS tp,
       |    sum(n) OVER (ORDER BY thr DESC ROWS UNBOUNDED PRECEDING)
       |      AS nge,
       |    sum(pos) OVER () AS p_all
       |  FROM g),
       |f AS (SELECT thr, CAST(tp AS BIGINT) AS tp,
       |    CAST(nge - tp AS BIGINT) AS fp,
       |    CAST(p_all - tp AS BIGINT) AS fn FROM c),
       |s AS (SELECT thr, tp, fp, fn,
       |    ${sqlRound("(2.0 * tp) / (2.0 * tp + 1.0 * fn + fp)", 6)}
       |      AS fbeta FROM f),
       |pick AS (SELECT thr FROM s
       |         ORDER BY fbeta DESC, thr DESC LIMIT 1)
       |SELECT doc_id, y, p FROM scored, pick
       |WHERE p >= pick.thr ORDER BY doc_id""".stripMargin

  /** The grouped actuation oracle for `q_recalibrate_gate_grouped`:
    * the per-shard F1-argmax (the `q_threshold_f1_grouped` fold over
    * the whole scored corpus — exactly what the grouped store's
    * hist+daily windows sum to) joined back as each shard's gate. */
  private lazy val recalibrateGateGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, doc_id % 4 AS shard, y,
       |    $classifierScoreSql AS p FROM feats, w3),
       |g AS (SELECT shard, p AS thr, count(*) AS n,
       |      CAST(sum(y) AS BIGINT) AS pos FROM scored GROUP BY 1, 2),
       |c AS (SELECT shard, thr,
       |    sum(pos) OVER (PARTITION BY shard ORDER BY thr DESC
       |      ROWS UNBOUNDED PRECEDING) AS tp,
       |    sum(n) OVER (PARTITION BY shard ORDER BY thr DESC
       |      ROWS UNBOUNDED PRECEDING) AS nge,
       |    sum(pos) OVER (PARTITION BY shard) AS p_all
       |  FROM g),
       |f AS (SELECT shard, thr, CAST(tp AS BIGINT) AS tp,
       |    CAST(nge - tp AS BIGINT) AS fp,
       |    CAST(p_all - tp AS BIGINT) AS fn FROM c),
       |s AS (SELECT shard, thr,
       |    ${sqlRound("(2.0 * tp) / (2.0 * tp + 1.0 * fn + fp)", 6)}
       |      AS fbeta FROM f),
       |r AS (SELECT shard, thr, row_number() OVER (PARTITION BY shard
       |      ORDER BY fbeta DESC, thr DESC) AS rk FROM s),
       |pick AS (SELECT shard, thr FROM r WHERE rk = 1)
       |SELECT scored.doc_id, scored.shard, scored.y, scored.p
       |FROM scored JOIN pick USING (shard)
       |WHERE scored.p >= pick.thr ORDER BY doc_id""".stripMargin

  /** The grouped Brier oracle, shared by `q_brier_grouped` and its
    * grouped-store read: the exact integer expansion per shard. */
  private lazy val brierGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |$groupedScoredCtes,
       |gk AS (SELECT shard, CAST(${sqlRound("thr * 1000000.0", 0)}
       |    AS BIGINT) AS k, n, pos FROM g),
       |a AS (SELECT shard, sum(n) AS nn,
       |    sum(CAST(n AS HUGEINT) * k * k) AS skk,
       |    sum(CAST(pos AS HUGEINT) * k) AS skp,
       |    sum(pos) AS p_all FROM gk GROUP BY shard)
       |SELECT shard, CAST(nn AS BIGINT) AS n,
       |  ${sqlRound(
      "CAST(skk - 2000000 * skp + 1000000000000 * CAST(p_all AS HUGEINT)" +
        " AS DOUBLE) / (1000000000000.0 * nullif(nn, 0))",
      6)} AS brier
       |FROM a ORDER BY shard""".stripMargin

  /** The grouped reliability oracle (100 bins), shared by
    * `q_reliability_grouped` and its grouped-store read. */
  private lazy val reliabilityGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |$groupedScoredCtes,
       |gk AS (SELECT shard, CAST(${sqlRound("thr * 1000000.0", 0)}
       |    AS BIGINT) AS k, n, pos FROM g),
       |b AS (SELECT shard, least((k * 100) // 1000000, 99) AS bin,
       |    sum(n) AS nb, sum(pos) AS pb, sum(n * k) AS sk
       |  FROM gk GROUP BY 1, 2)
       |SELECT shard, bin, CAST(nb AS BIGINT) AS n,
       |  ${sqlRound("sk / (1000000.0 * nb)", 6)} AS confidence,
       |  ${sqlRound("pb / CAST(nb AS DOUBLE)", 6)} AS accuracy,
       |  ${sqlRound("(pb * 1000000 - sk) / (1000000.0 * nb)", 6)}
       |    AS gap
       |FROM b ORDER BY shard, bin""".stripMargin

  /** The grouped monitoring-report oracle for
    * `q_monitor_report_grouped`: every per-source metric's
    * established fold replayed over the two PER-SHARD window
    * aggregates (ref = doc_id % 8 < 4 = the grouped store's "hist"
    * window, cur = the rest = "daily"), emitted long-format via
    * UNION ALL with the shard carried — mirroring the engine's
    * join-free grouped union. */
  private lazy val monitorReportGroupedOracle: String =
    s"""WITH $classifierLoopCtes,
       |scored AS (SELECT doc_id, doc_id % 4 AS shard, y,
       |    $classifierScoreSql AS p FROM feats, w3),
       |gr AS (SELECT shard, p AS thr, count(*) AS n,
       |       CAST(sum(y) AS BIGINT) AS pos FROM scored
       |       WHERE doc_id % 8 < 4 GROUP BY 1, 2),
       |gc AS (SELECT shard, p AS thr, count(*) AS n,
       |       CAST(sum(y) AS BIGINT) AS pos FROM scored
       |       WHERE doc_id % 8 >= 4 GROUP BY 1, 2),
       |awr AS (SELECT shard, thr, n, pos,
       |    sum(n) OVER (PARTITION BY shard ORDER BY thr ASC
       |      ROWS UNBOUNDED PRECEDING) - n AS bef FROM gr),
       |aar AS (SELECT shard, sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |        sum(pos) AS p_all, sum(n) AS nn FROM awr
       |        GROUP BY shard),
       |awc AS (SELECT shard, thr, n, pos,
       |    sum(n) OVER (PARTITION BY shard ORDER BY thr ASC
       |      ROWS UNBOUNDED PRECEDING) - n AS bef FROM gc),
       |aac AS (SELECT shard, sum(pos * (bef + (n + 1) / 2.0)) AS s,
       |        sum(pos) AS p_all, sum(n) AS nn FROM awc
       |        GROUP BY shard),
       |egk AS (SELECT shard, CAST(${sqlRound("thr * 1000000.0", 0)}
       |    AS BIGINT) AS k, n, pos FROM gc),
       |eb AS (SELECT shard, least((k * 10) // 1000000, 9) AS bin,
       |    sum(n) AS nb, sum(pos) AS pb, sum(n * k) AS sk
       |  FROM egk GROUP BY 1, 2),
       |bag AS (SELECT shard, sum(n) AS nn,
       |    sum(CAST(n AS HUGEINT) * k * k) AS skk,
       |    sum(CAST(pos AS HUGEINT) * k) AS skp,
       |    sum(pos) AS p_all FROM egk GROUP BY shard),
       |pbr AS (SELECT shard, least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM gr GROUP BY 1, 2),
       |pbc AS (SELECT shard, least((CAST(${sqlRound("thr * 1000000.0", 0)}
       |      AS BIGINT) * 10) // 1000000, 9) AS bin, sum(n) AS nb
       |  FROM gc GROUP BY 1, 2),
       |gsh AS (SELECT shard FROM gr UNION SELECT shard FROM gc),
       |psp AS (SELECT gsh.shard AS shard, rr.range AS bin
       |        FROM gsh, range(10) rr),
       |pj AS (SELECT psp.shard AS shard, psp.bin AS bin,
       |      coalesce(pbr.nb, 0) AS nr, coalesce(pbc.nb, 0) AS nc
       |  FROM psp
       |    LEFT JOIN pbr ON pbr.shard = psp.shard AND pbr.bin = psp.bin
       |    LEFT JOIN pbc ON pbc.shard = psp.shard AND pbc.bin = psp.bin),
       |ptt AS (SELECT shard, nr, nc,
       |        sum(nr) OVER (PARTITION BY shard) AS tr,
       |        sum(nc) OVER (PARTITION BY shard) AS tc FROM pj),
       |ptm AS (SELECT shard, CAST(${sqlRound(
      "((nc + 1) / CAST(tc + 10 AS DOUBLE) - " +
        "(nr + 1) / CAST(tr + 10 AS DOUBLE)) * " +
        "ln(((nc + 1) / CAST(tc + 10 AS DOUBLE)) / " +
        "((nr + 1) / CAST(tr + 10 AS DOUBLE))) * 1000000000.0", 0)}
       |    AS BIGINT) AS tq FROM ptt),
       |ku AS (SELECT coalesce(gr.shard, gc.shard) AS shard,
       |      coalesce(gr.thr, gc.thr) AS thr,
       |      coalesce(gr.n, 0) AS nr, coalesce(gc.n, 0) AS nc
       |  FROM gr FULL OUTER JOIN gc
       |    ON gr.shard = gc.shard AND gr.thr = gc.thr),
       |kc AS (SELECT shard,
       |    sum(nr) OVER (PARTITION BY shard ORDER BY thr
       |      ROWS UNBOUNDED PRECEDING) AS ca,
       |    sum(nc) OVER (PARTITION BY shard ORDER BY thr
       |      ROWS UNBOUNDED PRECEDING) AS cb,
       |    sum(nr) OVER (PARTITION BY shard) AS ta,
       |    sum(nc) OVER (PARTITION BY shard) AS tb FROM ku)
       |SELECT shard, metric, value FROM (
       |  SELECT shard, 'auc_ref' AS metric, ${sqlRound(
      "(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)",
      6)} AS value FROM aar
       |  UNION ALL
       |  SELECT shard, 'auc_cur' AS metric, ${sqlRound(
      "(s - p_all*(p_all + 1.0)/2.0) / nullif(p_all*(nn - p_all), 0.0)",
      6)} AS value FROM aac
       |  UNION ALL
       |  SELECT shard, 'ece_cur' AS metric, ${sqlRound(
      "sum(abs(pb * 1000000 - sk)) / (1000000.0 * nullif(sum(nb), 0))",
      6)} AS value FROM eb GROUP BY shard
       |  UNION ALL
       |  SELECT shard, 'brier_cur' AS metric, ${sqlRound(
      "CAST(skk - 2000000 * skp + 1000000000000 * CAST(p_all AS HUGEINT)" +
        " AS DOUBLE) / (1000000000000.0 * nullif(nn, 0))",
      6)} AS value FROM bag
       |  UNION ALL
       |  SELECT shard, 'psi' AS metric, ${sqlRound(
      "CAST(sum(tq) AS DOUBLE) / 1000000000.0", 6)} AS value FROM ptm
       |    GROUP BY shard
       |  UNION ALL
       |  SELECT shard, 'ks' AS metric, ${sqlRound(
      "CAST(max(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))" +
        " AS DOUBLE) / (CAST(nullif(max(ta), 0) AS DOUBLE) *" +
        " CAST(nullif(max(tb), 0) AS DOUBLE))", 6)} AS value FROM kc
       |    GROUP BY shard
       |) ORDER BY shard, metric""".stripMargin

  /** The FULL-funnel CTE chain shared VERBATIM by `q_curate_full` and
    * the capstone `q_pipeline_full` — the q_c4_filters line synthesis
    * + C4 rules, the q_gopher_quality signal replay on clean_text
    * (relaxed thresholds 10/1), the frozen classifier quality gate at
    * the in-batch median, the heuristic quality CTE at 0.2 (now also
    * carrying each survivor's clean-text token count for the
    * capstone's mix stage), the q_dsir poly-bucket log-ratio +
    * quantile_cont gate on clean_text, min-per-clean_text dedup, and
    * the q_curate shingle decontamination. Ends at `dq` (the deduped
    * gated survivors) and `contaminated`; callers append their final
    * select (and, for the capstone, the mix + pack stages). */
  private lazy val curateCtes: String = {
    val qexpr = sqlRound(
      "greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + " +
      "(stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)
    val gstops = TextOps.gopherStopwords.map(w => s"'$w'")
      .mkString("[", ",", "]")
    s"""$classifierLoopCtes,
         |corpus AS (SELECT doc_id, text FROM documents
         |  WHERE doc_id % 50 <> 0 AND text IS NOT NULL),
         |dtok AS (SELECT doc_id, string_split(text, ' ') AS toks
         |         FROM corpus),
         |l0 AS (SELECT doc_id,
         |  list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
         |    i -> array_to_string(toks[(i*10+1):(i*10+10)], ' ') ||
         |         CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END)
         |    AS lines0
         |  FROM dtok),
         |t1 AS (SELECT doc_id, array_to_string(lines0, chr(10)) AS text
         |       FROM l0),
         |t2 AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN text ||
         |  chr(10) || 'please enable javascript to view this page.'
         |  ELSE text END AS text FROM t1),
         |t3 AS (SELECT doc_id, CASE WHEN doc_id % 15 = 0 THEN text ||
         |  chr(10) || 'we use cookies to improve your experience.'
         |  ELSE text END AS text FROM t2),
         |t4 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text ||
         |  chr(10) || 'function f() { return 1; }'
         |  ELSE text END AS text FROM t3),
         |t5 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN text ||
         |  chr(10) || 'lorem ipsum dolor sit amet.'
         |  ELSE text END AS text FROM t4),
         |cf AS (SELECT doc_id, string_split(text, chr(10)) AS lines
         |  FROM t5
         |  WHERE NOT contains(lower(text), '{')
         |    AND NOT contains(lower(text), 'lorem ipsum')),
         |ck AS (SELECT doc_id,
         |  list_filter(lines, l ->
         |    (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
         |    AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
         |    AND NOT contains(lower(l), 'javascript')
         |    AND NOT contains(lower(l), 'cookie')) AS kept
         |  FROM cf),
         |c4 AS MATERIALIZED (SELECT doc_id, array_to_string(kept, chr(10))
         |    AS clean_text
         |  FROM ck WHERE len(kept) >= 1),
         |gw AS (SELECT doc_id, clean_text,
         |  list_filter(regexp_split_to_array(clean_text, '\\s+'),
         |    x -> x <> '') AS words,
         |  string_split(clean_text, chr(10)) AS lines FROM c4),
         |gs AS (SELECT doc_id, clean_text,
         |  len(words) AS nw,
         |  length(regexp_replace(clean_text, '\\s+', '', 'g')) AS wchars,
         |  length(clean_text) - length(replace(clean_text, '#', ''))
         |    AS hashes,
         |  len(regexp_extract_all(clean_text, '\\.\\.\\.')) AS ell,
         |  len(lines) AS nl,
         |  len(list_filter(lines, l -> l LIKE '•%' OR l LIKE '- %')) AS bl,
         |  len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))
         |    AS el,
         |  len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
         |    AS aw,
         |  len(list_intersect(
         |    list_distinct(list_transform(words, x -> lower(x))),
         |    $gstops)) AS gstop_hits
         |  FROM gw),
         |gm AS (SELECT doc_id, clean_text, CAST(nw AS BIGINT) AS n_words,
         |  ${sqlRound("wchars / nullif(nw, 0)", 6)} AS mean_word_len,
         |  ${sqlRound("(hashes + ell) / nullif(nw, 0)", 6)} AS symbol_ratio,
         |  ${sqlRound("bl / nullif(nl, 0)", 6)} AS bullet_frac,
         |  ${sqlRound("el / nullif(nl, 0)", 6)} AS ellipsis_frac,
         |  ${sqlRound("aw / nullif(nw, 0)", 6)} AS alpha_frac,
         |  CAST(gstop_hits AS BIGINT) AS gstop_hits
         |  FROM gs),
         |gp AS (SELECT doc_id, clean_text FROM gm
         |  WHERE coalesce(n_words >= 10 AND n_words <= 100000 AND
         |    mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
         |    symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND
         |    ellipsis_frac <= 0.3 AND alpha_frac >= 0.8 AND
         |    gstop_hits >= 1, FALSE)),
         |lf AS (SELECT doc_id, clean_text,
         |  string_split(clean_text, ' ') AS ltoks,
         |  length(clean_text) AS lnch,
         |  length(clean_text) -
         |    length(regexp_replace(clean_text, '[.,!?;]', '', 'g'))
         |    AS lpunct
         |  FROM gp),
         |lx AS (SELECT doc_id, clean_text,
         |  least(1.0, len(ltoks)/100.0) AS f_len,
         |  len(list_filter(ltoks, x -> list_contains($stopList, x)))
         |    / CAST(nullif(len(ltoks), 0) AS DOUBLE) AS f_stop,
         |  lpunct / CAST(nullif(lnch, 0) AS DOUBLE) AS f_punct
         |  FROM lf),
         |ls AS MATERIALIZED (SELECT doc_id, clean_text,
         |  $classifierScoreSql AS p FROM lx, w3),
         |lthr AS (SELECT ${sqlRound("quantile_cont(p, 0.5)", 6)} AS t
         |         FROM ls),
         |lg AS (SELECT doc_id, clean_text FROM ls, lthr WHERE p >= t),
         |qt AS (SELECT doc_id, clean_text,
         |  string_split(clean_text, ' ') AS toks,
         |  length(clean_text) AS nch,
         |  length(clean_text) -
         |    length(regexp_replace(clean_text, '[.,!?;]', '', 'g'))
         |    AS punct
         |  FROM lg),
         |qh AS (SELECT doc_id, clean_text, len(toks) AS n_tokens,
         |  len(list_filter(toks, x -> list_contains($stopList, x)))
         |    AS stop_hits,
         |  punct, nch FROM qt),
         |q AS MATERIALIZED (SELECT doc_id, clean_text, $qexpr AS quality,
         |    CAST(n_tokens AS BIGINT) AS n_tokens FROM qh
         |  WHERE $qexpr >= 0.2),
         |dw AS (SELECT doc_id, unnest(string_split(clean_text, ' '))
         |    AS _w FROM q),
         |dwf AS (SELECT doc_id, _w FROM dw WHERE _w <> ''),
         |db AS (SELECT doc_id, _w,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(1, length(_w) + 1),
         |        i -> CAST(unicode(_w[i]) AS BIGINT))),
         |    (a, c) -> (a * 31 + c) % 1048576) % 256 AS _b
         |  FROM dwf),
         |rc AS (SELECT _b, count(*) AS c FROM db GROUP BY 1),
         |tc AS (SELECT _b, count(*) AS c FROM db
         |       WHERE doc_id % 10 = 0 GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c) FROM rc) AS rtot,
         |               (SELECT coalesce(sum(c), 0) FROM tc) AS ttot),
         |lw AS (SELECT rc._b,
         |    ln((coalesce(tc.c, 0) + 0.5) / (ttot + 0.5 * 256)) -
         |    ln((rc.c + 0.5) / (rtot + 0.5 * 256)) AS _lw
         |  FROM rc LEFT JOIN tc ON rc._b = tc._b, tot),
         |dcnt AS (SELECT doc_id, _b, count(*) AS c FROM db GROUP BY 1, 2),
         |wts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |    ${sqlRound("sum(c * CAST(" + sqlRound("_lw * 1000000000.0", 0) + " AS BIGINT)) / 1000000000.0", 6)} AS logweight
         |  FROM dcnt JOIN lw USING (_b) GROUP BY doc_id),
         |thr AS (SELECT ${sqlRound("quantile_cont(logweight, 0.5)", 6)}
         |          AS t FROM wts),
         |gated AS MATERIALIZED (SELECT q.doc_id, q.clean_text, q.quality,
         |    q.n_tokens, wts.n_feats, wts.logweight
         |  FROM q JOIN wts USING (doc_id), thr
         |  WHERE wts.logweight >= thr.t),
         |reps AS (SELECT min(doc_id) AS doc_id FROM gated
         |         GROUP BY clean_text),
         |dq AS MATERIALIZED (SELECT g.* FROM gated g JOIN reps USING (doc_id)),
         |dsh AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 3
         |         THEN list_transform(range(1, len(toks) - 1),
         |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         |         ELSE CAST([] AS VARCHAR[]) END)) AS sh
         |  FROM (SELECT doc_id, string_split(clean_text, ' ') AS toks
         |        FROM dq)),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(
         |    CASE WHEN len(toks) >= 3
         |         THEN list_transform(range(1, len(toks) - 1),
         |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         |         ELSE CAST([] AS VARCHAR[]) END)) AS sh
         |  FROM (SELECT string_split(text, ' ') AS toks FROM documents
         |        WHERE doc_id % 50 = 0)),
         |contaminated AS (SELECT DISTINCT doc_id
         |                 FROM dsh JOIN bsh USING (sh))""".stripMargin
  }

  private lazy val curateFullOracle: String =
    s"""WITH $curateCtes
       |SELECT dq.doc_id, dq.quality, dq.n_feats, dq.logweight FROM dq
       |WHERE dq.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |  AND (dq.doc_id * 2654435761) % 100 < 50
       |ORDER BY dq.doc_id""".stripMargin

  /** The daily-increment funnel CTE chain shared VERBATIM by
    * `q_curate_incremental` and `q_pipeline_incremental`: the raw-
    * text quality gate at 0.3 (now also carrying each survivor's
    * token count for the incremental capstone's mix stage), the
    * min-per-text dedup (the digest store's order-free fold), and
    * the q_curate shingle decontamination. Ends at `dq` and
    * `contaminated`. */
  private lazy val curateIncCtes: String = {
    val qexpr = sqlRound(
      "greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + " +
      "(stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)
    s"""corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
       |t AS (
       |  SELECT doc_id, text, lang, string_split(text, ' ') AS toks,
       |         length(text) AS nch,
       |         length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS punct
       |  FROM corpus),
       |h AS (
       |  SELECT doc_id, text, lang, len(toks) AS n_tokens,
       |         len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
       |         punct, nch
       |  FROM t),
       |q AS (
       |  SELECT doc_id, text, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    $qexpr AS quality FROM h
       |  WHERE $qexpr >= 0.3),
       |reps AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
       |dq AS (SELECT q.* FROM q JOIN reps USING (doc_id)),
       |dsh AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) >= 3
       |         THEN list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       |         ELSE CAST([] AS VARCHAR[]) END AS s
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM dq)),
       |bsh AS (
       |  SELECT DISTINCT unnest(list_distinct(
       |    CASE WHEN len(toks) >= 3
       |         THEN list_transform(range(1, len(toks) - 1),
       |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
       |         ELSE CAST([] AS VARCHAR[]) END)) AS sh
       |  FROM (SELECT string_split(text, ' ') AS toks FROM documents
       |        WHERE doc_id % 50 = 0)),
       |contaminated AS (
       |  SELECT DISTINCT doc_id FROM
       |    (SELECT doc_id, unnest(list_distinct(s)) AS sh FROM dsh) c
       |    JOIN bsh USING (sh))""".stripMargin
  }

  private lazy val curateIncrementalOracle: String =
    s"""WITH $curateIncCtes
       |SELECT dq.doc_id, dq.lang, dq.quality FROM dq
       |WHERE dq.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |  AND (dq.doc_id * 2654435761) % 100 < 50
       |ORDER BY dq.doc_id""".stripMargin

  /** The INCREMENTAL capstone oracle: the daily-increment funnel CTEs
    * verbatim, then the same water-fill + replication + packing tail
    * as [[pipelineFullOracle]] over the funnel's survivors (lang is
    * native to the raw-text funnel — no join back). */
  private lazy val pipelineIncrementalOracle: String =
    s"""WITH $curateIncCtes,
       |surv AS (SELECT dq.doc_id, dq.lang, dq.quality, dq.n_tokens
       |  FROM dq
       |  WHERE dq.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND (dq.doc_id * 2654435761) % 100 < 50
       |    AND dq.lang IS NOT NULL),
       |${waterfillAllocCtes("surv", pipelineIncTokenTarget)},
       |sel AS (SELECT c.doc_id, c.lang, c.quality, c.n_tokens
       |  FROM c JOIN bud USING (lang)
       |  WHERE c.cum <= bud.budget),
       |e AS (SELECT doc_id, lang, n_tokens,
       |    ${mixEpochsCaseSql("lang")} AS pct
       |  FROM sel),
       |cp AS (SELECT doc_id, n_tokens,
       |    (pct // 100) +
       |    CASE WHEN (doc_id * 2654435761) % 100 < pct % 100
       |         THEN 1 ELSE 0 END AS cp
       |  FROM e WHERE pct >= 0),
       |mixx AS (SELECT doc_id, n_tokens,
       |    CAST(unnest(range(0, cp)) AS INT) AS epoch
       |  FROM cp WHERE cp >= 1),
       |it AS (SELECT doc_id, epoch, n_tokens,
       |    doc_id * 100 + epoch AS item_id FROM mixx),
       |pk AS (SELECT doc_id, epoch, n_tokens,
       |    (item_id * 2654435761) % 8 AS shard,
       |    sum(n_tokens) OVER (PARTITION BY (item_id * 2654435761) % 8
       |      ORDER BY item_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM it)
       |SELECT doc_id, epoch, n_tokens, shard,
       |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS bin,
       |  CAST(cum - n_tokens - floor((cum - n_tokens) / 512) * 512
       |    AS BIGINT) AS offset
       |FROM pk ORDER BY doc_id, epoch""".stripMargin

  /** The CAPSTONE oracle: the curate CTE chain verbatim, then the
    * water-fill allocation CTEs ([[waterfillAllocCtes]]) over the
    * survivors joined back to their language, the selection, the
    * q_mix_epochs replication replay, and the q_pack_sequences
    * sharded running-sum replay over composite (doc, epoch) items. */
  private lazy val pipelineFullOracle: String =
    s"""WITH $curateCtes,
       |surv AS (SELECT dq.doc_id, dq.quality, dq.n_tokens FROM dq
       |  WHERE dq.doc_id NOT IN (SELECT doc_id FROM contaminated)
       |    AND (dq.doc_id * 2654435761) % 100 < 50),
       |pq AS (SELECT s.doc_id, d.lang, s.quality, s.n_tokens
       |       FROM surv s JOIN documents d USING (doc_id)
       |       WHERE d.lang IS NOT NULL),
       |${waterfillAllocCtes("pq", pipelineTokenTarget)},
       |sel AS (SELECT c.doc_id, c.lang, c.quality, c.n_tokens
       |  FROM c JOIN bud USING (lang)
       |  WHERE c.cum <= bud.budget),
       |e AS (SELECT doc_id, lang, n_tokens,
       |    ${mixEpochsCaseSql("lang")} AS pct
       |  FROM sel),
       |cp AS (SELECT doc_id, n_tokens,
       |    (pct // 100) +
       |    CASE WHEN (doc_id * 2654435761) % 100 < pct % 100
       |         THEN 1 ELSE 0 END AS cp
       |  FROM e WHERE pct >= 0),
       |mixx AS (SELECT doc_id, n_tokens,
       |    CAST(unnest(range(0, cp)) AS INT) AS epoch
       |  FROM cp WHERE cp >= 1),
       |it AS (SELECT doc_id, epoch, n_tokens,
       |    doc_id * 100 + epoch AS item_id FROM mixx),
       |pk AS (SELECT doc_id, epoch, n_tokens,
       |    (item_id * 2654435761) % 8 AS shard,
       |    sum(n_tokens) OVER (PARTITION BY (item_id * 2654435761) % 8
       |      ORDER BY item_id ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM it)
       |SELECT doc_id, epoch, n_tokens, shard,
       |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS bin,
       |  CAST(cum - n_tokens - floor((cum - n_tokens) / 512) * 512
       |    AS BIGINT) AS offset
       |FROM pk ORDER BY doc_id, epoch""".stripMargin

  /** The q_pr_curve_incremental / q_roc_auc_incremental shared store:
    * the frozen classifier scores the corpus ONCE, the even-doc_id
    * half lands as the content-keyed "hist" batch, the odd half as
    * the tag-idempotent "daily" batch — both through
    * [[graft.ops.CalibrationIndex.append]], whose additive-monoid
    * fold makes the accreted store's metrics equal the one-shot
    * metrics over the full scored corpus (the shared oracles replay
    * exactly that one-shot). Returns the fixture root. */
  private def calibFixture(s: SparkSession, dir: String): String = {
    val feats = classifierFeats(s, dir)
    val w = classifierWeights(s, dir)
    val scored = graft.ops.Classifier.scoreLogistic(feats,
      graft.ops.Classifier.textFeatureCols, w.toSeq)
    val fx = graft.Fixtures.ensure("calib_idx",
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.Fixtures.contentKey(s"calib_idx|$dir", scored,
          "doc_id", "p", "y")) { p =>
      graft.ops.CalibrationIndex.append(s,
        scored.filter(col("doc_id") % 2 === 0), p + "/idx",
        "p", "y", batchTag = Some("hist"))
    }
    graft.ops.CalibrationIndex.append(s,
      scored.filter(col("doc_id") % 2 =!= 0), fx + "/idx",
      "p", "y", batchTag = Some("daily"))
    fx
  }

  /** The grouped-store sibling of [[calibFixture]]: the same frozen
    * classifier's scores land PER SHARD (doc_id % 4) in two window
    * batches — doc_id % 8 < 4 as the content-keyed "hist" window,
    * the rest as the tag-idempotent "daily" window — through
    * [[graft.ops.CalibrationIndex.appendBy]]. The windows union to
    * the whole corpus, so whole-store grouped reads equal the
    * one-shot grouped metrics (shared oracles), and the hist/daily
    * tags ARE `q_drift_psi_grouped`'s window split. */
  private def calibFixtureBy(s: SparkSession, dir: String): String = {
    val feats = classifierFeats(s, dir)
    val w = classifierWeights(s, dir)
    val scored = graft.ops.Classifier.scoreLogistic(feats,
        graft.ops.Classifier.textFeatureCols, w.toSeq)
      .withColumn("shard", col("doc_id") % 4)
    val fx = graft.Fixtures.ensure("calib_idx_by",
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.Fixtures.contentKey(s"calib_idx_by|$dir", scored,
          "doc_id", "p", "y")) { p =>
      graft.ops.CalibrationIndex.appendBy(s,
        scored.filter(col("doc_id") % 8 < 4), p + "/idx",
        "shard", "p", "y", batchTag = Some("hist"))
    }
    graft.ops.CalibrationIndex.appendBy(s,
      scored.filter(col("doc_id") % 8 >= 4), fx + "/idx",
      "shard", "p", "y", batchTag = Some("daily"))
    fx
  }

  /** The FULL curation funnel shared by `q_curate_full` and the
    * capstone `q_pipeline_full` — every quality stage composed in the
    * order a 100 TB pipeline runs them: C4 line cleanup FIRST (it
    * produces clean_text; the doc-level stages must score what
    * survives, not raw boilerplate), then the Gopher A1.1 document
    * rules, the frozen LEARNED classifier gate (fitLogistic weights,
    * median-calibrated — the production stack's learned filter, the
    * same stage the streaming twin runs), the heuristic quality gate,
    * the DSIR target-likeness gate, canonical exact dedup, benchmark
    * decontamination, and the deterministic 50% hash draw. Gopher
    * runs with relaxed thresholds (minWords=10, minStopHits=1 — C4's
    * terminal-punct rule keeps ~1/3 of the synthesized lines, and the
    * tiny synthetic vocabulary carries one Gopher stopword); the
    * thresholds are parameters, the COMPOSITION is what the graded
    * keys lock. Scale shape: c4 + gopher + quality are one map-side
    * projection chain; DSIR is two bucket-bounded exchanges + a
    * broadcast model join; dedup shuffles a 32-byte digest;
    * decontamination shuffles shingle hashes with the benchmark side
    * broadcast; the draw is map-side — document text never shuffles
    * end to end.
    *
    * Returns the final keep set with the survivor detail the callers
    * project from: (doc_id, clean_text, quality, n_tokens, n_feats,
    * logweight).
    *
    * Memoized per (application, dir) — the deployment shape: curate
    * ONCE, then fan the survivor set out to every downstream consumer
    * (the flagship key and the capstone both read it; unmemoized,
    * each would re-pay the regex-heavy c4+gopher+classifier chain).
    * The memo holds localCheckpoint-backed frames, so it is keyed by
    * applicationId too — a restarted context never sees another
    * context's dead blocks. Same dir-immutability contract as
    * [[fitMemo]]. */
  private val curateMemo =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  private def curateFullFunnel(s: SparkSession, dir: String): DataFrame =
    curateMemo.computeIfAbsent(
      s.sparkContext.applicationId + "|" + dir,
      _ => curateFullFunnelImpl(s, dir))

  private def curateFullFunnelImpl(s: SparkSession,
                                   dir: String): DataFrame = {
    val all = docsPar(s, dir)
    val corpus = all.filter(col("doc_id") % 50 =!= 0)
      .filter(col("text").isNotNull)
    val bench = all.filter(col("doc_id") % 50 === 0)
    val c4 = TextOps.c4Filters(c4SynthText(corpus), "text", "doc_id")
    val gq = TextOps.gopherQuality(c4, "clean_text",
        minWords = 10, minStopHits = 1)
      .filter(col("gopher_keep"))
      .select("doc_id", "clean_text")
    // frozen LEARNED quality gate (the streaming funnel's logit
    // stage, EventStream.curateSink): weights fit OFFLINE on the
    // labeled raw corpus (the q_quality_classifier regime —
    // lang == 'en' target over the canonical text-feature triple),
    // then ONE map-side sigmoid over the gopher survivors'
    // clean_text. The keep threshold is the in-batch MEDIAN score
    // (the q_dsir quantile stance): the 3-round fit's scores sit in
    // a scale-dependent band, so a fixed minP does not travel
    // across corpus scales while a calibrated quantile does — and
    // at 100 TB "keep the most-target-like half" is the production
    // calibration anyway. (The deployed-stream counterpart keeps a
    // FROZEN minP for batch-to-batch gate stability, and
    // `q_recalibrate_gate` grades the bridge between the two:
    // re-freeze the gate from the monitoring store's measured
    // operating point — see [[graft.ops.Classifier.bestThreshold]].)
    // Scored frame pinned before the quantile + gate jobs re-scan it
    // (the regex-heavy c4+gopher chain must not re-execute per job).
    val lgW = classifierWeights(s, dir)
    val lgScored = graft.ops.Classifier.scoreLogistic(
        graft.ops.Classifier.textFeatures(gq, "clean_text"),
        graft.ops.Classifier.textFeatureCols, lgW.toSeq)
      .select("doc_id", "clean_text", "p")
      .localCheckpoint(true)
    val lgThr = graft.ops.Quantiles.exactQuantiles(lgScored, "p",
      Seq(0.5), scale = 6).select("q").head().getDouble(0)
    val lg = lgScored.filter(col("p") >= lit(lgThr))
      .select("doc_id", "clean_text")
    // the survivor frame is PINNED before the DSIR stage: the model
    // fit, the weight scan, the quantile-threshold jobs and the
    // gate join each re-scan it, and the upstream c4 + gopher +
    // quality chain is regex-heavy — unpinned, the chain re-executes
    // per scan (~10 recomputes measured: 79 s vs ~4 s pinned). This
    // IS the 100 TB shape: persist the funnel's survivor set once,
    // then fit/score against the materialization.
    val q = TextOps.qualityScore(lg, "clean_text")
      .filter(col("quality") >= 0.2)
      .select(col("doc_id"), col("clean_text"), col("quality"),
        col("n_tokens").cast("long").as("n_tokens"))
      .localCheckpoint(true)
    // DSIR gate against the doc_id % 10 == 0 slice of the survivors
    // (the q_dsir regime applied mid-funnel)
    val gated = q.join(
      graft.ops.Mixing.importanceResample(q,
          q.filter(col("doc_id") % 10 === 0), "clean_text", "doc_id",
          frac = 0.5, buckets = 256, portable = true)
        .select("doc_id", "n_feats", "logweight"),
      Seq("doc_id"))
      .localCheckpoint(true) // re-scanned by dedup + decontam + join
    // canonical exact dedup AFTER the per-doc gates: duplicates have
    // identical clean_text, hence identical scores — same keep set
    // as dedup-first, one window exchange on the digest
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(sha2(col("clean_text"), 256)).orderBy(col("doc_id"))
    val deduped = gated.withColumn("_rk", row_number().over(wd))
      .filter(col("_rk") === 1).drop("_rk")
    // exactRecount: the survivor set here is funnel-thinned (tiny
    // next to the corpus), so the collision-proof exact-string
    // second pass is near-free — the flagship pipeline must not let
    // a 64-bit shingle collision drop a clean document
    val contaminated = DedupOps.contaminationScan(
        deduped.withColumnRenamed("clean_text", "text"), bench,
        "text", "doc_id", w = 3, exactRecount = true)
      .select("doc_id")
    // Pin the FINAL keep set (funnel-thinned — tiny next to the three
    // corpus-derived frames above) and release the intermediates'
    // checkpoint storage deterministically. Before this, the memo held
    // a lazy tail over lgScored/q/gated, so (a) every consumer action
    // re-ran the dedup window + contamination scan, and (b) all three
    // text-bearing pinned frames stayed resident for the rest of the
    // JVM — the r17 bench-accounting drift (VERDICT r17 "What's wrong"
    // #1): ~220 later keys each ran with that storage pinned. Now the
    // memo holds ONE small LogicalRDD-backed frame and the funnel's
    // working state is freed the moment it is no longer reachable.
    val keep = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .filter(hashMod(col("doc_id"), 100) < 50)
      .localCheckpoint(true)
    Seq(lgScored, q, gated).foreach(DedupOps.freeCheckpoint)
    keep
  }

  /** The daily-increment funnel shared by `q_curate_incremental` and
    * the incremental capstone `q_pipeline_incremental`: quality-
    * passing batches accrete the persisted digest store (only passers
    * enter), representatives resolve from the store's order-free min
    * fold — the SAME keep set as q_curate's one-shot window, any
    * batch order — then the decontamination scan and the hash draw
    * run unchanged. The incremental win: a daily batch re-runs
    * quality map-side and probes O(batch) digests; history is never
    * re-read. Returns the keep set with (doc_id, lang, quality,
    * n_tokens) — the survivor detail both callers project from. */
  private def curateIncrementalFunnel(s: SparkSession,
                                      dir: String): DataFrame = {
    val all = docsPar(s, dir)
    val corpus = all.filter(col("doc_id") % 50 =!= 0)
    val bench = all.filter(col("doc_id") % 50 === 0)
    val q = TextOps.qualityScore(corpus, "text")
      .filter(col("quality") >= 0.3)
    val fx = graft.Fixtures.ensure("curate_didx_v2",
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.Fixtures.contentKey(s"curate_didx|$dir", all, "doc_id", "text")) { p =>
      graft.ops.DigestIndex.appendAndDedup(s,
        q.filter(col("doc_id") % 2 === 0), p + "/idx",
        "text", "doc_id", batchTag = Some("hist"))
      ()
    }
    graft.ops.DigestIndex.appendAndDedup(s,
      q.filter(col("doc_id") % 2 =!= 0), fx + "/idx",
      "text", "doc_id", batchTag = Some("daily"))
    val reps = graft.ops.DigestIndex.currentGroups(s, fx + "/idx")
      .select(col("id").as("doc_id"))
    // pin the dedup survivors (funnel-thinned, tiny next to the
    // corpus): the contamination scan's exactRecount pass, the anti
    // join, and — for the incremental capstone — the selection's
    // supply/histogram/gate jobs each re-scan this frame; unpinned,
    // the quality chain + store probe re-execute per job (measured
    // 13.7 s vs ~6 s pinned at sf0.1). The q_curate_full stance:
    // materialize the daily keep set once, fan out.
    val deduped = q.join(reps, Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    val contaminated = DedupOps
      .contaminationScan(deduped, bench, "text", "doc_id", w = 3,
        exactRecount = true)
      .select("doc_id")
    // Same discipline as [[curateFullFunnelImpl]]: pin the final keep
    // set (id + detail columns only — no text) and free the text-bearing
    // `deduped` frame immediately, instead of returning a lazy tail that
    // (a) re-runs the anti-join + draw per consumer action and (b) keeps
    // the full survivor texts pinned until the ContextCleaner happens to
    // collect them. The incremental capstone reads this frame through
    // its supply/histogram/gate jobs — each now scans the small final
    // checkpoint, not the funnel tail.
    val keep = deduped.join(contaminated, Seq("doc_id"), "left_anti")
      .filter(hashMod(col("doc_id"), 100) < 50)
      .select(col("doc_id"), col("lang"), col("quality"),
        col("n_tokens").cast("long").as("n_tokens"))
      .localCheckpoint(true)
    DedupOps.freeCheckpoint(deduped)
    keep
  }

  /** The capstone pipeline's global token target: sized to BIND at
    * every tested scale (the curated survivors' per-lang token supply
    * — 92 tokens at sf0.001, 118 at sf0.01, growing with the corpus —
    * exceeds the uncapped langs' even shares, so the water-fill
    * selection genuinely selects; an unbinding target would grade
    * selection as identity). One definition shared by engine and
    * oracle. */
  private val pipelineTokenTarget = 60L

  /** The INCREMENTAL capstone's token target — sized for the
    * raw-text funnel's survivors (per-lang supply 621-1476 tokens at
    * sf0.001, 272-1744 at sf0.01, growing with the corpus): an even
    * share of 300/lang binds every language while staying above the
    * largest single document, so the selection is genuine at every
    * scale (the full capstone's 60-token target sits below one raw
    * document and would select nothing here — clean_text docs are
    * ~10 tokens, raw docs 11-120). */
  private val pipelineIncTokenTarget = 1500L

  /** The water-fill selection CTE body, shared VERBATIM by
    * `q_token_budget_waterfill` and the composed
    * `q_mix_budget_epochs`: the quality/token projection, per-lang
    * supply, six unrolled cap passes ([[waterfillPassSql]]) + the
    * final even distribution, and the per-lang greedy-prefix running
    * sum `c` the selection filters against `bud`. */
  private lazy val waterfillCtes: String =
    s"""t AS (
       |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
       |         length(text) AS nch,
       |         length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS punct
       |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
       |h AS (
       |  SELECT doc_id, lang, len(toks) AS n_tokens,
       |         len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
       |         punct, nch
       |  FROM t),
       |q AS (
       |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
       |    ${sqlRound("greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + (stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)} AS quality
       |  FROM h),
       |qq AS (SELECT doc_id, lang, quality, n_tokens FROM q
       |       WHERE quality IS NOT NULL),
       |${waterfillAllocCtes("qq", waterfillTotal)}""".stripMargin

  /** The water-fill ALLOCATION CTE chain parameterized over its
    * source CTE (columns doc_id, lang, quality, n_tokens) and the
    * global token target — the re-usable half of [[waterfillCtes]],
    * composed a second time by the capstone `q_pipeline_full` oracle
    * over the CURATED survivors instead of the raw corpus. Emits
    * `bud` (per-lang budgets) and `c` (the per-lang greedy-prefix
    * running sum the selection filters against `bud`). */
  private def waterfillAllocCtes(src: String, total: Long): String =
    s"""supply AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS sup
       |           FROM $src GROUP BY lang),
       |wf0 AS (SELECT lang, sup, CAST(NULL AS BIGINT) AS fixed
       |        FROM supply),
       |${(1 to 6).map(waterfillPassSql(total)).mkString(",\n")},
       |fin AS (SELECT lang, sup, fixed,
       |    least($total, sum(sup) OVER ()) -
       |      sum(coalesce(fixed, 0)) OVER () AS lft,
       |    sum(CASE WHEN fixed IS NULL THEN 1 ELSE 0 END) OVER () AS cnt,
       |    sum(CASE WHEN fixed IS NULL THEN 1 ELSE 0 END)
       |      OVER (ORDER BY lang ROWS UNBOUNDED PRECEDING) AS rk
       |  FROM wf6),
       |bud AS (SELECT lang,
       |    CASE WHEN fixed IS NOT NULL THEN fixed
       |         ELSE lft // cnt +
       |           (CASE WHEN rk <= lft % cnt THEN 1 ELSE 0 END) END
       |      AS budget
       |  FROM fin),
       |c AS (
       |  SELECT doc_id, lang, quality, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY quality DESC, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM $src)""".stripMargin

  /** The q_mix_budget_epochs per-source epoch table (integer percent —
    * 230 = 2.3 epochs), covering every corpus language so the
    * composed key exercises floor copies AND fractional draws; ONE
    * definition shared by the Spark key's `replicateEpochs` call and
    * the oracle's CASE replay ([[mixEpochsCaseSql]]). */
  private val mixBudgetEpochsPct: Map[String, Int] = Map(
    "en" -> 230, "de" -> 150, "fr" -> 100, "es" -> 50, "zh" -> 300)

  /** [[mixBudgetEpochsPct]] as a SQL CASE over `langCol` (sorted for
    * determinism; absent sources → -1, the dropped-source marker). */
  private def mixEpochsCaseSql(langCol: String): String =
    mixBudgetEpochsPct.toSeq.sortBy(_._1)
      .map { case (l, p) => s"WHEN '$l' THEN $p" }
      .mkString(s"CASE $langCol ", " ", " ELSE -1 END")

  /** The leak-free split oracle, shared VERBATIM by `q_split_leakfree`
    * and `q_split_leakfree_incremental`: the q_dedup_components pair
    * derivation, the recursive-CTE components fold to min-id labels,
    * then the q_split_assign hash draw on the LABEL. The incremental
    * key resolves the same labels from the persisted ComponentsIndex
    * store (the union identity), so both keys must hash-match this. */
  private lazy val splitLeakfreeSql: String =
    """WITH RECURSIVE
      |d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)]
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE doc_id < 20)),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |         THEN list_transform(range(1, len(toks) - 1),
      |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |  FROM d),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND len(list_distinct(list_intersect(a.s, b.s))) * 10
      |        >= len(list_distinct(a.s || b.s)) * 3),
      |e AS (SELECT id_a AS s, id_b AS t FROM p
      |      UNION SELECT id_b, id_a FROM p),
      |v AS (SELECT DISTINCT s AS id FROM e),
      |reach(a, b) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s),
      |comp AS (SELECT a AS id, min(b) AS component
      |         FROM reach GROUP BY a),
      |g AS (SELECT d.doc_id,
      |        coalesce(comp.component, d.doc_id) AS group_id
      |      FROM d LEFT JOIN comp ON d.doc_id = comp.id)
      |SELECT doc_id, group_id,
      |  (group_id * 2654435761) % 100 AS bucket,
      |  CASE WHEN (group_id * 2654435761) % 100 < 80 THEN 'train'
      |       WHEN (group_id * 2654435761) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM g ORDER BY doc_id""".stripMargin

  /** ExactSubstr-span hyperparameters ([[graft.ops.DedupOps
    * .exactSubstrSpans]]), defined once for the key and its oracle. */
  private val esK = 8
  private val esW = 4
  private val esExt = 48
  // 24, not the operator's 16 default: the generated corpus is phrase-y
  // (54k pairs share a 16-23 char stock phrase vs ~1.5k real spans) —
  // the key should surface the dedup signal, not the phrase book
  private val esMinLen = 24
  private val esMaxBucket = 64

  /** Char-exact longest-common-prefix length in DuckDB: index of the
    * first mismatching char minus one, or the full shorter length when
    * no mismatch. Chars compared as 1-char substrings — identical to
    * the kernels' charAt on the ASCII corpus (the q_fingerprint
    * charset status). */
  private def lcpSql(a: String, b: String): String =
    s"coalesce(list_min(list_filter(range(1, least(length($a), length($b)) + 1), " +
      s"i -> substr($a, CAST(i AS INT), 1) <> substr($b, CAST(i AS INT), 1))) - 1, " +
      s"least(length($a), length($b)))"

  /** Char-exact longest-common-suffix length (compared from the ends). */
  private def lcsufSql(a: String, b: String): String =
    s"coalesce(list_min(list_filter(range(1, least(length($a), length($b)) + 1), " +
      s"i -> substr($a, CAST(length($a) - i + 1 AS INT), 1) <> " +
      s"substr($b, CAST(length($b) - i + 1 AS INT), 1))) - 1, " +
      s"least(length($a), length($b)))"

  /** DuckDB replay of [[graft.ops.DedupOps.exactSubstrSpans]] over the
    * docs+mutants corpus: FNV char-gram hashes (the q_fingerprint
    * HUGEINT emulation via [[fnvStep]]), windowed first-argmin anchor
    * selection (list_position = the kernel's smallest-position
    * tie-break), bounded context windows, bucket cap, gram-text
    * equality guard, and char-exact common-affix extension. */
  /** The shared detection chain of the ExactSubstr oracles, ending at
    * `kp` (capped-bucket anchors with pos + bounded contexts): both the
    * spans oracle and the apply oracle append their tails to this. */
  private def exactSubstrCtes: String = exactSubstrCtesOver(mutantCte)

  private def exactSubstrCtesOver(corpusSql: String): String = {
    val (k, w, me, mb) = (esK, esW, esExt, esMaxBucket)
    def winMin(i: String) = s"list_min(grams[$i:$i+${w - 1}])"
    s"""WITH d AS ($corpusSql),
       |g AS (SELECT doc_id, text, length(text) - $k + 1 AS n,
       |    list_transform(range(1, greatest(length(text) - $k + 2, 1)), i ->
       |      list_reduce(
       |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
       |          list_transform(range(i, i + $k), j -> unicode(substr(text, CAST(j AS INT), 1)))),
       |        (acc, c) -> ${fnvStep("acc", "c")})) AS grams_u
       |  FROM d WHERE text IS NOT NULL),
       |sg AS (SELECT doc_id, text, n,
       |    list_transform(grams_u, h ->
       |      CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
       |           THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT)) AS grams
       |  FROM g),
       |an AS (SELECT doc_id, text,
       |    CASE WHEN n < 1 THEN CAST([] AS STRUCT(p INTEGER, h BIGINT)[])
       |         WHEN n <= $w THEN [struct_pack(
       |             p := CAST(list_position(grams, list_min(grams)) - 1 AS INTEGER),
       |             h := list_min(grams))]
       |         ELSE list_transform(range(1, n - $w + 2), i ->
       |           struct_pack(
       |             p := CAST(i - 1 + list_position(grams[i:i+${w - 1}], ${winMin("i")}) - 1 AS INTEGER),
       |             h := ${winMin("i")})) END AS anchors
       |  FROM sg),
       |ax AS (SELECT DISTINCT doc_id, struct_extract(a, 'p') AS pos,
       |              struct_extract(a, 'h') AS h, text
       |       FROM (SELECT doc_id, text, unnest(anchors) AS a FROM an)),
       |cx AS (SELECT doc_id, h, pos,
       |    substr(text, CAST(pos + 1 - least(pos, $me) AS INT),
       |           CAST(least(pos, $me) AS INT)) AS pre,
       |    substr(text, CAST(pos + 1 AS INT), ${k + me}) AS post
       |  FROM ax),
       |bk AS (SELECT h FROM cx GROUP BY h HAVING count(*) BETWEEN 2 AND $mb),
       |kp AS (SELECT cx.* FROM cx JOIN bk USING (h))""".stripMargin
  }

  private def exactSubstrOracleSql: String = {
    val (k, ml) = (esK, esMinLen)
    s"""$exactSubstrCtes,
       |pp AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |              x.pre AS pre_a, x.post AS post_a,
       |              y.pre AS pre_b, y.post AS post_b
       |       FROM kp x JOIN kp y ON x.h = y.h AND x.doc_id < y.doc_id
       |       WHERE substr(x.post, 1, $k) = substr(y.post, 1, $k)),
       |ee AS (SELECT id_a, id_b,
       |    $k + ${lcsufSql("pre_a", "pre_b")}
       |       + ${lcpSql(s"substr(post_a, ${k + 1})", s"substr(post_b, ${k + 1})")} AS ext
       |  FROM pp)
       |SELECT id_a, id_b, count(*) AS n_anchors, CAST(max(ext) AS BIGINT) AS max_len
       |FROM ee GROUP BY id_a, id_b HAVING max(ext) >= $ml
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replay of the q_exact_substr_incremental PROBE call: the
    * probe's visible corpus (index ∪ batch) is the full docs+mutants
    * corpus with identical bucket/cap semantics to the batch operator,
    * so the replay is [[exactSubstrOracleSql]]'s chain restricted to
    * pairs with at least one BATCH (mutant) side — history-vs-history
    * pairs belong to the untimed index build. Batch membership is
    * STRUCTURAL (semi-join against the mutant id set `doc_id + 1e6`
    * for `doc_id % 10 = 0`), not a magnitude test: `id >= 1,000,000`
    * is equivalent on base testdata but breaks on ScaleLand-landed
    * dirs, whose copy offsets (k × 10^7) push every copy-k history id
    * past the threshold and drag within-copy history pairs into the
    * oracle (caught by the sf1 spot-run, round 11). */
  private def exactSubstrIncrementalOracleSql: String = {
    val (k, ml) = (esK, esMinLen)
    val corpus =
      """SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |        WHERE doc_id % 10 = 0)""".stripMargin
    s"""${exactSubstrCtesOver(corpus)},
       |bm AS (SELECT doc_id + 1000000 AS bid FROM documents
       |       WHERE doc_id % 10 = 0),
       |pp AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       |              x.pre AS pre_a, x.post AS post_a,
       |              y.pre AS pre_b, y.post AS post_b
       |       FROM kp x JOIN kp y ON x.h = y.h AND x.doc_id < y.doc_id
       |       WHERE substr(x.post, 1, $k) = substr(y.post, 1, $k)
       |         AND (x.doc_id IN (SELECT bid FROM bm)
       |              OR y.doc_id IN (SELECT bid FROM bm))),
       |ee AS (SELECT id_a, id_b,
       |    $k + ${lcsufSql("pre_a", "pre_b")}
       |       + ${lcpSql(s"substr(post_a, ${k + 1})", s"substr(post_b, ${k + 1})")} AS ext
       |  FROM pp)
       |SELECT id_a, id_b, count(*) AS n_anchors, CAST(max(ext) AS BIGINT) AS max_len
       |FROM ee GROUP BY id_a, id_b HAVING max(ext) >= $ml
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** DuckDB replay of [[graft.ops.DedupOps.exactSubstrApply]]: the same
    * detection chain, then per qualifying instance pair an interval
    * [pos - sfx, pos - sfx + ext) on the HIGHER-id side, classic
    * running-max island merge, and a lag-windowed segment splice
    * (string_agg of the text between merged cuts + the tail). Docs
    * with no cuts pass through via the LEFT JOIN coalesce.
    *
    * The DISTINCT in `iv` is load-bearing for determinism, not just
    * cost: with duplicate (s, e) rows, ORDER BY s, e is not a total
    * order, and the two window operators (mi's running max, isl's
    * cumulative brk) may order the ties differently — if the one
    * brk=1 row lands mid-group in isl's order, an island splits
    * spuriously and n_spans/n_chars_removed flicker run-to-run
    * (observed: 1 span/419 chars vs 2/478 on the same input). Unique
    * (s, e) per doc makes the order total and both windows agree. */
  private def exactSubstrApplyOracleSql: String = {
    val (k, ml) = (esK, esMinLen)
    s"""$exactSubstrCtes,
       |pp AS (SELECT y.doc_id AS doc_id, y.pos AS pos,
       |              ${lcsufSql("x.pre", "y.pre")} AS sfx,
       |              $k + sfx + ${lcpSql(s"substr(x.post, ${k + 1})",
                        s"substr(y.post, ${k + 1})")} AS ext
       |       FROM kp x JOIN kp y ON x.h = y.h AND x.doc_id < y.doc_id
       |       WHERE substr(x.post, 1, $k) = substr(y.post, 1, $k)),
       |iv AS (SELECT DISTINCT doc_id, pos - sfx AS s, pos - sfx + ext AS e
       |       FROM pp WHERE ext >= $ml),
       |mi AS (SELECT doc_id, s, e,
       |         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
       |              ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
       |              AND 1 PRECEDING), -1) THEN 1 ELSE 0 END AS brk
       |       FROM iv),
       |isl AS (SELECT doc_id, s, e,
       |          sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |        FROM mi),
       |seg AS (SELECT doc_id, grp, min(s) AS s, max(e) AS e
       |        FROM isl GROUP BY doc_id, grp),
       |segl AS (SELECT doc_id, s, e,
       |           coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) AS pe
       |         FROM seg),
       |pieces AS (
       |  SELECT sl.doc_id, sl.pe AS ord,
       |         substr(d.text, CAST(sl.pe + 1 AS INT), CAST(sl.s - sl.pe AS INT)) AS piece
       |  FROM segl sl JOIN d ON d.doc_id = sl.doc_id
       |  UNION ALL
       |  SELECT g.doc_id, g.me AS ord, substr(d.text, CAST(g.me + 1 AS INT)) AS piece
       |  FROM (SELECT doc_id, max(e) AS me FROM seg GROUP BY doc_id) g
       |  JOIN d ON d.doc_id = g.doc_id),
       |cln AS (SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS text_clean
       |        FROM pieces GROUP BY doc_id),
       |st AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |         CAST(sum(e - s) AS BIGINT) AS n_chars_removed
       |       FROM seg GROUP BY doc_id)
       |SELECT d.doc_id, coalesce(st.n_spans, 0) AS n_spans,
       |       coalesce(st.n_chars_removed, 0) AS n_chars_removed,
       |       coalesce(cln.text_clean, d.text) AS text_clean
       |FROM d LEFT JOIN st ON st.doc_id = d.doc_id
       |       LEFT JOIN cln ON cln.doc_id = d.doc_id
       |WHERE d.text IS NOT NULL
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Bounded clustering corpus with PLANTED near-dups: docs < 40 plus
    * 80%-prefix mutants of docs < 20 — guarantees non-trivial duplicate
    * clusters at every scale factor, so the components/apply oracle
    * keys exercise real merges instead of passing on an empty pair set. */
  private def clusterDocs(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") < 40).select("doc_id", "text")
    withPrefixMutants(d, d.filter(col("doc_id") < 20))
  }

  /** The incrementally-MAINTAINED cluster labels over the clusterDocs
    * exact-Jaccard pair stream: base-base pairs build the persisted
    * store once (fixture-cached), the mutant-involving pairs replay as
    * the daily batch every invocation (tag-idempotent), and the current
    * labels resolve from the store — shared by the components and
    * apply incremental keys. Must equal the one-shot components over
    * ALL pairs (the ComponentsIndexSpec union identity), so both keys
    * share their batch twins' oracles verbatim. */
  private def incrementalLabels(s: SparkSession, dir: String): DataFrame = {
    val d = clusterDocs(s, dir)
    val pairs = DedupOps.ngramJaccard(d, d, "text", "doc_id")
      .filter(col("inter") * 10 >= col("uni") * 3)
    val hist = pairs.filter(col("id_b") < 1000000L) // base-base only
    val daily = pairs.filter(col("id_b") >= 1000000L) // mutant arrivals
    val fx = graft.Fixtures.ensure("comp_idx",
      dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        graft.Fixtures.contentKey(s"comp_idx|$dir", d, "doc_id", "text")) { p =>
      graft.ops.ComponentsIndex.appendAndLabel(s, hist, p + "/idx",
        batchTag = Some("hist"))
      ()
    }
    graft.ops.ComponentsIndex.appendAndLabel(s, daily, fx + "/idx",
      batchTag = Some("daily"))
    graft.ops.ComponentsIndex.currentLabels(s, fx + "/idx")
  }

  val queries: Map[String, Q] = Map(
    // Text statistics (chars/tokens/avg token length).
    "q_text_stats" -> ((s, dir) =>
      TextOps.textStats(docs(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_chars_calc").cast("long"), col("n_tokens").cast("long"),
          col("avg_token_len"))
        .orderBy("doc_id")),

    // Token counting: whitespace regex + BPE-ish pre-tokenizer segmentation.
    "q_token_count" -> ((s, dir) =>
      TextOps.tokenCounts(docs(s, dir), "text")
        .select(col("doc_id"), col("n_ws_tokens").cast("long"),
          col("n_bpe_tokens").cast("long"))
        .orderBy("doc_id")),

    // Quality scoring (length/stopword/punctuation heuristic).
    "q_quality_score" -> ((s, dir) =>
      TextOps.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("n_tokens").cast("long"),
          col("stop_hits").cast("long"), col("punct_count").cast("long"),
          col("quality"))
        .orderBy("doc_id")),

    // Language ID by marker-token hits.
    "q_lang_id" -> ((s, dir) =>
      TextOps.langId(docs(s, dir), "text")
        .select(col("doc_id") +: col("lang") +:
          (TextOps.langMarkers.map { case (l, _) => col(s"hits_$l").cast("long") } :+
            col("predicted")): _*)
        .orderBy("doc_id")),

    // Exact dedup: digest-grouped duplicate groups.
    "q_dedup_exact" -> ((s, dir) =>
      DedupOps.exactDupGroups(docs(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_copies"))
        .orderBy("doc_id")),

    // Exact dedup MAINTAINED incrementally: each batch appends one
    // bounded summary row per digest (min id + copy count) to the
    // persisted DigestIndex, and the accumulated groups fold to the
    // one-shot exactDupGroups answer in ANY batch order (min and sum
    // are monoids). The daily append replays every invocation under a
    // fixed tag — idempotent by construction.
    "q_dedup_exact_incremental" -> ((s, dir) => {
      val all = docs(s, dir).select("doc_id", "text")
      val hist = all.filter(col("doc_id") % 2 === 0)
      val daily = all.filter(col("doc_id") % 2 =!= 0)
      val fx = graft.Fixtures.ensure("digest_idx_v2",
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.Fixtures.contentKey(s"digest_idx|$dir", all, "doc_id", "text")) { p =>
        graft.ops.DigestIndex.appendAndDedup(s, hist, p + "/idx",
          "text", "doc_id", batchTag = Some("hist"))
        ()
      }
      graft.ops.DigestIndex.appendAndDedup(s, daily, fx + "/idx",
        "text", "doc_id", batchTag = Some("daily"))
      graft.ops.DigestIndex.currentGroups(s, fx + "/idx")
        .select(col("id").as("doc_id"), col("n_copies"))
        .orderBy("doc_id")
    }),

    // Exact n-gram Jaccard over a bounded candidate set (ground truth).
    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 60)
      DedupOps.ngramJaccard(d, d, "text", "doc_id")
        .select(col("id_a"), col("id_b"), col("inter").cast("long"),
          col("uni").cast("long"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Directional n-gram containment (|A∩B| / |A|) over a bounded
    // candidate set — catches quote/prefix duplication whose Jaccard
    // stays tiny.
    "q_ngram_containment" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") < 40)
      DedupOps.ngramContainment(d, d, "text", "doc_id")
        .select(col("id_a"), col("id_b"), col("inter").cast("long"),
          col("n_a").cast("long"), col("containment"))
        .orderBy("id_a", "id_b")
    }),

    // Corpus-level repeated-line scrub over the mutant corpus (mutants
    // share their 10-token lines with their source doc, so the
    // boilerplate set is non-trivially populated at every sf).
    "q_line_dedup" -> ((s, dir) => {
      val toks = split(col("text"), " ")
      val nLines = ceil(size(toks) / lit(10.0)).cast("int")
      val withLines = docsWithMutantsPar(s, dir).withColumn("text",
        concat_ws("\n", transform(sequence(lit(0), nLines - 1),
          i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10))))))
      TextOps.removeRepeatedLines(withLines, "text", "doc_id", minDocs = 2)
        .select(col("doc_id"), col("n_kept"), col("clean_text"))
        .orderBy("doc_id")
    }),

    // BM25 retrieval scoring: rank the corpus against a fixed query
    // term bag, top 20 (query terms broadcast; corpus never shuffles
    // raw text — only matched (doc, term) counts cross the exchanges).
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25TopDocs(docs(s, dir), "text", "doc_id",
        Seq("spark", "join", "fast"), k = 20)
        .select(col("doc_id"), col("score"), col("n_terms"))),

    // Inverted index build: per-term document frequency + a capped,
    // sorted posting list (serialized as CSV text — array columns break
    // the driver's pandas compare). Two partial-aggregated exchanges.
    "q_inverted_index" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .distinct()
        .groupBy("term")
        .agg(count(lit(1)).as("df"),
          concat_ws(",", slice(sort_array(collect_list(col("doc_id"))), 1, 20))
            .as("postings"))
        .orderBy("term")),

    // MinHash+LSH near-dup pairs over docs+mutants. Oracled: the whole
    // pipeline (token FNV, shingle combine, 64 universal hashes, band
    // keys, capped buckets, estimated Jaccard) replays in DuckDB
    // HUGEINT SQL — see minhashOracleSql. Recall exactness additionally
    // validated in DedupOpsSpec against ngramJaccard ground truth.
    "q_dedup_minhash" -> ((s, dir) =>
      DedupOps.minhashDupPairs(docsWithMutants(s, dir), "text", "doc_id",
        threshold = 0.3)
        .orderBy("id_a", "id_b")),

    // SimHash near-dup pairs over docs+mutants. Oracled: the ENTIRE
    // pipeline — per-token FNV, 64-bit vote signature, permuted-block
    // table keys, capped buckets, hamming filter — replays in DuckDB
    // HUGEINT SQL (pigeonhole banding is exact, not probabilistic, so
    // the pair set is deterministic).
    "q_dedup_simhash" -> ((s, dir) =>
      DedupOps.simhashDupPairs(docsWithMutants(s, dir), "text", "doc_id",
        maxHamming = 4, maxBucket = 64)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
        .orderBy("id_a", "id_b")),

    // Winnowing fingerprints (native Catalyst expression). Oracled:
    // DuckDB replays the whole winnow — rolling FNV over char 8-grams,
    // window-of-4 minima, distinct — in HUGEINT mod-2^64 arithmetic.
    "q_fingerprint" -> ((s, dir) =>
      TextOps.fingerprints(docs(s, dir), "text")
        .select(col("doc_id"), col("n_fp").cast("long"), col("fp_min"),
          col("fp_max"))
        .orderBy("doc_id")),

    // Brute-force cosine top-k (exact ANN baseline; codegen'd CosineSim).
    "q_similarity_cosine" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.bruteForceTopK(e, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", 10)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    }),

    // Hard centroid assignment (k-means E-step / IVF list assignment):
    // first 8 vectors serve as deterministic centroids; every vector
    // joins its best-cosine centroid, ties to the smallest centroid id.
    "q_cluster_assign" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.assignToCentroids(e, e.filter(col("vec_id") < 8),
        "embedding", "vec_id", "vec_id")
        .select(col("vec_id"), col("cluster_id"), col("sim"))
        .orderBy("vec_id")
    }),

    // Distributed deterministic k-means (full-corpus Lloyd's — the
    // SemDeDup clustering step): seeds = 8 smallest vec_ids, 3
    // exact-integer update rounds, final hard assignment. The oracle
    // replays every round in SQL — quantized long sums, truncating
    // integer division, rounded arg-max — so the hash gate checks the
    // whole iteration, not just the final projection.
    "q_kmeans" -> ((s, dir) => {
      graft.ops.Clustering.kmeans(emb(s, dir), "embedding", "vec_id",
        k = 8, iters = 3)
        .assignments
        .select(col("vec_id"), col("cluster_id"), col("sim"))
        .orderBy("vec_id")
    }),

    // k-means under the deterministic k-means++-style init (seed 1 =
    // smallest id, then exact-integer distance-weighted draws — fixes
    // the smallest-k-ids quality degeneracy on id-sorted corpora while
    // staying bit-replayable). The oracle unrolls the SEEDING rounds
    // too, so the hash gate covers the whole init, not just Lloyd.
    "q_kmeans_pp" -> ((s, dir) => {
      graft.ops.Clustering.kmeans(emb(s, dir), "embedding", "vec_id",
        k = 8, iters = 2, init = "kmeanspp")
        .assignments
        .select(col("vec_id"), col("cluster_id"), col("sim"))
        .orderBy("vec_id")
    }),

    // One representative per semantic cluster (diversity sampling):
    // the member closest to its centroid, ties to the smallest id —
    // same trained model as q_kmeans, so the oracle replays the same
    // rounds and adds one ranked pick per cluster.
    "q_cluster_medoids" -> ((s, dir) => {
      val m = graft.ops.Clustering.kmeans(emb(s, dir), "embedding",
        "vec_id", k = 8, iters = 3)
      graft.ops.Clustering.medoids(m.assignments, "vec_id")
        .orderBy("cluster_id")
    }),

    // SemDeDup over the planted-near-dup corpus (q_dedup_embed's
    // construction): cluster with 2 Lloyd rounds, then drop the larger
    // id of every intra-cluster pair at rounded cosine >= 0.95 — the
    // mutants (vec_id + 1,000,000) should fall to their originals.
    "q_semdedup" -> ((s, dir) =>
      graft.ops.Clustering.semdedup(embWithAffineMutants(s, dir),
        "embedding", "vec_id", k = 8, iters = 2, threshold = 0.95)
        .orderBy("vec_id")),

    // Hierarchical (tree-routed) k-means — the scale answer to the flat
    // k-cosine assignment once k scales with the corpus (the honest
    // ceiling ScaleProbe's semdedup row exposes): g coarse routing
    // centroids, ceil(k/g) minid fine seeds per reachable group, routed
    // exact-integer Lloyd rounds at g + ceil(k/g) cosines per row. The
    // oracle replays BOTH stages — the coarse kmeansCtes chain, the
    // fixed routing, the per-group seeds, and every routed update — so
    // the hash gate covers the whole tree, not just the projection.
    "q_kmeans_tree" -> ((s, dir) => {
      graft.ops.Clustering.kmeansTree(emb(s, dir), "embedding", "vec_id",
        k = 8, g = 3, iters = 2)
        .assignments
        .select(col("vec_id"), col("cluster_id"), col("sim"))
        .orderBy("vec_id")
    }),

    // SemDeDup under the SCALED-k OPERATING POLICY (Abbas et al.:
    // k ∝ corpus, here ceil(n/16) floored at AutoTreeK+1) with tree
    // routing — the plan you'd actually run at 100×: cluster sizes
    // stay ~constant as the corpus grows, so the within-cluster pair
    // stage grows ~linearly instead of the fixed-k keys' quadratic
    // (their k=8 pin is for oracle simplicity; this key hash-gates the
    // production configuration). k is derived from the non-null-vector
    // count on BOTH sides (the oracle computes it as a scalar subquery
    // — k only enters the tree through the per-group seed count).
    "q_semdedup_scaled" -> ((s, dir) => {
      val e = embWithAffineMutants(s, dir)
      val n = e.filter(col("embedding").isNotNull).count()
      val k = math.max(graft.ops.Clustering.AutoTreeK + 1,
        math.ceil(n / 16.0).toInt)
      graft.ops.Clustering.semdedup(e, "embedding", "vec_id", k = k,
        iters = 2, threshold = 0.95, routing = "tree", treeG = 8)
        .orderBy("vec_id")
    }),

    // SemDeDup under tree routing (routing = "tree", g = 3): identical
    // drop policy to q_semdedup, but assignment goes through the routed
    // kernel — the move that keeps the Abbas et al. scale-k-with-corpus
    // policy affordable (~2·sqrt(k) instead of k cosines per row).
    "q_semdedup_tree" -> ((s, dir) =>
      graft.ops.Clustering.semdedup(embWithAffineMutants(s, dir),
        "embedding", "vec_id", k = 8, iters = 2, threshold = 0.95,
        routing = "tree", treeG = 3)
        .orderBy("vec_id")),

    // Multimodal plumbing: text bytes stand in for media payloads;
    // decode is the deterministic stub (see Multimodal docs). Oracled:
    // DuckDB re-derives the stub's FNV-1a arithmetic from the raw text
    // bytes (HUGEINT mod-2^64 emulation), value-checking the whole
    // binary-column -> mapPartitions -> meta pipeline.
    "q_multimodal_meta" -> ((s, dir) => {
      import s.implicits._
      val media = graft.ops.Multimodal.fromBinaryColumn(
        docs(s, dir), "doc_id", "text", "image")
        .as[graft.ops.Multimodal.MediaRow]
      graft.ops.Multimodal.extractMeta(media).toDF()
        .select(col("media_id"), col("kind"), col("n_bytes"),
          col("width").cast("long"), col("height").cast("long"),
          col("n_frames").cast("long"))
        .orderBy("media_id")
    }),

    // Frame sampling (every 2nd frame of the decode-stub's frame count)
    // with the per-frame 8-dim stub feature vector, unnested to one row
    // per component so the hash gate value-checks every float. The
    // oracle replays the stub end-to-end: payload FNV -> frame count,
    // stride enumeration, then the per-dim FNV chain and the
    // float32(q/1000) quantization.
    "q_media_frames" -> ((s, dir) => {
      import s.implicits._
      val media = graft.ops.Multimodal.fromBinaryColumn(
        docs(s, dir), "doc_id", "text", "video")
        .as[graft.ops.Multimodal.MediaRow]
      graft.ops.Multimodal.frameFeatures(media, stride = 2).toDF()
        .select(col("media_id"), col("frame_id").cast("long"),
          posexplode(col("feature")))
        .select(col("media_id"), col("frame_id"),
          col("pos").cast("long").as("dim"),
          col("col").cast("double").as("value"))
        .orderBy("media_id", "frame_id", "dim")
    }),

    // Container-dispatching media probe: deterministic synthetic
    // payloads with REAL png/gif/wav/mp4 headers around the document
    // bytes; the probe parses the containers map-side. Oracled: DuckDB
    // can't parse binary containers, but it can recompute what the
    // build->parse ROUND TRIP must yield from (doc_id, text) — the
    // synthesis arithmetic mirrored in SQL, so a header-parser bug on
    // either leg breaks the hash match.
    "q_media_probe" -> ((s, dir) => {
      graft.ops.Multimodal.probe(synthMedia(s, dir)).toDF()
        .select(col("media_id"), col("n_bytes"), col("container"),
          col("width").cast("long"), col("height").cast("long"),
          col("channels").cast("long"), col("sample_rate").cast("long"),
          col("bits_per_sample").cast("long"), col("duration_ms"),
          col("brand"))
        .orderBy("media_id")
    }),

    // Resize stage over the synthetic media corpus, value-checked by
    // RE-PROBING the resized payloads: images must read back the target
    // dims with area-scaled byte counts, audio/video must pass through
    // bit-identical. Oracled like q_media_probe — DuckDB recomputes
    // what the build -> resize -> probe chain must yield from
    // (doc_id, text).
    "q_media_resize" -> ((s, dir) => {
      graft.ops.Multimodal.probe(
          graft.ops.Multimodal.resize(synthMedia(s, dir), 64, 48)).toDF()
        .select(col("media_id"), col("n_bytes"), col("container"),
          col("width").cast("long"), col("height").cast("long"),
          col("sample_rate").cast("long"), col("duration_ms"))
        .orderBy("media_id")
    }),

    // Incremental dedup against a persisted band index: the historical
    // corpus is indexed ONCE (a real deployment pays that build once,
    // not per day) under a content-keyed fixture path; each run then
    // times ONLY the daily operation — a small batch of prefix mutants
    // (10% of history) probed against the index without re-hashing
    // history. The union of the historical pairs (landed beside the
    // index at build time) and the daily pairs equals the full-batch
    // minhash pair set (DedupIndexSpec pins the identity, and the
    // DuckDB oracle now value-checks it: the full-batch MinHash replay
    // over the accumulated corpus). Tagged batches make
    // the daily re-run replay-idempotent: the probe excludes the
    // previous run's own tag partitions and the append overwrites
    // exactly them, so every run returns the identical pair set over a
    // pristine history.
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("doc_id") % 2 === 0)
        .select("doc_id", "text")
      val daily = withPrefixMutants(d.filter(lit(false)),
        d.filter(col("doc_id") % 20 === 0))
      val fx = graft.Fixtures.ensure("dedup_idx_v2",
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.Fixtures.contentKey(s"dedup_idx|$dir", d, "doc_id", "text")) { p =>
        graft.ops.DedupIndex.appendAndFindDups(s, d, p + "/idx",
          "text", "doc_id", batchTag = Some("hist"))
          .write.parquet(p + "/hist_pairs")
      }
      val p2 = graft.ops.DedupIndex.appendAndFindDups(s, daily, fx + "/idx",
        "text", "doc_id", batchTag = Some("daily"))
      s.read.parquet(fx + "/hist_pairs").unionByName(p2)
        .orderBy("id_a", "id_b")
    }),

    // Character-level fuzzy-match ground truth: classic Levenshtein
    // between adjacent documents' 40-char prefixes — bounded O(40^2)
    // per pair, the verifier for approximate near-dup candidates when
    // token-level Jaccard is too coarse. Adjacent-id pairing keeps the
    // pair count linear in the corpus (never all-pairs).
    "q_edit_distance" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        substring(col("text"), 1, 40).as("t"))
      d.filter(col("doc_id") % 7 === 0).as("a")
        .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          levenshtein(col("a.t"), col("b.t")).cast("long").as("edit_dist"))
        .orderBy("id_a")
    }),

    // Embedding-cosine near-duplicate detection: original vectors vs a
    // deterministic affine mutant (x*1.1 + 0.01) -- high-cosine pairs.
    "q_dedup_embed" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val corpus = embWithAffineMutants(s, dir)
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("id_a"), col("embedding").as("va"))
      corpus.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
        .crossJoin(broadcast(q))
        .filter(col("id_a") < col("id_b"))
        .withColumn("sim", graft.functions.Rounding.roundHalfUp(
          graft.functions.Expressions.cosine_sim(col("va"), col("vb")), 6))
        .filter(col("sim") >= 0.95)
        .select("id_a", "id_b", "sim")
        .orderBy("id_a", "id_b")
    }),

    // Batch-mode LSH embedding near-dup pairs (EmbedIndex.dupPairs):
    // candidates iff hyperplane buckets differ in <= 1 bit under the
    // 12-bit plane set, capped buckets, precomputed-norm rounded
    // cosine >= 0.95. Scales where q_dedup_embed's broadcast-query
    // brute force cannot: both sides are the full corpus here.
    "q_dedup_embed_lsh" -> ((s, dir) =>
      graft.ops.EmbedIndex.dupPairs(embWithAffineMutants(s, dir),
          "embedding", "vec_id", bits = embIdxBits, threshold = 0.95,
          maxBucket = embIdxMaxBucket)
        .orderBy("id_a", "id_b")),

    // Incremental SEMANTIC dedup against a persisted embedding index
    // (EmbedIndex) — the third member of the incremental trio beside
    // q_dedup_incremental (minhash) and q_exact_substr_incremental
    // (verbatim spans): history is indexed once under a content-keyed
    // fixture, each run times only the daily batch of affine mutants
    // probed against it (tagged, so the re-run is replay-idempotent).
    // Union of the landed historical pairs and the daily probe equals
    // EmbedIndex.dupPairs over the accumulated corpus
    // (EmbedIndexSpec pins the identity; the oracle value-checks both
    // phases).
    "q_dedup_embed_incremental" -> ((s, dir) => {
      val hist = emb(s, dir).select(col("vec_id"), col("embedding"))
      val daily = hist.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          transform(col("embedding"),
            x => (x * lit(1.1) + lit(0.01)).cast("float")).as("embedding"))
      val fx = graft.Fixtures.ensure("embed_idx",
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.Fixtures.contentKey(s"embed_idx|$dir", hist,
            "vec_id", "embedding")) { p =>
        graft.ops.EmbedIndex.appendAndFindDups(s, hist, p + "/idx",
          "embedding", "vec_id", bits = embIdxBits, threshold = 0.95,
          maxBucket = embIdxMaxBucket, batchTag = Some("hist"))
          .write.parquet(p + "/hist_pairs")
      }
      val p2 = graft.ops.EmbedIndex.appendAndFindDups(s, daily, fx + "/idx",
        "embedding", "vec_id", threshold = 0.95,
        maxBucket = embIdxMaxBucket, batchTag = Some("daily"))
      s.read.parquet(fx + "/hist_pairs").unionByName(p2)
        .orderBy("id_a", "id_b")
    }),

    // Exact GLOBAL quantiles without a global sort (Quantiles: histogram
    // pass routes each rank to a bucket, refine pass sorts only the
    // routed buckets). Same answers as percentile()/quantile_cont —
    // the scale path for "exact p99 over 100 TB".
    "q_quantile_2pass" -> ((s, dir) =>
      graft.ops.Quantiles.exactQuantiles(
        Tables.read(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.01, 0.25, 0.5, 0.75, 0.99), bins = 1024)),

    // ONE-pass mergeable quantile sketch (bit-length + top-10-bit
    // prefix buckets — integer-exact on both engines, no log-gamma
    // boundary): the streaming/pre-agg complement to the 2-pass key.
    // rel err <= 2^-10; the oracle replays the sketch bit-for-bit.
    "q_quantile_sketch" -> ((s, dir) =>
      graft.ops.Quantiles.sketchQuantiles(
        Tables.read(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.01, 0.25, 0.5, 0.75, 0.99))),

    // Per-group sketch quantiles ("p99 per key"): all plan-side —
    // per-group walks are windows over the bounded sketch table, no
    // driver collect, no per-group job.
    "q_quantile_sketch_grouped" -> ((s, dir) =>
      graft.ops.Quantiles.groupedSketchQuantiles(
        Tables.read(s, dir, "lineitem"), "l_extendedprice",
        "l_returnflag", Seq(0.25, 0.5, 0.75, 0.99))),

    // Exact per-group quantiles ("exact p99 per key") — the grouped
    // twin of q_quantile_2pass: histogram routing is plan-side (a
    // per-group window over the bounded histogram), the corpus never
    // shuffles for a join (stats/filter sides broadcast), and no
    // driver collect is proportional to group count.
    "q_quantile_grouped_2pass" -> ((s, dir) =>
      graft.ops.Quantiles.groupedExactQuantiles(
        Tables.read(s, dir, "lineitem"), "l_extendedprice",
        "l_returnflag", Seq(0.01, 0.25, 0.5, 0.75, 0.99))),

    // Exact interpolated percentiles per group (sort-based, oracle-able).
    // Scalar p25/p50/p75 columns: the driver's pandas-side hash gate
    // cannot sort array cells, so the quartiles are unnested.
    "q_percentiles" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile(col("l_extendedprice"),
          array(lit(0.25), lit(0.5), lit(0.75))).as("p_raw"))
        .select(col("l_returnflag"),
          graft.functions.Rounding.roundHalfUp(col("p_raw")(0), 4).as("p25"),
          graft.functions.Rounding.roundHalfUp(col("p_raw")(1), 4).as("p50"),
          graft.functions.Rounding.roundHalfUp(col("p_raw")(2), 4).as("p75"))
        .orderBy("l_returnflag")),

    // Near-dup clustering: exact-Jaccard pairs (threshold as an integer
    // comparison, no float edge cases) -> connected components -> every
    // doc labeled with its component's smallest id. The full dedup
    // pipeline shape: candidates -> pairs -> groups -> representatives.
    "q_dedup_components" -> ((s, dir) => {
      val d = clusterDocs(s, dir)
      val pairs = DedupOps.ngramJaccard(d, d, "text", "doc_id")
        .filter(col("inter") * 10 >= col("uni") * 3) // jaccard >= 0.3, exact
      DedupOps.connectedComponents(pairs).orderBy("id")
    }),

    // The same clustering MAINTAINED incrementally: base-base pairs
    // build a persisted label store (fixture-cached), then the
    // mutant-involving pairs arrive as a daily batch that merges and
    // extends components in O(batch + affected members) — the resolved
    // labels must equal the one-shot components over the union (the
    // q_dedup_components oracle verbatim). The daily append replays
    // every invocation under a fixed tag: idempotent by construction.
    "q_dedup_components_incremental" -> ((s, dir) =>
      incrementalLabels(s, dir).orderBy("id")),

    // Connected components on a HIGH-DIAMETER pair graph (7 chains of
    // 31 docs each, the verbatim-overlap-chain shape): large-star /
    // small-star contraction (Kiveris et al.) converges in O(log² n)
    // rounds where min-label propagation needs one round per diameter
    // unit — this graph's diameter 30 already exceeds propagation's
    // default budget.
    "q_dedup_components_star" -> ((s, dir) => {
      val pairs = docs(s, dir).filter(col("doc_id") < 210)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 7).as("id_b"))
      DedupOps.connectedComponentsStar(pairs).orderBy("id")
    }),

    // The apply step against the MAINTAINED store: the corpus keeps one
    // representative per cluster (label == own id) — no pair recompute,
    // no one-shot CC, just an anti-join against the bounded drop set
    // resolved from the label store. Oracle = q_dedup_apply verbatim.
    "q_dedup_apply_incremental" -> ((s, dir) => {
      val d = clusterDocs(s, dir)
      val drop = incrementalLabels(s, dir)
        .filter(col("component") =!= col("id"))
        .select(col("id").as("doc_id"))
      d.join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")
    }),

    // Dedup applied end-to-end: exact-Jaccard pairs -> components ->
    // corpus minus non-representatives (one survivor per cluster).
    "q_dedup_apply" -> ((s, dir) => {
      val d = clusterDocs(s, dir)
      val pairs = DedupOps.ngramJaccard(d, d, "text", "doc_id")
        .filter(col("inter") * 10 >= col("uni") * 3)
      DedupOps.dedupApply(d, pairs, "doc_id")
        .select("doc_id").orderBy("doc_id")
    }),

    // Token-window chunking: fixed-width overlapping windows (width 32,
    // stride 24) — the context-window packing primitive. Map-side only:
    // one Generate per doc, no shuffle.
    "q_chunk_tokens" -> ((s, dir) => {
      val width = 32; val stride = 24
      val toks = split(col("text"), " ")
      docs(s, dir)
        .select(col("doc_id"), posexplode(
          transform(
            sequence(lit(0), floor((size(toks) - 1) / stride).cast("int")),
            i => concat_ws(" ", slice(toks, i * stride + 1, lit(width))))))
        .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
          col("col").as("chunk"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Deterministic hash sampling: a stable ~10% subset selected by pure
    // integer arithmetic on the key — the reproducible train/eval split
    // primitive (engine-portable, unlike rand() or engine hash functions).
    "q_sample_hash" -> ((s, dir) =>
      docs(s, dir)
        .filter(hashMod(col("doc_id"), 100) < 10)
        .select(col("doc_id"), col("lang"), length(col("text")).cast("long")
          .as("n_chars"))
        .orderBy("doc_id")),

    // Stratified sampling: a fixed per-language quota chosen by a
    // portable multiplicative hash — the balanced-corpus draw (one
    // shuffle on the stratum key; quota applied reducer-side).
    "q_sample_stratified" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val h = hashMod(col("doc_id"), 1000000007L)
      docs(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang").orderBy(h, col("doc_id"))).cast("long"))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy("lang", "rn")
    }),

    // Domain mixing: downsample three sources to a 50/30/20 target mix
    // at the largest achievable size (binding source kept whole); the
    // draw is a map-side hash threshold, never a per-source rank.
    "q_domain_mix" -> ((s, dir) =>
      graft.ops.Mixing.downsampleToWeights(docs(s, dir), "source", "doc_id",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Temperature-sampled mixing (mT5/CC-100): target share ∝ n^0.5 —
    // weights derived from the per-source counts, then the identical
    // binding-source hash-threshold draw. α = 0.5 on purpose: sqrt is
    // IEEE-correctly-rounded on every engine, so the oracle's
    // thresholds are bit-identical (general pow has ulp latitude).
    "q_sample_temperature" -> ((s, dir) =>
      graft.ops.Mixing.temperatureSample(docs(s, dir), "source", "doc_id",
        alpha = 0.5)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // General-dyadic-α twin: α = 0.25 = 1/2² routes through the
    // repeated-correctly-rounded-sqrt chain (sqrt(sqrt(n))), so the
    // thresholds stay bit-portable to the oracle — the flatter mix
    // (stronger upsampling of rare sources) the 0.3-ish α range of
    // mT5 configs asks for, with none of pow's ulp latitude.
    "q_sample_temp25" -> ((s, dir) =>
      graft.ops.Mixing.temperatureSample(docs(s, dir), "source", "doc_id",
        alpha = 0.25)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // Token-budget curation: per language, the greedy
    // (quality desc, id) prefix whose running token sum fits a 2000-
    // token budget — computed as a histogram-threshold two-pass (one
    // groups×bins exchange + a window over ONLY the boundary bin), not
    // the naive per-group window that funnels each language through
    // one sorted task. Oracle replays the naive window; MixingSpec
    // pins the two-pass ≡ naive equality structurally. naiveBelow = 0
    // FORCES the two-pass here so the graded artifact pins the scale
    // plan (PlanSpec asserts the boundary-bin window); the production
    // default auto-routes small inputs through the naive window below
    // the single-task sort bound — same rows, same hash, either way.
    "q_token_budget" -> ((s, dir) => {
      val q = TextOps.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens").cast("long").as("n_tokens"))
      graft.ops.Mixing.selectToBudget(q, "lang", "quality", "n_tokens",
          "doc_id", budget = 2000L, naiveBelow = 0L)
        .orderBy("doc_id")
    }),

    // Card-number PII: maximal 13-19-digit runs validated by the Luhn
    // checksum (a non-regular property no regex family can express) —
    // planted deterministically: a VALID number on doc_id % 6, an
    // invalid same-shape number on % 8, a 20-digit non-candidate run
    // on % 9; the oracle replays the synthesis and the checksum.
    "q_pii_cards" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val synth = d
        .withColumn("text", when(col("doc_id") % 6 === 0,
          concat(col("text"), lit(" pay 4111111111111111 now")))
          .otherwise(col("text")))
        .withColumn("text", when(col("doc_id") % 8 === 0,
          concat(col("text"), lit(" ref 4111111111111112 logged")))
          .otherwise(col("text")))
        .withColumn("text", when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(" tsid 12345678901234567890 x")))
          .otherwise(col("text")))
      TextOps.cardSignals(synth, "text")
        .select(col("doc_id"), col("n_card_candidates"),
          col("n_luhn_valid"))
        .orderBy("doc_id")
    }),

    // Novelty scoring over the mutant corpus: the planted 80%-prefix
    // mutants (doc_id + 1,000,000, always LATER than their source)
    // must score ~0 novelty while their sources keep their fresh
    // grams — the contribution signal that catches copies without
    // pair mining.
    "q_novelty" -> ((s, dir) =>
      DedupOps.noveltyScore(docsWithMutantsPar(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Novelty MAINTAINED incrementally over the persisted gram-
    // attribution store (NoveltyIndex): history = the original docs,
    // daily batch = the mutants (always later ids — the id-monotone
    // regime where per-batch "novelty at arrival" concatenates to the
    // one-shot answer exactly). The oracle is q_novelty's VERBATIM
    // one-shot SQL: the strongest possible pin on the incremental
    // path. The win being graded: the daily batch probes O(batch)
    // gram hashes against the pruned store; history is never re-read.
    "q_novelty_incremental" -> ((s, dir) => {
      val all = docsWithMutants(s, dir)
      val b1 = all.filter(col("doc_id") < 1000000L)
      val fx = graft.Fixtures.ensure("novelty_nidx",
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.Fixtures.contentKey(s"novelty_nidx|$dir", all,
            "doc_id", "text")) { p =>
        graft.ops.NoveltyIndex.appendAndScore(s, b1, p + "/idx",
            "text", "doc_id", batchTag = Some("hist"))
          .write.parquet(p + "/hist_scores")
      }
      val daily = graft.ops.NoveltyIndex.appendAndScore(s,
        all.filter(col("doc_id") >= 1000000L), fx + "/idx",
        "text", "doc_id", batchTag = Some("daily"))
      s.read.parquet(fx + "/hist_scores").unionByName(daily)
        .orderBy("doc_id")
    }),

    // Leakage-free splits: train/val/test assignment by DEDUP CLUSTER
    // (the q_dedup_components pair derivation), so the planted mutants
    // and their originals always land in the SAME split — a per-doc
    // hash split would let near-dups straddle the train/test boundary
    // and the eval would score memorization. Singletons label
    // themselves; the hash draw runs on the label.
    "q_split_leakfree" -> ((s, dir) => {
      val d = clusterDocs(s, dir)
      val pairs = DedupOps.ngramJaccard(d, d, "text", "doc_id")
        .filter(col("inter") * 10 >= col("uni") * 3)
      DedupOps.leakFreeSplit(d, pairs, "doc_id")
        .select(col("doc_id"), col("group_id"), col("bucket"),
          col("split"))
        .orderBy("doc_id")
    }),

    // The leak-free split MAINTAINED incrementally: cluster labels
    // resolve from the persisted ComponentsIndex min-lattice store
    // (base-base pairs build it once, the mutant batch accretes it —
    // the q_dedup_components_incremental state) instead of re-running
    // components over the accumulated pair history; the hash draw on
    // the label is unchanged. Store-resolved labels equal the one-shot
    // fold over ALL pairs (the ComponentsIndex union identity), so the
    // oracle is q_split_leakfree's SQL VERBATIM. Stability: a doc's
    // split moves only when its own cluster merges downward, and then
    // the whole cluster moves together (leakFreeSplitLabeled scaladoc;
    // DedupOpsSpec pins both properties).
    "q_split_leakfree_incremental" -> ((s, dir) =>
      DedupOps.leakFreeSplitLabeled(clusterDocs(s, dir),
          incrementalLabels(s, dir), "doc_id")
        .select(col("doc_id"), col("group_id"), col("bucket"),
          col("split"))
        .orderBy("doc_id")),

    // Fuzzy decontamination: (doc, benchmark) pairs at w-gram Jaccard
    // >= 0.3 — catches REPHRASED eval leakage the binary any-shingle
    // scan over-/under-fires on. Benchmark synthesized as the 60%
    // prefix of every 25th doc (bench_id = doc_id + 5,000,000), so
    // each benchmark doc is a planted near-copy of its source; the
    // oracle replays the synthesis and the exact distinct-shingle
    // Jaccard.
    "q_decontam_fuzzy" -> ((s, dir) => {
      val d = docsPar(s, dir).filter(col("text").isNotNull)
      val toks = split(col("text"), " ")
      val bench = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + lit(5000000L)).as("bench_id"),
          concat_ws(" ", slice(toks, lit(1),
            greatest(floor((size(toks) * 3) / 5).cast("int"), lit(3))))
            .as("text"))
      DedupOps.fuzzyContamination(d, bench, "text", "doc_id", "bench_id",
          w = 3, threshold = 0.3)
        .orderBy("doc_id", "bench_id")
    }),

    // Per-group token budgets (the balanced-mixing form: each language
    // fills ITS OWN budget with its best docs): same two-pass
    // histogram-threshold machinery, per-group boundaries. Static
    // budgets here so the oracle can embed them as a CASE; production
    // derives them from a global target with Mixing.waterFill
    // (spec-pinned driver math).
    "q_token_budget_grouped" -> ((s, dir) => {
      val q = TextOps.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens").cast("long").as("n_tokens"))
      graft.ops.Mixing.selectToBudgets(q, "lang", "quality", "n_tokens",
          "doc_id",
          budgets = Map("en" -> 2500L, "de" -> 1200L, "fr" -> 800L),
          naiveBelow = 0L)
        .orderBy("doc_id")
    }),

    // The waterFill composition GRADED: per-group budgets derived from
    // ONE global token target (18,000) by exact-integer water-filling
    // over the measured per-lang supply, then the same per-group
    // selection. At sf0.01 the target exercises BOTH interesting
    // paths: 'de' caps below the even share in pass 1, and the final
    // distribution leaves a 3-token remainder that goes to the
    // lexicographically first remaining langs — the oracle replays the
    // pass-by-pass arithmetic with window functions (integer division,
    // so the replay is exact on any engine).
    "q_token_budget_waterfill" -> ((s, dir) => {
      val q = TextOps.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens").cast("long").as("n_tokens"))
      graft.ops.Mixing.selectToBudgetWaterFill(q, "lang", "quality",
          "n_tokens", "doc_id", total = waterfillTotal, naiveBelow = 0L)
        .orderBy("doc_id")
    }),

    // Quality-classifier training AT SCALE (the fastText/GPT-3-style
    // learned filter): 3 rounds of full-batch logistic-regression
    // gradient descent — each round ONE partial-aggregated exchange of
    // d+1 doubles, corpus never collected — then a map-side scoring
    // pass. Target: lang == 'en' from the qualityScore feature triple
    // (length saturation, EN-stopword density, punctuation density) —
    // the stopword feature separates the target, so the fit must find
    // it. The oracle replays the entire weight trajectory (rounded
    // mean gradients, dyadic lr) with chained one-row CTEs.
    "q_quality_classifier" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq)
        .select(col("doc_id"), col("y"), col("p"),
          (col("p") >= 0.5).as("pred"))
        .orderBy("doc_id")
    }),

    // The L2-REGULARIZED fit (ridge logistic regression) under the
    // hash gate: each non-bias gradient gains the re-rounded lambda*w
    // term (lambda = 0.25, dyadic, so the product is bit-portable),
    // walking a visibly shrunken but still-separating trajectory —
    // the oracle's update CTEs replay the regularizer term for term.
    "q_quality_classifier_l2" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = graft.ops.Classifier.fitLogistic(feats,
        graft.ops.Classifier.textFeatureCols, "y", iters = 3, lr = 0.5,
        l2 = 0.25)
      graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq)
        .select(col("doc_id"), col("y"), col("p"),
          (col("p") >= 0.5).as("pred"))
        .orderBy("doc_id")
    }),

    // Threshold CALIBRATION for the trained classifier — the exact
    // precision/recall curve of "keep iff score >= thr" at every
    // distinct score. Scale shape: 6dp scores bound the groupBy
    // exchange at 10^6+1 rows at ANY corpus size, and the cumulative
    // window runs over that bounded aggregate — never a corpus sort.
    "q_pr_curve" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.prCurve(
        graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq), "p", "y")
        .orderBy("thr")
    }),

    // Epoch-replication mixing (the GPT-3 mixture-table shape: each
    // source makes `epochs` passes, fractional part = deterministic
    // per-doc draw): en 2.3 epochs, de 1.0, fr 0.5; es/zh absent ->
    // dropped. One map-side explode — no exchange, no driver data.
    "q_mix_epochs" -> ((s, dir) =>
      graft.ops.Mixing.replicateEpochs(
          docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
          Map("en" -> 230, "de" -> 100, "fr" -> 50))
        .orderBy("doc_id", "epoch")),

    // The epoch-aware mixture END-TO-END (the GPT-3 §2.2 mixture
    // table composed from its two graded halves): water-fill the
    // global token target across languages, select each language's
    // best documents to its derived budget
    // (selectToBudgetWaterFill), then REPLICATE the selected set by
    // per-source epoch counts (replicateEpochs) to assemble the
    // training mix. Scale shape: the selection's exchanges are the
    // two-pass histogram + boundary-bin window (groups×bins-bounded);
    // the replication explode stays MAP-SIDE on the selected rows —
    // zero exchanges added before the presentation sort (PlanSpec
    // pins the budget).
    "q_mix_budget_epochs" -> ((s, dir) => {
      val q = TextOps.qualityScore(docs(s, dir), "text")
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens").cast("long").as("n_tokens"))
      val sel = graft.ops.Mixing.selectToBudgetWaterFill(q, "lang",
        "quality", "n_tokens", "doc_id", total = waterfillTotal,
        naiveBelow = 0L)
      graft.ops.Mixing.replicateEpochs(sel, "lang", "doc_id",
          mixBudgetEpochsPct)
        .orderBy("doc_id", "epoch")
    }),

    // Exact ROC AUC of the trained classifier (Mann-Whitney with
    // tie-averaged ranks) — computed from the same bounded per-score
    // aggregate as the PR curve; rank sums are exact halves so the
    // only rounding is the final 6dp division.
    "q_roc_auc" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.rocAuc(
        graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq), "p", "y")
    }),

    // GROUPED calibration — the multi-source monitoring shape: the
    // same frozen classifier's curve/AUC/ECE PER ingestion shard
    // (doc_id % 4), because aggregate honesty can hide per-source
    // drift. Windows partition on the shard, so each group's
    // cumulative pass is its own task — groups x bounded-aggregate
    // rows, never a global sort.
    "q_pr_curve_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.prCurveBy(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq)
            .withColumn("shard", col("doc_id") % 4),
          "shard", "p", "y")
        .orderBy("shard", "thr")
    }),

    "q_roc_auc_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.rocAucBy(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq)
            .withColumn("shard", col("doc_id") % 4),
          "shard", "p", "y")
        .orderBy("shard")
    }),

    "q_ece_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.calibrationErrorBy(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq)
            .withColumn("shard", col("doc_id") % 4),
          "shard", "p", "y")
        .orderBy("shard")
    }),

    // Reliability diagram — the per-bin drill-down ECE summarizes:
    // which confidence region went dishonest, with the signed gap
    // (accuracy - confidence). All-integer numerators on the score
    // lattice; runs on the bounded per-score aggregate. 100 bins
    // (dashboard resolution — the 3-iter fit's scores sit in a tight
    // band, so 10 ECE-width bins would collapse the key to one row).
    "q_reliability" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.reliability(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq), "p", "y",
          bins = 100)
        .orderBy("bin")
    }),

    // Operating-point selection: the F1-maximizing threshold over the
    // exact confusion counts — the number a deploy loop freezes into
    // the funnel gate. Ties in rounded F1 break toward the LARGER
    // threshold (the conservative gate), a rule both engines replay.
    "q_threshold_f1" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.bestThreshold(
        graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq), "p", "y")
    }),

    // Score-distribution drift (PSI) between two ingestion windows of
    // the same deployed filter — the LABEL-FREE population monitor:
    // even doc_ids as the reference window, odd as the current. Each
    // side reduces to its bounded score histogram; the 10-bin fold
    // sums 1e-9-quantized longs (order-independent).
    "q_drift_psi" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      val scored = graft.ops.Classifier.scoreLogistic(feats,
        graft.ops.Classifier.textFeatureCols, w.toSeq)
      graft.ops.Classifier.scoreDrift(
        scored.filter(col("doc_id") % 2 === 0),
        scored.filter(col("doc_id") % 2 =!= 0), "p")
    }),

    // Kolmogorov-Smirnov drift between the same two windows — the
    // binning-free two-sample test PSI approximates: the exact
    // sup-CDF-gap over the merged bounded aggregate, all-integer
    // numerators, no smoothing. The production pairing: KS for the
    // alarm (distribution-free), PSI for the magnitude convention.
    "q_drift_ks" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      val scored = graft.ops.Classifier.scoreLogistic(feats,
        graft.ops.Classifier.textFeatureCols, w.toSeq)
      graft.ops.Classifier.scoreDriftKs(
        scored.filter(col("doc_id") % 2 === 0),
        scored.filter(col("doc_id") % 2 =!= 0), "p")
    }),

    // ... and the same statistic from the accreted store's hist/daily
    // tag windows (the doc-parity halves) — oracle shared verbatim.
    "q_drift_ks_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.driftKs(s, calibFixture(s, dir) + "/idx",
        Seq("hist"), Seq("daily"))),

    // The whole dashboard row in ONE store read: per-window AUC,
    // current-window ECE + Brier, and both drift statistics between
    // the hist/daily tag windows, as long-format (metric, value) —
    // the read an alert rule actually runs. Pure unions of bounded
    // folds; no joins.
    "q_monitor_report" -> ((s, dir) =>
      graft.ops.CalibrationIndex.monitorReport(s,
          calibFixture(s, dir) + "/idx", Seq("hist"), Seq("daily"))
        .orderBy("metric")),

    // PER-SOURCE drift: PSI within each ingestion shard (doc_id % 4),
    // windows split by (doc_id % 8 < 4) so every shard holds both
    // windows — an aggregate PSI can read stable while one source
    // quietly moved. The bin spine is shards x 10 rows; windows
    // partition on the shard.
    "q_drift_psi_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      val scored = graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq)
        .withColumn("shard", col("doc_id") % 4)
      graft.ops.Classifier.scoreDriftBy(
          scored.filter(col("doc_id") % 8 < 4),
          scored.filter(col("doc_id") % 8 >= 4), "shard", "p")
        .orderBy("shard")
    }),

    // Per-source operating points: each ingestion shard gets its own
    // F1-optimal gate threshold — one global minP over-filters the
    // shard whose score distribution sits low.
    "q_threshold_f1_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.bestThresholdBy(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq)
            .withColumn("shard", col("doc_id") % 4),
          "shard", "p", "y")
        .orderBy("shard")
    }),

    // Per-source KS between the same two windows as the grouped PSI —
    // the distribution-free alarm, per shard.
    "q_drift_ks_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      val scored = graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq)
        .withColumn("shard", col("doc_id") % 4)
      graft.ops.Classifier.scoreDriftKsBy(
          scored.filter(col("doc_id") % 8 < 4),
          scored.filter(col("doc_id") % 8 >= 4), "shard", "p")
        .orderBy("shard")
    }),

    // Champion/challenger (shadow-mode) evaluation — the deploy-loop
    // step BEFORE swapping filters: two frozen model versions (the
    // 2-round fit and its 3-round successor — GD trajectories are
    // deterministic, so the shorter fit IS the prefix) score the same
    // corpus, and per-model exact AUC ranks them side by side on one
    // bounded grouped aggregate.
    "q_filter_ab" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val cols = graft.ops.Classifier.textFeatureCols
      val w2 = championWeights(s, dir)
      val w3 = classifierWeights(s, dir)
      graft.ops.Classifier.rocAucBy(
          graft.ops.Classifier.scoreLogistic(feats, cols, w2.toSeq)
            .withColumn("model", lit("champion_2r"))
            .unionByName(
              graft.ops.Classifier.scoreLogistic(feats, cols, w3.toSeq)
                .withColumn("model", lit("challenger_3r"))),
          "model", "p", "y")
        .orderBy("model")
    }),

    // The PROMOTION rule closing the champion/challenger loop: the
    // model with the higher exact AUC wins; ties break toward the
    // lexicographically first model name (replayable — both engines
    // walk the same total order). One row — the model a deploy step
    // freezes next.
    "q_ab_promote" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val cols = graft.ops.Classifier.textFeatureCols
      val w2 = championWeights(s, dir)
      val w3 = classifierWeights(s, dir)
      graft.ops.Classifier.rocAucBy(
          graft.ops.Classifier.scoreLogistic(feats, cols, w2.toSeq)
            .withColumn("model", lit("champion_2r"))
            .unionByName(
              graft.ops.Classifier.scoreLogistic(feats, cols, w3.toSeq)
                .withColumn("model", lit("challenger_3r"))),
          "model", "p", "y")
        .orderBy(col("auc").desc_nulls_last, col("model"))
        .limit(1) // 2-row sort — the grouped fold is still bounded
    }),

    // ... and the promotion ACTUATED: the winning model (argmax AUC,
    // the q_ab_promote rule) is re-frozen into the gate at ITS
    // F1-optimal operating point — the full swap a deploy loop
    // executes after a shadow-mode A/B. Every driver-side collect is
    // bounded (2 AUC rows, 1 threshold row); the gate is map-side.
    "q_promote_gate" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val cols = graft.ops.Classifier.textFeatureCols
      val w2 = championWeights(s, dir)
      val w3 = classifierWeights(s, dir)
      val winner = graft.ops.Classifier.rocAucBy(
          graft.ops.Classifier.scoreLogistic(feats, cols, w2.toSeq)
            .withColumn("model", lit("champion_2r"))
            .unionByName(
              graft.ops.Classifier.scoreLogistic(feats, cols, w3.toSeq)
                .withColumn("model", lit("challenger_3r"))),
          "model", "p", "y")
        .orderBy(col("auc").desc_nulls_last, col("model"))
        .select("model").head().getString(0)
      val wWin = if (winner == "challenger_3r") w3.toSeq else w2.toSeq
      val scored = graft.ops.Classifier.scoreLogistic(feats, cols, wWin)
      val minP = graft.ops.Classifier.bestThreshold(scored, "p", "y")
        .select("thr").head().getDouble(0)
      scored.filter(col("p") >= lit(minP))
        .select(col("doc_id"), lit(winner).as("model"), col("y"),
          col("p"))
        .orderBy("doc_id")
    }),

    // DEPLOY-LOOP ACTUATION — the arrow the monitoring store exists
    // for: read the F1-optimal operating point from the ACCRETED
    // calibration store (batch evidence, never a corpus re-scan),
    // freeze that threshold as the gate's new minP, re-gate the
    // scored corpus, and pin the keep set. The threshold collect is
    // ONE bounded row (the q_curate_full quantile stance); the gate
    // itself is a map-side filter against the frozen literal.
    "q_recalibrate_gate" -> ((s, dir) => {
      val fx = calibFixture(s, dir)
      val newMinP = graft.ops.CalibrationIndex
        .bestThreshold(s, fx + "/idx")
        .select("thr").head().getDouble(0)
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq)
        .filter(col("p") >= lit(newMinP))
        .select(col("doc_id"), col("y"), col("p"))
        .orderBy("doc_id")
    }),

    // ... and the actuation's MULTI-SOURCE twin: each ingestion shard
    // re-freezes its OWN gate at its store-measured operating point
    // (one global minP over-filters the source whose score
    // distribution sits low — the bestThresholdBy rationale, actuated).
    // The per-source thresholds are a groups-bounded frame BROADCAST
    // to the scored corpus; the gate itself stays map-side.
    "q_recalibrate_gate_grouped" -> ((s, dir) => {
      val fx = calibFixtureBy(s, dir)
      val thr = graft.ops.CalibrationIndex
        .bestThresholdBy(s, fx + "/idx", "shard")
        .select(col("shard"), col("thr").as("min_p"))
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq)
        .withColumn("shard", col("doc_id") % 4)
        .join(broadcast(thr), Seq("shard"))
        .filter(col("p") >= col("min_p"))
        .select(col("doc_id"), col("shard"), col("y"), col("p"))
        .orderBy("doc_id")
    }),

    // Per-source Brier / reliability — the remaining one-shot grouped
    // monitoring metrics (same exact-integer folds, partitioned on
    // the ingestion shard).
    "q_brier_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.brierScoreBy(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq)
            .withColumn("shard", col("doc_id") % 4),
          "shard", "p", "y")
        .orderBy("shard")
    }),

    "q_reliability_grouped" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.reliabilityBy(
          graft.ops.Classifier.scoreLogistic(feats,
            graft.ops.Classifier.textFeatureCols, w.toSeq)
            .withColumn("shard", col("doc_id") % 4),
          "shard", "p", "y", bins = 100)
        .orderBy("shard", "bin")
    }),

    // The same three reads over the ACCRETED CalibrationIndex store
    // (hist = even doc_ids, daily = odd): reliability and threshold
    // fold the whole store (oracles shared verbatim — the monoid
    // identity); drift compares the two TAG WINDOWS, pruned by the
    // store's batch_tag partitioning — so the one-shot PSI between
    // the corpus halves reproduces exactly from the store without
    // re-scanning a scored row.
    "q_reliability_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.reliability(s,
          calibFixture(s, dir) + "/idx", bins = 100)
        .orderBy("bin")),

    "q_threshold_f1_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.bestThreshold(s,
        calibFixture(s, dir) + "/idx")),

    "q_drift_psi_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.drift(s, calibFixture(s, dir) + "/idx",
        Seq("hist"), Seq("daily"))),

    // INCREMENTAL PER-SOURCE monitoring: the grouped monoid accreted
    // per batch in the grouped CalibrationIndex store (batches x
    // shards x bounded rows); every grouped metric — curve, AUC, ECE,
    // and the hist-vs-daily window drift — derives on read, equal to
    // its one-shot grouped twin (oracles shared VERBATIM).
    "q_pr_curve_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.prCurveBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard")
        .orderBy("shard", "thr")),

    "q_roc_auc_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.rocAucBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard")
        .orderBy("shard")),

    "q_ece_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.eceBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard")
        .orderBy("shard")),

    "q_drift_psi_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.driftBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard",
          Seq("hist"), Seq("daily"))
        .orderBy("shard")),

    // ... and the COMPLETE grouped read surface over the same store:
    // per-source operating points (the multi-source recalibration
    // read), per-source KS between the tag windows, per-source Brier
    // and reliability — each identical to its one-shot grouped twin
    // (oracles shared VERBATIM; the grouped monoid fold on read).
    "q_threshold_f1_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.bestThresholdBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard")
        .orderBy("shard")),

    "q_drift_ks_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.driftKsBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard",
          Seq("hist"), Seq("daily"))
        .orderBy("shard")),

    "q_brier_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.brierBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard")
        .orderBy("shard")),

    "q_reliability_grouped_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.reliabilityBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard", bins = 100)
        .orderBy("shard", "bin")),

    // The per-source DASHBOARD in one store read: monitorReport's
    // grouped twin — one row per (shard, metric), the six-metric
    // union with every fold partitioned on the shard and the two
    // grouped window folds pinned once.
    "q_monitor_report_grouped" -> ((s, dir) =>
      graft.ops.CalibrationIndex.monitorReportBy(s,
          calibFixtureBy(s, dir) + "/idx", "shard",
          Seq("hist"), Seq("daily"))
        .orderBy("shard", "metric")),

    // INCREMENTAL calibration monitoring: the per-score aggregate is
    // an additive monoid, so per-batch aggregates accreted in a
    // persisted CalibrationIndex store fold on read to exactly the
    // one-shot curve — the oracle is q_pr_curve's SQL VERBATIM. Two
    // "daily" batches (doc_id parity) land via the tag-idempotent
    // append; the curve derives from the accumulated store without
    // re-scanning a scored row.
    "q_pr_curve_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.prCurve(s, calibFixture(s, dir) + "/idx")
        .orderBy("thr")),

    // The AUC read over the same accreted store — q_roc_auc's SQL
    // verbatim (the monoid-fold + Mann-Whitney tail on read).
    "q_roc_auc_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.rocAuc(s, calibFixture(s, dir) + "/idx")),

    // Expected calibration error (Guo et al. 2017) of the trained
    // classifier: 10 equal-width confidence bins over the bounded
    // per-score aggregate, ECE = sum_b (n_b/N)|acc_b - conf_b| — the
    // per-bin numerators are EXACT integers on the 1e-6 score lattice
    // (|pos_b*10^6 - sum(n*k)_b|), so the only float ops are one
    // division and the 6dp rounding.
    "q_ece" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.calibrationError(
        graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq), "p", "y")
    }),

    // Brier score (mean squared probability error) — the proper
    // scoring rule complementing AUC (ranking) and ECE (honesty);
    // derived from the same aggregate with all-integer sums over the
    // score lattice (decimal-exact to ~10^26 rows).
    "q_brier" -> ((s, dir) => {
      val feats = classifierFeats(s, dir)
      val w = classifierWeights(s, dir)
      graft.ops.Classifier.brierScore(
        graft.ops.Classifier.scoreLogistic(feats,
          graft.ops.Classifier.textFeatureCols, w.toSeq), "p", "y")
    }),

    // ECE / Brier read from the accreted calibration store — the
    // monitoring metrics derive from the same monoid fold, oracles
    // shared verbatim with the one-shot keys.
    "q_ece_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.ece(s, calibFixture(s, dir) + "/idx")),

    "q_brier_incremental" -> ((s, dir) =>
      graft.ops.CalibrationIndex.brier(s, calibFixture(s, dir) + "/idx")),

    // DSIR importance resampling (Xie et al. 2023): score every doc by
    // the log-ratio of its hashed-unigram bag under a TARGET corpus
    // (docs with doc_id % 10 == 0 — a deterministic "domain sample")
    // vs the RAW corpus, keep the top half by the exact-quantile
    // threshold. Portable polynomial bucket hash so the oracle replays
    // feature assignment bit-for-bit; threshold replayed as
    // quantile_cont over the rounded weights.
    "q_dsir" -> ((s, dir) => {
      val raw = docs(s, dir)
      val target = raw.filter(col("doc_id") % 10 === 0)
      graft.ops.Mixing.importanceResample(raw, target, "text", "doc_id",
          frac = 0.5, buckets = 256, addK = 0.5, portable = true)
        .orderBy("doc_id")
    }),

    // Context-window sequence packing: docs laid end-to-end into
    // 512-token bins across 8 hash shards (per-shard running sums; one
    // exchange).
    "q_pack_sequences" -> ((s, dir) =>
      TextOps.packSequences(docs(s, dir), "text", "doc_id",
        capacity = 512, shards = 8)
        .select(col("doc_id"), col("shard"), col("n_tokens"), col("bin"),
          col("offset"))
        .orderBy("doc_id")),

    // Deterministic 3-way train/val/test split: 80/10/10 by the same
    // portable multiplicative hash — every engine (and every re-run)
    // assigns each doc to the same split. Map-side only.
    "q_split_assign" -> ((s, dir) => {
      val b = hashMod(col("doc_id"), 100)
      docs(s, dir)
        .withColumn("bucket", b)
        .withColumn("split",
          when(b < 80, "train").when(b < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy("doc_id")
    }),

    // Canonical-URL dedup: crawl URLs normalized map-side (scheme/query/
    // fragment stripped, host lower-cased, www. dropped), then one
    // window exchange keeps the best doc per canonical URL (longest,
    // tie-break smallest doc_id). The URL column is synthesized
    // deterministically from doc_id (documents carries no url field);
    // the oracle rebuilds the same URLs and the same normalization.
    "q_url_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val k = col("doc_id")
      val url = concat(
        when(k % 2 === 0, lit("https://")).otherwise(lit("http://")),
        when(k % 3 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), (k % 7).cast("string"), lit(".com/page/"),
        (k % 40).cast("string"),
        when(k % 4 === 0, lit("?utm_source=feed")).otherwise(lit("")),
        when(k % 5 === 0, lit("#frag")).otherwise(lit("")))
      docs(s, dir)
        .withColumn("canon_url", TextOps.canonicalUrl(url))
        .withColumn("rk", row_number().over(
          Window.partitionBy("canon_url")
            .orderBy(col("n_chars").desc, col("doc_id"))))
        .filter(col("rk") === 1)
        .select(col("canon_url"), col("doc_id"), col("n_chars"))
        .orderBy("canon_url")
    }),

    // Unigram log-probability quality score (perplexity proxy).
    "q_unigram_logprob" -> ((s, dir) =>
      TextOps.unigramLogProb(docs(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // CCNet-style perplexity filtering: in-corpus bigram LM with add-k
    // smoothing, per-language head/middle/tail tercile buckets.
    "q_perplexity" -> ((s, dir) =>
      TextOps.perplexityFilter(docs(s, dir), "text", "doc_id", "lang")
        .select("doc_id", "lang", "n_bigrams", "ppl", "bucket")
        .orderBy("doc_id")),

    // Text cleaning: lowercase, strip punctuation, collapse whitespace —
    // the standard pre-tokenization normalization pass (map-side only).
    "q_text_clean" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("cleaned",
          trim(regexp_replace(
            regexp_replace(lower(col("text")), "[.,!?;:'\"()]", ""),
            "\\s+", " ")))
        .select(col("doc_id"), col("cleaned"),
          (col("cleaned") =!= lower(col("text"))).as("changed"))
        .orderBy("doc_id")),

    // Benchmark decontamination: distinct 3-gram overlap between the
    // corpus (doc_id % 50 != 0) and a held-out "benchmark" slice —
    // 8-byte shingle hashes shuffle, never text; bench side broadcasts.
    "q_decontaminate" -> ((s, dir) => {
      val d = docsPar(s, dir)
      DedupOps.contaminationScan(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0), "text", "doc_id", w = 3)
        .orderBy("doc_id")
    }),

    // Multi-benchmark contamination matrix: which of the eval suite's
    // THREE benchmarks (the held-out slice sharded by doc_id % 3)
    // does each corpus doc leak into, in ONE corpus pass — with the
    // collision-proof exact recount on. The benchmark side is
    // (bench, hash) rows over the whole suite, still broadcast-sized.
    "q_decontam_matrix" -> ((s, dir) => {
      val d = docsPar(s, dir)
      DedupOps.contaminationMatrix(
          d.filter(col("doc_id") % 50 =!= 0),
          d.filter(col("doc_id") % 50 === 0)
            .withColumn("bench", col("doc_id") % 3),
          "text", "doc_id", "bench", w = 3, exactRecount = true)
        .orderBy("doc_id", "bench")
    }),

    // End-to-end curation funnel — the training-data pipeline's stages
    // composed: quality gate (>= 0.3) -> canonical exact dedup ->
    // benchmark decontamination (3-gram overlap with the held-out
    // slice) -> deterministic 50% hash draw. Every stage is the
    // already-verified operator; the key locks their composition.
    // Scale shape: quality is map-side; dedup shuffles a digest; the
    // contamination check shuffles shingle hashes with the benchmark
    // side broadcast; the sample is a map-side filter — document text
    // never shuffles end to end.
    "q_curate" -> ((s, dir) => {
      val all = docs(s, dir)
      val corpus = all.filter(col("doc_id") % 50 =!= 0)
      val bench = all.filter(col("doc_id") % 50 === 0)
      val q = TextOps.qualityScore(corpus, "text").filter(col("quality") >= 0.3)
      // canonical exact dedup in ONE pass: rank by doc_id within the
      // text-digest group and keep the smallest — the same keep-set as
      // exactDupGroups' min(doc_id) representative, but the quality
      // stage is not re-evaluated for a second groupBy branch and the
      // one digest exchange replaces the groupBy + semi-join pair
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
      val deduped = q.withColumn("_rk", row_number().over(wd))
        .filter(col("_rk") === 1).drop("_rk")
      val contaminated = DedupOps
        .contaminationScan(deduped, bench, "text", "doc_id", w = 3,
          exactRecount = true)
        .select("doc_id")
      deduped.join(contaminated, Seq("doc_id"), "left_anti")
        .filter(hashMod(col("doc_id"), 100) < 50)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy("doc_id")
    }),

    // The curation funnel MAINTAINED incrementally: quality-passing
    // batches accrete the persisted digest store (only passers enter),
    // representatives resolve from the store's order-free min fold —
    // the SAME keep set as q_curate's one-shot window, any batch order
    // — then the decontamination scan and the hash draw run unchanged.
    // The incremental win: a daily batch re-runs quality map-side and
    // probes O(batch) digests; history is never re-read.
    "q_curate_incremental" -> ((s, dir) =>
      curateIncrementalFunnel(s, dir)
        .select(col("doc_id"), col("lang"), col("quality"))
        .orderBy("doc_id")),

    // The INCREMENTAL capstone: the daily-increment funnel (digest-
    // store dedup, O(batch) probe) feeding the SAME mix + pack tail
    // as q_pipeline_full — the production pipeline's steady state,
    // where each day's curated increment re-derives the mixture
    // against the accumulated corpus and packs the training shard.
    // The funnel carries lang natively (raw-text curation), so the
    // mix stage needs no join at all; text never enters the mix/pack
    // exchanges.
    "q_pipeline_incremental" -> ((s, dir) => {
      // the funnel result arrives checkpointed (see
      // [[curateIncrementalFunnel]]) — the selection's supply/2-pass/
      // gate re-scans read that pinned frame directly; a second
      // checkpoint here would just copy it
      val surv = curateIncrementalFunnel(s, dir)
        .filter(col("lang").isNotNull)
        .select(col("doc_id"), col("lang"), col("quality"),
          col("n_tokens"))
      val sel = graft.ops.Mixing.selectToBudgetWaterFill(surv,
        "lang", "quality", "n_tokens", "doc_id",
        total = pipelineIncTokenTarget, naiveBelow = 0L)
      val mixed = graft.ops.Mixing.replicateEpochs(sel, "lang",
        "doc_id", mixBudgetEpochsPct)
      val items = mixed.withColumn("item_id",
        col("doc_id") * lit(100L) + col("epoch"))
      TextOps.packSequencesByTokens(items, "n_tokens", "item_id",
          capacity = 512, shards = 8)
        .select(
          floor(col("item_id") / lit(100L)).cast("long").as("doc_id"),
          (col("item_id") % lit(100L)).cast("int").as("epoch"),
          col("n_tokens"), col("shard"), col("bin"), col("offset"))
        .orderBy("doc_id", "epoch")
    }),

    // The FULL curation funnel ([[curateFullFunnel]] — every quality
    // stage a 100 TB pipeline runs, composed in production order);
    // this key locks the funnel's keep set and survivor detail.
    "q_curate_full" -> ((s, dir) =>
      curateFullFunnel(s, dir)
        .select(col("doc_id"), col("quality"), col("n_feats"),
          col("logweight"))
        .orderBy("doc_id")),

    // THE CAPSTONE: the three pillars composed end to end exactly as
    // the production pipeline runs them — CURATE (the full funnel
    // above), MIX (water-fill the global token target across the
    // survivors' languages, select each language's best docs to its
    // derived budget, replicate by per-source epoch counts), PACK
    // (greedy sharded sequence packing of the replicated stream into
    // 512-token bins). Scale shape: the funnel's survivor set is
    // pinned once; the lang join broadcasts the thinned survivors;
    // selection is the two-pass bounded-histogram machinery; epoch
    // replication is a map-side explode; packing shuffles 16-byte
    // (item, count) rows — document text never enters the mix/pack
    // exchanges at all ([[TextOps.packSequencesByTokens]]).
    "q_pipeline_full" -> ((s, dir) => {
      val surv = curateFullFunnel(s, dir)
      val withLang = surv
        .select("doc_id", "quality", "n_tokens")
        .join(docs(s, dir).select("doc_id", "lang"), Seq("doc_id"))
        .filter(col("lang").isNotNull)
      val sel = graft.ops.Mixing.selectToBudgetWaterFill(withLang,
        "lang", "quality", "n_tokens", "doc_id",
        total = pipelineTokenTarget, naiveBelow = 0L)
      val mixed = graft.ops.Mixing.replicateEpochs(sel, "lang",
        "doc_id", mixBudgetEpochsPct)
      // each (doc, epoch) replica is one packed sequence item; the
      // composite item id keeps the portable hash + ordering replayable
      // (epoch < 100 by the epochsPct <= 10000 contract)
      val items = mixed.withColumn("item_id",
        col("doc_id") * lit(100L) + col("epoch"))
      TextOps.packSequencesByTokens(items, "n_tokens", "item_id",
          capacity = 512, shards = 8)
        .select(
          floor(col("item_id") / lit(100L)).cast("long").as("doc_id"),
          (col("item_id") % lit(100L)).cast("int").as("epoch"),
          col("n_tokens"), col("shard"), col("bin"), col("offset"))
        .orderBy("doc_id", "epoch")
    }),

    // Boilerplate 5-grams: shingles shared by >= 3 distinct docs across
    // docs+mutants (mutants guarantee shared prefixes). Per-doc distinct
    // arrays make count(*) the distinct-doc count — one exchange.
    "q_boilerplate" -> ((s, dir) =>
      DedupOps.boilerplateNgrams(docsWithMutantsPar(s, dir), "text",
          w = 5, minDocs = 3)
        .orderBy("shingle")),

    // Cross-doc repeated 8-grams with occurrence counts — the
    // exact-substring dedup signal (fixed-width ExactSubstr approximation).
    "q_repeated_ngrams" -> ((s, dir) =>
      DedupOps.repeatedNgrams(docsPar(s, dir), "text", "doc_id",
          w = 8, minDocs = 2)
        .orderBy("gram")),

    // Variable-length exact-substring spans (ExactSubstr, Lee et al.
    // ACL'22) over docs+mutants: winnow anchors seed cross-doc
    // collisions, bounded re-comparison extends them to span lengths.
    // Oracled end-to-end — DuckDB replays gram hashing, windowed
    // first-argmin anchor selection, the bucket cap, the gram-text
    // collision guard, and the char-exact affix extension.
    "q_exact_substr" -> ((s, dir) =>
      DedupOps.exactSubstrSpans(docsWithMutantsPar(s, dir), "text", "doc_id",
          k = esK, w = esW, maxExt = esExt, minLen = esMinLen,
          maxBucket = esMaxBucket)
        .select(col("id_a"), col("id_b"), col("n_anchors"),
          col("max_len").cast("long"))
        .orderBy("id_a", "id_b")),

    // Incremental ExactSubstr: the mutant batch probes a PERSISTED
    // anchor index of the document history (built once, content-keyed
    // fixture) — O(batch) span detection, never re-anchoring history.
    // The probe sees the accumulated corpus (index ∪ batch) with the
    // batch-operator's exact bucket/cap semantics, so the oracle is
    // the full-corpus chain filtered to pairs touching a batch doc —
    // exact at any cap. Tagged replay makes repeat runs idempotent.
    "q_exact_substr_incremental" -> ((s, dir) => {
      val hist = docs(s, dir).select("doc_id", "text")
      val batch = withPrefixMutants(hist.filter(lit(false)),
        hist.filter(col("doc_id") % 10 === 0))
      val fx = graft.Fixtures.ensure("exsub_idx",
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.Fixtures.contentKey(s"exsub_idx|$dir", hist, "doc_id", "text")) { p =>
        graft.ops.ExactSubstrIndex.appendAndFindSpans(s, hist, p + "/idx",
          "text", "doc_id", k = esK, w = esW, maxExt = esExt,
          minLen = esMinLen, maxBucket = esMaxBucket,
          batchTag = Some("hist"))
        ()
      }
      graft.ops.ExactSubstrIndex.appendAndFindSpans(s, batch, fx + "/idx",
          "text", "doc_id", k = esK, w = esW, maxExt = esExt,
          minLen = esMinLen, maxBucket = esMaxBucket,
          batchTag = Some("daily"))
        .select(col("id_a"), col("id_b"), col("n_anchors"),
          col("max_len").cast("long"))
        .orderBy("id_a", "id_b")
    }),

    // ExactSubstr dedup APPLIED (Lee et al. remove, not just flag):
    // every >= minLen cross-doc span is cut from the higher-id doc of
    // its colliding pair, overlapping cuts merged, lowest id keeping
    // the canonical occurrence. Oracled end-to-end including the
    // interval merge and the spliced text.
    "q_exact_substr_apply" -> ((s, dir) =>
      DedupOps.exactSubstrApply(docsWithMutantsPar(s, dir), "text", "doc_id",
          k = esK, w = esW, maxExt = esExt, minLen = esMinLen,
          maxBucket = esMaxBucket)
        // always-true guard referencing the join-derived columns: the
        // interval side of the operator's left join is unique per key,
        // so a bare count() (Bench's action) would ELIMINATE the join
        // and time an empty corpus scan instead of the detection chain
        // + splice. Row set and values are unchanged.
        .filter(col("n_spans") >= 0 && length(col("text_clean")) >= 0)
        .orderBy("doc_id")),

    // Gopher repetition signals (Rae et al. A1.2): top-{2,3,4}-gram
    // char fraction + duplicate-6-gram position coverage, per doc.
    // Docs with doc_id % 5 == 0 get their own first 8 tokens appended
    // (deterministic synthesis, replayed by the oracle) so within-doc
    // duplicate 6-grams actually exist in the graded data.
    "q_gopher_repetition" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val toks = split(col("text"), " ")
      val synth = d.withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" "),
            concat_ws(" ", slice(toks, 1, 8))))
          .otherwise(col("text")))
      TextOps.repetitionSignals(synth, "text", "doc_id")
        .orderBy("doc_id")
    }),

    // Gopher quality rules (Rae et al. A1.1): word-count bounds, mean
    // word length, symbol-to-word ratio, bullet/ellipsis line
    // fractions, alpha-word fraction, min distinct stop-word hits —
    // one map-side pass, every ratio rounded before its threshold
    // compare. Bullet and ellipsis LINES don't occur naturally in the
    // single-line synthetic docs, so docs with doc_id % 7 == 0 get two
    // bullet lines and % 11 == 0 an ellipsis line appended
    // (deterministic synthesis, replayed by the oracle) — both line
    // rules actually fire in the graded data.
    "q_gopher_quality" -> ((s, dir) => {
      val d = docs(s, dir).filter(col("text").isNotNull)
      val synth = d.withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"),
              lit("\n• bullet line one\n• bullet line two")))
            .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\nto be continued...")))
            .otherwise(col("text")))
      TextOps.gopherQuality(synth, "text")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("bullet_frac"), col("ellipsis_frac"),
          col("alpha_frac"), col("stop_hits"), col("gopher_keep"))
        .orderBy("doc_id")
    }),

    // C4 line/document filters (Raffel et al. §2.2): terminal-
    // punctuation line rule, >= 3 words per line, javascript/cookie
    // marker lines dropped, '{' / 'lorem ipsum' documents dropped
    // wholesale — the whole operator ONE map-side projection (the line
    // filter is an array HOF inside the row; no explode, no exchange).
    // Lines are synthesized deterministically (docs are single-line):
    // tokens chunked 10 per line, terminal '.' on (doc_id + line) % 3
    // == 0 lines, a javascript marker line on % 9, a cookie line on
    // % 15, a '{' code line on % 13, a lorem-ipsum line on % 17 — the
    // oracle replays the identical synthesis.
    "q_c4_filters" -> ((s, dir) =>
      TextOps.c4Filters(
          c4SynthText(docs(s, dir).filter(col("text").isNotNull)),
          "text", "doc_id")
        .orderBy("doc_id")),

    // Token-distribution Shannon entropy per document (low-entropy =
    // template/spam filter signal).
    "q_entropy" -> ((s, dir) =>
      TextOps.tokenEntropy(docs(s, dir), "text", "doc_id")
        .orderBy("doc_id")),

    // Exact frequency-threshold detection via the two-pass Misra-Gries
    // harness: bounded-memory candidate sketch (superset guarantee),
    // then an exact recount of the <= k candidate literals -- the
    // distinct-cardinality-independent alternative to a full
    // groupBy(token) shuffle. Exercised over the corpus token stream.
    "q_heavy_hitters" -> ((s, dir) =>
      graft.ops.HeavyHitters.heavyHitters(
        docs(s, dir).filter(col("text").isNotNull)
          .select(explode(TextOps.tokens(col("text"))).as("tok")),
        "tok", theta = 0.0335)),

    // Distributed BPE tokenizer training (Sennrich): ONE corpus
    // exchange (word counts), then bpeMerges rounds over the
    // vocabulary-bounded word table. The full rule table is the
    // deterministic output; the oracle replays every round.
    "q_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.train(docs(s, dir), "text", merges = bpeMerges).merges),

    // Encoding with the trained tokenizer: the broadcast dictionary
    // join against the model's final word segmentations — per-doc BPE
    // token count + the exact token stream, word order preserved.
    "q_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.Bpe.train(d, "text", merges = bpeMerges)
      graft.ops.Bpe.encode(d, "text", "doc_id", model).orderBy("doc_id")
    }),

    // Encode with OOV rule replay: the model trains on HALF the corpus
    // (even doc_ids) and encodes ALL documents — odd-doc words missing
    // from the vocabulary replay the learned rule table (the Sennrich
    // encode semantics, native BpeSegmentWord kernel) instead of
    // degrading to characters; in-vocab words keep the broadcast
    // dictionary fast path.
    "q_bpe_encode_oov" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.ops.Bpe.train(
        d.filter(col("doc_id") % 2 === 0), "text", merges = bpeMerges)
      graft.ops.Bpe.encode(d, "text", "doc_id", model).orderBy("doc_id")
    }),

    // PER-GROUP exact heavy hitters (θ-heavy tokens per language):
    // grouped MG candidate sketches + broadcast-semi recount, the
    // whole pipeline plan-side — no driver collect at any group
    // cardinality (the q_heavy_hitters harness, grouped).
    "q_heavy_hitters_grouped" -> ((s, dir) =>
      graft.ops.HeavyHitters.groupedHeavyHitters(
        docs(s, dir).select(col("lang"),
          explode(split(col("text"), " ")).as("tok")),
        "tok", "lang", theta = 0.03)),

    // TF-IDF keyword extraction: top-5 terms per document (explode ->
    // partial-agg'd term counts -> df join -> per-doc window).
    "q_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(docs(s, dir), "text", "doc_id", k = 5)
        .orderBy("doc_id", "rk")),

    // Gopher-style repetition quality: duplicated-token and duplicated-
    // bigram fractions per document (map-side array ops).
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionStats(docs(s, dir), "text")
        .select("doc_id", "n_tokens", "dup_token_frac", "dup_bigram_frac")
        .orderBy("doc_id")),

    // PII redaction: plant a deterministic email+phone per doc, then
    // scrub both with typed tags and count the hits.
    "q_pii_redact" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("text",
        concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
          lit("@mail.example or 555-010-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
      TextOps.redactPii(planted, "text")
        .select("doc_id", "n_pii", "redacted")
        .orderBy("doc_id")
    }),

    // HLL approximate distinct vs exact. HLL register values differ
    // across engines by design, so the raw estimate can never hash-match
    // DuckDB — instead the key emits the VALUE-BOUNDED check: the
    // estimate must land within 3×rsd of the exact count (rsd is the
    // one-sigma relative error, so 3σ ≈ 99.7% — and Spark's HLL++ is
    // deterministic per input, so the check is stable, not flaky). The
    // oracle asserts within_rsd = TRUE against its own exact count;
    // a broken sketch fails the hash gate instead of hiding in
    // rows-only territory.
    "q_approx_distinct" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.05).as("_approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("_approx") - col("exact_parts")).cast("double") /
            col("exact_parts") <= lit(0.15)).as("within_rsd"))
        .orderBy("l_returnflag")),

    // Symmetric int8 embedding quantization: per-vector absmax scale,
    // q_i = round(x_i/amax*127); emitted as the integer checksum plus the
    // max reconstruction error -- the storage-shrink primitive for
    // embedding tables (4x smaller, error bounded by amax/254).
    // Column profiling (ANALYZE-style statistics): per-column null and
    // exact distinct counts in ONE pass over the table, reshaped to a
    // row per column with stack() — no per-column rescans. At 100 TB
    // the exact countDistinct Expand would swap to approx_count_distinct
    // (documented trade; exact here because the oracle must match).
    "q_profile" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      // one narrow aggregation PER column, unioned: each branch scans a
      // single parquet column (column pruning) and its lone
      // countDistinct takes the two-phase distinct path — no 12-way
      // Expand multiplying every row. The branches run as independent
      // stages; a single wide agg with 11 countDistincts was ~2x slower
      // at sf0.1 despite being "one pass".
      li.columns.toSeq.map { c =>
        li.select(col(c)).agg(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          count(lit(1)).as("n_rows"))
          .select(lit(c).as("column_name"), col("n_nulls"),
            col("n_distinct"), col("n_rows"))
      }.reduce(_ unionByName _)
        .orderBy("column_name")
    }),

    // Data-quality expectations (deequ-style checks as a metrics row):
    // PK uniqueness violations, FK orphans, domain violations — the
    // verdicts a pipeline gates a publish on. The FK check is a
    // partial-aggregated anti join; everything else is one scan.
    "q_dq_checks" -> ((s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      val o = Tables.read(s, dir, "orders").select("o_orderkey")
      val base = li.agg(
        count(lit(1)).as("n_rows"),
        (count(lit(1)) -
          countDistinct(col("l_orderkey"), col("l_linenumber"))).as("pk_dup_rows"),
        count(when(col("l_quantity") <= 0, lit(1))).as("neg_qty_rows"),
        count(when(col("l_discount") < 0 || col("l_discount") > 1, lit(1)))
          .as("bad_discount_rows"))
      val orphans = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("fk_orphan_rows"))
      base.crossJoin(orphans)
    }),

    "q_embed_quantize" -> ((s, dir) => {
      import graft.functions.Rounding.roundHalfUp
      val d = (x: org.apache.spark.sql.Column) => x.cast("double")
      val amaxCol = aggregate(col("embedding"), lit(0.0),
        (a, x) => greatest(a, abs(d(x))))
      val qi = (x: org.apache.spark.sql.Column) =>
        roundHalfUp(d(x) / nullif(col("amax"), lit(0.0)) * 127, 0)
      // degenerate vectors (empty, or all-zero -> amax 0) must match the
      // oracle's list semantics: DuckDB's list_max/list_sum over an
      // empty or all-NULL list return NULL, while Spark's aggregate()
      // init + null-skipping greatest would return the 0.0 seed
      val degenerate = size(col("embedding")) === 0 ||
        nullif(col("amax"), lit(0.0)).isNull
      emb(s, dir)
        .withColumn("amax", amaxCol)
        .withColumn("q_sum", when(degenerate, lit(null).cast("long"))
          .otherwise(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + qi(x)).cast("long")))
        .withColumn("max_err", when(degenerate, lit(null).cast("double"))
          .otherwise(roundHalfUp(
            aggregate(col("embedding"), lit(0.0),
              (a, x) => greatest(a, abs(d(x) - qi(x) * col("amax") / 127))), 6)))
        .select(col("vec_id"),
          when(size(col("embedding")) === 0, lit(null).cast("double"))
            .otherwise(roundHalfUp(col("amax"), 6)).as("amax"),
          col("q_sum"), col("max_err"))
        .orderBy("vec_id")
    }),

    // IVF (k-means inverted file) ANN -- the billion-scale layout.
    // Oracled: the index comes from the deterministic full-corpus
    // k-means (Clustering.kmeans — seeds = k smallest ids, exact-integer
    // Lloyd rounds), so DuckDB replays the ENTIRE search: training via
    // kmeansCtes, the map-side assignment, the rounded nprobe routing,
    // and the final rounded-cosine top-k. The sampled trainer
    // (buildIvfIndex) stays the operator-surface default; recall vs
    // brute force for both paths is tested in SimilaritySpec.
    "q_ann_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val model = graft.ops.Clustering.kmeans(e, "embedding", "vec_id",
        k = annK, iters = annIvfIters)
      val idx = SimilarityOps.ivfIndexFromModel(e, "embedding", "vec_id", model)
      SimilarityOps.ivfSearch(idx, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", annTopK, nprobe = annNprobe)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    }),

    // PQ-ADC ANN + exact rerank (the FAISS IVFADC scoring stage).
    // Oracled end-to-end: per-subspace training/encoding replays via
    // one kmeansCtes per subspace, ADC + rerank arithmetic mirrored
    // term-for-term (pqAnnOracleSql). Recall vs brute force and the
    // ADC-table equivalence are pinned in SimilaritySpec.
    "q_ann_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.pqTopK(e, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", annTopK, m = pqM, ksub = annK,
        iters = annIvfIters, cands = pqCands)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    }),

    // IVF-routed PQ (true IVFADC): the coarse quantizer routes each
    // query to nprobe inverted lists and the ADC scan joins ONLY those
    // lists' encoded rows (~nprobe/nlist of the corpus) before the
    // exact rerank — the q_ann_pq flat scan's 100 TB shape. Oracled
    // end-to-end: coarse kmeansCtes + probe rank (the q_ann_ivf chain)
    // composed with the per-subspace pq chains and the shared ADC +
    // rerank tail.
    "q_ann_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.ivfpqTopK(e, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", annTopK, nlist = annK, nprobe = annNprobe,
        m = pqM, ksub = annK, iters = annIvfIters, cands = pqCands)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    }),

    // Persisted IVFADC index (PqDiskIndex): built ONCE under a
    // content-keyed fixture path — encoded table range-clustered on
    // the inverted-list id so the probe IN-list prunes files — and
    // each run times ONLY the disk search. Oracled with the SAME SQL
    // as q_ann_ivfpq: disk search ≡ ivfpqTopK under one training
    // configuration (PqDiskIndexSpec pins the equality).
    "q_ann_ivfpq_index" -> ((s, dir) => {
      val e = emb(s, dir)
      val fx = graft.Fixtures.ensure("ivfpq_idx",
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          graft.Fixtures.contentKey(s"ivfpq_idx|$dir", e, "vec_id", "embedding")) { p =>
        graft.ops.PqDiskIndex.build(s, e, p + "/pq", "embedding", "vec_id",
          m = pqM, ksub = annK, iters = annIvfIters, nlist = annK,
          numFiles = 8)
      }
      graft.ops.PqDiskIndex.search(s, e.filter(col("vec_id") < 5),
          fx + "/pq", "embedding", "vec_id", annTopK, cands = pqCands,
          nprobe = annNprobe)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    }),

    // LSH-bucketed ANN (scale path). bits is EXPLICIT, not autoBits:
    // the plane set must match the static oracle (which embeds the
    // sign matrix from HyperplaneLsh.signs), and skipping the sizing
    // count() drops a whole corpus pass from the key.
    "q_ann_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      SimilarityOps.lshTopK(e, e.filter(col("vec_id") < 5),
        "embedding", "vec_id", annTopK, bits = annBits)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    }),

    // Persisted ANN index: built ONCE (range-clustered on the LSH
    // bucket so probe IN-lists prune files) under a content-keyed
    // fixture path — a deployment builds nightly, queries all day — and
    // each run times ONLY the disk search. Oracled with the SAME SQL as
    // q_ann_lsh: search ≡ lshTopK under one plane set (AnnIndexSpec
    // pins the equality), and bits is pinned to annBits at build time
    // so the stored buckets match the oracle's sign matrix. Driver-local
    // fixture dir is demo plumbing; the operator takes any Hadoop path.
    "q_ann_index" -> ((s, dir) => {
      val e = emb(s, dir)
      val fx = graft.Fixtures.ensure("ann_idx",
        dir.replaceAll("[^A-Za-z0-9]", "_") + s"_b$annBits" + "_" +
          graft.Fixtures.contentKey(s"ann_idx|$dir", e, "vec_id", "embedding")) { p =>
        graft.ops.AnnIndex.build(s, e, p + "/ann", "embedding", "vec_id",
          bits = annBits, numFiles = 8)
      }
      graft.ops.AnnIndex.search(s, e.filter(col("vec_id") < 5),
          fx + "/ann", "embedding", "vec_id", annTopK)
        .select(col("query_id"), col("neighbor_id"), col("sim"),
          col("rk").cast("long"))
        .orderBy("query_id", "rk")
    })
  )

  private val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ",", "]")

  // floorMod emulation shared by the media oracles (Scala math.floorMod
  // vs DuckDB's dividend-signed %), plus the id-derived synthetic dims.
  private val M4 = "(((doc_id % 4) + 4) % 4)"
  private val W0 = "(16 + ((doc_id % 640) + 640) % 640)"
  private val H0 = "(16 + ((doc_id % 360) + 360) % 360)"

  /** One wrapping FNV-1a step in DuckDB HUGEINT mod-2^64 arithmetic,
    * valid for xor operands < 2^16 (bytes, chars, block values): xor on
    * the low 16 bits, multiply split as (x%2^24)*2^40 + x*435 to stay
    * inside 128 bits. The same emulation the fingerprint/decode-stub
    * oracles use, shared here because the simhash oracle composes it
    * both in lambdas and nested literally. */
  private def fnvStep(h: String, v: String): String = {
    val x = s"((($h) - (($h) % 65536)) + xor(CAST(($h) % 65536 AS BIGINT), CAST(($v) AS BIGINT)))"
    s"(((($x) % 16777216) * 1099511627776 + ($x) * 435) % CAST('18446744073709551616' AS HUGEINT))"
  }
  private val fnvBasis = "CAST('14695981039346656037' AS HUGEINT)"
  private val u64 = "CAST('18446744073709551616' AS HUGEINT)"
  private val h63 = "CAST('9223372036854775808' AS HUGEINT)"

  /** FNV step for FULL-64-bit xor operands (token hashes, signature
    * values): both sides round-trip through signed BIGINT where native
    * xor exists. `acc`/`v` MUST be plain lambda-variable names — the
    * emulation repeats each operand textually, so handing it a nested
    * expression tree multiplies evaluation exponentially (measured:
    * the nested form of the minhash oracle ran >600s; the
    * list_reduce-over-variables form runs in ~80s). */
  private def fnvStep64(acc: String, v: String): String = {
    def sgn(x: String) =
      s"CAST(CASE WHEN $x >= $h63 THEN $x - $u64 ELSE $x END AS BIGINT)"
    val x = s"(CASE WHEN xor(${sgn(acc)}, ${sgn(v)}) < 0" +
      s" THEN CAST(xor(${sgn(acc)}, ${sgn(v)}) AS HUGEINT) + $u64" +
      s" ELSE CAST(xor(${sgn(acc)}, ${sgn(v)}) AS HUGEINT) END)"
    s"((($x) % 16777216) * 1099511627776 + ($x) * 435) % $u64"
  }

  /** The full MinHash+LSH pipeline replayed in SQL for a given corpus
    * CTE: per-token FNV over UTF-8 bytes, 3-token shingle combine,
    * k=64 universal hashes (the a/b constants come from
    * [[graft.functions.Kernels.minhashParams]] AT ORACLE-CONSTRUCTION
    * TIME — never a hardcoded copy that could drift from the kernel),
    * 16 band keys, capped buckets, signature-estimated Jaccard.
    * Mirrors Kernels.minhashFromTokenHashes/bandKeys +
    * DedupOps.minhashPairsFromBanded; change together. */
  private def minhashOracleSql(baseCte: String, threshold: Double): String = {
    val (as_, bs_) = graft.functions.Kernels.minhashParams(64)
    val aarr = as_.mkString("[", ",", "]")
    val barr = bs_.mkString("[", ",", "]")
    val bandVals = (0 until 16).map(j => s"($j)").mkString(",")
    val est = graft.functions.Rounding.sqlRound("matches/64.0", 4)
    s"""WITH base AS ($baseCte),
       |th AS (
       |  SELECT doc_id,
       |    list_transform(string_split(text, ' '), tk ->
       |      list_reduce(
       |        list_prepend($fnvBasis,
       |          list_transform(range(1, octet_length(encode(tk)) + 1), i ->
       |            CAST(16 * (strpos('0123456789ABCDEF', substr(hex(encode(tk)), 2*i - 1, 1)) - 1)
       |               + (strpos('0123456789ABCDEF', substr(hex(encode(tk)), 2*i, 1)) - 1) AS HUGEINT))),
       |        (acc, b) -> ${fnvStep("acc", "b")})) AS th
       |  FROM base),
       |shs AS (
       |  SELECT doc_id,
       |    list_transform(
       |      list_transform(range(1, len(th) - 1), i ->
       |        list_reduce(list_prepend($fnvBasis, [th[i], th[i+1], th[i+2]]),
       |          (acc, v) -> ${fnvStep64("acc", "v")})),
       |      sh -> ((CAST(CASE WHEN sh >= $h63 THEN sh - $u64 ELSE sh END AS BIGINT) % 2147483647) + 2147483647) % 2147483647)
       |    AS hps
       |  FROM th WHERE len(th) >= 3),
       |sg AS (
       |  SELECT doc_id,
       |    list_transform(range(1, 65), t ->
       |      list_min(list_transform(hps, hp -> (($aarr)[t] * hp + ($barr)[t]) % 2147483647))) AS sig
       |  FROM shs),
       |keys AS (
       |  SELECT doc_id, sig, j,
       |    list_reduce(
       |      list_prepend($fnvBasis, [CAST(j AS HUGEINT), CAST(sig[4*j+1] AS HUGEINT),
       |        CAST(sig[4*j+2] AS HUGEINT), CAST(sig[4*j+3] AS HUGEINT), CAST(sig[4*j+4] AS HUGEINT)]),
       |      (acc, v) -> ${fnvStep64("acc", "v")}) AS bkey
       |  FROM sg, (VALUES $bandVals) bands(j)),
       |ok_buckets AS (
       |  SELECT j, bkey FROM keys GROUP BY j, bkey HAVING count(*) BETWEEN 2 AND 200),
       |pairs AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
       |         greatest(a.doc_id, b.doc_id) AS id_b,
       |         len(list_filter(range(1, 65), t -> a.sig[t] = b.sig[t])) AS matches
       |  FROM keys a
       |  JOIN keys b ON a.j = b.j AND a.bkey = b.bkey AND a.doc_id < b.doc_id
       |  JOIN ok_buckets ob ON ob.j = a.j AND ob.bkey = a.bkey)
       |SELECT id_a, id_b, $est AS est_jaccard
       |FROM pairs
       |WHERE $est >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val mutantCte =
    """SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    array_to_string(toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)], ' ')
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)""".stripMargin

  // One-shot connected components over the clusterDocs exact-Jaccard
  // pairs — shared verbatim by q_dedup_components and its incremental
  // twin (whose resolved labels must equal the one-shot by contract).
  private val componentsOracleSql =
    """WITH RECURSIVE
      |d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)]
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE doc_id < 20)),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |         THEN list_transform(range(1, len(toks) - 1),
      |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |  FROM d),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND len(list_distinct(list_intersect(a.s, b.s))) * 10
      |        >= len(list_distinct(a.s || b.s)) * 3),
      |e AS (SELECT id_a AS s, id_b AS t FROM p
      |      UNION SELECT id_b, id_a FROM p),
      |v AS (SELECT DISTINCT s AS id FROM e),
      |reach(a, b) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s)
      |SELECT a AS id, min(b) AS component
      |FROM reach GROUP BY a ORDER BY id""".stripMargin

  // The apply step over the same pair derivation: corpus rows whose id
  // is not a non-representative member — shared by q_dedup_apply and
  // its incremental twin.
  private val applyOracleSql =
    """WITH RECURSIVE
      |d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id < 40
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)]
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks
      |        FROM documents WHERE doc_id < 20)),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) >= 3
      |         THEN list_transform(range(1, len(toks) - 1),
      |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
      |         ELSE CAST([] AS VARCHAR[]) END AS s
      |  FROM d),
      |p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND len(list_distinct(list_intersect(a.s, b.s))) * 10
      |        >= len(list_distinct(a.s || b.s)) * 3),
      |e AS (SELECT id_a AS s, id_b AS t FROM p
      |      UNION SELECT id_b, id_a FROM p),
      |v AS (SELECT DISTINCT s AS id FROM e),
      |reach(a, b) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s),
      |cc AS (SELECT a AS id, min(b) AS component FROM reach GROUP BY a)
      |SELECT d.doc_id FROM d
      |WHERE NOT EXISTS (SELECT 1 FROM cc
      |                  WHERE cc.id = d.doc_id AND cc.id != cc.component)
      |ORDER BY d.doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    // Round-trip oracle for the synthetic-container probe: the payload
    // builder's arithmetic (Multimodal.syntheticPayload — header sizes,
    // id-derived dims, 8kHz/16-bit mono WAV duration, mvhd duration)
    // recomputed from (doc_id, text) directly. Keep in lockstep with
    // the builder — including floorMod: the builder uses math.floorMod,
    // and DuckDB's % follows the dividend's sign, so a negative doc_id
    // would otherwise pick a different container/dims than Scala.
    "q_media_probe" -> {
      s"""SELECT doc_id AS media_id,
         |  CAST(CASE $M4 WHEN 0 THEN 24 WHEN 1 THEN 10 WHEN 2 THEN 44 ELSE 52 END
         |       + octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |  CASE $M4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav' ELSE 'mp4' END AS container,
         |  CAST(CASE WHEN $M4 IN (0,1) THEN $W0 END AS BIGINT) AS width,
         |  CAST(CASE WHEN $M4 IN (0,1) THEN $H0 END AS BIGINT) AS height,
         |  CAST(CASE WHEN $M4 = 2 THEN 1 END AS BIGINT) AS channels,
         |  CAST(CASE WHEN $M4 = 2 THEN 8000 END AS BIGINT) AS sample_rate,
         |  CAST(CASE WHEN $M4 = 2 THEN 16 END AS BIGINT) AS bits_per_sample,
         |  CAST(CASE WHEN $M4 = 2 THEN (octet_length(encode(text)) * 1000) // 16000
         |       WHEN $M4 = 3 THEN (1 + ((doc_id % 30) + 30) % 30) * 1000 END AS BIGINT) AS duration_ms,
         |  CASE WHEN $M4 = 3 THEN 'isom' END AS brand
         |FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |ORDER BY media_id""".stripMargin
    },

    // The resize round trip recomputed: images read back the target
    // 64x48 with area-scaled byte counts (body bytes scale by
    // 3072/(w0*h0), floor, min 1 for a nonempty body — exactly the
    // stub's Long arithmetic); audio/video rows are bit-identical to
    // q_media_probe's. Keep in lockstep with Multimodal.resize and
    // syntheticPayload.
    "q_media_resize" -> {
      val len = "octet_length(encode(text))"
      val scaled = s"CASE WHEN $len = 0 THEN 0 ELSE greatest(1, ($len * 3072) // ($W0 * $H0)) END"
      s"""SELECT doc_id AS media_id,
         |  CAST(CASE $M4
         |    WHEN 0 THEN 24 + $scaled
         |    WHEN 1 THEN 10 + $scaled
         |    WHEN 2 THEN 44 + $len
         |    ELSE 52 + $len END AS BIGINT) AS n_bytes,
         |  CASE $M4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'wav' ELSE 'mp4' END AS container,
         |  CAST(CASE WHEN $M4 IN (0,1) THEN 64 END AS BIGINT) AS width,
         |  CAST(CASE WHEN $M4 IN (0,1) THEN 48 END AS BIGINT) AS height,
         |  CAST(CASE WHEN $M4 = 2 THEN 8000 END AS BIGINT) AS sample_rate,
         |  CAST(CASE WHEN $M4 = 2 THEN ($len * 1000) // 16000
         |       WHEN $M4 = 3 THEN (1 + ((doc_id % 30) + 30) % 30) * 1000 END AS BIGINT) AS duration_ms
         |FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
         |ORDER BY media_id""".stripMargin
    },

    // The decode stub's FNV-1a (64-bit wrapping) re-derived in DuckDB:
    // HUGEINT mod-2^64 arithmetic, the multiply split as
    // h*0x100000001b3 = (h mod 2^24)*2^40 + h*435 to stay inside 128
    // bits, bytes pulled from hex(blob), arithmetic shifts as exact
    // floor division (`//`, not `/` — float division would round near
    // 2^63). Mirrors Multimodal.decodeStub; change both together.
    // extractMeta tries the REAL header parsers before the stub; of
    // those, only GIF magic is reachable from valid UTF-8 text (PNG's
    // 0x89 and JPEG's 0xFF cannot start a UTF-8 string), so the oracle
    // carries the gifDims branch: LE u16 pairs from bytes 7-10.
    "q_multimodal_meta" ->
      """WITH raw AS (
        |  SELECT doc_id, hex(encode(text)) AS hx,
        |         least(octet_length(encode(text)), 256) AS nb,
        |         octet_length(encode(text)) >= 10 AND
        |           (text LIKE 'GIF87a%' OR text LIKE 'GIF89a%') AS is_gif
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
        |fnv AS (
        |  SELECT doc_id, hx, is_gif,
        |    list_reduce(
        |      list_prepend(
        |        CAST('14695981039346656037' AS HUGEINT),
        |        list_transform(range(1, nb + 1), i ->
        |          CAST(16 * (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1)
        |             + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS HUGEINT))),
        |      (acc, b) ->
        |        ((((acc - (acc % 256)) + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT))) % 16777216) * 1099511627776
        |          + ((acc - (acc % 256)) + xor(CAST(acc % 256 AS BIGINT), CAST(b AS BIGINT))) * 435)
        |        % CAST('18446744073709551616' AS HUGEINT)
        |    ) AS h
        |  FROM raw),
        |sgn AS (
        |  SELECT doc_id, is_gif,
        |    list_transform(range(7, 11), i ->
        |      16 * (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1)
        |       + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1)) AS gb,
        |    CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS s
        |  FROM fnv)
        |SELECT doc_id AS media_id, 'image' AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN is_gif THEN gb[1] + 256 * gb[2]
        |       ELSE 64 + abs(s) % 1024 END AS BIGINT) AS width,
        |  CAST(CASE WHEN is_gif THEN gb[3] + 256 * gb[4]
        |       ELSE 64 + abs((s - ((s % 1024 + 1024) % 1024)) // 1024) % 1024 END AS BIGINT) AS height,
        |  CAST(CASE WHEN is_gif THEN 1
        |       ELSE 1 + abs((s - ((s % 1048576 + 1048576) % 1048576)) // 1048576) % 16 END AS BIGINT) AS n_frames
        |FROM sgn JOIN documents USING (doc_id)
        |ORDER BY media_id""".stripMargin,

    // frameFeatures replay: the decode-stub FNV gives the frame count
    // (identical CTE chain to q_multimodal_meta, minus the real-parser
    // branches — frameFeatures never dispatches them); per sampled
    // frame the 8-dim chain is h0 = prime * (fi+1), then per dim
    // h ^= media_id + i; h *= prime, feature = float32((h % 1000)/1000)
    // with Java's dividend-signed % (DuckDB's % matches). The xor rides
    // the low 48 bits — exact while media_id + 7 < 2^48 (v's bits 48-63
    // are zero, so the true xor leaves acc's high word unchanged and
    // the additive carry reproduces it). It originally rode 24 bits,
    // which silently diverged once ScaleLand copy offsets (k x 10^7)
    // pushed media_id past 2^24 — caught by the round-11 sf1 spot-run.
    // The multiply-split mask stays 2^24: x*2^40 mod 2^64 depends on
    // exactly x mod 2^24. Per-dim prefixes re-reduce the chain (36 tiny
    // steps per frame) to keep every operand a plain lambda variable
    // (the fnvStep64 textual-repetition rule).
    "q_media_frames" -> {
      val step = { (acc: String, v: String) =>
        val x = s"((($acc) - (($acc) % 281474976710656)) + xor(CAST(($acc) % 281474976710656 AS BIGINT), CAST(($v) AS BIGINT)))"
        s"(((($x) % 16777216) * 1099511627776 + ($x) * 435) % $u64)"
      }
      s"""WITH raw AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         least(octet_length(encode(text)), 256) AS nb
         |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         |fnv AS (
         |  SELECT doc_id,
         |    list_reduce(
         |      list_prepend($fnvBasis,
         |        list_transform(range(1, nb + 1), i ->
         |          CAST(16 * (strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1)
         |             + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS HUGEINT))),
         |      (acc, b) -> ${fnvStep("acc", "b")}) AS h
         |  FROM raw),
         |fr AS (
         |  SELECT doc_id,
         |    CAST(1 + abs((s - ((s % 1048576 + 1048576) % 1048576)) // 1048576) % 16 AS BIGINT) AS frames
         |  FROM (SELECT doc_id,
         |          CASE WHEN h >= $h63 THEN h - $u64 ELSE h END AS s FROM fnv)),
         |fid AS (SELECT doc_id, unnest(range(0, frames, 2)) AS fi FROM fr),
         |ft AS (
         |  SELECT doc_id, fi,
         |    list_transform(range(0, 8), d ->
         |      list_reduce(
         |        list_prepend(CAST(1099511628211 AS HUGEINT) * (fi + 1),
         |          list_transform(range(0, d + 1), i -> doc_id + i)),
         |        (acc, v) -> ${step("acc", "v")})) AS hs
         |  FROM fid),
         |qv AS (
         |  SELECT doc_id, fi,
         |    list_transform(hs, hh ->
         |      CAST(CASE WHEN hh >= $h63 THEN hh - $u64 ELSE hh END AS BIGINT) % 1000) AS qs
         |  FROM ft)
         |SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_id,
         |  CAST(dim AS BIGINT) AS dim,
         |  CAST(CAST(CAST(qs[dim + 1] AS DOUBLE) / 1000 AS REAL) AS DOUBLE) AS value
         |FROM (SELECT doc_id, fi, qs, unnest(range(0, 8)) AS dim FROM qv)
         |ORDER BY media_id, frame_id, dim""".stripMargin
    },

    // Full MinHash+LSH replay over docs+mutants (threshold 0.3): see
    // minhashOracleSql. The universal-hash constants are read from the
    // kernel at construction time, so they can never drift.
    "q_dedup_minhash" -> minhashOracleSql(mutantCte, 0.3),

    // The incremental index's pair set equals the FULL-BATCH pair set
    // over the accumulated corpus (the DedupIndex contract, asserted
    // in DedupIndexSpec and now value-checked against DuckDB): oracle
    // = the same MinHash replay over history ∪ daily mutants at the
    // index default threshold 0.5.
    //
    // Boundary assumption, stated explicitly: the identity holds while
    // no (band, key) bucket CROSSES maxBucket (200) between the
    // historical build and the accumulated corpus — a bucket that was
    // under the cap at build time but over it after the daily append
    // would keep its build-time pairs in the incremental output while
    // the full-batch replay drops the whole bucket. That needs a
    // ~200-doc near-dup cluster sharing one band key; this corpus's
    // clusters are size ~2 (per-doc prefix mutants), so the gate is
    // safe at every driver scale. If the testdata generator ever
    // plants mega-clusters, cap-crossing buckets must be excluded on
    // BOTH sides rather than assumed absent.
    "q_dedup_incremental" -> minhashOracleSql(
      """SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |        WHERE doc_id % 20 = 0)""".stripMargin, 0.5),

    // Full SimHash-banding replay (Kernels.simhashFromArrayData +
    // permTableKeys at m=6 keep=2, DedupOps.simhashDupPairs at
    // maxHamming=4 maxBucket=64): per-token FNV-1a over UTF-8 bytes,
    // per-bit majority vote -> 64-bit signature, 15 permuted-block
    // table keys (3 chained FNV steps each — subset index then the two
    // intact blocks, all xor operands < 2^16), bucket-capped pair
    // generation, bit_count(xor) hamming filter. Mirrors the kernels;
    // change all together. Validated stage-by-stage against a Python
    // reference of the Scala kernels before landing.
    "q_dedup_simhash" -> {
      val powList = (0 until 64)
        .map(b => s"CAST('${BigInt(1) << b}' AS HUGEINT)")
        .mkString("[", ",", "]")
      // subset enumeration order MUST match Kernels.blockSubsets
      // ((0 until m).combinations(keep), lexicographic) — the subset
      // index t is mixed into the key
      val subsetVals = (0 until 6).combinations(2).zipWithIndex
        .map { case (s, t) => s"($t,${s(0)},${s(1)})" }.mkString(",")
      // 64 bits into 6 blocks: width 10, last block carries the top 14
      val blockArr = (0 until 6).map { j =>
        val w = if (j == 5) 14 else 10
        s"(sig_u // CAST('${BigInt(1) << (j * 10)}' AS HUGEINT)) % ${1 << w}"
      }.mkString("[", ",", "]")
      val keyExpr = fnvStep(fnvStep(fnvStep(fnvBasis, "t"), "blk[i1+1]"), "blk[i2+1]")
      s"""WITH base AS ($mutantCte),
         |th AS (
         |  SELECT doc_id,
         |    list_transform(string_split(text, ' '), tk ->
         |      list_reduce(
         |        list_prepend($fnvBasis,
         |          list_transform(range(1, octet_length(encode(tk)) + 1), i ->
         |            CAST(16 * (strpos('0123456789ABCDEF', substr(hex(encode(tk)), 2*i - 1, 1)) - 1)
         |               + (strpos('0123456789ABCDEF', substr(hex(encode(tk)), 2*i, 1)) - 1) AS HUGEINT))),
         |        (acc, b) -> ${fnvStep("acc", "b")})) AS hs
         |  FROM base),
         |sg AS (
         |  SELECT doc_id,
         |    list_reduce(list_transform(range(1, 65), bi ->
         |      CASE WHEN 2 * len(list_filter(hs, x -> (x // ($powList)[bi]) % 2 = 1)) > len(hs)
         |           THEN ($powList)[bi] ELSE CAST(0 AS HUGEINT) END),
         |      (a, b) -> a + b) AS sig_u
         |  FROM th),
         |sig AS (
         |  SELECT doc_id, sig_u,
         |    CAST(CASE WHEN sig_u >= CAST('9223372036854775808' AS HUGEINT)
         |         THEN sig_u - CAST('18446744073709551616' AS HUGEINT) ELSE sig_u END AS BIGINT) AS s,
         |    $blockArr AS blk
         |  FROM sg),
         |keys AS (
         |  SELECT doc_id, s, t, $keyExpr AS ckey
         |  FROM sig, (VALUES $subsetVals) sub(t, i1, i2)),
         |ok_buckets AS (
         |  SELECT t, ckey FROM keys GROUP BY t, ckey
         |  HAVING count(*) BETWEEN 2 AND 64),
         |pairs AS (
         |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
         |         greatest(a.doc_id, b.doc_id) AS id_b,
         |         bit_count(xor(a.s, b.s)) AS hamming
         |  FROM keys a
         |  JOIN keys b ON a.t = b.t AND a.ckey = b.ckey AND a.doc_id < b.doc_id
         |  JOIN ok_buckets ob ON ob.t = a.t AND ob.ckey = a.ckey)
         |SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         |FROM pairs WHERE hamming <= 4
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Full winnowing replay (Kernels.fingerprints, k=8 w=4): FNV-1a per
    // char 8-gram (chars are BMP codepoints == UTF-16 units for this
    // corpus; the kernel masks chars to 16 bits), signed-long window
    // minima, distinct. Same HUGEINT emulation tricks as
    // q_multimodal_meta. Mirrors the kernel; change both together.
    "q_fingerprint" ->
      """WITH g AS (
        |  SELECT doc_id, text, length(text) - 8 + 1 AS n,
        |    list_transform(range(1, greatest(length(text) - 8 + 2, 1)), i ->
        |      list_reduce(
        |        list_prepend(CAST('14695981039346656037' AS HUGEINT),
        |          list_transform(range(i, i + 8), j -> unicode(substr(text, CAST(j AS INT), 1)))),
        |        (acc, c) ->
        |          ((((acc - (acc % 65536)) + xor(CAST(acc % 65536 AS BIGINT), CAST(c AS BIGINT))) % 16777216) * 1099511627776
        |            + ((acc - (acc % 65536)) + xor(CAST(acc % 65536 AS BIGINT), CAST(c AS BIGINT))) * 435)
        |          % CAST('18446744073709551616' AS HUGEINT))) AS grams_u
        |  FROM documents),
        |sg AS (
        |  SELECT doc_id, text, n,
        |    list_transform(grams_u, h ->
        |      CAST(CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
        |           THEN h - CAST('18446744073709551616' AS HUGEINT) ELSE h END AS BIGINT)) AS grams
        |  FROM g),
        |mins AS (
        |  SELECT doc_id,
        |    CASE WHEN text IS NULL THEN NULL
        |         WHEN n < 1 THEN []
        |         WHEN n <= 4 THEN [list_min(grams)]
        |         ELSE list_distinct(list_transform(range(1, n - 4 + 2), j ->
        |           list_min(grams[j:j+3]))) END AS fps
        |  FROM sg)
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp,
        |  list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM mins ORDER BY doc_id""".stripMargin,

    "q_exact_substr" -> exactSubstrOracleSql,
    "q_exact_substr_apply" -> exactSubstrApplyOracleSql,
    "q_exact_substr_incremental" -> exactSubstrIncrementalOracleSql,

    "q_edit_distance" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |WHERE a.doc_id % 7 = 0
        |ORDER BY id_a""".stripMargin,

    "q_text_stats" ->
      s"""SELECT doc_id, lang, n_chars, length(text) AS n_chars_calc,
         |  len(string_split(text, ' ')) AS n_tokens,
         |  ${sqlRound("(length(text) - (len(string_split(text, ' ')) - 1)) / nullif(len(string_split(text, ' ')), 0)", 4)} AS avg_token_len
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_count" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(text, '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS nch,
         |         length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS punct
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, len(toks) AS n_tokens,
         |         len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
         |         punct, nch
         |  FROM t)
         |SELECT doc_id, n_tokens, stop_hits, punct AS punct_count,
         |  ${sqlRound("greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + (stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)} AS quality
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_lang_id" -> {
      val hitExprs = TextOps.langMarkers.map { case (l, ms) =>
        val arr = ms.map(m => s"'$m'").mkString("[", ",", "]")
        s"len(list_filter(toks, x -> list_contains($arr, x))) AS hits_$l"
      }.mkString(",\n  ")
      val hitCols = TextOps.langMarkers.map { case (l, _) => s"hits_$l" }
      val caseExpr = (Seq("WHEN m = 0 THEN 'und'") ++
        TextOps.langMarkers.init.map { case (l, _) =>
          s"WHEN hits_$l = m THEN '$l'"
        }).mkString(" ")
      s"""WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
         |h AS (SELECT doc_id, lang,
         |  $hitExprs
         |FROM t),
         |g AS (SELECT *, greatest(${hitCols.mkString(",")}) AS m FROM h)
         |SELECT doc_id, lang, ${hitCols.mkString(", ")},
         |  CASE $caseExpr ELSE '${TextOps.langMarkers.last._1}' END AS predicted
         |FROM g ORDER BY doc_id""".stripMargin
    },

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    // The DigestIndex fold is min/sum per digest — the one-shot groups
    // verbatim, in any batch order.
    "q_dedup_exact_incremental" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 60),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3
         |         THEN list_transform(range(1, len(toks) - 1),
         |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         |         ELSE CAST([] AS VARCHAR[]) END AS s
         |  FROM d)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_distinct(list_intersect(a.s, b.s))) AS inter,
         |  len(list_distinct(a.s || b.s)) AS uni,
         |  ${sqlRound("len(list_distinct(list_intersect(a.s, b.s))) / nullif(len(list_distinct(a.s || b.s)), 0)", 6)} AS jaccard
         |FROM sh a, sh b WHERE a.doc_id < b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_embed" -> {
      s"""WITH corpus AS (
         |  $affineMutantCorpusSql),
         |q AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings WHERE vec_id < 50),
         |p AS (
         |  SELECT id_a, c.vec_id AS id_b,
         |    ${sqlRound(s"${sqlDot("q.va", "c.embedding")} / (sqrt(${sqlDot("q.va", "q.va")}) * sqrt(${sqlDot("c.embedding", "c.embedding")}))", 6)} AS sim
         |  FROM corpus c, q WHERE id_a < c.vec_id)
         |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.95
         |ORDER BY id_a, id_b""".stripMargin
    },

    // EmbedIndex replays: bucket assignment from the plane literal,
    // base+flip entries, capped buckets, hamming<=1 pair rule, then
    // the precomputed-norm unrolled dot — each stage the engine's
    // exact arithmetic (see embedBucketCtes/embedPairTailSql).
    "q_dedup_embed_lsh" -> {
      val corpus =
        s"""SELECT vec_id, embedding, FALSE AS is_daily FROM (
           |  $affineMutantCorpusSql)""".stripMargin
      s"""${embedBucketCtes(corpus)},
         |${embedPairTailSql(embedEntriesSql("TRUE", "TRUE"))}
         |SELECT id_a, id_b, sim FROM sc WHERE sim >= 0.95
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Two phases, replaying the two engine calls: phase 1 is batch
    // mode over the history alone; phase 2 probes the daily mutants
    // (base + flips, is_new) against history members at their BASE
    // bucket only — stored vectors are never re-probed, exactly the
    // operator's asymmetry. Using ALL history base rows (vs the
    // engine's bucket-pruned subset) is output-identical: a bucket
    // without new entries can emit no is_new pair, and any bucket WITH
    // one pulls its complete stored-base population through the probe
    // semi-join, so cap weights agree wherever pairs can exist.
    "q_dedup_embed_incremental" -> {
      val corpus =
        s"""SELECT vec_id, embedding, FALSE AS is_daily FROM embeddings
           |  UNION ALL
           |  SELECT vec_id + 1000000,
           |         list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 1.1 + 0.01 AS REAL)),
           |         TRUE
           |  FROM embeddings WHERE vec_id % 10 = 0""".stripMargin
      val phase2Ent = embedEntriesSql("is_daily", "TRUE") +
        "\n        UNION ALL\n        SELECT vec_id, bk, TRUE, FALSE FROM bkt WHERE NOT is_daily"
      s"""${embedBucketCtes(corpus)},
         |${embedPairTailSql(embedEntriesSql("NOT is_daily", "TRUE"), "1")},
         |${embedPairTailSql(phase2Ent, "2")}
         |SELECT id_a, id_b, sim FROM sc1 WHERE sim >= 0.95
         |UNION ALL
         |SELECT id_a, id_b, sim FROM sc2 WHERE sim >= 0.95
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_cluster_assign" -> {
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
         |v AS (SELECT vec_id, embedding AS ev FROM embeddings),
         |s AS (
         |  SELECT vec_id, cid,
         |    ${sqlRound(s"${sqlDot("ev", "cvec")} / (sqrt(${sqlDot("ev", "ev")}) * sqrt(${sqlDot("cvec", "cvec")}))", 6)} AS sim
         |  FROM v, c),
         |r AS (SELECT vec_id, cid, sim, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY sim DESC, cid) AS rk FROM s)
         |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, sim FROM r
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin
    },

    // The ANN family under the hash gate: buckets/routing and the
    // final top-k replayed end-to-end (see the builders' scaladoc).
    "q_ann_lsh" -> lshAnnOracleSql,
    "q_ann_index" -> lshAnnOracleSql,
    "q_ann_ivf" -> ivfAnnOracleSql,

    "q_ann_pq" -> pqAnnOracleSql,

    "q_ann_ivfpq" -> ivfpqAnnOracleSql,
    "q_ann_ivfpq_index" -> ivfpqAnnOracleSql,

    // The HLL key's oracle asserts the 3×rsd bound (within_rsd must be
    // TRUE) plus the exact counts — the estimate itself is engine-
    // specific and stays out of the hash.
    "q_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |       TRUE AS within_rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Full Lloyd's replay: every k-means round unrolled as CTEs — the
    // rounded arg-max assignment (b_i), the quantized exact-integer mean
    // (m_i: BIGINT sums, `//` truncating division — verified identical
    // to Java long division on both signs), and the float32 re-scale
    // (c_i). Empty clusters inherit their previous centroid via the
    // UNION ALL branch, mirroring Clustering.kmeans.
    "q_kmeans" -> s"""${kmeansCtes("SELECT vec_id, embedding FROM embeddings", k = 8, iters = 3)}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, sim FROM bf
       |WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "q_kmeans_pp" -> s"""${kmeansCtes("SELECT vec_id, embedding FROM embeddings",
         k = 8, iters = 2, init = "kmeanspp")}
       |SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id, sim FROM bf
       |WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    "q_cluster_medoids" ->
      s"""${kmeansCtes("SELECT vec_id, embedding FROM embeddings", k = 8, iters = 3)},
         |asg AS (SELECT vec_id, cid, sim FROM bf WHERE rk = 1),
         |md AS (SELECT vec_id, cid, sim, row_number() OVER (
         |    PARTITION BY cid ORDER BY sim DESC, vec_id) AS mrk FROM asg)
         |SELECT CAST(cid AS BIGINT) AS cluster_id, vec_id AS medoid_id, sim
         |FROM md WHERE mrk = 1 ORDER BY cluster_id""".stripMargin,

    // The pair stage precomputes each vector's norm once (sqrt of the
    // same dot — identical doubles, identical downstream multiply/
    // divide sequence) and unrolls the cross dot ([[sqlDotU]]): the
    // within-cluster pair join is quadratic per cluster by SemDeDup's
    // nature, and the lambda form made DuckDB's sf1 replay grind
    // >10 min / spill tens of GB where this form streams.
    // asg/pv AS MATERIALIZED is load-bearing at sf1 for the TREE twin
    // below (kept symmetric here): pv is referenced on both sides of
    // the quadratic pair join, and with the deeper tree CTE chain
    // DuckDB's inlining heuristic re-derived the whole k-means chain
    // per side — ~50 GB of spill and a disk-full abort on a corpus
    // whose materialized pv is 40k rows / ~12 MB. The fence pins the
    // evaluate-once plan (sf1: 342 s, zero spill, exact match).
    "q_semdedup" -> {
      val pairSim =
        sqlRound(s"(${sqlDotU("x.ev", "y.ev")}) / (x.nrm * y.nrm)", 6)
      s"""${kmeansCtes(affineMutantCorpusSql, k = 8, iters = 2)},
         |asg AS MATERIALIZED (SELECT vec_id, cid FROM bf WHERE rk = 1),
         |pv AS MATERIALIZED (SELECT a.vec_id, a.cid, v.ev,
         |         sqrt(${sqlDot("v.ev", "v.ev")}) AS nrm
         |       FROM asg a JOIN v ON v.vec_id = a.vec_id),
         |pr AS (SELECT x.vec_id AS ida, y.vec_id AS idb, $pairSim AS psim
         |       FROM pv x JOIN pv y
         |       ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |dr AS (SELECT DISTINCT idb FROM pr WHERE psim >= 0.95)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id FROM asg a
         |WHERE a.vec_id NOT IN (SELECT idb FROM dr) ORDER BY a.vec_id""".stripMargin
    },

    // Tree-routed k-means, BOTH stages replayed: treeKmeansCtes trains
    // the coarse kmeansCtes chain, fixes the routing (gasg), seeds
    // ceil(k/g) minid fine centroids per group (f0), and unrolls every
    // routed exact-integer Lloyd round — fbf rk=1 is the final routed
    // assignment the Spark kernel emits.
    "q_kmeans_tree" ->
      s"""${treeKmeansCtes("SELECT vec_id, embedding FROM embeddings",
           k = 8, g = 3, iters = 2)}
         |SELECT vec_id, CAST(fid AS BIGINT) AS cluster_id, sim FROM fbf
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin,

    // SemDeDup under tree routing: identical drop CTEs to q_semdedup,
    // but the cluster assignment comes from the routed tree (fbf) over
    // the same planted-mutant corpus.
    "q_semdedup_tree" -> {
      // same precomputed-norm + unrolled-dot pair stage as q_semdedup
      val pairSim =
        sqlRound(s"(${sqlDotU("x.ev", "y.ev")}) / (x.nrm * y.nrm)", 6)
      s"""${treeKmeansCtes(affineMutantCorpusSql, k = 8, g = 3, iters = 2)},
         |asg AS MATERIALIZED (SELECT vec_id, fid AS cid FROM fbf WHERE rk = 1),
         |pv AS MATERIALIZED (SELECT a.vec_id, a.cid, v.ev,
         |         sqrt(${sqlDot("v.ev", "v.ev")}) AS nrm
         |       FROM asg a JOIN v ON v.vec_id = a.vec_id),
         |pr AS (SELECT x.vec_id AS ida, y.vec_id AS idb, $pairSim AS psim
         |       FROM pv x JOIN pv y
         |       ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |dr AS (SELECT DISTINCT idb FROM pr WHERE psim >= 0.95)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id FROM asg a
         |WHERE a.vec_id NOT IN (SELECT idb FROM dr) ORDER BY a.vec_id""".stripMargin
    },

    // Scaled-k tree semdedup: identical drop CTEs, but the per-group
    // fine-seed count derives from the corpus size as a scalar
    // subquery — ceil(k/8) with k = greatest(33, ceil(|v|/16)), the
    // engine key's exact formula (k reaches the tree only through
    // this one count, so the unrolled CTE structure stays static).
    "q_semdedup_scaled" -> {
      val pairSim =
        sqlRound(s"(${sqlDotU("x.ev", "y.ev")}) / (x.nrm * y.nrm)", 6)
      val perGroupSql =
        "(SELECT CAST(ceil(greatest(33.0, ceil(count(*) / 16.0)) / 8.0) AS BIGINT) FROM v)"
      s"""${treeKmeansCtes(affineMutantCorpusSql, k = 33, g = 8, iters = 2,
            perGroupSql = Some(perGroupSql))},
         |asg AS MATERIALIZED (SELECT vec_id, fid AS cid FROM fbf WHERE rk = 1),
         |pv AS MATERIALIZED (SELECT a.vec_id, a.cid, v.ev,
         |         sqrt(${sqlDot("v.ev", "v.ev")}) AS nrm
         |       FROM asg a JOIN v ON v.vec_id = a.vec_id),
         |pr AS (SELECT x.vec_id AS ida, y.vec_id AS idb, $pairSim AS psim
         |       FROM pv x JOIN pv y
         |       ON x.cid = y.cid AND x.vec_id < y.vec_id),
         |dr AS (SELECT DISTINCT idb FROM pr WHERE psim >= 0.95)
         |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id FROM asg a
         |WHERE a.vec_id NOT IN (SELECT idb FROM dr) ORDER BY a.vec_id""".stripMargin
    },

    "q_dedup_components" -> componentsOracleSql,

    // The incremental label store resolves to the SAME one-shot
    // components over the accumulated pairs — the oracle is identical
    // by the union-identity contract ComponentsIndexSpec pins.
    "q_dedup_components_incremental" -> componentsOracleSql,

    "q_dedup_components_star" ->
      """WITH RECURSIVE
        |e0 AS (SELECT doc_id AS s, doc_id + 7 AS t
        |       FROM documents WHERE doc_id < 210),
        |e AS (SELECT s, t FROM e0 UNION SELECT t, s FROM e0),
        |v AS (SELECT DISTINCT s AS id FROM e),
        |reach(a, b) AS (
        |  SELECT id, id FROM v
        |  UNION
        |  SELECT r.a, e.t FROM reach r JOIN e ON r.b = e.s)
        |SELECT a AS id, min(b) AS component
        |FROM reach GROUP BY a ORDER BY id""".stripMargin,

    "q_dedup_apply" -> applyOracleSql,

    // Same survivors, resolved from the maintained label store — the
    // apply twin of the components union identity.
    "q_dedup_apply_incremental" -> applyOracleSql,

    "q_chunk_tokens" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
        |SELECT doc_id, i AS chunk_id,
        |       array_to_string(toks[(i*24+1):(i*24+32)], ' ') AS chunk
        |FROM d, UNNEST(range(0, (len(toks)-1)//24 + 1)) AS u(i)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents
        |WHERE (doc_id * 2654435761) % 100 < 10
        |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """WITH ranked AS (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT lang, doc_id, rn FROM ranked
        |WHERE rn <= 20 ORDER BY lang, rn""".stripMargin,

    "q_text_clean" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    regexp_replace(lower(text), '[.,!?;:''"()]', '', 'g'),
        |    '\s+', ' ', 'g')) AS cleaned,
        |  trim(regexp_replace(
        |    regexp_replace(lower(text), '[.,!?;:''"()]', '', 'g'),
        |    '\s+', ' ', 'g')) != lower(text) AS changed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_transform(range(1, len(toks) - 1),
        |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |         ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM d),
        |c AS (SELECT doc_id, unnest(list_distinct(s)) AS sh FROM sh
        |      WHERE doc_id % 50 <> 0),
        |b AS (SELECT DISTINCT unnest(list_distinct(s)) AS sh FROM sh
        |      WHERE doc_id % 50 = 0)
        |SELECT c.doc_id, count(DISTINCT c.sh) AS n_contaminated
        |FROM c JOIN b USING (sh) GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_decontam_matrix" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_transform(range(1, len(toks) - 1),
        |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
        |         ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM d),
        |c AS (SELECT doc_id, unnest(list_distinct(s)) AS sh FROM sh
        |      WHERE doc_id % 50 <> 0),
        |b AS (SELECT DISTINCT doc_id % 3 AS bench,
        |             unnest(list_distinct(s)) AS sh
        |      FROM sh WHERE doc_id % 50 = 0)
        |SELECT c.doc_id, b.bench,
        |  count(DISTINCT c.sh) AS n_contaminated
        |FROM c JOIN b USING (sh) GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_curate" -> {
      val qexpr = sqlRound(
        "greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + " +
        "(stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)
      s"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
         |t AS (
         |  SELECT doc_id, text, lang, string_split(text, ' ') AS toks,
         |         length(text) AS nch,
         |         length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS punct
         |  FROM corpus),
         |h AS (
         |  SELECT doc_id, text, lang, len(toks) AS n_tokens,
         |         len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
         |         punct, nch
         |  FROM t),
         |q AS (
         |  SELECT doc_id, text, lang, $qexpr AS quality FROM h
         |  WHERE $qexpr >= 0.3),
         |reps AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text),
         |dq AS (SELECT q.* FROM q JOIN reps USING (doc_id)),
         |dsh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3
         |         THEN list_transform(range(1, len(toks) - 1),
         |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         |         ELSE CAST([] AS VARCHAR[]) END AS s
         |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM dq)),
         |bsh AS (
         |  SELECT DISTINCT unnest(list_distinct(
         |    CASE WHEN len(toks) >= 3
         |         THEN list_transform(range(1, len(toks) - 1),
         |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         |         ELSE CAST([] AS VARCHAR[]) END)) AS sh
         |  FROM (SELECT string_split(text, ' ') AS toks FROM documents
         |        WHERE doc_id % 50 = 0)),
         |contaminated AS (
         |  SELECT DISTINCT doc_id FROM
         |    (SELECT doc_id, unnest(list_distinct(s)) AS sh FROM dsh) c
         |    JOIN bsh USING (sh))
         |SELECT dq.doc_id, dq.lang, dq.quality FROM dq
         |WHERE dq.doc_id NOT IN (SELECT doc_id FROM contaminated)
         |  AND (dq.doc_id * 2654435761) % 100 < 50
         |ORDER BY dq.doc_id""".stripMargin
    },

    // The incremental funnel resolves the SAME keep set: reps from the
    // digest store's min fold == the one-shot min-per-text window.
    "q_curate_incremental" -> curateIncrementalOracle,

    "q_pipeline_incremental" -> pipelineIncrementalOracle,

    // The FULL funnel replayed stage for stage: the q_c4_filters line
    // synthesis + C4 rules, the q_gopher_quality signal replay on
    // clean_text (relaxed thresholds 10/1), the frozen classifier
    // gate (the q_quality_classifier training-loop CTEs fit the
    // identical rounded weight trajectory, then the 6dp sigmoid over
    // clean_text features gated at the quantile_cont median), the
    // quality CTE at 0.2, the q_dsir poly-bucket log-ratio +
    // quantile_cont gate on clean_text, min-per-clean_text dedup, the
    // q_curate shingle decontamination, and the hash draw.
    "q_curate_full" -> curateFullOracle,

    "q_pipeline_full" -> pipelineFullOracle,

    "q_boilerplate" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 5
        |         THEN list_transform(range(1, len(toks) - 3),
        |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
        |                               toks[i+3], toks[i+4]))
        |         ELSE CAST([] AS VARCHAR[]) END AS s
        |  FROM t),
        |e AS (SELECT doc_id, unnest(list_distinct(s)) AS shingle FROM sh)
        |SELECT shingle, count(*) AS n_docs FROM e
        |GROUP BY 1 HAVING count(*) >= 3 ORDER BY shingle""".stripMargin,

    // Replays the exact second pass only: the sketch pass contributes
    // membership (a guaranteed superset), never values, so the oracle
    // is the plain threshold count -- which is the operator's contract.
    "q_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(string_split(text, ' ')) AS item
         |  FROM documents WHERE text IS NOT NULL),
         |n AS (SELECT count(*) AS total FROM toks),
         |c AS (SELECT item, count(*) AS cnt FROM toks GROUP BY 1)
         |SELECT item, cnt,
         |  ${sqlRound("cnt / CAST(n.total AS DOUBLE)", 6)} AS share
         |FROM c CROSS JOIN n
         |WHERE cnt >= ceil(0.0335 * n.total)
         |ORDER BY cnt DESC, item""".stripMargin,

    "q_heavy_hitters_grouped" ->
      s"""WITH r AS (
         |  SELECT lang, unnest(string_split(text, ' ')) AS tok
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         |g AS (SELECT lang, count(*) AS n FROM r GROUP BY lang),
         |c AS (SELECT lang, tok, count(*) AS cnt FROM r GROUP BY lang, tok)
         |SELECT c.lang, c.tok, c.cnt,
         |  ${sqlRound("c.cnt / CAST(g.n AS DOUBLE)", 6)} AS share
         |FROM c JOIN g USING (lang)
         |WHERE c.cnt >= ceil(0.03 * g.n)
         |ORDER BY lang, cnt DESC, tok""".stripMargin,

    // Full-training replays: every pair count, arg-max choice, and
    // non-overlapping merge of all bpeMerges rounds re-derived in SQL.
    "q_bpe_train" -> bpeTrainOracleSql,
    "q_bpe_encode" -> bpeEncodeOracleSql,
    "q_bpe_encode_oov" -> bpeEncodeOovOracleSql,

    "q_tfidf" ->
      s"""WITH terms AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
         |scored AS (
         |  SELECT tf.doc_id, tf.term, tf.tf,
         |    ${sqlRound("tf.tf * ln(n.n_docs / CAST(dfreq.df AS DOUBLE))", 6)} AS tfidf
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT doc_id, term, tf, tfidf,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, term) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT doc_id, term, tf, tfidf, rk FROM ranked
         |WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin,

    "q_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |b AS (
         |  SELECT doc_id, toks, len(toks) AS n,
         |    list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1]) AS bigrams
         |  FROM t)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  ${sqlRound("1.0 - len(list_distinct(toks)) / CAST(nullif(n, 0) AS DOUBLE)", 4)} AS dup_token_frac,
         |  CASE WHEN n IS NULL THEN NULL
         |       WHEN n > 1 THEN ${sqlRound("1.0 - len(list_distinct(bigrams)) / CAST(n - 1 AS DOUBLE)", 4)}
         |       ELSE 0.0 END AS dup_bigram_frac
         |FROM b ORDER BY doc_id""".stripMargin,

    "q_pii_redact" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' reach user' || CAST(doc_id AS VARCHAR) ||
        |      '@mail.example or 555-010-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM documents),
        |er AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |      '<EMAIL>', 'g') AS text_er
        |  FROM planted)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |       len(regexp_extract_all(text_er, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS BIGINT) AS n_pii,
        |  regexp_replace(text_er, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM er ORDER BY doc_id""".stripMargin,

    "q_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      cols.map(c =>
        s"""SELECT '$c' AS column_name,
           |  count(*) - count($c) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  count(*) AS n_rows FROM lineitem""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },

    "q_dq_checks" ->
      """SELECT count(*) AS n_rows,
        |  count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS pk_dup_rows,
        |  count(*) FILTER (WHERE l_quantity <= 0) AS neg_qty_rows,
        |  count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1)
        |    AS bad_discount_rows,
        |  (SELECT count(*) FROM lineitem li
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = li.l_orderkey))
        |    AS fk_orphan_rows
        |FROM lineitem""".stripMargin,

    "q_embed_quantize" -> {
      val q = sqlRound("CAST(x AS DOUBLE) / nullif(amax, 0.0) * 127", 0)
      s"""WITH a AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS amax
         |  FROM embeddings)
         |SELECT vec_id,
         |  ${sqlRound("amax", 6)} AS amax,
         |  CAST(list_sum(list_transform(embedding, x -> $q)) AS BIGINT) AS q_sum,
         |  ${sqlRound(s"list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE) - $q * amax / 127)))", 6)} AS max_err
         |FROM a ORDER BY vec_id""".stripMargin
    },

    // Bit-exact sketch replay: quantize (shared HALF_UP), bucket by
    // (bit-length, top-B-bit prefix) via bin()-string length and
    // integer division, cumulative walk ordered by (blen, bucket),
    // nearest-rank-lower pick, midpoint estimate.
    "q_quantile_sketch" -> {
      val B = 10
      s"""WITH v AS (
         |  SELECT CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5)
         |    AS BIGINT) AS q FROM lineitem),
         |vq AS (SELECT q FROM v WHERE q >= 1),
         |b AS (SELECT length(bin(q)) AS blen,
         |  CAST(pow(2.0, greatest(length(bin(q)) - $B, 0)) AS BIGINT) AS f,
         |  q // CAST(pow(2.0, greatest(length(bin(q)) - $B, 0)) AS BIGINT)
         |    AS bucket,
         |  count(*) AS c FROM vq GROUP BY 1, 2, 3),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM b),
         |cum AS (SELECT blen, f, bucket, c,
         |  sum(c) OVER (ORDER BY blen, bucket) AS cum FROM b),
         |ps AS (SELECT unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS p),
         |pick AS (SELECT ps.p, cum.bucket, cum.f
         |  FROM ps, cum, n
         |  WHERE cum.cum > floor(ps.p * CAST(n.n - 1 AS DOUBLE))
         |    AND cum.cum - cum.c <= floor(ps.p * CAST(n.n - 1 AS DOUBLE)))
         |SELECT p,
         |  ${sqlRound("CAST(bucket * f + f // 2 AS DOUBLE) / 100.0", 6)} AS q_est
         |FROM pick ORDER BY p""".stripMargin
    },

    "q_quantile_sketch_grouped" -> {
      val B = 10
      s"""WITH v AS (
         |  SELECT l_returnflag AS k,
         |    CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5)
         |      AS BIGINT) AS q FROM lineitem),
         |vq AS (SELECT k, q FROM v WHERE q >= 1),
         |b AS (SELECT k, length(bin(q)) AS blen,
         |  CAST(pow(2.0, greatest(length(bin(q)) - $B, 0)) AS BIGINT) AS f,
         |  q // CAST(pow(2.0, greatest(length(bin(q)) - $B, 0)) AS BIGINT)
         |    AS bucket,
         |  count(*) AS c FROM vq GROUP BY 1, 2, 3, 4),
         |cum AS (SELECT k, f, bucket, c,
         |  sum(c) OVER (PARTITION BY k ORDER BY blen, bucket) AS cum,
         |  sum(c) OVER (PARTITION BY k) AS n FROM b),
         |ps AS (SELECT unnest([0.25, 0.5, 0.75, 0.99]) AS p)
         |SELECT cum.k AS l_returnflag, ps.p,
         |  ${sqlRound("CAST(bucket * f + f // 2 AS DOUBLE) / 100.0", 6)} AS q_est
         |FROM cum, ps
         |WHERE cum.cum > floor(ps.p * CAST(cum.n - 1 AS DOUBLE))
         |  AND cum.cum - cum.c <= floor(ps.p * CAST(cum.n - 1 AS DOUBLE))
         |ORDER BY l_returnflag, p""".stripMargin
    },

    "q_quantile_2pass" -> {
      def one(p: String) =
        s"""SELECT CAST($p AS DOUBLE) AS p,
           |  ${sqlRound(s"quantile_cont(CAST(l_extendedprice AS DOUBLE), $p)", 4)} AS q
           |FROM lineitem""".stripMargin
      Seq("0.01", "0.25", "0.50", "0.75", "0.99").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY p")
    },

    "q_quantile_grouped_2pass" -> {
      def one(p: String) =
        s"""SELECT l_returnflag, CAST($p AS DOUBLE) AS p,
           |  ${sqlRound(s"quantile_cont(CAST(l_extendedprice AS DOUBLE), $p)", 4)} AS q
           |FROM lineitem GROUP BY l_returnflag""".stripMargin
      Seq("0.01", "0.25", "0.50", "0.75", "0.99").map(one)
        .mkString("", "\nUNION ALL\n", "\nORDER BY l_returnflag, p")
    },

    "q_percentiles" ->
      s"""SELECT l_returnflag,
         |  ${sqlRound("quantile_cont(l_extendedprice, 0.25)", 4)} AS p25,
         |  ${sqlRound("quantile_cont(l_extendedprice, 0.50)", 4)} AS p50,
         |  ${sqlRound("quantile_cont(l_extendedprice, 0.75)", 4)} AS p75
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_similarity_cosine" -> {
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS nvec FROM embeddings),
         |s AS (
         |  SELECT query_id, neighbor_id,
         |    ${sqlRound(s"${sqlDot("qvec", "nvec")} / (sqrt(${sqlDot("qvec", "qvec")}) * sqrt(${sqlDot("nvec", "nvec")}))", 6)} AS sim
         |  FROM c, q)
         |SELECT query_id, neighbor_id, sim,
         |       row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
         |FROM s QUALIFY rk <= 10
         |ORDER BY query_id, rk""".stripMargin
    },

    "q_repeated_ngrams" -> {
      // 8-term concat mirrors shingles(w=8); range() is end-exclusive, so
      // range(1, len-6) yields the same len-7 gram positions as Spark's
      // sequence(0, size-8).
      val terms = (0 to 7).map(j => s"toks[i+$j]").mkString(", ")
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 8
         |         THEN list_transform(range(1, len(toks) - 6),
         |                i -> concat_ws(' ', $terms))
         |         ELSE CAST([] AS VARCHAR[]) END AS s
         |  FROM t),
         |e AS (SELECT doc_id, unnest(s) AS gram FROM sh),
         |pd AS (SELECT gram, doc_id, count(*) AS occ FROM e GROUP BY 1, 2)
         |SELECT gram, count(*) AS n_docs, CAST(sum(occ) AS BIGINT) AS n_occ
         |FROM pd GROUP BY gram HAVING count(*) >= 2 ORDER BY gram""".stripMargin
    },

    "q_gopher_repetition" -> {
      def gramTerms(n: Int) = (0 until n).map(j => s"toks[i+$j]").mkString(", ")
      // range(1, len - (n-2)) is end-exclusive: i = 1..len-n+1, the same
      // len-n+1 gram positions as Spark's sequence(0, size-n)
      def topCtes(n: Int) =
        s"""g$n AS (
           |  SELECT doc_id, concat_ws(' ', ${gramTerms(n)}) AS gram
           |  FROM d, UNNEST(range(1, len(toks) - ${n - 2})) AS u(i)
           |  WHERE len(toks) >= $n),
           |c$n AS (SELECT doc_id, gram, count(*) AS cnt FROM g$n GROUP BY 1, 2),
           |p$n AS (SELECT doc_id, cnt, gram FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id
           |      ORDER BY cnt DESC, gram) AS rk FROM c$n) WHERE rk = 1)"""
          .stripMargin
      def topSel(n: Int) = sqlRound(
        s"coalesce(CAST(p$n.cnt * length(p$n.gram) AS DOUBLE) " +
          s"/ nullif(d.nch, 0), 0.0)", 6) + s" AS top${n}_frac"
      s"""WITH d0 AS (SELECT doc_id, text FROM documents
         |            WHERE text IS NOT NULL),
         |d1 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN text || ' ' ||
         |    array_to_string(string_split(text, ' ')[1:8], ' ')
         |  ELSE text END AS text FROM d0),
         |d AS (SELECT doc_id, text, length(text) AS nch,
         |  string_split(text, ' ') AS toks FROM d1),
         |${topCtes(2)},
         |${topCtes(3)},
         |${topCtes(4)},
         |g6p AS (
         |  SELECT doc_id, i AS pos, concat_ws(' ', ${gramTerms(6)}) AS gram
         |  FROM d, UNNEST(range(1, len(toks) - 4)) AS u(i)
         |  WHERE len(toks) >= 6),
         |dp AS (SELECT doc_id, pos FROM (
         |    SELECT doc_id, pos,
         |      count(*) OVER (PARTITION BY doc_id, gram) AS cnt FROM g6p)
         |  WHERE cnt >= 2),
         |cov AS (SELECT DISTINCT doc_id, p
         |  FROM dp, UNNEST(range(pos, pos + 6)) AS u(p)),
         |lens AS (SELECT doc_id, i AS p, length(toks[i]) AS l
         |  FROM d, UNNEST(range(1, len(toks) + 1)) AS u(i)),
         |tot AS (SELECT doc_id, sum(l) AS tl FROM lens GROUP BY 1),
         |cl AS (SELECT lens.doc_id, sum(l) AS covlen FROM lens
         |  JOIN cov ON lens.doc_id = cov.doc_id AND lens.p = cov.p
         |  GROUP BY 1)
         |SELECT d.doc_id, ${topSel(2)}, ${topSel(3)}, ${topSel(4)},
         |  ${sqlRound("coalesce(CAST(cl.covlen AS DOUBLE) / nullif(tot.tl, 0), 0.0)", 6)} AS dup6_frac
         |FROM d LEFT JOIN p2 USING (doc_id) LEFT JOIN p3 USING (doc_id)
         |LEFT JOIN p4 USING (doc_id) LEFT JOIN tot USING (doc_id)
         |LEFT JOIN cl USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // every ratio rounded to 6 BEFORE its threshold compare, exactly
    // like the engine — the keep decision is an exact comparison of
    // canonical values on both sides
    "q_gopher_quality" -> {
      val stops = TextOps.gopherStopwords.map(w => s"'$w'")
        .mkString("[", ",", "]")
      s"""WITH d0 AS (SELECT doc_id, text FROM documents
         |            WHERE text IS NOT NULL),
         |d1 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 0 THEN text || chr(10) ||
         |    '• bullet line one' || chr(10) || '• bullet line two'
         |  ELSE text END AS text FROM d0),
         |d2 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 11 = 0 THEN text || chr(10) ||
         |    'to be continued...'
         |  ELSE text END AS text FROM d1),
         |w AS (SELECT doc_id, text,
         |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
         |    AS words,
         |  string_split(text, chr(10)) AS lines FROM d2),
         |s AS (SELECT doc_id,
         |  len(words) AS nw,
         |  length(regexp_replace(text, '\\s+', '', 'g')) AS wchars,
         |  length(text) - length(replace(text, '#', '')) AS hashes,
         |  len(regexp_extract_all(text, '\\.\\.\\.')) AS ell,
         |  len(lines) AS nl,
         |  len(list_filter(lines, l -> l LIKE '•%' OR l LIKE '- %')) AS bl,
         |  len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) AS el,
         |  len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS aw,
         |  len(list_intersect(
         |    list_distinct(list_transform(words, x -> lower(x))),
         |    $stops)) AS stop_hits
         |  FROM w),
         |m AS (SELECT doc_id, CAST(nw AS BIGINT) AS n_words,
         |  ${sqlRound("wchars / nullif(nw, 0)", 6)} AS mean_word_len,
         |  ${sqlRound("(hashes + ell) / nullif(nw, 0)", 6)} AS symbol_ratio,
         |  ${sqlRound("bl / nullif(nl, 0)", 6)} AS bullet_frac,
         |  ${sqlRound("el / nullif(nl, 0)", 6)} AS ellipsis_frac,
         |  ${sqlRound("aw / nullif(nw, 0)", 6)} AS alpha_frac,
         |  CAST(stop_hits AS BIGINT) AS stop_hits
         |  FROM s)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio,
         |  bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
         |  coalesce(n_words >= 50 AND n_words <= 100000 AND
         |    mean_word_len >= 3.0 AND mean_word_len <= 10.0 AND
         |    symbol_ratio <= 0.1 AND bullet_frac <= 0.9 AND
         |    ellipsis_frac <= 0.3 AND alpha_frac >= 0.8 AND
         |    stop_hits >= 2, FALSE) AS gopher_keep
         |FROM m ORDER BY doc_id""".stripMargin
    },

    // replays the synthesis (10-token lines, modular punctuation and
    // marker lines) and then the C4 rules: terminal punct + >= 3 words
    // + no javascript/cookie marker per line; '{' / 'lorem ipsum'
    // documents dropped wholesale; all-lines-dropped docs disappear
    "q_c4_filters" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE text IS NOT NULL),
        |l0 AS (SELECT doc_id,
        |  list_transform(range(0, CAST(ceil(len(toks) / 10.0) AS BIGINT)),
        |    i -> array_to_string(toks[(i*10+1):(i*10+10)], ' ') ||
        |         CASE WHEN (doc_id + i) % 3 = 0 THEN '.' ELSE '' END)
        |    AS lines0
        |  FROM d),
        |t1 AS (SELECT doc_id,
        |  array_to_string(lines0, chr(10)) AS text FROM l0),
        |t2 AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0 THEN text ||
        |  chr(10) || 'please enable javascript to view this page.'
        |  ELSE text END AS text FROM t1),
        |t3 AS (SELECT doc_id, CASE WHEN doc_id % 15 = 0 THEN text ||
        |  chr(10) || 'we use cookies to improve your experience.'
        |  ELSE text END AS text FROM t2),
        |t4 AS (SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text ||
        |  chr(10) || 'function f() { return 1; }'
        |  ELSE text END AS text FROM t3),
        |t5 AS (SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN text ||
        |  chr(10) || 'lorem ipsum dolor sit amet.'
        |  ELSE text END AS text FROM t4),
        |f AS (SELECT doc_id, string_split(text, chr(10)) AS lines
        |  FROM t5
        |  WHERE NOT contains(lower(text), '{')
        |    AND NOT contains(lower(text), 'lorem ipsum')),
        |k AS (SELECT doc_id, lines,
        |  list_filter(lines, l ->
        |    (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
        |    AND len(list_filter(string_split(l, ' '), w -> w <> '')) >= 3
        |    AND NOT contains(lower(l), 'javascript')
        |    AND NOT contains(lower(l), 'cookie')) AS kept
        |  FROM f)
        |SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM k WHERE len(kept) >= 1 ORDER BY doc_id""".stripMargin,

    "q_entropy" ->
      s"""WITH e AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*) AS c FROM e GROUP BY 1, 2)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n, count(*) AS n_distinct,
         |  ${sqlRound("ln(sum(c)) - sum(c * ln(c)) / sum(c)", 6)} AS entropy
         |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ngram_containment" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id < 40),
         |sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(toks) >= 3
         |         THEN list_transform(range(1, len(toks) - 1),
         |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
         |         ELSE CAST([] AS VARCHAR[]) END AS s
         |  FROM d)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  len(list_distinct(list_intersect(a.s, b.s))) AS inter,
         |  len(list_distinct(a.s)) AS n_a,
         |  ${sqlRound(
              "len(list_distinct(list_intersect(a.s, b.s))) / nullif(len(list_distinct(a.s)), 0)",
              6)} AS containment
         |FROM sh a, sh b WHERE a.doc_id <> b.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    "q_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000,
        |    array_to_string(toks[1:greatest(CAST((len(toks)*4)//5 AS INT), 3)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM base),
        |ln AS (
        |  SELECT doc_id, pos,
        |    array_to_string(toks[(pos*10+1):(pos*10+10)], ' ') AS line
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, CAST(ceil(len(toks)/10.0) AS BIGINT)))
        |            AS pos
        |        FROM t)),
        |bp AS (SELECT line FROM ln GROUP BY line
        |       HAVING count(DISTINCT doc_id) >= 2),
        |kept AS (SELECT * FROM ln
        |         WHERE line NOT IN (SELECT line FROM bp))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_bm25" ->
      s"""WITH params AS (
         |  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n,
         |    ${sqlRound("avg(len(string_split(text, ' ')))", 6)} AS avgdl
         |  FROM documents),
         |q AS (SELECT unnest(['spark', 'join', 'fast']) AS term),
         |tok AS (SELECT doc_id, len(string_split(text, ' ')) AS dl,
         |          unnest(string_split(text, ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
         |       FROM tok JOIN q USING (term) GROUP BY 1, 2),
         |d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
         |s AS (SELECT doc_id,
         |        sum(ln(1 + (n - df + 0.5) / (df + 0.5))
         |          * (tf * (1.2 + 1))
         |          / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) AS raw,
         |        count(*) AS n_terms
         |      FROM d, params GROUP BY doc_id)
         |SELECT doc_id, ${sqlRound("raw", 6)} AS score,
         |  CAST(n_terms AS BIGINT) AS n_terms
         |FROM s ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_inverted_index" ->
      """WITH e AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS df,
        |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
        |FROM e GROUP BY term ORDER BY term""".stripMargin,

    "q_domain_mix" ->
      """WITH w(source, wt) AS (VALUES
        |    ('src0', CAST(0.5 AS DOUBLE)),
        |    ('src1', CAST(0.3 AS DOUBLE)),
        |    ('src2', CAST(0.2 AS DOUBLE))),
        |c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |j AS (SELECT w.source, wt, n FROM w JOIN c USING (source)
        |      WHERE n > 0),
        |t AS (SELECT min(n / wt) AS total FROM j),
        |r AS (SELECT source,
        |        CASE WHEN n / wt = total THEN 1000000
        |             ELSE CAST(floor(wt * total / n * 1000000) AS BIGINT)
        |        END AS thr
        |      FROM j, t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE (d.doc_id * 2654435761) % 1000000 < thr
        |ORDER BY d.doc_id""".stripMargin,

    // sqrt is IEEE-correctly-rounded in BOTH engines, so the derived
    // weights — and therefore the floor'd thresholds — are bit-equal
    // to Mixing.temperatureSample's driver arithmetic (same
    // left-associated double chain).
    "q_sample_temperature" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |j AS (SELECT source, sqrt(CAST(n AS DOUBLE)) AS wt, n
        |      FROM c WHERE n > 0),
        |t AS (SELECT min(n / wt) AS total FROM j),
        |r AS (SELECT source,
        |        CASE WHEN n / wt = total THEN 1000000
        |             ELSE CAST(floor(wt * total / n * 1000000) AS BIGINT)
        |        END AS thr
        |      FROM j, t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE (d.doc_id * 2654435761) % 1000000 < thr
        |ORDER BY d.doc_id""".stripMargin,

    // replays the synthesis + the Luhn fold: reversed digit string,
    // every second digit doubled (minus 9 past 9), sum mod 10
    "q_pii_cards" ->
      """WITH d0 AS (SELECT doc_id, text FROM documents
        |            WHERE text IS NOT NULL),
        |d1 AS (SELECT doc_id, CASE WHEN doc_id % 6 = 0
        |  THEN text || ' pay 4111111111111111 now' ELSE text END AS text
        |  FROM d0),
        |d2 AS (SELECT doc_id, CASE WHEN doc_id % 8 = 0
        |  THEN text || ' ref 4111111111111112 logged' ELSE text END AS text
        |  FROM d1),
        |d3 AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
        |  THEN text || ' tsid 12345678901234567890 x' ELSE text END AS text
        |  FROM d2),
        |c AS (SELECT doc_id,
        |  list_filter(regexp_extract_all(text, '[0-9]+'),
        |    r -> length(r) BETWEEN 13 AND 19) AS cands
        |  FROM d3)
        |SELECT doc_id,
        |  CAST(len(cands) AS BIGINT) AS n_card_candidates,
        |  CAST(len(list_filter(cands, c ->
        |    list_sum(list_transform(range(1, length(c) + 1), i ->
        |      CASE WHEN i % 2 = 0 THEN
        |        CASE WHEN 2 * (unicode(reverse(c)[i]) - 48) > 9
        |             THEN 2 * (unicode(reverse(c)[i]) - 48) - 9
        |             ELSE 2 * (unicode(reverse(c)[i]) - 48) END
        |      ELSE unicode(reverse(c)[i]) - 48 END)) % 10 = 0))
        |    AS BIGINT) AS n_luhn_valid
        |FROM c ORDER BY doc_id""".stripMargin,

    // exact distinct-shingle Jaccard over the replayed synthesis; the
    // engine's 8-byte hash join must agree with the string-level truth
    "q_decontam_fuzzy" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents WHERE text IS NOT NULL),
         |sa AS (SELECT doc_id,
         |  CASE WHEN len(toks) >= 3
         |       THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
         |       ELSE CAST([] AS VARCHAR[]) END AS s
         |  FROM d),
         |bt AS (SELECT doc_id + 5000000 AS bench_id,
         |  string_split(array_to_string(
         |    toks[1:greatest(CAST((len(toks)*3)//5 AS INT), 3)], ' '),
         |    ' ') AS toks
         |  FROM d WHERE doc_id % 25 = 0),
         |sb AS (SELECT bench_id,
         |  CASE WHEN len(toks) >= 3
         |       THEN list_distinct(list_transform(range(1, len(toks) - 1),
         |              i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
         |       ELSE CAST([] AS VARCHAR[]) END AS s
         |  FROM bt),
         |j AS (
         |  SELECT a.doc_id, b.bench_id,
         |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS inter,
         |    ${sqlRound(
              "len(list_intersect(a.s, b.s)) / " +
                "nullif(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)), 0)",
              6)} AS jaccard
         |  FROM sa a, sb b)
         |SELECT doc_id, bench_id, inter, jaccard FROM j
         |WHERE jaccard >= 0.3 ORDER BY doc_id, bench_id""".stripMargin,

    // α = 0.25 replays the engine's dyadic sqrt CHAIN verbatim:
    // n^0.25 = sqrt(sqrt(n)), every step correctly rounded in both
    // engines, so thresholds are bit-equal (same rationale as α=0.5)
    "q_sample_temp25" ->
      """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
        |j AS (SELECT source, sqrt(sqrt(CAST(n AS DOUBLE))) AS wt, n
        |      FROM c WHERE n > 0),
        |t AS (SELECT min(n / wt) AS total FROM j),
        |r AS (SELECT source,
        |        CASE WHEN n / wt = total THEN 1000000
        |             ELSE CAST(floor(wt * total / n * 1000000) AS BIGINT)
        |        END AS thr
        |      FROM j, t)
        |SELECT d.doc_id, d.source
        |FROM documents d JOIN r USING (source)
        |WHERE (d.doc_id * 2654435761) % 1000000 < thr
        |ORDER BY d.doc_id""".stripMargin,

    // first-attribution per gram (min doc id), then the per-doc fold —
    // the mutants (always later ids) must score ~0
    "q_novelty" -> noveltySql,

    // the incremental key's oracle is the one-shot SQL VERBATIM: under
    // id-monotone batches, per-batch novelty-at-arrival concatenates
    // to exactly the one-shot answer (NoveltyIndexSpec pins it)
    "q_novelty_incremental" -> noveltySql,

    // the q_dedup_components pair derivation + label fold, then the
    // q_split_assign hash draw on the LABEL — mutants and originals
    // provably share a split
    "q_split_leakfree" -> splitLeakfreeSql,

    // the incremental key's oracle is the one-shot SQL VERBATIM:
    // store-resolved labels over accreted pair batches equal the
    // one-shot components fold over the union of all pairs (the
    // ComponentsIndex union identity), and the hash draw on the label
    // is the same arithmetic
    "q_split_leakfree_incremental" -> splitLeakfreeSql,

    // the per-group-budget twin: the naive window against a CASE of
    // the static budgets; unbudgeted languages (es, zh) drop wholesale
    "q_token_budget_grouped" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         |         length(text) AS nch,
         |         length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS punct
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         |h AS (
         |  SELECT doc_id, lang, len(toks) AS n_tokens,
         |         len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
         |         punct, nch
         |  FROM t),
         |q AS (
         |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    ${sqlRound("greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + (stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)} AS quality
         |  FROM h),
         |c AS (
         |  SELECT doc_id, lang, quality, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM q WHERE quality IS NOT NULL
         |    AND lang IN ('en', 'de', 'fr'))
         |SELECT doc_id, lang, quality, n_tokens FROM c
         |WHERE cum <= CASE lang WHEN 'en' THEN 2500
         |                       WHEN 'de' THEN 1200 ELSE 800 END
         |ORDER BY doc_id""".stripMargin,

    // replays Mixing.waterFill pass by pass: six unrolled cap passes
    // (each fixes every group whose supply is at or under the current
    // even share — window functions carry the running left/cnt, and
    // `//` matches the driver's Long division; six passes bound any
    // <= 6-group input, and the 5-lang corpus needs at most 5), then
    // the final distribution with the integer remainder going to the
    // lexicographically first remaining groups — exactly the driver
    // arithmetic. The derived budgets then drive the same naive
    // per-group window as q_token_budget_grouped.
    "q_token_budget_waterfill" ->
      s"""WITH $waterfillCtes
         |SELECT c.doc_id, c.lang, c.quality, c.n_tokens
         |FROM c JOIN bud USING (lang)
         |WHERE c.cum <= bud.budget ORDER BY doc_id""".stripMargin,

    // the COMPOSED mixture: the identical water-fill selection CTEs,
    // then the q_mix_epochs replication replay (floor copies +
    // portable fractional draw) over the SELECTED set
    "q_mix_budget_epochs" ->
      s"""WITH $waterfillCtes,
         |sel AS (SELECT c.doc_id, c.lang, c.quality, c.n_tokens
         |  FROM c JOIN bud USING (lang)
         |  WHERE c.cum <= bud.budget),
         |e AS (SELECT doc_id, lang, quality, n_tokens,
         |    ${mixEpochsCaseSql("lang")} AS pct
         |  FROM sel),
         |cp AS (SELECT doc_id, lang, quality, n_tokens,
         |    (pct // 100) +
         |    CASE WHEN (doc_id * 2654435761) % 100 < pct % 100
         |         THEN 1 ELSE 0 END AS cp
         |  FROM e WHERE pct >= 0)
         |SELECT doc_id, lang, quality, n_tokens,
         |  CAST(unnest(range(0, cp)) AS INT) AS epoch
         |FROM cp WHERE cp >= 1 ORDER BY doc_id, epoch""".stripMargin,

    // replays the NAIVE per-group window — the engine's two-pass
    // histogram-threshold selection must be bit-identical to it
    "q_token_budget" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, string_split(text, ' ') AS toks,
         |         length(text) AS nch,
         |         length(text) - length(regexp_replace(text, '[.,!?;]', '', 'g')) AS punct
         |  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL),
         |h AS (
         |  SELECT doc_id, lang, len(toks) AS n_tokens,
         |         len(list_filter(toks, x -> list_contains($stopList, x))) AS stop_hits,
         |         punct, nch
         |  FROM t),
         |q AS (
         |  SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
         |    ${sqlRound("greatest(0.0, least(1.0, least(1.0, n_tokens / 100.0) * 0.5 + (stop_hits / nullif(n_tokens, 0)) * 2.0 - (punct / nullif(nch, 0)) * 0.5))", 4)} AS quality
         |  FROM h),
         |c AS (
         |  SELECT doc_id, lang, quality, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY quality DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM q WHERE quality IS NOT NULL)
         |SELECT doc_id, lang, quality, n_tokens FROM c
         |WHERE cum <= 2000 ORDER BY doc_id""".stripMargin,

    // replays the TRAINING LOOP exactly: the feature projection, then
    // per iteration a one-row gradient CTE (mean error and mean
    // error-times-feature, HALF_UP-8 — absorbing distributed-sum ulp
    // noise) and a one-row weight CTE (w - 0.5·g, re-rounded; 0.5 is
    // dyadic so the update arithmetic is IEEE-identical), then the
    // 6dp sigmoid scoring — both engines walk the identical rounded
    // weight trajectory
    "q_quality_classifier" ->
      s"""WITH $classifierLoopCtes
         |SELECT doc_id, y, p, p >= 0.5 AS pred FROM
         |  (SELECT doc_id, y, $classifierScoreSql AS p FROM feats, w3)
         |ORDER BY doc_id""".stripMargin,

    // the ridge twin: identical loop with the round8(g + 0.25*w)
    // regularizer in every non-bias update
    "q_quality_classifier_l2" ->
      s"""WITH ${classifierLoopCtesWith(Some("0.25"))}
         |SELECT doc_id, y, p, p >= 0.5 AS pred FROM
         |  (SELECT doc_id, y, $classifierScoreSql AS p FROM feats, w3)
         |ORDER BY doc_id""".stripMargin,

    // the calibration twin: identical training-loop CTEs (same weight
    // trajectory), then the curve — group by the 6dp score, cumulative
    // confusion counts over the score-DESC window, exact 0/1 sums
    "q_pr_curve" -> prCurveOracle,

    // the accreted-store twin derives the identical curve (additive
    // monoid fold on read) — the ORACLE IS q_pr_curve's verbatim
    "q_pr_curve_incremental" -> prCurveOracle,

    // integer-percent epochs replay exactly: full copies by floor
    // division, the fractional copy by the portable per-doc draw,
    // epochs unrolled with range()
    "q_mix_epochs" ->
      """WITH d AS (SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 230 WHEN 'de' THEN 100
        |              WHEN 'fr' THEN 50 ELSE -1 END AS pct
        |  FROM documents WHERE lang IS NOT NULL AND doc_id IS NOT NULL),
        |c AS (SELECT doc_id, lang,
        |    (pct // 100) +
        |    CASE WHEN (doc_id * 2654435761) % 100 < pct % 100
        |         THEN 1 ELSE 0 END AS cp
        |  FROM d WHERE pct >= 0)
        |SELECT doc_id, lang, CAST(unnest(range(0, cp)) AS INT) AS epoch
        |FROM c WHERE cp >= 1 ORDER BY doc_id, epoch""".stripMargin,

    // the AUC twin: same training-loop CTEs, then the Mann-Whitney
    // fold over the per-score aggregate — ranks-before via the
    // score-ASC window, average tie ranks as exact halves
    "q_roc_auc" -> rocAucOracle,

    // accreted-store AUC — q_roc_auc's oracle verbatim
    "q_roc_auc_incremental" -> rocAucOracle,

    // ECE: identical training-loop CTEs, then the all-integer binned
    // fold on the 1e-6 score lattice — per-bin numerator
    // |pos_b*10^6 - sum(n*k)_b| is exact integer arithmetic on both
    // engines; one division, one 6dp rounding
    "q_ece" -> eceOracle,
    "q_ece_incremental" -> eceOracle,

    // Brier: same lattice, the exact expansion
    // sum(n*k^2) - 2e6*sum(pos*k) + 1e12*sum(pos) over HUGEINT,
    // converted to double ONCE for the final division
    "q_brier" -> brierOracle,
    "q_brier_incremental" -> brierOracle,

    // monitoring completion: the per-bin reliability drill-down, the
    // F1 operating point, and the label-free PSI drift — incremental
    // twins share each oracle verbatim (monoid / window identities)
    "q_reliability" -> reliabilityOracle,
    "q_reliability_incremental" -> reliabilityOracle,
    "q_threshold_f1" -> thresholdOracle,
    "q_threshold_f1_incremental" -> thresholdOracle,
    "q_drift_psi" -> driftOracle,
    "q_drift_psi_incremental" -> driftOracle,
    "q_drift_ks" -> driftKsOracle,
    "q_drift_ks_incremental" -> driftKsOracle,
    "q_threshold_f1_grouped" -> thresholdGroupedOracle,
    "q_drift_ks_grouped" -> driftKsGroupedOracle,
    "q_monitor_report" -> monitorReportOracle,
    "q_monitor_report_grouped" -> monitorReportGroupedOracle,
    "q_drift_psi_grouped" -> driftGroupedOracle,
    "q_brier_grouped" -> brierGroupedOracle,
    "q_reliability_grouped" -> reliabilityGroupedOracle,
    "q_filter_ab" -> filterAbOracle,
    "q_ab_promote" -> abPromoteOracle,
    "q_promote_gate" -> promoteGateOracle,
    "q_recalibrate_gate" -> recalibrateGateOracle,
    "q_recalibrate_gate_grouped" -> recalibrateGateGroupedOracle,

    // grouped-store reads fold to the one-shot grouped metrics — the
    // same oracles verbatim (the grouped monoid identity; the
    // store's hist/daily windows union to the whole corpus, and ARE
    // the grouped drift/KS keys' window split)
    "q_pr_curve_grouped_incremental" -> prCurveGroupedOracle,
    "q_roc_auc_grouped_incremental" -> rocAucGroupedOracle,
    "q_ece_grouped_incremental" -> eceGroupedOracle,
    "q_drift_psi_grouped_incremental" -> driftGroupedOracle,
    "q_threshold_f1_grouped_incremental" -> thresholdGroupedOracle,
    "q_drift_ks_grouped_incremental" -> driftKsGroupedOracle,
    "q_brier_grouped_incremental" -> brierGroupedOracle,
    "q_reliability_grouped_incremental" -> reliabilityGroupedOracle,

    // grouped calibration: identical machinery with every window /
    // fold partitioned on the ingestion shard; the incremental
    // store-reads share each oracle verbatim (grouped monoid identity)
    "q_pr_curve_grouped" -> prCurveGroupedOracle,
    "q_roc_auc_grouped" -> rocAucGroupedOracle,
    "q_ece_grouped" -> eceGroupedOracle,

    // replays the engine term for term: the polynomial bucket fold,
    // the add-k smoothed log-ratio (same left-to-right arithmetic
    // shape), the CANONICAL per-doc weight (sum of 1e-9-quantized
    // scaled-long contributions — order-independent exact integer
    // addition, so neither engine's partial-aggregation order can
    // move a boundary-landing value), and the quantile_cont
    // threshold over the rounded weights
    "q_dsir" ->
      s"""WITH w AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS _w
         |  FROM documents WHERE text IS NOT NULL),
         |wf AS (SELECT doc_id, _w FROM w WHERE _w <> ''),
         |b AS (
         |  SELECT doc_id, _w,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        list_transform(range(1, length(_w) + 1),
         |          i -> CAST(unicode(_w[i]) AS BIGINT))),
         |      (a, c) -> (a * 31 + c) % 1048576) % 256 AS _b
         |  FROM wf),
         |rc AS (SELECT _b, count(*) AS c FROM b GROUP BY 1),
         |tc AS (SELECT _b, count(*) AS c FROM b
         |       WHERE doc_id % 10 = 0 GROUP BY 1),
         |tot AS (SELECT (SELECT sum(c) FROM rc) AS rtot,
         |               (SELECT coalesce(sum(c), 0) FROM tc) AS ttot),
         |lw AS (
         |  SELECT rc._b,
         |    ln((coalesce(tc.c, 0) + 0.5) / (ttot + 0.5 * 256)) -
         |    ln((rc.c + 0.5) / (rtot + 0.5 * 256)) AS _lw
         |  FROM rc LEFT JOIN tc ON rc._b = tc._b, tot),
         |dc AS (SELECT doc_id, _b, count(*) AS c FROM b GROUP BY 1, 2),
         |wts AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
         |    ${sqlRound("sum(c * CAST(" + sqlRound("_lw * 1000000000.0", 0) + " AS BIGINT)) / 1000000000.0", 6)} AS logweight
         |  FROM dc JOIN lw USING (_b) GROUP BY doc_id),
         |thr AS (SELECT ${sqlRound("quantile_cont(logweight, 0.5)", 6)}
         |          AS t FROM wts)
         |SELECT doc_id, n_feats, logweight FROM wts, thr
         |WHERE logweight >= t ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    (doc_id * 2654435761) % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS bin,
        |  CAST(cum - n_tokens - floor((cum - n_tokens) / 512) * 512 AS BIGINT)
        |    AS offset
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_split_assign" ->
      """SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
        |  CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
        |       WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, n_chars,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |    'Site' || (doc_id % 7) || '.com/page/' || (doc_id % 40) ||
        |    (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed' ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |nt AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(regexp_replace(url,
        |      '^([A-Za-z][A-Za-z0-9+.-]*)?://', ''), '[?#].*$', '') AS s
        |  FROM u),
        |c AS (
        |  SELECT doc_id, n_chars,
        |    regexp_replace(lower(regexp_extract(s, '^[^/]+')), '^www\.', '')
        |      || regexp_replace(regexp_replace(s, '^[^/]+', ''), '/+$', '')
        |      AS canon_url
        |  FROM nt),
        |r AS (
        |  SELECT canon_url, doc_id, n_chars, row_number() OVER (
        |    PARTITION BY canon_url ORDER BY n_chars DESC, doc_id) AS rk
        |  FROM c)
        |SELECT canon_url, doc_id, n_chars FROM r WHERE rk = 1
        |ORDER BY canon_url""".stripMargin,

    // Bigram-LM replay: vocab scalar, global bigram/left counts as
    // windows over the per-doc distinct-bigram groups (the engine's
    // exact plan), add-k smoothed log-probs, per-lang terciles over
    // the ROUNDED ppls with rounded boundaries — the bucket compare
    // is exact on canonical values.
    "q_perplexity" ->
      s"""WITH tok AS (
         |  SELECT doc_id, lang, str_split(text, ' ') ws FROM documents
         |  WHERE text IS NOT NULL),
         |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
         |  SELECT unnest(str_split(text, ' ')) w FROM documents
         |  WHERE text IS NOT NULL)),
         |bg AS (SELECT doc_id, lang, ws[i] AS p, ws[i+1] AS c
         |  FROM tok, unnest(generate_series(1, len(ws)-1)) t(i)),
         |g AS (SELECT doc_id, lang, p, c, count(*) AS cn
         |  FROM bg GROUP BY 1, 2, 3, 4),
         |wn AS (SELECT doc_id, lang, cn,
         |  sum(cn) OVER (PARTITION BY p, c) AS gb,
         |  sum(cn) OVER (PARTITION BY p) AS gp FROM g),
         |ppl AS (SELECT doc_id, lang, CAST(sum(cn) AS BIGINT) AS n_bigrams,
         |  ${sqlRound("exp(-sum(cn * ln((gb + 0.1) / (gp + 0.1 * v.v))) / sum(cn))", 6)} AS ppl
         |  FROM wn, v GROUP BY doc_id, lang, v.v),
         |th AS (SELECT lang,
         |  ${sqlRound("quantile_cont(ppl, 0.33)", 6)} AS p33,
         |  ${sqlRound("quantile_cont(ppl, 0.66)", 6)} AS p66
         |  FROM ppl GROUP BY lang)
         |SELECT d.doc_id, d.lang, d.n_bigrams, d.ppl,
         |  CASE WHEN d.ppl <= t.p33 THEN 'head'
         |       WHEN d.ppl <= t.p66 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM ppl d JOIN th t ON t.lang IS NOT DISTINCT FROM d.lang
         |ORDER BY d.doc_id""".stripMargin,

    "q_unigram_logprob" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |pd AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         |g AS (SELECT doc_id, c, sum(c) OVER (PARTITION BY tok) AS gf FROM pd),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM pd)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  ${sqlRound("sum(c * ln(gf / t)) / sum(c)", 6)} AS logprob
         |FROM g, tot GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
