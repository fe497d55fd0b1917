package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vector search and ANN: the reference's query template over five
  * strategies, the ANN indexes, vector codecs, embedding statistics and
  * clustering. */
private[queries] object VectorRows {

  /** Synthetic PQ codebook shared by ann_ivfpq_topk / ann_ivfpq_delete
    * (m=8, k=4, dsub=8); both oracles hard-code the same
    * (c − 1.5) + t·0.01 centroid formula — change all four together. */
  private lazy val ivfPqModel: PqIndex.PqModel = {
    val m = 8; val k = 4; val dsub = 8
    val cb: Array[Float] = Array.tabulate(m * k * dsub) { idx =>
      val t = idx % dsub
      val c = (idx / dsub) % k
      ((c - 1.5) + t * 0.01).toFloat
    }
    PqIndex.PqModel(m, k, 64, cb)
  }

  private def knnOracle(scoreExpr: String, desc: Boolean, k: Int,
      where: String = ""): String = {
    val dir = if (desc) "DESC" else "ASC"
    s"""WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
       |SELECT CAST(e.vec_id AS VARCHAR) AS id, d.source AS title, d.lang AS vendor,
       |       d.text AS description, round($scoreExpr, 6) AS score
       |FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id, qv
       |$where
       |ORDER BY score $dir NULLS LAST, id
       |LIMIT $k""".stripMargin
  }

  /** embedding_kcenter's oracle: the greedy farthest-point traversal
    * replayed round by round in chained CTEs — same micro-cosine
    * grid, same (maxsim, id) argmin order. */
  private def kCenterOracle(k: Int): String = {
    def cosExpr(av: String, bv: String) =
      s"CAST(floor(1000000.0 * (list_inner_product($av, $bv) / " +
        s"(sqrt(list_inner_product($av, $av)) * " +
        s"sqrt(list_inner_product($bv, $bv)))) + 0.5) AS BIGINT)"
    val sb = new StringBuilder
    sb ++= "WITH v AS (SELECT vec_id AS id, " +
      "CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    sb ++= "c1 AS (SELECT min(id) AS id FROM v),\n"
    sb ++= "s1 AS (SELECT x.id, x.v, " + cosExpr("x.v", "cv.v") +
      " AS maxsim FROM v x, (SELECT v.v FROM v, c1 WHERE v.id = c1.id) cv" +
      " WHERE x.id <> (SELECT id FROM c1)),\n"
    for (r <- 2 to k) {
      sb ++= s"c$r AS (SELECT id, maxsim FROM s${r - 1} " +
        "ORDER BY maxsim, id LIMIT 1),\n"
      if (r < k)
        sb ++= s"s$r AS (SELECT x.id, x.v, greatest(x.maxsim, " +
          cosExpr("x.v", "cv.v") + s") AS maxsim FROM s${r - 1} x, " +
          s"(SELECT s.v FROM s${r - 1} s, c$r WHERE s.id = c$r.id) cv " +
          s"WHERE x.id <> (SELECT id FROM c$r)),\n"
    }
    sb ++= "sel AS (\n  SELECT CAST(1 AS BIGINT) AS rank, " +
      "(SELECT id FROM c1) AS vec_id, " +
      "CAST(-1000000 AS BIGINT) AS radius_micro\n"
    for (r <- 2 to k)
      sb ++= s"  UNION ALL SELECT $r, (SELECT id FROM c$r), " +
        s"(SELECT maxsim FROM c$r)\n"
    sb ++= ")\nSELECT rank, vec_id, radius_micro FROM sel ORDER BY rank"
    sb.toString
  }

  /** Generated CTE chain re-running KMeansExact's full training loop
    * in SQL: µ-quantized (id, pos, v) triples, first-K-by-id init,
    * then one (a, s, c) CTE triple per Lloyd's round — integer-L2²
    * argmin with (dist2, cid) tie-break, BIGINT coordinate sums, and
    * the correctly-rounded mean re-quantization
    * `floor(sv·1.0/n + 0.5)`; an empty cluster's LEFT-JOIN miss keeps
    * the previous centroid. `afin` is the final assignment under the
    * trained model. Bit-for-bit vs operators/KMeansExact.scala. */
  private val KMeansCtes: String = {
    val rounds = (0 until KMeansExact.Iters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT id, cluster FROM (
         |    SELECT qd.id, c.cluster, sum((qd.v - c.v) * (qd.v - c.v)) AS d2
         |    FROM qd JOIN c$i c ON qd.pos = c.pos
         |    GROUP BY qd.id, c.cluster)
         |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1),
         |s$i AS MATERIALIZED (
         |  SELECT a.cluster, qd.pos, sum(qd.v) AS sv, count(*) AS n
         |  FROM a$i a JOIN qd USING (id) GROUP BY a.cluster, qd.pos),
         |c${i + 1} AS MATERIALIZED (
         |  SELECT c.cluster, c.pos,
         |         CASE WHEN s.sv IS NULL THEN c.v
         |              ELSE CAST(floor(s.sv * 1.0 / s.n + 0.5) AS BIGINT) END AS v
         |  FROM c$i c LEFT JOIN s$i s ON c.cluster = s.cluster AND c.pos = s.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH qd AS MATERIALIZED (
       |  SELECT vec_id AS id, i - 1 AS pos,
       |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
       |ini AS (
       |  SELECT id, CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS cluster
       |  FROM (SELECT DISTINCT id FROM qd) ORDER BY id LIMIT ${KMeansExact.K}),
       |c0 AS MATERIALIZED (SELECT ini.cluster, qd.pos, qd.v FROM ini JOIN qd USING (id)),
       |$rounds,
       |afin AS MATERIALIZED (
       |  SELECT id, cluster, d2 FROM (
       |    SELECT qd.id, c.cluster, sum((qd.v - c.v) * (qd.v - c.v)) AS d2
       |    FROM qd JOIN c${KMeansExact.Iters} c ON qd.pos = c.pos
       |    GROUP BY qd.id, c.cluster)
       |  QUALIFY row_number() OVER (PARTITION BY id ORDER BY d2, cluster) = 1)""".stripMargin
  }

  /** Sinkhorn OT oracle: the same smoothed µ-marginals, rational
    * kernel and [[OptimalTransport.Iters]] scaling rounds unrolled as
    * HUGEINT CTEs over the KMeansCtes centroid grid — every division
    * a positive truncation, so the fixed sequence matches the BigInt
    * driver iteration bit-for-bit. */
  private val OtDriftOracle: String = {
    val K = KMeansExact.K
    val rounds = (1 to OptimalTransport.Iters).map { t =>
      s"""u$t AS MATERIALIZED (
         |  SELECT rr.i, (rr.rv * CAST(1000000000000 AS HUGEINT)) //
         |         greatest(1, su.s // 1000000) AS u
         |  FROM rmarg rr JOIN (
         |    SELECT k.i, sum(k.kv * v.v) AS s
         |    FROM ker k JOIN v${t - 1} v ON k.j = v.j GROUP BY k.i) su
         |    ON su.i = rr.i),
         |v$t AS MATERIALIZED (
         |  SELECT cc.j, (cc.cv * CAST(1000000000000 AS HUGEINT)) //
         |         greatest(1, sv.s // 1000000) AS v
         |  FROM cmarg cc JOIN (
         |    SELECT k.j, sum(k.kv * u.u) AS s
         |    FROM ker k JOIN u$t u ON k.i = u.i GROUP BY k.j) sv
         |    ON sv.j = cc.j)""".stripMargin
    }.mkString(",\n")
    s"""$KMeansCtes,
       |lab AS MATERIALIZED (
       |  SELECT a.cluster, (d.doc_id % 2 = 0) AS ga
       |  FROM afin a JOIN documents d ON a.id = d.doc_id),
       |clg AS (SELECT CAST(unnest(generate_series(0, ${K - 1})) AS BIGINT) AS cluster),
       |mar AS MATERIALIZED (
       |  SELECT cluster, sum(CASE WHEN ga THEN 1 ELSE 0 END) AS ca,
       |         sum(CASE WHEN ga THEN 0 ELSE 1 END) AS cb
       |  FROM lab GROUP BY 1),
       |sm AS MATERIALIZED (
       |  SELECT clg.cluster, CAST(coalesce(m.ca, 0) + 1 AS HUGEINT) AS av,
       |         CAST(coalesce(m.cb, 0) + 1 AS HUGEINT) AS bv
       |  FROM clg LEFT JOIN mar m USING (cluster)),
       |tots AS (SELECT sum(av) AS sa, sum(bv) AS sb,
       |                CAST(sum(av) - $K AS BIGINT) AS n_a,
       |                CAST(sum(bv) - $K AS BIGINT) AS n_b FROM sm),
       |rmarg AS MATERIALIZED (SELECT cluster AS i, (1000000 * av) // sa AS rv FROM sm, tots),
       |cmarg AS MATERIALIZED (SELECT cluster AS j, (1000000 * bv) // sb AS cv FROM sm, tots),
       |costg AS MATERIALIZED (
       |  SELECT ci.cluster AS i, cj.cluster AS j,
       |         CAST(sum((ci.v - cj.v) * (ci.v - cj.v)) AS HUGEINT) AS cost
       |  FROM c${KMeansExact.Iters} ci JOIN c${KMeansExact.Iters} cj
       |    ON ci.pos = cj.pos
       |  GROUP BY 1, 2),
       |cmx AS (SELECT max(cost) AS m FROM costg),
       |cng AS MATERIALIZED (SELECT i, j,
       |          CASE WHEN m > 0 THEN (CAST(1000000 AS HUGEINT) * cost) // m
       |               ELSE CAST(0 AS HUGEINT) END AS cn
       |        FROM costg, cmx),
       |ker AS MATERIALIZED (SELECT i, j, cn,
       |          CAST(1000000000000 AS HUGEINT) // (1000000 + 10 * cn) AS kv
       |        FROM cng),
       |v0 AS MATERIALIZED (SELECT cluster AS j, CAST(1000000 AS HUGEINT) AS v FROM clg),
       |$rounds,
       |pg AS MATERIALIZED (
       |  SELECT k.i, k.j, u.u * k.kv * v.v AS p, k.cn
       |  FROM ker k JOIN u${OptimalTransport.Iters} u ON k.i = u.i
       |             JOIN v${OptimalTransport.Iters} v ON k.j = v.j),
       |tpt AS (SELECT greatest(1, sum(p)) AS tp FROM pg),
       |png AS MATERIALIZED (SELECT i, j, (CAST(1000000 AS HUGEINT) * p) // tp AS pn, cn
       |        FROM pg, tpt),
       |objv AS (SELECT CAST(sum(pn * cn) // 1000000 AS BIGINT) AS cost_micro
       |         FROM png),
       |rme AS (SELECT i, sum(pn) AS s FROM png GROUP BY 1),
       |cme AS (SELECT j, sum(pn) AS s FROM png GROUP BY 1),
       |errv AS (
       |  SELECT CAST(greatest(
       |    (SELECT max(abs(r.s - rr.rv)) FROM rme r JOIN rmarg rr ON r.i = rr.i),
       |    (SELECT max(abs(c.s - cc.cv)) FROM cme c JOIN cmarg cc ON c.j = cc.j))
       |    AS BIGINT) AS marg_err_micro)
       |SELECT t.n_a, t.n_b, o.cost_micro, e.marg_err_micro
       |FROM tots t, objv o, errv e""".stripMargin
  }

  private val DbscanCtes: String =
    s"""WITH RECURSIVE
       |p AS MATERIALIZED (
       |  SELECT vec_id AS id,
       |         CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000.0 + 0.5)
       |           AS BIGINT) AS x,
       |         CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000.0 + 0.5)
       |           AS BIGINT) AS y
       |  FROM embeddings),
       |pr AS MATERIALIZED (
       |  SELECT a.id AS ida, b.id AS idb
       |  FROM p a JOIN p b
       |    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       |       <= ${DbscanEps * DbscanEps}),
       |core AS MATERIALIZED (
       |  SELECT ida AS id FROM pr GROUP BY ida HAVING count(*) >= $DbscanMinPts),
       |ce AS MATERIALIZED (
       |  SELECT ida, idb FROM pr
       |  WHERE ida IN (SELECT id FROM core) AND idb IN (SELECT id FROM core)),
       |lbl(id, l) AS (
       |  SELECT id, id FROM core
       |  UNION
       |  SELECT ce.idb, lbl.l FROM lbl JOIN ce ON ce.ida = lbl.id),
       |cl AS MATERIALIZED (SELECT id, min(l) AS cluster FROM lbl GROUP BY id),
       |bl AS MATERIALIZED (
       |  SELECT pr.ida AS id, min(cl.cluster) AS cluster
       |  FROM pr JOIN cl ON pr.idb = cl.id
       |  WHERE pr.ida NOT IN (SELECT id FROM core)
       |  GROUP BY pr.ida)""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // R1+R4+R5+R6+R7+R8 — the reference's one query template, 5 strategies.
    QuerySpec("knn_topk_cosine", (s, d) => knn(SearchStrategy.CosineSimilarity, 4)(s, d),
      knnOracle(CosExpr, desc = true, k = 4)),
    QuerySpec("knn_topk_inner_product", (s, d) => knn(SearchStrategy.InnerProductSimilarity, 4)(s, d),
      knnOracle(
        "list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q)", desc = true, k = 4)),
    QuerySpec("knn_topk_cosine_distance", (s, d) => knn(SearchStrategy.CosineDistance, 4)(s, d),
      // Round the similarity FIRST, then subtract (then the harness's outer
      // 6-dp round is a no-op-shaped safety net) — mirrors
      // SearchStrategy.CosineDistance.roundedScore exactly; rounding 1−s
      // directly is not reproducible across engines at half-way boundaries.
      knnOracle(s"1.0 - round($CosExpr, 6)", desc = false, k = 4)),
    QuerySpec("knn_topk_euclidean", (s, d) => knn(SearchStrategy.EuclideanDistance, 4)(s, d),
      knnOracle(
        "list_distance(CAST(e.embedding AS DOUBLE[]), qv.q)", desc = false, k = 4)),
    QuerySpec("knn_topk_manhattan", (s, d) => knn(SearchStrategy.ManhattanDistance, 4)(s, d),
      knnOracle(
        "list_sum(list_transform(generate_series(1, len(e.embedding)), " +
          "i -> abs(CAST(e.embedding[i] AS DOUBLE) - qv.q[i])))", desc = false, k = 4)),
    // R3 — conjunctive equality filter (on the vendor/lang column).
    QuerySpec("knn_topk_filtered", (s, d) =>
      knn(SearchStrategy.CosineSimilarity, 8, Map("lang" -> "en"))(s, d),
      knnOracle(CosExpr, desc = true, k = 8,
        where = "WHERE d.lang = 'en'")),
    // V6+V7 — binary codec round-trip, exploded to scalar (id, idx, val)
    // rows: the driver's comparator hashes scalar cells, not arrays.
    // Exact float equality is the point — encode→decode must be lossless.
    QuerySpec("codec_roundtrip", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings").select(
        col("vec_id").as("id"),
        posexplode(GraftFunctions.fromBinaryVector(
          GraftFunctions.toBinaryVector(col("embedding")))))
        .select(col("id"), col("pos").cast("long").as("idx"), col("col").as("val"))
        .orderBy("id", "idx")
    },
      """SELECT vec_id AS id, CAST(g - 1 AS BIGINT) AS idx, embedding[g] AS val
        |FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(g)
        |ORDER BY id, idx""".stripMargin),
    // V6 + R4 — distance over a binary-encoded store column.
    QuerySpec("binary_store_topk", (s, d) => {
      GraftFunctions.register(s)
      val emb = table(s, d, "embeddings")
        .select(col("vec_id"), GraftFunctions.toBinaryVector(col("embedding")).as("embedding"))
      VectorSearch.searchWithMetadata(
        emb, table(s, d, "documents"), ("vec_id", "doc_id"), cfg,
        queryVec(s, d), 6, Map.empty, Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 6)),
    // Custom DataSource V2 connector: the store dumped in the
    // reference's NATIVE wire format (int64 id + length-prefixed Knn
    // binary payloads, app.py:157-162) reads back as a Spark table
    // with file-level partitioning and column pruning — then the
    // standard top-k pipeline runs on it unchanged. Oracle = the same
    // parquet-derived top-k, proving the connector is lossless.
    QuerySpec("blob_source_topk", (s, d) => {
      val emb = s.read.format("graft-vectors").load(blobStore(s, d))
      VectorSearch.searchWithMetadata(
        emb, table(s, d, "documents"), ("vec_id", "doc_id"), cfg,
        queryVec(s, d), 5, Map.empty, Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 5)),
    // Binary-quantization ANN: sign-bit sketches (8 B/row) → Hamming
    // top-64 pre-filter → exact cosine re-rank of the candidates. The
    // oracle replicates the same sketch semantics in SQL (sign
    // comparisons instead of packed xor+popcount), so the match is exact
    // whatever the sketch recall; recall itself is pinned in ScalaTest.
    QuerySpec("ann_bitsketch_topk", (s, d) =>
      BitSketchAnn.topK(table(s, d, "embeddings"), "vec_id", "embedding",
        queryVec(s, d), k = 8, candidates = 64, scale = Scale),
      // Same sign-sketch semantics via per-dimension sign comparisons
      // (= xor+popcount on the packed longs), then the exact re-rank.
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0),
        |sk AS (
        |  SELECT e.vec_id AS id, CAST(e.embedding AS DOUBLE[]) AS v,
        |         CAST(len(list_filter(generate_series(1, least(len(e.embedding), 64)),
        |              i -> (CAST(e.embedding[i] AS DOUBLE) >= 0) != (qv.q[i] >= 0))) AS BIGINT)
        |           AS hamming
        |  FROM embeddings e, qv),
        |cand AS (SELECT * FROM sk ORDER BY hamming, id LIMIT 64)
        |SELECT c.id, c.hamming,
        |       round(list_inner_product(c.v, qv.q) /
        |             (sqrt(list_inner_product(c.v, c.v)) * sqrt(list_inner_product(qv.q, qv.q))), 6)
        |         AS score
        |FROM cand c, qv
        |ORDER BY score DESC NULLS LAST, c.id
        |LIMIT 8""".stripMargin),
    // NSW graph ANN (the graph-index family, batch-native): beam
    // search over the symmetrized banded-LSH k-NN graph, one whole hop
    // per Spark job, exact rounded-cosine scoring of every visited id.
    // (degree=16, entries=8, beam=64) is a measured full-recall point
    // (grid in NswAnnSpec), so the output IS brute force = the oracle;
    // recall itself is pinned in ScalaTest.
    QuerySpec("ann_nsw_topk", (s, d) =>
      NswAnn.topK(table(s, d, "embeddings"), "vec_id", "embedding",
        nswGraph(s, d), queryVec(s, d), k = 10, beam = 64,
        maxIters = 12, scale = Scale),
      // NSW beam search at the shipped full-recall point returns exactly
      // the brute-force top-10 (grid in NswAnnSpec).
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |ORDER BY score DESC NULLS LAST, id
        |LIMIT 10""".stripMargin),
    // NSW over the AT-SCALE layout: adjacency and store live as
    // id-bucketed catalog tables (the layout the Graph scaladoc
    // promises), so every per-hop probe bucket-prunes to point lookups
    // (plan-asserted in NswAnnSpec). Same shipped full-recall point →
    // same brute-force oracle.
    QuerySpec("ann_nsw_disk", (s, d) => {
      val (adjTbl, embTbl, entries) = nswDisk(s, d)
      NswAnn.topK(s.table(embTbl), "vec_id", "embedding",
        NswAnn.Graph(s.table(adjTbl), entries), queryVec(s, d), k = 10,
        beam = 64, maxIters = 12, scale = Scale)
    },
      // Bucketed-layout NSW runs the same full-recall beam over catalog
      // tables — the result contract is unchanged, so the oracle is the
      // same brute-force cosine top-10.
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |ORDER BY score DESC NULLS LAST, id
        |LIMIT 10""".stripMargin),
    // NSW lifecycle: base graph on vec_id < 400, the rest appended in
    // one batch (bidirectional links to knn over the union, entries
    // re-ranked) — search quality survives growth without a rebuild,
    // so the same brute-force oracle applies (recall pinned in
    // NswAnnSpec).
    QuerySpec("ann_nsw_append", (s, d) =>
      NswAnn.topK(table(s, d, "embeddings"), "vec_id", "embedding",
        nswAppendGraph(s, d), queryVec(s, d), k = 10, beam = 64,
        maxIters = 12, scale = Scale),
      // Append lifecycle keeps the shipped full-recall operating point
      // (spec-pinned), so the oracle is again brute force.
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |ORDER BY score DESC NULLS LAST, id
        |LIMIT 10""".stripMargin),
    // NSW delete: ids ≡ 3 (mod 7) are tombstoned — still ROUTABLE
    // (severing a hub pre-compaction costs recall) but never emitted;
    // the bounded tombstone id set rides the driver like IVF's.
    // Oracle = brute force over the LIVE rows; compaction parity
    // (tombstones ≡ reconnected graph) is pinned in NswAnnSpec.
    QuerySpec("ann_nsw_delete", (s, d) => {
      val dead = table(s, d, "embeddings")
        .filter(col("vec_id") % 7 === 3)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      NswAnn.topK(table(s, d, "embeddings"), "vec_id", "embedding",
        nswGraph(s, d), queryVec(s, d), k = 10, beam = 64,
        maxIters = 12, scale = Scale, tombstones = dead)
    },
      // Tombstoned ids are routable but never emitted: brute force over
      // the live rows only.
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |WHERE e.vec_id % 7 <> 3
        |ORDER BY score DESC NULLS LAST, id
        |LIMIT 10""".stripMargin),
    // PCA-projected ANN (the fourth index family): top-32 principal
    // axes, projected-cosine candidate scan over the mat_vec kernel and
    // the double-vector cosine kernel, exact re-rank of 128 candidates.
    // (d=32, candidates=128) is the cheapest measured full-recall point
    // (grid in PcaAnnSpec), so the output IS brute force = the oracle;
    // recall itself is pinned in ScalaTest.
    QuerySpec("ann_pca_topk", (s, d) =>
      PcaAnn.topK(table(s, d, "embeddings"), "vec_id", "embedding",
        queryVec(s, d), pcaModel(s, d), k = 10, candidates = 128, scale = Scale),
      // Exact brute-force cosine — valid because (d=32, candidates=128)
      // is a measured full-recall operating point on this corpus.
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |ORDER BY score DESC NULLS LAST, id
        |LIMIT 10""".stripMargin),
    // SQ8 scalar-quantized ANN (the fifth index family): int8 codes
    // scored by reconstructed cosine against a per-query coefficient
    // table (the SQ analogue of the ADC LUT), exact re-rank of 64
    // candidates. Quantization error ≤ Δ/2 per dim makes the candidate
    // ranking near-exact, so the output IS brute force = the oracle;
    // recall itself is pinned in Sq8AnnSpec's measured grid.
    QuerySpec("ann_sq8_topk", (s, d) =>
      SqAnn.topK(table(s, d, "embeddings"), "vec_id", "embedding",
        queryVec(s, d), sqModel(s, d), k = 10, candidates = 64, scale = Scale),
      // SQ8 re-rank is exact at (candidates=64) — measured recall grid in
      // Sq8AnnSpec — so the oracle is brute-force cosine top-10.
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |ORDER BY score DESC NULLS LAST, id
        |LIMIT 10""".stripMargin),
    // R2 — IVF/ANN index path; searchTopSize = numClusters ⇒ exact.
    QuerySpec("ann_ivf_topk", (s, d) => {
      val (assigned, model) = ivfStore(s, d)
      IvfIndex.search(assigned, model, cfg, queryVec(s, d),
        k = 10, searchTopSize = 8, scoreScale = Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 10)),
    // R2, 2-level kmeans tree (YDB vector_kmeans_tree shape): macro
    // centroids → leaf centroids → partitions, breadth knob per level.
    // Full breadth ⇒ exact (oracle); pruned behavior in IvfIndexSpec.
    QuerySpec("ann_tree_topk", (s, d) => {
      val (assigned, model) = ivfStore(s, d)
      val tree = IvfIndex.buildTree(model, macroClusters = 3)
      IvfIndex.searchTree(assigned, tree, cfg, queryVec(s, d),
        k = 9, searchTopSize = model.numClusters, scoreScale = Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 9)),
    // R2 on disk: the 100 TB search path — store written partitionBy
    // cluster_id, search prunes Parquet partitions at file-listing time.
    QuerySpec("ann_ivf_disk", (s, d) => {
      val (path, model) = ivfDiskStore(s, d)
      IvfIndex.search(s.read.parquet(path), model, cfg, queryVec(s, d),
        k = 12, searchTopSize = 8, scoreScale = Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 12)),
    // Incremental index maintenance: store built (and written
    // partitioned) from vec_id < 400 only; the vec_id >= 400 batch is
    // assigned to the FROZEN centroids by the codegen'd m=1 pq_encode
    // kernel and APPENDED to the partition layout — no rebuild, no
    // rewrite. Full-breadth search over the merged store must equal
    // brute force over the whole corpus, which is the oracle.
    QuerySpec("ann_ivf_append", (s, d) => {
      val (path, model) = ivfAppendStore(s, d)
      IvfIndex.search(s.read.parquet(path), model, cfg, queryVec(s, d),
        k = 12, searchTopSize = 8, scoreScale = Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 12)),
    // Deletion path: same base-∪-appended store as ann_ivf_append, but
    // ids ≡ 3 (mod 7) are TOMBSTONED — search prunes clusters, then
    // drops tombstoned rows with a broadcast anti-join
    // (IvfIndex.searchWithTombstones). Full breadth ⇒ brute force over
    // the LIVE rows exactly, which is the oracle; compaction
    // (search-after ≡ search-before, dead rows physically gone) is
    // pinned in IvfIndexSpec.
    QuerySpec("ann_ivf_delete", (s, d) => {
      val (path, model) = ivfAppendStore(s, d)
      val tomb = table(s, d, "embeddings")
        .filter(col("vec_id") % 7 === 3).select("vec_id")
      IvfIndex.searchWithTombstones(s.read.parquet(path), model, cfg,
        queryVec(s, d), k = 12, searchTopSize = 8,
        tombstones = tomb, idCol = "vec_id", scoreScale = Some(Scale))
    },
      knnOracle(CosExpr, desc = true, k = 12,
        where = "WHERE e.vec_id % 7 <> 3")),
    // Streaming ANN ingestion (the 13th streaming surface, stateless):
    // embeddings arrive as a file stream, stream-static join to the
    // metadata table, frozen-centroid assignment via the codegen m=1
    // pq_encode kernel, parquet sink partitionBy(cluster_id) — the
    // continuous form of appendPartitioned. The ingest is a per-sf
    // offline artifact (index construction is not query cost); the
    // query is a full-breadth search over the STREAMED store, which
    // must equal brute force — the same oracle as ann_ivf_disk.
    QuerySpec("ann_ivf_streamed", (s, d) => {
      val (path, model) = ivfStreamStore(s, d)
      IvfIndex.search(s.read.parquet(path), model, cfg, queryVec(s, d),
        k = 12, searchTopSize = 8, scoreScale = Some(Scale))
    },
      // Full breadth over the streamed store ⇒ brute force, same as disk.
      knnOracle(CosExpr, desc = true, k = 12)),
    // SQL surface + parameter binding (R8): named param, not inlined.
    QuerySpec("sql_topk_cosine", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings").createOrReplaceTempView("graft_embeddings")
      table(s, d, "documents").createOrReplaceTempView("graft_documents")
      s.sql(
        """SELECT CAST(e.vec_id AS STRING) AS id, d.source AS title,
          |       d.lang AS vendor, d.text AS description,
          |       round(knn_cosine_similarity(e.embedding, :qv), 6) AS score
          |FROM graft_embeddings e JOIN graft_documents d ON e.vec_id = d.doc_id
          |ORDER BY score DESC NULLS LAST, id
          |LIMIT 5""".stripMargin,
        Map("qv" -> typedLit(queryVec(s, d).toSeq)))
    },
      knnOracle(CosExpr, desc = true, k = 5)),
    // A1-A4 — full request/response layer end-to-end (text query path
    // uses the deterministic embedder in tests; here the embedding path).
    QuerySpec("api_search_cosine", (s, d) => {
      val service = new SearchService(
        s, table(s, d, "embeddings"), table(s, d, "documents"),
        ("vec_id", "doc_id"), cfg, Some(new DeterministicEmbedder(64)), Some(Scale))
      // closed before the row returns: nothing stays cached across reps
      val resp = try service.search(SearchRequest(embedding =
        Some(queryVec(s, d).toSeq))) // k omitted → default 4 (app.py:363)
        .fold(e => throw new IllegalStateException(s"${e.status}: ${e.message}"),
          identity)
        finally service.close()
      import s.implicits._
      resp.results.toDF()
        .select(col("id"), col("title"), col("vendor"), col("description"), col("score"))
        .orderBy(col("score").desc_nulls_last, col("id"))
    },
      knnOracle(CosExpr, desc = true, k = 4)),
    // A3 — health probe: the service's real constant-query check
    // (reference app.py:89-102, SELECT 1 semantics) surfaced as a row.
    QuerySpec("api_health", (s, d) => {
      val service = new SearchService(s, table(s, d, "embeddings"),
        table(s, d, "documents"), ("vec_id", "doc_id"), cfg)
      import s.implicits._
      Seq((1, try service.health() finally service.close())).toDF("test", "healthy")
    },
      "SELECT CAST(1 AS INT) AS test, TRUE AS healthy"),
    // A4 — effective-config echo (app.py:393-405): every config field as
    // a column, plus the exact JSON the service serializes.
    QuerySpec("api_config", (s, d) => {
      val service = new SearchService(s, table(s, d, "embeddings"),
        table(s, d, "documents"), ("vec_id", "doc_id"), cfg)
      import s.implicits._
      Seq((cfg.idCol, cfg.titleCol, cfg.vendorCol, cfg.descriptionCol,
        cfg.embeddingCol, cfg.strategy.name, cfg.indexEnabled,
        cfg.searchTopSize, cfg.defaultK, try service.configJson() finally service.close()))
        .toDF("id_column", "title_column", "vendor_column", "description_column",
          "embedding_column", "search_strategy", "index_enabled",
          "index_tree_search_top_size", "default_k", "config_json")
    },
      """SELECT 'vec_id' AS id_column, 'source' AS title_column,
        |       'lang' AS vendor_column, 'text' AS description_column,
        |       'embedding' AS embedding_column,
        |       'CosineSimilarity' AS search_strategy,
        |       FALSE AS index_enabled,
        |       CAST(10 AS INT) AS index_tree_search_top_size,
        |       CAST(4 AS INT) AS default_k,
        |       '{"id_column": "vec_id", "title_column": "source", "vendor_column": "lang", "description_column": "text", "embedding_column": "embedding", "search_strategy": "CosineSimilarity", "index_enabled": false, "index_tree_search_top_size": 10, "default_k": 4}' AS config_json""".stripMargin),
    // Batched multi-query KNN — the ANN counterpart of
    // retrieval_bm25_batch: Q=8 broadcast query vectors amortize ONE
    // corpus scan; per-query top-k is the bounded topk_by_score
    // aggregate (k slots per query ride the exchange, never a sort).
    QuerySpec("knn_topk_batch", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = table(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      emb.crossJoin(broadcast(queries))
        .select(col("query_id"), col("vec_id"),
          round(expr("knn_cosine_similarity(embedding, qv)"), 6).as("score"))
        .groupBy("query_id")
        .agg(expr("topk_by_score(score, vec_id, 4)").as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
          col("col.id").as("id"), col("col.score").as("score"))
        .orderBy("query_id", "rank")
    },
      // Batched KNN re-ranked with a window over the exact scored cross;
      // same rounded cosine, same (score DESC, id) order.
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS id,
        |         round(list_inner_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
        |               (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]),
        |                                        CAST(e.embedding AS DOUBLE[]))) *
        |                sqrt(list_inner_product(q.qv, q.qv))), 6) AS score
        |  FROM embeddings e, q),
        |ranked AS (
        |  SELECT query_id, id, score,
        |         row_number() OVER (PARTITION BY query_id
        |                            ORDER BY score DESC, id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, id, score
        |FROM ranked WHERE rank <= 4
        |ORDER BY query_id, rank""".stripMargin),
    // Matryoshka-truncated search: cosine top-4 on the leading 16 of
    // 64 dims (truncate-then-cosine ≡ truncate-renormalize-dot) — the
    // standard cheap first-stage for MRL-trained embeddings; 4× less
    // scan arithmetic and bandwidth at the cost of recall the exact
    // rows measure.
    QuerySpec("ann_matryoshka_topk", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = table(s, d, "embeddings")
      val qv = emb.filter(col("vec_id") === 0)
        .select(slice(col("embedding"), 1, 16).as("qv"))
      emb.crossJoin(broadcast(qv))
        .select(col("vec_id").as("id"),
          round(expr("knn_cosine_similarity(slice(embedding, 1, 16), qv)"), 6)
            .as("score"))
        .orderBy(col("score").desc, col("id"))
        .limit(4)
    },
      """WITH q AS (
        |  SELECT CAST(embedding[1:16] AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding[1:16] AS DOUBLE[]), q.qv) /
        |             (sqrt(list_inner_product(CAST(e.embedding[1:16] AS DOUBLE[]),
        |                                      CAST(e.embedding[1:16] AS DOUBLE[]))) *
        |              sqrt(list_inner_product(q.qv, q.qv))), 6) AS score
        |FROM embeddings e, q
        |ORDER BY score DESC, id LIMIT 4""".stripMargin),
    // k-NN graph (k=3) over the embeddings corpus: same recall-1 LSH
    // candidates as sim_join_lsh, symmetrized, then a per-id bounded
    // top-k (one hash exchange on id). Ranked by rounded cosine with
    // neighbor-id tie-break, so the oracle's exact-threshold graph
    // reproduces every rank.
    QuerySpec("knn_graph", (s, d) =>
      SimilarityJoin.knnGraph(table(s, d, "embeddings"), "vec_id",
        "embedding", k = 3, bitsPerTable = 6, nTables = 64, threshold = 0.4,
        scale = Scale, maxBucket = Some(1024))
        .orderBy("id", "nbr_rank"),
      // Exact-threshold k-NN graph (= the LSH graph at recall 1): all
      // directed pairs above the cosine threshold, row_number per id by
      // (rounded cosine desc, neighbor id).
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT a.id AS id, b.id AS nbr_id,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS cos_sim
        |  FROM base a JOIN base b ON a.id <> b.id),
        |r AS (
        |  SELECT id, nbr_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY id
        |                ORDER BY cos_sim DESC, nbr_id) AS BIGINT) AS nbr_rank
        |  FROM p WHERE cos_sim >= 0.4)
        |SELECT id, nbr_id, cos_sim, nbr_rank
        |FROM r WHERE nbr_rank <= 3
        |ORDER BY id, nbr_rank""".stripMargin,
      // sweep drifted 1.3–1.5× in the r7→r8 suite growth; isolated held
      isolate = true),
    // Mutual (reciprocal) k-NN pairs over the same k=3 graph: keep a
    // pair only when EACH endpoint ranks the other in its own top-k —
    // the hub-suppression refinement near-dup pipelines apply before
    // trusting a neighbor edge (a vector that is "everyone's neighbor"
    // without reciprocating is a density artifact). One self-join of
    // the bounded n·k graph relation; the corpus is never re-scanned.
    QuerySpec("knn_mutual", (s, d) =>
      SimilarityJoin.mutualKnn(
        SimilarityJoin.knnGraph(table(s, d, "embeddings"), "vec_id",
          "embedding", k = 3, bitsPerTable = 6, nTables = 64, threshold = 0.4,
          scale = Scale, maxBucket = Some(1024)))
        .orderBy("a_id", "b_id"),
      // Mutual pairs replayed: the same exact-threshold ranked graph,
      // self-joined on the canonical (min, max) pair key.
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT a.id AS id, b.id AS nbr_id,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) *
        |                sqrt(list_inner_product(b.v, b.v))), 6) AS cos_sim
        |  FROM base a JOIN base b ON a.id <> b.id),
        |r AS (
        |  SELECT id, nbr_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY id
        |                ORDER BY cos_sim DESC, nbr_id) AS BIGINT) AS nbr_rank
        |  FROM p WHERE cos_sim >= 0.4),
        |g AS (SELECT id, nbr_id, cos_sim, nbr_rank FROM r WHERE nbr_rank <= 3)
        |SELECT f.id AS a_id, f.nbr_id AS b_id, f.cos_sim,
        |       f.nbr_rank AS rank_ab, b.nbr_rank AS rank_ba
        |FROM g f JOIN g b ON f.id = b.nbr_id AND f.nbr_id = b.id
        |WHERE f.id < f.nbr_id
        |ORDER BY a_id, b_id""".stripMargin),
    // Two-relation retrieval top-5: each query vector (vec_id >= 400)
    // against the corpus (vec_id < 400) — hard-negative mining / RAG
    // eval. Query×corpus bucket collisions only (recall-1 parameters),
    // one bounded per-query top-k; the oracle ranks the exact join.
    QuerySpec("knn_between", (s, d) => {
      val emb = table(s, d, "embeddings")
      SimilarityJoin.knnBetween(
        emb.filter(col("vec_id") >= 400), emb.filter(col("vec_id") < 400),
        "vec_id", "embedding", k = 5, bitsPerTable = 6, nTables = 64,
        threshold = 0.4, scale = Scale, maxBucket = Some(1024))
        .orderBy("query_id", "hit_rank")
    },
      // Exact-threshold retrieval top-k (= the LSH between-join at
      // recall 1), ranked per query by (rounded cosine desc, corpus id).
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |p AS (
        |  SELECT q.id AS query_id, c.id AS corpus_id,
        |         round(list_inner_product(q.v, c.v) /
        |               (sqrt(list_inner_product(q.v, q.v)) *
        |                sqrt(list_inner_product(c.v, c.v))), 6) AS cos_sim
        |  FROM base q JOIN base c ON q.id >= 400 AND c.id < 400),
        |r AS (
        |  SELECT query_id, corpus_id, cos_sim,
        |         CAST(row_number() OVER (PARTITION BY query_id
        |                ORDER BY cos_sim DESC, corpus_id) AS BIGINT) AS hit_rank
        |  FROM p WHERE cos_sim >= 0.4)
        |SELECT query_id, corpus_id, cos_sim, hit_rank
        |FROM r WHERE hit_rank <= 5
        |ORDER BY query_id, hit_rank""".stripMargin),
    // L2 normalization to unit length (the ingest half of the cosine
    // fast path: over a unit-norm store, inner product ≡ cosine).
    QuerySpec("vector_normalize", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings")
        .select(col("vec_id").as("id"),
          posexplode(GraftFunctions.vectorNormalize(col("embedding"))))
        .select(col("id"), col("pos").cast("long").as("idx"),
          round(col("col"), Scale).as("v_norm"))
        .orderBy("id", "idx")
    },
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |n AS (
        |  SELECT id, v, sqrt(list_inner_product(v, v)) AS nrm FROM base)
        |SELECT id, CAST(i - 1 AS BIGINT) AS idx, round(v[i] / nrm, 6) AS v_norm
        |FROM n, unnest(generate_series(1, len(v))) t(i)
        |ORDER BY id, idx""".stripMargin),
    // Embedding int8 quantization (4x storage/scan compression with
    // bounded error; floor(x+0.5) levels for cross-engine determinism).
    QuerySpec("vector_quantize", (s, d) =>
      VectorCompression.quantizeToRows(table(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy("id", "idx"),
      """SELECT vec_id AS id, CAST(g - 1 AS BIGINT) AS idx,
        |       CAST(CASE WHEN mx = mn THEN 0
        |                 ELSE floor((CAST(embedding[g] AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5)
        |            END AS BIGINT) AS qval
        |FROM (
        |  SELECT vec_id, embedding,
        |         CAST(list_min(embedding) AS DOUBLE) AS mn,
        |         CAST(list_max(embedding) AS DOUBLE) AS mx
        |  FROM embeddings),
        |  unnest(generate_series(1, len(embedding))) AS t(g)
        |ORDER BY id, idx""".stripMargin),
    // Product quantization, driver-verified with a FIXED codebook
    // (centroid[c][t] = float((c-1.5) + t*0.01), identical in both
    // engines): pq_encode picks each subvector's nearest centroid and
    // pq_adc_score sums the per-query lookup table over the codes —
    // the oracle re-derives both from the same public math with the
    // same IEEE op order. (The learned-codebook path — per-subspace
    // KMeans — is covered by recall tests in PqIndexSpec; k-means is
    // not SQL-expressible.)
    QuerySpec("pq_adc_fixed", (s, d) => {
      GraftFunctions.register(s)
      val m = 8; val k = 4; val dsub = 8
      val cb: Array[Float] = Array.tabulate(m * k * dsub) { idx =>
        val t = idx % dsub
        val c = (idx / dsub) % k
        ((c - 1.5) + t * 0.01).toFloat
      }
      val model = PqIndex.PqModel(m, k, 64, cb)
      val lut = PqIndex.adcLut(model, queryVec(s, d))
      table(s, d, "embeddings").select(
        col("vec_id").as("id"),
        round(GraftFunctions.pqAdcScore(
          GraftFunctions.pqEncode(col("embedding"), typedLit(cb.toSeq), m, k),
          typedLit(lut.toSeq), k), 6).as("adc"))
        .orderBy("id")
    },
      // PQ with the fixed codebook: per subspace j the encode-side
      // distance list (vs the stored embedding) picks the code via
      // first-minimum argmin, then the query-side lut value for that
      // code accumulates — all sequential double arithmetic mirroring
      // VectorKernels.pqEncode/pqAdcScore op for op. The single-element
      // list_transform is a `let` binding for the distance list.
      """WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id AS id,
        |  round(list_sum(list_transform(generate_series(0, 7), j ->
        |    list_transform(
        |      [list_transform(generate_series(0, 3), c ->
        |         list_sum(list_transform(generate_series(0, 7), t ->
        |           (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |            CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |           (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |            CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))],
        |      dl ->
        |        list_transform(generate_series(0, 3), c ->
        |          list_sum(list_transform(generate_series(0, 7), t ->
        |            (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |             CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |            (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |             CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))
        |        [list_position(dl, list_min(dl))]
        |    )[1])), 6) AS adc
        |FROM embeddings e, qv
        |ORDER BY id""".stripMargin),
    // The FAISS-style two-stage scan: ADC candidate generation (8-byte
    // codes, the compressed scan) → top-64 cut by (adc, id) via
    // TakeOrderedAndProject → exact cosine re-rank of candidates only.
    // At 64-of-500 candidates the true top-10 survive the cut, so the
    // oracle replays the identical two-stage pipeline in SQL; pruned/
    // learned-codebook recall is pinned in PqIndexSpec.
    QuerySpec("ann_adc_rerank", (s, d) => {
      GraftFunctions.register(s)
      val m = 8; val k = 4; val dsub = 8
      val cb: Array[Float] = Array.tabulate(m * k * dsub) { idx =>
        val t = idx % dsub
        val c = (idx / dsub) % k
        ((c - 1.5) + t * 0.01).toFloat
      }
      val model = PqIndex.PqModel(m, k, 64, cb)
      val qv = queryVec(s, d)
      val lut = PqIndex.adcLut(model, qv)
      val cand = table(s, d, "embeddings").select(
          col("vec_id").as("id"),
          round(GraftFunctions.pqAdcScore(
            GraftFunctions.pqEncode(col("embedding"), typedLit(cb.toSeq), m, k),
            typedLit(lut.toSeq), k), 6).as("adc"))
        .orderBy(col("adc"), col("id")).limit(64)
      table(s, d, "embeddings")
        .join(broadcast(cand), col("vec_id") === col("id"))
        .select(col("id"),
          round(GraftFunctions.knnCosineSimilarity(
            col("embedding"), typedLit(qv.toSeq)), 6).as("score"))
        .orderBy(col("score").desc, col("id")).limit(10)
    },
      // Identical ADC pipeline → top-64 (adc, id) cut → exact cosine
      // re-rank, replayed stage for stage.
      """WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |adc AS (
        |  SELECT e.vec_id AS id,
        |    round(list_sum(list_transform(generate_series(0, 7), j ->
        |      list_transform(
        |        [list_transform(generate_series(0, 3), c ->
        |           list_sum(list_transform(generate_series(0, 7), t ->
        |             (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |              CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |             (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |              CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))],
        |        dl ->
        |          list_transform(generate_series(0, 3), c ->
        |            list_sum(list_transform(generate_series(0, 7), t ->
        |              (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |               CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |              (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |               CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))
        |          [list_position(dl, list_min(dl))]
        |      )[1])), 6) AS adc
        |  FROM embeddings e, qv),
        |cand AS (SELECT id FROM adc ORDER BY adc, id LIMIT 64)
        |SELECT e.vec_id AS id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(qv.q AS DOUBLE[])) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(CAST(qv.q AS DOUBLE[]), CAST(qv.q AS DOUBLE[])))), 6) AS score
        |FROM embeddings e JOIN cand ON e.vec_id = cand.id, qv
        |ORDER BY score DESC, id LIMIT 10""".stripMargin),
    // Per-dimension embedding profile — the encoder-drift monitor:
    // exact µ-integer moments (DECIMAL(38) sums, integer-division
    // variance), ONE aggregate to dim rows. A shifted mean or
    // collapsed variance flags an encoder regression before any
    // downstream metric moves.
    QuerySpec("embedding_profile", (s, d) =>
      EmbeddingQuality.dimProfile(table(s, d, "embeddings"), "embedding")
        .orderBy("dim"),
      // Exact µ-integer moments in HUGEINT; `//` floor-division equals
      // Spark's truncating `div` because the variance numerator is ≥ 0.
      """WITH qd AS (
        |  SELECT i - 1 AS dim,
        |         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS v
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
        |a AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |         sum(CAST(v AS HUGEINT)) AS s,
        |         sum(CAST(v AS HUGEINT) * v) AS s2,
        |         min(v) AS min_micro, max(v) AS max_micro
        |  FROM qd GROUP BY dim)
        |SELECT CAST(dim AS BIGINT) AS dim, n,
        |       CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS mean_micro,
        |       min_micro, max_micro,
        |       CAST((n * s2 - s * s) // (CAST(n AS HUGEINT) * n) AS BIGINT) AS var_micro2
        |FROM a ORDER BY dim""".stripMargin),
    // Exact integer k-means (Lloyd's) over the embedding corpus: the
    // clustering primitive under SemDeDup / cluster-balanced mixing /
    // IVF coarse quantizers, run entirely in µ-integer arithmetic so
    // the model is bit-reproducible under ANY partitioning (float
    // k-means is not). Per iteration: one scan-local codegen
    // assignment pass + one (cluster, dim)-keyed BIGINT-sum aggregate
    // whose k·dim-row output is the only driver state. The oracle
    // re-runs all Iters Lloyd's rounds as unrolled CTEs — bit-for-bit
    // centroids, sizes, and assignments.
    QuerySpec("kmeans_fit", (s, d) =>
      KMeansExact.fitTable(table(s, d, "embeddings"), "vec_id", "embedding",
        kmeansModel(s, d)).orderBy("cluster", "dim"),
      // Exact integer k-means re-run move-for-move (KMeansCtes): the
      // model card joins the trained centroids to final-assignment
      // sizes (empty cluster → 0 members, centroid retained).
      s"""$KMeansCtes
         |SELECT c.cluster, CAST(COALESCE(sz.n, 0) AS BIGINT) AS n_members,
         |       c.pos AS dim, c.v AS c_micro
         |FROM c${KMeansExact.Iters} c
         |LEFT JOIN (SELECT cluster, count(*) AS n FROM afin GROUP BY cluster) sz
         |  ON c.cluster = sz.cluster
         |ORDER BY c.cluster, dim""".stripMargin),
    QuerySpec("kmeans_assign", (s, d) =>
      KMeansExact.assign(table(s, d, "embeddings"), "vec_id", "embedding",
        kmeansModel(s, d)).orderBy("vec_id"),
      s"""$KMeansCtes
         |SELECT id AS vec_id, cluster, CAST(d2 AS BIGINT) AS dist2
         |FROM afin ORDER BY vec_id""".stripMargin),
    // Centroid-based silhouette per cluster — the "is k right" card:
    // exact integer L2 against the broadcast codebook, rounded
    // (b−a)/max(a,b) means in DECIMAL.
    QuerySpec("kmeans_silhouette", (s, d) =>
      KMeansExact.silhouette(table(s, d, "embeddings"), "vec_id", "embedding",
        kmeansModel(s, d)),
      s"""$KMeansCtes,
         |ad AS (
         |  SELECT qd.id, c.cluster,
         |         CAST(sum((qd.v - c.v) * (qd.v - c.v)) AS BIGINT) AS d2
         |  FROM qd JOIN c${KMeansExact.Iters} c ON qd.pos = c.pos
         |  GROUP BY 1, 2),
         |own AS (SELECT id, cluster, CAST(d2 AS BIGINT) AS d2a FROM afin),
         |oth AS (SELECT ad.id, min(ad.d2) AS d2b
         |        FROM ad JOIN afin a ON ad.id = a.id AND ad.cluster <> a.cluster
         |        GROUP BY ad.id),
         |sil AS (
         |  SELECT o.cluster,
         |         CASE WHEN greatest(o.d2a, t.d2b) = 0 THEN 0.0
         |              ELSE round(
         |                (sqrt(CAST(t.d2b AS DOUBLE)) - sqrt(CAST(o.d2a AS DOUBLE))) /
         |                greatest(sqrt(CAST(t.d2b AS DOUBLE)),
         |                         sqrt(CAST(o.d2a AS DOUBLE))), 6) END AS s
         |  FROM own o JOIN oth t USING (id))
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |       round(CAST(sum(CAST(s AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6)
         |         AS mean_silhouette
         |FROM sil GROUP BY cluster ORDER BY cluster""".stripMargin),
    // DBSCAN (Ester et al. 1996) over the PCA-style 2-D projection
    // (first two embedding dims, µ-quantized): unknown-count,
    // arbitrary-shape clusters plus a principled NOISE set — what
    // k-means cannot produce. Grid-blocked ε-join (3×3 cell probe, a
    // proven superset of the ε-ball), integer-exact ball test,
    // min-core-id labels via connected components; the oracle replays
    // the quadratic definition with a recursive min-label CTE.
    QuerySpec("cluster_dbscan", (s, d) =>
      dbscanLabels(s, d)
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id"),
      // DBSCAN replayed from the quadratic definition: all-pairs ball
      // test on the µ-quantized 2-D projection, core = count ≥ minPts
      // (self included), components via a recursive min-label CTE,
      // border = min neighbor-core label, the rest noise.
      s"""$DbscanCtes
         |SELECT id AS vec_id, cluster, 'core' AS role FROM cl
         |UNION ALL
         |SELECT id, cluster, 'border' FROM bl
         |UNION ALL
         |SELECT id, CAST(-1 AS BIGINT), 'noise' FROM p
         |WHERE id NOT IN (SELECT id FROM cl) AND id NOT IN (SELECT id FROM bl)
         |ORDER BY vec_id""".stripMargin),
    // Per-cluster triage card over the same run: size + core/border
    // split per cluster, the noise row as cluster −1.
    QuerySpec("cluster_dbscan_card", (s, d) =>
      DensityCluster.dbscanSummary(dbscanLabels(s, d)),
      s"""$DbscanCtes,
         |allr AS (
         |  SELECT id, cluster, 'core' AS role FROM cl
         |  UNION ALL
         |  SELECT id, cluster, 'border' FROM bl
         |  UNION ALL
         |  SELECT id, CAST(-1 AS BIGINT), 'noise' FROM p
         |  WHERE id NOT IN (SELECT id FROM cl) AND id NOT IN (SELECT id FROM bl))
         |SELECT cluster, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(CASE WHEN role = 'core' THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_core,
         |       CAST(sum(CASE WHEN role = 'border' THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_border
         |FROM allr GROUP BY cluster ORDER BY cluster""".stripMargin),
    // MAUVE-shaped distribution check: each source's k-means cluster
    // histogram vs the corpus histogram, scored by Jensen-Shannon on
    // exact integer-ratio log grids.
    QuerySpec("embedding_js_divergence", (s, d) =>
      EmbeddingQuality.sourceJsDivergence(
        table(s, d, "embeddings"), "vec_id", "embedding",
        table(s, d, "documents"), "doc_id", "source",
        kmeansModel(s, d)),
      s"""$KMeansCtes,
         |jj AS (SELECT d.source, a.cluster
         |       FROM afin a JOIN documents d ON a.id = d.doc_id),
         |aa AS (SELECT source, cluster, CAST(count(*) AS BIGINT) AS a
         |       FROM jj GROUP BY 1, 2),
         |bb AS (SELECT cluster, CAST(count(*) AS BIGINT) AS b FROM jj GROUP BY 1),
         |btotr AS (SELECT CAST(sum(b) AS BIGINT) AS btot FROM bb),
         |srcs AS (SELECT DISTINCT source FROM aa),
         |grid AS (
         |  SELECT s.source, bb.cluster, coalesce(aa.a, 0) AS a, bb.b
         |  FROM srcs s CROSS JOIN bb
         |  LEFT JOIN aa ON aa.source = s.source AND aa.cluster = bb.cluster),
         |atotr AS (SELECT source, CAST(sum(a) AS BIGINT) AS atot
         |          FROM grid GROUP BY 1),
         |terms AS (
         |  SELECT g.source, t.atot, bt.btot,
         |    CASE WHEN g.a > 0 THEN g.a * CAST(round(
         |      ln((2.0 * (g.a * bt.btot)) / (g.a * bt.btot + g.b * t.atot))
         |      * 1000000.0) AS BIGINT) ELSE 0 END AS t1,
         |    g.b * CAST(round(
         |      ln((2.0 * (g.b * t.atot)) / (g.a * bt.btot + g.b * t.atot))
         |      * 1000000.0) AS BIGINT) AS t2
         |  FROM grid g JOIN atotr t USING (source) CROSS JOIN btotr bt)
         |SELECT source, atot AS n_vecs,
         |       CAST(greatest(sum(t1), 0) // (2 * atot) +
         |            greatest(sum(t2), 0) // (2 * btot) AS BIGINT) AS js_micro
         |FROM terms GROUP BY source, atot, btot ORDER BY source""".stripMargin),
    // Sinkhorn transport drift between two corpus slices over the
    // same centroid grid — the geometry-aware severity JS lacks (mass
    // moving one cluster over costs less than mass crossing the
    // space). Rational Gibbs kernel + BigInt driver iterations on
    // k-vector state; the marginal-violation honesty metric rides the
    // row. Oracle unrolls the identical 10 rounds as HUGEINT CTEs.
    QuerySpec("embedding_ot_drift", (s, d) =>
      OptimalTransport.sinkhornDrift(
        table(s, d, "embeddings"), "vec_id", "embedding",
        table(s, d, "documents")
          .select(col("doc_id"), (col("doc_id") % 2 === 0).as("ga")),
        "doc_id", "ga", kmeansModel(s, d)),
      OtDriftOracle),
    // Multimodal: opaque binary payload + metadata (plumbing oracle) and
    // stubbed feature extraction (rows-only).
    QuerySpec("multimodal_meta", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings").select(
        col("vec_id").as("id"),
        length(GraftFunctions.toBinaryVector(col("embedding"))).cast("long")
          .as("payload_bytes"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("feat0"))
        .orderBy("id")
    },
      """SELECT vec_id AS id, CAST(4 * len(embedding) + 1 AS BIGINT) AS payload_bytes,
        |       round(CAST(embedding[1] AS DOUBLE), 6) AS feat0
        |FROM embeddings ORDER BY id""".stripMargin),
    // Custom aggregate expression: per-label centroid of the embedding
    // column (TypedImperativeAggregate with map-side partials), exploded
    // to scalar (label, idx, val) rows for the driver comparator. idx is
    // 1-based to line up with DuckDB's 1-based list indexing.
    QuerySpec("vector_centroids", (s, d) => {
      GraftFunctions.register(s)
      table(s, d, "embeddings")
        .groupBy("label")
        .agg(GraftFunctions.vectorAvg(col("embedding")).as("centroid"))
        .select(col("label"), posexplode(col("centroid")))
        .select(col("label"), (col("pos") + 1).cast("long").as("idx"),
          round(col("col"), 6).as("val"))
        .orderBy("label", "idx")
    },
      """SELECT e.label, CAST(t.i AS BIGINT) AS idx,
        |       round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS val
        |FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
        |GROUP BY e.label, t.i
        |ORDER BY label, idx""".stripMargin),
    // Embedding-space outlier screen: distance-to-label-centroid
    // z-score >= 2 flags encoder failures / mislabeled rows the text
    // filters can't see. Centroids and distances round to 6 dp and the
    // moment sums accumulate exactly in DECIMAL, so mean/std/z are
    // engine-independent and the oracle rebuilds them all in DuckDB.
    QuerySpec("embedding_outliers", (s, d) =>
      EmbeddingQuality.outliers(table(s, d, "embeddings"), "vec_id", "embedding",
        "label", zThreshold = 2.0, scale = Scale).orderBy("vec_id"),
      """WITH c AS (
        |  SELECT label, t.i AS i,
        |         CAST(CAST(round(avg(CAST(embedding[t.i] AS DOUBLE)), 6) AS FLOAT)
        |              AS DOUBLE) AS c
        |  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
        |  GROUP BY label, t.i),
        |d AS (
        |  SELECT e.vec_id, e.label,
        |         round(sqrt(sum((CAST(e.embedding[c.i] AS DOUBLE) - c.c) *
        |                        (CAST(e.embedding[c.i] AS DOUBLE) - c.c))), 6) AS dist
        |  FROM embeddings e JOIN c ON e.label = c.label
        |  GROUP BY e.vec_id, e.label),
        |s AS (
        |  SELECT label, count(*) AS n,
        |         sum(CAST(dist AS DECIMAL(18,6))) AS sd,
        |         sum(CAST(dist AS DECIMAL(18,6)) * CAST(dist AS DECIMAL(18,6))) AS sd2
        |  FROM d GROUP BY label),
        |z AS (
        |  SELECT d.vec_id, d.label, d.dist,
        |         CASE WHEN (CAST(s.sd2 AS DOUBLE) / s.n
        |                    - (CAST(s.sd AS DOUBLE) / s.n) * (CAST(s.sd AS DOUBLE) / s.n))
        |                   <= 0 THEN 0.0
        |              ELSE round((d.dist - CAST(s.sd AS DOUBLE) / s.n) /
        |                         sqrt(CAST(s.sd2 AS DOUBLE) / s.n
        |                              - (CAST(s.sd AS DOUBLE) / s.n)
        |                                * (CAST(s.sd AS DOUBLE) / s.n)), 6) END AS z
        |  FROM d JOIN s USING (label))
        |SELECT vec_id, label, dist, z FROM z WHERE z >= 2.0 ORDER BY vec_id""".stripMargin),
    // Greedy k-center coreset (Gonzalez 1985; Sener & Savarese 2018)
    // — k maximally diverse exemplars: where k-means summarizes MASS,
    // k-center covers EXTENT. Deterministic farthest-point traversal
    // on the shared micro-cosine grid, argmin (maxsim, id) per round;
    // k scans + k 1-row collects, the bounded-model-state shape. The
    // radius_micro column is the coverage curve.
    QuerySpec("embedding_kcenter", (s, d) =>
      graft.operators.Coreset.kCenterSeeds(
        table(s, d, "embeddings"), "vec_id", "embedding", k = 6)
        .orderBy("rank"),
      // Full z-score pipeline rebuilt: rounded centroid, rounded per-row
      // distance, DECIMAL-exact moment sums (addition order cannot move
      // them), then the identical double-precision mean/std/z derivation.
      kCenterOracle(6)),
    // Corpus second-moment (uncentered covariance) matrix — the
    // one-pass PCA/whitening input (operators/Pca.scala): map-side
    // 16 KB GramMatrix buffers, exact micro-unit accumulation, one
    // 64×64 matrix out. Exploded to (i, j, m2) upper-triangle rows.
    QuerySpec("vector_gram", (s, d) => {
      GraftFunctions.register(s)
      val dim = 64
      val idx = for { i <- 1 to dim; j <- i to dim } yield (i, j)
      val is = typedLit(idx.map(_._1))
      val js = typedLit(idx.map(_._2))
      table(s, d, "embeddings")
        .agg(GraftFunctions.vectorGram(col("embedding")).as("g"))
        .select(col("g.n").as("n"), posexplode(col("g.sums")).as(Seq("pos", "micro")))
        .select(
          element_at(is, col("pos") + 1).cast("long").as("i"),
          element_at(js, col("pos") + 1).cast("long").as("j"),
          round(col("micro") / 1e6 / col("n"), 6).as("m2"))
        .orderBy("i", "j")
    },
      // Replays the GramMatrix accumulation exactly: per-row products
      // rounded to 6 dp (half away from zero, same as the kernel's
      // micro-unit longs), summed in DECIMAL (exact, order-independent),
      // one final double division + round.
      """WITH prods AS (
        |  SELECT ti.i AS i, tj.j AS j,
        |         CAST(round(CAST(e.embedding[ti.i] AS DOUBLE) *
        |                    CAST(e.embedding[tj.j] AS DOUBLE), 6) AS DECIMAL(28,6)) AS p
        |  FROM embeddings e,
        |       unnest(generate_series(1, 64)) AS ti(i),
        |       unnest(generate_series(1, 64)) AS tj(j)
        |  WHERE tj.j >= ti.i),
        |n AS (SELECT count(*) AS n FROM embeddings)
        |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
        |       round(CAST(sum(p) AS DOUBLE) / n.n, 6) AS m2
        |FROM prods, n
        |GROUP BY i, j, n.n
        |ORDER BY i, j""".stripMargin),
    // IVF-PQ: the composed billion-scale index (coarse cluster prune →
    // ADC over m-byte codes → exact re-rank, faiss's default shape).
    // Full breadth here ⇒ the prune is a no-op and the oracle replays
    // ADC → cut → euclidean re-rank exactly; PRUNED recall is pinned
    // in PqIndexSpec (same convention as ann_tree_topk).
    QuerySpec("ann_ivfpq_topk", (s, d) => {
      GraftFunctions.register(s)
      val (assigned, ivf) = ivfStore(s, d)
      val pq = ivfPqModel
      val encoded = PqIndex.encode(assigned, "embedding", pq)
      PqIndex.ivfPqSearch(encoded, ivf, pq, "vec_id", "embedding",
        queryVec(s, d), k = 10, searchTopSize = 8, candidates = 64,
        scoreScale = Some(Scale))
        .withColumnRenamed("vec_id", "id")
    },
      // IVF-PQ at full breadth = the ADC pipeline + euclidean re-rank,
      // replayed stage for stage (same fixed codebook literals as
      // ann_adc_rerank, same round-then-cut discipline).
      """WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |adc AS (
        |  SELECT e.vec_id AS id,
        |    round(list_sum(list_transform(generate_series(0, 7), j ->
        |      list_transform(
        |        [list_transform(generate_series(0, 3), c ->
        |           list_sum(list_transform(generate_series(0, 7), t ->
        |             (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |              CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |             (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |              CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))],
        |        dl ->
        |          list_transform(generate_series(0, 3), c ->
        |            list_sum(list_transform(generate_series(0, 7), t ->
        |              (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |               CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |              (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |               CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))
        |          [list_position(dl, list_min(dl))]
        |      )[1])), 6) AS adc
        |  FROM embeddings e, qv),
        |cand AS (SELECT id FROM adc ORDER BY adc, id LIMIT 64)
        |SELECT e.vec_id AS id,
        |       round(list_distance(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(qv.q AS DOUBLE[])), 6) AS dist
        |FROM embeddings e JOIN cand ON e.vec_id = cand.id, qv
        |ORDER BY dist, id LIMIT 10""".stripMargin),
    // IVF-PQ deletion path: ids ≡ 3 (mod 7) tombstoned, anti-joined
    // AFTER cluster pruning and BEFORE the ADC scan (a dead row must
    // not consume a candidate slot). Full breadth + exact re-rank ⇒
    // brute force over the live rows; random-churn parity (append/
    // delete/compact, frozen centroids + codebook) is pinned in
    // PqIndexSpec.
    QuerySpec("ann_ivfpq_delete", (s, d) => {
      GraftFunctions.register(s)
      val (assigned, ivf) = ivfStore(s, d)
      val pq = ivfPqModel
      val encoded = PqIndex.encode(assigned, "embedding", pq)
      val tomb = table(s, d, "embeddings")
        .filter(col("vec_id") % 7 === 3).select("vec_id")
      PqIndex.ivfPqSearchWithTombstones(encoded, ivf, pq, "vec_id",
        "embedding", queryVec(s, d), k = 10, searchTopSize = 8,
        candidates = 64, tombstones = tomb, scoreScale = Some(Scale))
        .withColumnRenamed("vec_id", "id")
    },
      // Same ADC replay over the LIVE rows only: the tombstone filter
      // lands in the adc CTE (before the 64-candidate cut, mirroring the
      // anti-join-before-ADC plan) and the rerank join.
      """WITH qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |adc AS (
        |  SELECT e.vec_id AS id,
        |    round(list_sum(list_transform(generate_series(0, 7), j ->
        |      list_transform(
        |        [list_transform(generate_series(0, 3), c ->
        |           list_sum(list_transform(generate_series(0, 7), t ->
        |             (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |              CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |             (CAST(e.embedding[j*8 + t + 1] AS DOUBLE) -
        |              CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))],
        |        dl ->
        |          list_transform(generate_series(0, 3), c ->
        |            list_sum(list_transform(generate_series(0, 7), t ->
        |              (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |               CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)) *
        |              (CAST(qv.q[j*8 + t + 1] AS DOUBLE) -
        |               CAST(CAST((c - 1.5) + t * 0.01 AS FLOAT) AS DOUBLE)))))
        |          [list_position(dl, list_min(dl))]
        |      )[1])), 6) AS adc
        |  FROM embeddings e, qv WHERE e.vec_id % 7 <> 3),
        |cand AS (SELECT id FROM adc ORDER BY adc, id LIMIT 64)
        |SELECT e.vec_id AS id,
        |       round(list_distance(CAST(e.embedding AS DOUBLE[]),
        |                           CAST(qv.q AS DOUBLE[])), 6) AS dist
        |FROM embeddings e JOIN cand ON e.vec_id = cand.id, qv
        |WHERE e.vec_id % 7 <> 3
        |ORDER BY dist, id LIMIT 10""".stripMargin)
  )
}
