package graft
package queries

import graft.api._
import graft.functions.GraftFunctions
import graft.operators._
import graft.queries.Fixtures._
import graft.queries.Shared._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalyst rewrites: each row is served through a rule that replaces a
  * plan with a cheaper equivalent. */
private[queries] object RewriteRows {

  /** The HLL small-range (linear-counting) table as a SQL list
    * literal — the SAME precomputed integers the rewrite plan embeds
    * ([[graft.operators.HyperLogLog.LinearCountingTable]]), so the
    * correction is cross-engine bit-exact with no query-time `ln`. */
  private lazy val HllLcList: String =
    graft.operators.HyperLogLog.LinearCountingTable.mkString(", ")

  val specs: Seq[QuerySpec] = Seq(
    // Catalyst optimizer rule: plain SQL top-k over an IVF-registered
    // store is auto-rewritten to cluster pruning (full breadth ⇒ exact,
    // so the oracle checks it bit-for-bit; pruned-plan behavior is
    // covered in IvfRewriteSpec).
    QuerySpec("sql_ann_rewrite", (s, d) => {
      GraftFunctions.register(s)
      graft.plans.IvfRewrite.install(s)
      val (path, model) = ivfEmbStore(s, d)
      graft.plans.IvfIndexCatalog.register(path, model, searchTopSize = model.numClusters)
      s.read.parquet(path).createOrReplaceTempView("graft_ivf_store")
      s.sql(
        """SELECT vec_id, round(knn_cosine_similarity(embedding, :qv), 6) AS score
          |FROM graft_ivf_store ORDER BY score DESC, vec_id LIMIT 7""".stripMargin,
        Map("qv" -> typedLit(queryVec(s, d).toSeq)))
    },
      """WITH qv AS (SELECT CAST(embedding AS DOUBLE[]) AS q FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |       round(list_inner_product(CAST(e.embedding AS DOUBLE[]), qv.q) /
        |             (sqrt(list_inner_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
        |              sqrt(list_inner_product(qv.q, qv.q))), 6) AS score
        |FROM embeddings e, qv
        |ORDER BY score DESC NULLS LAST, e.vec_id
        |LIMIT 7""".stripMargin),
    // Naive O(n²) edit-distance SQL self-join auto-rewritten into the
    // blocked ER subtree (third rewrite rule beside the ANN and LSH
    // rewrites). maxDist=1 is lossless by pigeonhole on ≥16-char
    // names, so the oracle is the EXACT naive join.
    QuerySpec("sql_fuzzy_join_rewrite", (s, d) => {
      import graft.plans.{FuzzyJoinCatalog, FuzzyJoinRewrite}
      FuzzyJoinRewrite.install(s)
      val path = erStore(s, d)
      FuzzyJoinCatalog.register(path, FuzzyJoinCatalog.Params(
        "id", "name", blockKeyLen = 8, maxBucket = Some(1024)))
      s.sql(
        s"""SELECT a.id AS a_id, b.id AS b_id,
           |       levenshtein(a.name, b.name) AS dist
           |FROM parquet.`$path` a JOIN parquet.`$path` b
           |  ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
           |ORDER BY a_id, b_id""".stripMargin)
    },
      // The rewrite's oracle is the NAIVE exact join itself — the
      // strongest possible statement of the dist≤1 losslessness claim.
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) AS id, substr(text, 1, 24) AS name
        |  FROM documents WHERE length(text) >= 24),
        |pos AS (SELECT id, name, CAST(id % 16 + 4 AS INT) AS p FROM base),
        |records AS (
        |  SELECT id, name FROM base
        |  UNION ALL
        |  SELECT id + 1000000, substr(name, 1, p) || substr(name, p + 2, 24)
        |  FROM pos)
        |SELECT a.id AS a_id, b.id AS b_id,
        |       CAST(levenshtein(a.name, b.name) AS INT) AS dist
        |FROM records a JOIN records b
        |  ON a.id < b.id AND levenshtein(a.name, b.name) <= 1
        |ORDER BY a_id, b_id""".stripMargin),
    // Materialized-rollup auto-rewrite (FOURTH rewrite rule): repeated
    // corpus rollups are served from a registered pre-aggregate
    // instead of rescanning the base. count/sum/min/max are
    // MERGE-CLOSED, so the naive GROUP BY re-plans as a merge
    // aggregate over the (lang, source) summary — here with a coarser
    // grain (lang) AND a commuting WHERE on a grain column, the two
    // transforms that make a rollup reusable. At 100 TB this turns a
    // datacard refresh from a corpus scan into a few-thousand-row
    // read. The oracle runs the SAME naive SQL on the base table: the
    // rewrite must be semantically invisible (float sums, avg,
    // count(col), DISTINCT and non-grain predicates all REFUSE —
    // pinned by RollupRewriteSpec).
    // SEVENTH auto-rewrite: DISTINCT over a superset of a registered
    // unique key deletes the Aggregate — at 100 TB that is a full
    // shuffle of every distinct row, erased by a declared constraint
    // Spark has no metadata channel for. Plan-asserted in-row; the
    // oracle runs the REAL DISTINCT in DuckDB, so the rewrite must be
    // result-identical.
    QuerySpec("sql_distinct_elim_rewrite", (s, d) => {
      graft.plans.ConstraintRewriteRule.ensureRegistered(s)
      val (docs, _) = constraintStore(s, d)
      val df = s.read.parquet(docs).select("doc_id", "lang", "source")
        .distinct()
      require(df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.isEmpty, "distinct elimination did not fire")
      df.orderBy("doc_id")
    },
      // The naive rollup SQL over the BASE table: the materialized-
      // rollup rewrite must be semantically invisible, so the oracle is
      // the un-rewritten aggregate itself (exact integer sums).
      // The REAL distinct/left-join executed by DuckDB — the rewrites
      // must be result-identical to the unrewritten semantics.
      """SELECT DISTINCT doc_id, lang, source
        |FROM documents ORDER BY doc_id""".stripMargin),
    // EIGHTH auto-rewrite: a LEFT JOIN to an unreferenced unique
    // dimension is multiplicity-preserving and is deleted — the
    // star-schema query stops scanning the dimension entirely. The
    // oracle executes the REAL left join in DuckDB.
    QuerySpec("sql_join_elim_rewrite", (s, d) => {
      graft.plans.ConstraintRewriteRule.ensureRegistered(s)
      val (_, dim) = constraintStore(s, d)
      val l = table(s, d, "lineitem")
      val p = s.read.parquet(dim)
      val df = l.join(p, l("l_partkey") === p("p_partkey"), "left_outer")
        .groupBy(l("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
      require(df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, "join elimination did not fire")
      df.orderBy("l_returnflag")
    },
      """SELECT l.l_returnflag,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l LEFT OUTER JOIN part p
        |  ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
    // ELEVENTH auto-rewrite: INNER join to an unreferenced dimension
    // deletes when the fk is a REGISTERED verified foreign key onto
    // the dim's unique key — unlike the left-join case this needs
    // containment + no-null-fk, which is exactly what the profile_ri
    // card verifies (run the card, then register). The oracle runs
    // the REAL inner join in DuckDB.
    QuerySpec("sql_fk_join_elim_rewrite", (s, d) => {
      graft.plans.ConstraintRewriteRule.ensureRegistered(s)
      val (_, dim) = constraintStore(s, d)
      val facts = fkStore(s, d)
      val l = s.read.parquet(facts)
      val p = s.read.parquet(dim)
      val df = l.join(p, l("l_partkey") === p("p_partkey"), "inner")
        .groupBy(l("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
      require(df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, "fk inner-join elimination did not fire")
      df.orderBy("l_returnflag")
    },
      """SELECT l.l_returnflag,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem l JOIN part p
        |  ON l.l_partkey = p.p_partkey
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin),
    QuerySpec("sql_rollup_rewrite", (s, d) => {
      import graft.plans.{RollupCatalog, RollupRewrite}
      RollupRewrite.install(s)
      val (base, params) = rollupStore(s, d)
      RollupCatalog.register(base, params)
      s.sql(
        s"""SELECT lang, count(*) AS n_docs, sum(n_chars) AS total_chars,
           |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           |       round(avg(n_chars), 6) AS avg_chars
           |FROM parquet.`$base`
           |WHERE source <> 'src0'
           |GROUP BY lang ORDER BY lang""".stripMargin)
    },
      """SELECT lang, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |       round(CAST(sum(n_chars) AS DOUBLE) / count(n_chars), 6)
        |         AS avg_chars
        |FROM documents WHERE source <> 'src0'
        |GROUP BY lang ORDER BY lang""".stripMargin),
    // Time-grain rollup serving: the HOURLY event summary answers the
    // DAILY dashboard because date_trunc('DAY', date_trunc('HOUR',
    // ts)) == date_trunc('DAY', ts) — the rule re-truncates the
    // stored grain instead of rescanning the stream. At 100 TB this
    // is the whole point of keeping an hourly cube: every coarser
    // time rollup reads |types × hours| rows, never the corpus. The
    // oracle is the same naive SQL over the raw events.
    QuerySpec("sql_rollup_time_rewrite", (s, d) => {
      import graft.plans.{RollupCatalog, RollupRewrite}
      RollupRewrite.install(s)
      val (base, params) = rollupTimeStore(s, d)
      RollupCatalog.register(base, params)
      s.sql(
        s"""SELECT event_type, date_trunc('DAY', ts) AS day,
           |       count(*) AS n_events, sum(cents) AS total_cents,
           |       round(avg(cents), 6) AS avg_cents
           |FROM parquet.`$base`
           |GROUP BY event_type, date_trunc('DAY', ts)
           |ORDER BY event_type, day""".stripMargin)
    },
      // The naive daily rollup over the raw event stream — what the
      // hourly-summary re-truncation must reproduce exactly.
      """WITH ev AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS ts,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |       count(*) AS n_events,
        |       CAST(sum(cents) AS BIGINT) AS total_cents,
        |       round(CAST(sum(cents) AS DOUBLE) / count(cents), 6)
        |         AS avg_cents
        |FROM ev GROUP BY 1, 2
        |ORDER BY event_type, day""".stripMargin),
    // Catalyst rewrite: the NAIVE SQL cosine self-join (O(n²)
    // inequality join as written) over a SimJoinCatalog-registered
    // store re-plans as the banded-LSH candidate plan at the query's
    // own threshold/scale — unmodified SQL gets the scale path, the
    // declarative-engine counterpart of sql_ann_rewrite. The oracle is
    // the exact join; the rewrite's firing is plan-asserted in
    // SimJoinRewriteSpec.
    QuerySpec("sql_sim_join_rewrite", (s, d) => {
      import graft.plans.{SimJoinCatalog, SimJoinRewrite}
      GraftFunctions.register(s)
      SimJoinRewrite.install(s)
      val path = s"$d/embeddings.parquet"
      SimJoinCatalog.register(path, SimJoinCatalog.Params(
        "vec_id", "embedding", bitsPerTable = 6, nTables = 64,
        seed = 42L, maxBucket = Some(1024), minThreshold = 0.4))
      s.sql(
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           |       round(knn_cosine_similarity(a.embedding, b.embedding), 6) AS cos_sim
           |FROM parquet.`$path` a JOIN parquet.`$path` b
           |  ON a.vec_id < b.vec_id
           |WHERE round(knn_cosine_similarity(a.embedding, b.embedding), 6) >= 0.4
           |ORDER BY a_id, b_id""".stripMargin)
    },
      // The rewritten SQL self-join equals the exact join (recall 1 at
      // the registered parameters) — same oracle as sim_join_lsh.
      """WITH base AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT * FROM (
        |  SELECT a.id AS a_id, b.id AS b_id,
        |         round(list_inner_product(a.v, b.v) /
        |               (sqrt(list_inner_product(a.v, a.v)) * sqrt(list_inner_product(b.v, b.v))), 6)
        |           AS cos_sim
        |  FROM base a JOIN base b ON a.id < b.id)
        |WHERE cos_sim >= 0.4
        |ORDER BY a_id, b_id""".stripMargin),
    // SIXTH optimizer rewrite: a 2500-element IN list (the routine
    // "exclude these opted-out ids" blocklist filter) re-plans as a
    // BROADCAST set probe — result-identical exact membership, but
    // the plan carries a handle instead of re-serializing the set
    // into every stage's task binary. The oracle replays the list's
    // closed form arithmetically.
    QuerySpec("sql_inset_rewrite", (s, d) => {
      graft.plans.InSetBroadcastRule.install(s)
      val blocked = (0 until 2500).map(i => (i * 4 + 1).toLong)
      table(s, d, "documents")
        .filter(col("doc_id").isin(blocked: _*))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_blocked"),
          sum(col("n_chars")).as("sum_chars"))
        .orderBy("lang")
    },
      // The 2500-id blocklist is {4k+1 : k < 2500} — membership replays
      // as residue arithmetic, no list literal needed.
      """SELECT lang, count(*) AS n_blocked,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE doc_id % 4 = 1 AND doc_id >= 1 AND doc_id < 10001
        |GROUP BY lang ORDER BY lang""".stripMargin),
    // FIFTH optimizer rewrite: count(DISTINCT x) over an HllCatalog-
    // registered path re-plans as the HLL register pipeline — the one
    // OPT-IN approximate rewrite (registration is explicit consent;
    // unregistered paths keep the exact distinct aggregate). The
    // oracle replays the register arithmetic and the same rounding.
    // NINTH optimizer rewrite: unfiltered count(*) over a REGISTERED
    // parquet table answers from FOOTERS ONLY — |files| tail reads of
    // a few KB replace the table-sized data scan (the first query
    // every ingestion check runs, at 100 TB the most wasteful one).
    // Distributed mapPartitions footer parse (graft's own thrift
    // reader), loud failure on an unreadable footer, in-row plan
    // assertions that the rewrite fired and no data scan survived.
    QuerySpec("sql_count_footer_rewrite", (s, d) => {
      graft.plans.FooterCountRewrite.install(s)
      val path = footerCountStore(s, d)
      graft.plans.FooterCountCatalog.register(path)
      val out = s.sql(s"SELECT count(*) AS n_docs FROM parquet.`$path`")
      val phys = out.queryExecution.executedPlan.toString
      require(phys.contains("MapPartitions"),
        s"footer-count rewrite did not fire:\n$phys")
      require(!phys.contains("Scan parquet"),
        s"parquet data scan survived the rewrite:\n$phys")
      out
    },
      // The rewritten SQL answers with the register estimate — the
      // oracle replays registers + harmonic mean + the BIGINT rounding.
      "SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents"),
    // TENTH optimizer rewrite: unfiltered min/max/count over a
    // registered parquet table answers from COLUMN-CHUNK STATISTICS
    // in the footers — the "freshness check" queries every ingestion
    // monitor schedules (SELECT min(id), max(id), count(*)), at
    // 100 TB the difference between KBs of tail reads and a full
    // scan. INT32/INT64 only (fixed width → stats never truncated,
    // and no NaN divergence); nulls exact via null_count.
    QuerySpec("sql_minmax_footer_rewrite", (s, d) => {
      graft.plans.FooterStatsRewrite.install(s)
      val path = footerCountStore(s, d)
      graft.plans.FooterCountCatalog.register(path)
      val out = s.sql(
        s"""SELECT min(doc_id) AS min_id, max(doc_id) AS max_id,
           |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
           |       count(*) AS n_docs, count(lang) AS n_langs
           |FROM parquet.`$path`""".stripMargin)
      val phys = out.queryExecution.executedPlan.toString
      require(phys.contains("MapPartitions"),
        s"footer-stats rewrite did not fire:\n$phys")
      require(!phys.contains("Scan parquet"),
        s"parquet data scan survived the rewrite:\n$phys")
      out
    },
      """SELECT CAST(min(doc_id) AS BIGINT) AS min_id,
        |       CAST(max(doc_id) AS BIGINT) AS max_id,
        |       CAST(min(n_chars) AS BIGINT) AS min_chars,
        |       CAST(max(n_chars) AS BIGINT) AS max_chars,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(lang) AS BIGINT) AS n_langs
        |FROM documents""".stripMargin),
    // The freshness card proper: min/max of the EVENT-TIME column —
    // the query every ingestion monitor schedules — answered from
    // footer timestamp statistics (INT64 micros, unit VERIFIED from
    // the schema's converted_type, never assumed; INT96 refuses).
    QuerySpec("sql_freshness_footer_rewrite", (s, d) => {
      graft.plans.FooterStatsRewrite.install(s)
      val path = footerEventsStore(s, d)
      graft.plans.FooterCountCatalog.register(path)
      val out = s.sql(
        s"""SELECT min(ts) AS first_ts, max(ts) AS last_ts,
           |       count(*) AS n_events
           |FROM parquet.`$path`""".stripMargin)
      val phys = out.queryExecution.executedPlan.toString
      require(phys.contains("MapPartitions"),
        s"freshness footer rewrite did not fire:\n$phys")
      require(!phys.contains("Scan parquet"),
        s"parquet data scan survived the rewrite:\n$phys")
      out
    },
      """SELECT CAST(min(ts) AS TIMESTAMP) AS first_ts,
        |       CAST(max(ts) AS TIMESTAMP) AS last_ts,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events""".stripMargin),
    QuerySpec("sql_hll_rewrite", (s, d) => {
      graft.plans.HllRewrite.install(s)
      // dedicated table copy (the rollup row's discipline): the
      // registration stays scoped to THIS row — other driver rows
      // over documents.parquet keep their exact distinct plans.
      val path = hllStore(s, d)
      graft.plans.HllCatalog.register(path)
      s.sql(
        s"""SELECT source, count(DISTINCT text) AS n_distinct
           |FROM parquet.`$path`
           |GROUP BY source ORDER BY source""".stripMargin)
    },
      s"""WITH parts AS (
        |  SELECT source, md5(text) AS h FROM documents WHERE text IS NOT NULL),
        |rhos AS (
        |  SELECT source,
        |         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |          strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket,
        |         length(regexp_extract(substr(h, 3, 12), '^0*')) AS zn,
        |         strpos('0123456789abcdef',
        |           substr(substr(h, 3, 12) || 'f',
        |             length(regexp_extract(substr(h, 3, 12), '^0*')) + 1, 1)) - 1
        |           AS fnz
        |  FROM parts),
        |regs AS (
        |  SELECT source, bucket,
        |         max(CASE WHEN zn = 12 THEN 49
        |             ELSE zn * 4 + CASE WHEN fnz >= 8 THEN 0 WHEN fnz >= 4 THEN 1
        |                                WHEN fnz >= 2 THEN 2 ELSE 3 END + 1 END)
        |           AS rho
        |  FROM rhos GROUP BY 1, 2),
        |summary AS (
        |  SELECT source, sum(pow(2.0, -rho)) AS sum_inv,
        |         CAST(count(*) AS BIGINT) AS n_hit
        |  FROM regs GROUP BY 1),
        |est AS (
        |  SELECT source, CAST(256 - n_hit AS BIGINT) AS v_zero, n_hit,
        |         (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 /
        |           (sum_inv + CAST(256 - n_hit AS DOUBLE)) AS est_raw
        |  FROM summary)
        |SELECT source,
        |       CASE WHEN n_hit = 0 THEN CAST(0 AS BIGINT)
        |            WHEN v_zero > 0 AND est_raw < 640.0
        |              THEN CAST(([$HllLcList])[CAST(v_zero AS INT)] AS BIGINT)
        |            ELSE CAST(round(est_raw) AS BIGINT) END AS n_distinct
        |FROM est ORDER BY source""".stripMargin),
    // Incremental per-source HLL datacard: registers built separately
    // over the old corpus and a delta batch, union-MERGED by
    // per-register max — the refresh path that never rescans history.
    // The oracle rebuilds registers over the FULL table: merge(old,
    // delta) == direct build is exactly the claim under test.
    QuerySpec("sketch_hll_incremental", (s, d) => {
      val docs = table(s, d, "documents").filter(col("text").isNotNull)
      val old = docs.filter(col("doc_id") % 10 =!= 0)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      val merged = HyperLogLog.mergeRegisters(Seq("source"),
        HyperLogLog.registersPer(old, "text", Seq("source")),
        HyperLogLog.registersPer(delta, "text", Seq("source")))
      val exact = docs.groupBy("source")
        .agg(countDistinct(col("text")).as("exact_distinct"))
      HyperLogLog.estimatePer(merged, Seq("source"))
        .join(exact, Seq("source"))
        .orderBy("source")
    },
      // The incremental merge's oracle is the DIRECT build over the full
      // table — merge(old, delta) == direct is the contract under test.
      """WITH parts AS (
        |  SELECT source, md5(text) AS h FROM documents WHERE text IS NOT NULL),
        |rhos AS (
        |  SELECT source,
        |         (strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 +
        |          strpos('0123456789abcdef', substr(h, 2, 1)) - 1 AS bucket,
        |         length(regexp_extract(substr(h, 3, 12), '^0*')) AS zn,
        |         strpos('0123456789abcdef',
        |           substr(substr(h, 3, 12) || 'f',
        |             length(regexp_extract(substr(h, 3, 12), '^0*')) + 1, 1)) - 1
        |           AS fnz
        |  FROM parts),
        |regs AS (
        |  SELECT source, bucket,
        |         max(CASE WHEN zn = 12 THEN 49
        |             ELSE zn * 4 + CASE WHEN fnz >= 8 THEN 0 WHEN fnz >= 4 THEN 1
        |                                WHEN fnz >= 2 THEN 2 ELSE 3 END + 1 END)
        |           AS rho
        |  FROM rhos GROUP BY 1, 2),
        |summary AS (
        |  SELECT source, sum(pow(2.0, -rho)) AS sum_inv,
        |         CAST(count(*) AS BIGINT) AS n_hit
        |  FROM regs GROUP BY 1),
        |exact AS (
        |  SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS exact_distinct
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1)
        |SELECT s.source, CAST(256 - n_hit AS BIGINT) AS v_zero,
        |       (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 /
        |         (sum_inv + CAST(256 - n_hit AS DOUBLE)) AS est_distinct,
        |       e.exact_distinct
        |FROM summary s JOIN exact e USING (source)
        |ORDER BY source""".stripMargin),
    // HyperLogLog distinct sketch: 256 md5-derived registers per key
    // column, raw harmonic-mean estimate beside the exact count. The
    // 2^-rho terms are exact powers of two, so the double sum is
    // partition-order independent and the oracle matches bit-exactly.
    QuerySpec("sketch_hll_distinct", (s, d) => {
      val ev = table(s, d, "events")
      HyperLogLog.estimateWithTruth(ev, "user_id")
        .withColumn("key_col", lit("user_id"))
        .unionByName(
          HyperLogLog.estimateWithTruth(ev, "event_id")
            .withColumn("key_col", lit("event_id")))
        .select("key_col", "m", "v_zero", "est_distinct", "exact_distinct")
        .orderBy("key_col")
    },
      // HLL registers rebuilt nibble by nibble (bucket = first two md5
      // nibbles, rho = 1 + leading zero bits of the next 48), then the
      // identical alpha literal and exact power-of-two harmonic sum.
      """WITH keys AS (
        |  SELECT 'user_id' AS key_col, CAST(user_id AS VARCHAR) AS k FROM events
        |  UNION ALL
        |  SELECT 'event_id', CAST(event_id AS VARCHAR) FROM events),
        |parts AS (
        |  SELECT key_col, k,
        |         (strpos('0123456789abcdef', substr(md5(k), 1, 1)) - 1) * 16 +
        |          strpos('0123456789abcdef', substr(md5(k), 2, 1)) - 1 AS bucket,
        |         substr(md5(k), 3, 12) AS w
        |  FROM keys),
        |rhos AS (
        |  SELECT key_col, bucket,
        |         length(regexp_extract(w, '^0*')) AS zn,
        |         strpos('0123456789abcdef',
        |           substr(w || 'f', length(regexp_extract(w, '^0*')) + 1, 1)) - 1
        |           AS fnz
        |  FROM parts),
        |regs AS (
        |  SELECT key_col, bucket,
        |         max(CASE WHEN zn = 12 THEN 49
        |             ELSE zn * 4 + CASE WHEN fnz >= 8 THEN 0 WHEN fnz >= 4 THEN 1
        |                                WHEN fnz >= 2 THEN 2 ELSE 3 END + 1 END)
        |           AS rho
        |  FROM rhos GROUP BY 1, 2),
        |summary AS (
        |  SELECT key_col, sum(pow(2.0, -rho)) AS sum_inv,
        |         CAST(count(*) AS BIGINT) AS n_hit
        |  FROM regs GROUP BY 1),
        |exact AS (
        |  SELECT key_col, CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
        |  FROM keys GROUP BY 1)
        |SELECT s.key_col, CAST(256 AS INTEGER) AS m,
        |       CAST(256 - n_hit AS BIGINT) AS v_zero,
        |       (0.7213 / (1.0 + 1.079 / 256.0)) * 256.0 * 256.0 /
        |         (sum_inv + CAST(256 - n_hit AS DOUBLE)) AS est_distinct,
        |       e.exact_distinct
        |FROM summary s JOIN exact e USING (key_col)
        |ORDER BY key_col""".stripMargin)
  )
}
