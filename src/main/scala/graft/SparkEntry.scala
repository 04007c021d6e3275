package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._

/** Driver contract: one registry of queries, each paired with how its
  * result is verified.
  *
  * Each [[SparkEntry.QuerySpec]] in [[SparkEntry.registry]] is one
  * operator from SURVEY.md §2 expressed Spark-first, with one of two
  * verdicts:
  *   - [[SparkEntry.Oracle]]: the equivalent DuckDB SQL for the driver's
  *     value-exact compare (column names aliased identically on both
  *     sides; deterministic ORDER BY everywhere; double aggregates routed
  *     through DECIMAL(18,2) on both sides so engine summation order
  *     can't perturb bits — see ops.Aggregates scaladoc);
  *   - [[SparkEntry.CheckedBy]]: the result is not SQL-expressible
  *     (sketches, trained centroids, recurrent cells, seeded walks), so a
  *     named companion query — itself an Oracle entry — re-states its
  *     contract as comparable rows.
  * A new query is one more `QuerySpec` in its section, with its oracle
  * SQL (and the comment that justifies it) right next to the builder.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core computation: last-5 lookback → next-price
    * prediction per series (`stream_consumer.py:50-54,72-76`). */
  def entry(spark: SparkSession): DataFrame =
    Predict.predictNext(Tables.events(spark, "/root/testdata/sf0.001"))

  sealed trait Verdict
  /** Value-exact against this DuckDB SQL over the same parquet tables. */
  final case class Oracle(sql: String) extends Verdict
  /** Rows-only: the registered Oracle query `companion` checks it. */
  final case class CheckedBy(companion: String) extends Verdict

  final case class QuerySpec(name: String,
      build: (SparkSession, String) => DataFrame, verdict: Verdict)

  /** Name-keyed views of [[registry]], built once: graftbench looks a
    * query up per pass and every spec per test; Verify writes the
    * oracle map. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = registry.map(q => q.name -> q.build).toMap
  lazy val oracleSql: Map[String, String] = registry.collect { case QuerySpec(n, _, Oracle(sql)) => n -> sql }.toMap

  /** The specs a comma list names, in the list's order; the whole
    * registry when the list is absent. Fails, naming every unknown
    * entry, before the caller does any Spark work — a typo must not
    * silently drop a query from a run. */
  def select(only: Option[String]): Seq[QuerySpec] = only.fold(registry) { list =>
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
    val byName = registry.map(q => q.name -> q).toMap
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    require(names.nonEmpty, s"no query names in '$list'")
    names.map(byName)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  lazy val registry: Seq[QuerySpec] = Seq(
    // §2.2 scans / projections / filters
    QuerySpec("q_scan_filter", (s, d) => Relational.scanFilter(s, d), Oracle(
      """SELECT event_id, user_id, value FROM events
         WHERE event_type = 'click' ORDER BY event_id""")),
    QuerySpec("q_scan_partitioned", (s, d) => Relational.partitionPrunedDaily(s, d), Oracle(
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
          count(*) AS n, ${dsum("value")} AS total
          FROM events WHERE event_type = 'purchase'
          GROUP BY 1 ORDER BY day""")),
    QuerySpec("q_sql_yr_priority", (s, d) => Relational.sqlRevenueByYearPriority(s, d), Oracle(
      // deliberately the IDENTICAL string Spark executes via spark.sql
      // (so are the eight q_sql_* oracles below)
      Relational.RevenueByYearPrioritySql)),
    QuerySpec("q_sql_ship_priority", (s, d) => Relational.sqlShippingPriority(s, d), Oracle(
      Relational.ShippingPrioritySql)),
    QuerySpec("q_sql_disjunctive", (s, d) => Relational.sqlDisjunctiveRevenue(s, d), Oracle(
      Relational.DisjunctiveRevenueSql)),
    QuerySpec("q_sql_supplier_volume", (s, d) => Relational.sqlLocalSupplierVolume(s, d), Oracle(
      Relational.LocalSupplierVolumeSql)),
    QuerySpec("q_sql_late_orders", (s, d) => Relational.sqlLateOrders(s, d), Oracle(
      Relational.LateOrdersSql)),
    QuerySpec("q_sql_nation_value", (s, d) => Relational.sqlNationValue(s, d), Oracle(
      Relational.NationValueSql)),
    QuerySpec("q_sql_promo_share", (s, d) => Relational.sqlPromoShare(s, d), Oracle(
      Relational.PromoShareSql)),
    QuerySpec("q_sql_supplier_parts", (s, d) => Relational.sqlSupplierParts(s, d), Oracle(
      Relational.SupplierPartsSql)),
    QuerySpec("q_sql_waiting_supplier", (s, d) => Relational.sqlWaitingSupplier(s, d), Oracle(
      Relational.WaitingSupplierSql)),
    // feature-preparation surface (ops.TrainPrep): target encoding,
    // the hashing trick, bipartite degrees, calendar seasonality
    QuerySpec("q_target_encode", (s, d) => TrainPrep.targetEncode(s, d), Oracle(
      // leave-one-out target encoding: exact decimal sums on both sides,
      // one double division — bit-deterministic cross-engine
      """WITH rows AS (
           SELECT o_orderkey, c_mktsegment AS segment,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS price
           FROM orders, customer WHERE o_custkey = c_custkey),
         enc AS (SELECT segment, sum(price) AS seg_sum, count(*) AS seg_n
                 FROM rows GROUP BY segment)
         SELECT o_orderkey, r.segment,
           CAST(seg_sum - price AS DOUBLE) / CAST(seg_n - 1 AS DOUBLE) AS loo_enc
         FROM rows r, enc e WHERE r.segment = e.segment
         ORDER BY o_orderkey""")),
    QuerySpec("q_feature_hash", (s, d) => TrainPrep.featureHash(s, d), Oracle(
      // hashing trick: md5 is the engine-portable hash (native hash
      // functions differ); bucket = two leading hex chars mod 64
      """WITH toks AS (
           SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents),
         t2 AS (SELECT source,
                  (ascii(substr(md5(token), 1, 1)) * 256 +
                   ascii(substr(md5(token), 2, 1))) % 64 AS bucket
                FROM toks WHERE token <> '')
         SELECT source, CAST(bucket AS BIGINT) AS bucket, count(*) AS n_tokens
         FROM t2 GROUP BY source, bucket ORDER BY source, bucket""")),
    QuerySpec("q_degree_dist", (s, d) => TrainPrep.degreeDist(s, d), Oracle(
      """WITH pairs AS (SELECT DISTINCT o_custkey, l_partkey
                        FROM lineitem, orders WHERE l_orderkey = o_orderkey),
         deg AS (SELECT o_custkey, count(*) AS degree FROM pairs GROUP BY o_custkey)
         SELECT degree, count(*) AS n_customers FROM deg
         GROUP BY degree ORDER BY degree""")),
    QuerySpec("q_seasonality", (s, d) => TrainPrep.seasonality(s, d), Oracle(
      // weekday seasonal index: decimal-exact sums, double divisions;
      // DuckDB strftime('%A') == Spark date_format('EEEE') (UTC, full name)
      """WITH ev AS (SELECT strftime(ts, '%A') AS dow,
                       CAST(value AS DECIMAL(18,2)) AS v
                     FROM events WHERE event_type = 'purchase'),
         bd AS (SELECT dow, count(*) AS n, sum(v) AS dow_sum FROM ev GROUP BY dow),
         g AS (SELECT count(*) AS g_n, sum(v) AS g_sum FROM ev)
         SELECT dow, n, CAST(dow_sum AS DOUBLE) / CAST(n AS DOUBLE) AS dow_mean,
           (CAST(dow_sum AS DOUBLE) / CAST(n AS DOUBLE)) /
           (CAST(g_sum AS DOUBLE) / CAST(g_n AS DOUBLE)) AS seasonal_index
         FROM bd, g ORDER BY dow""")),
    QuerySpec("q_text_tfidf", (s, d) => TextOps.tfidfTop(s, d), Oracle(
      // smooth-idf TF-IDF, DECIMAL(18,8)-quantized before ranking (BM25
      // precedent) so the per-doc top-3 tie-break matches exactly
      """WITH toks AS (
           SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents),
         tk AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         dfv AS (SELECT token, count(DISTINCT doc_id) AS df FROM tk GROUP BY token),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         tf AS (SELECT doc_id, token, count(*) AS tf FROM tk
                WHERE doc_id < 200 GROUP BY doc_id, token),
         sc AS (SELECT doc_id, t.token,
                  CAST(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS DECIMAL(18,8)) AS score
                FROM tf t, dfv f, nd WHERE t.token = f.token),
         rk AS (SELECT doc_id, token, score,
                  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
                FROM sc)
         SELECT doc_id, rnk, token, CAST(score AS DOUBLE) AS score
         FROM rk WHERE rnk <= 3 ORDER BY doc_id, rnk""")),
    // statistics / diagnostics wave 2: experiment t-test, OLS trend,
    // sequence paths, watermark lateness, join-key skew audit
    QuerySpec("q_ab_ttest", (s, d) => Drift.abTtest(s, d), Oracle(
      // Welch t-test over the user-parity A/B split: decimal moments →
      // one double closed form, the same IEEE tree both engines
      """WITH e AS (SELECT event_type, user_id % 2 = 0 AS is_a,
             CAST(value AS DECIMAL(18,2)) AS v FROM events),
         g AS (SELECT event_type,
           sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS n_a,
           sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS n_b,
           sum(CASE WHEN is_a THEN v ELSE CAST(0 AS DECIMAL(18,2)) END) AS sa,
           sum(CASE WHEN is_a THEN CAST(0 AS DECIMAL(18,2)) ELSE v END) AS sb,
           sum(CASE WHEN is_a THEN CAST(v * v AS DECIMAL(38,4)) ELSE CAST(0 AS DECIMAL(38,4)) END) AS qa,
           sum(CASE WHEN is_a THEN CAST(0 AS DECIMAL(38,4)) ELSE CAST(v * v AS DECIMAL(38,4)) END) AS qb
           FROM e GROUP BY event_type),
         m AS (SELECT event_type, n_a, n_b,
           CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
           CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
           CAST(qa AS DOUBLE) AS qad, CAST(qb AS DOUBLE) AS qbd FROM g),
         v AS (SELECT event_type, n_a, n_b, na, nb,
           sad / na AS mean_a, sbd / nb AS mean_b,
           ((qad - sad * sad / na) / (na - 1.0)) / na AS sea,
           ((qbd - sbd * sbd / nb) / (nb - 1.0)) / nb AS seb FROM m)
         SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           mean_a, mean_b,
           (mean_a - mean_b) / sqrt(sea + seb) AS t_stat,
           ((sea + seb) * (sea + seb)) /
           (sea * sea / (na - 1.0) + seb * seb / (nb - 1.0)) AS df_welch
         FROM v ORDER BY event_type""")),
    QuerySpec("q_equidepth_bins", (s, d) => Aggregates.equidepthBins(s, d), Oracle(
      // equi-depth bins: ntile is SQL-standard and tie-broken, so cell
      // boundaries hash-compare with no percentile-interpolation parity
      """WITH b AS (SELECT event_type, value,
             CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS bin
           FROM events)
         SELECT event_type, bin, count(*) AS n, min(value) AS lo, max(value) AS hi
         FROM b GROUP BY event_type, bin ORDER BY event_type, bin""")),
    QuerySpec("q_skew_kurtosis", (s, d) => Aggregates.skewKurtosis(s, d), Oracle(
      // skew/kurtosis from exact decimal power sums; 3/2 power spelled
      // sqrt(c2*c2*c2) (pow is not cross-libm deterministic, sqrt is)
      """WITH e AS (SELECT event_type, CAST(value AS DECIMAL(18,2)) AS v,
             CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(18,4)) AS v2
           FROM events),
         g AS (SELECT event_type, count(*) AS n, sum(v) AS s1, sum(v2) AS s2,
             sum(CAST(CAST(v2 AS DECIMAL(19,4)) * v AS DECIMAL(38,6))) AS s3,
             sum(CAST(CAST(v2 AS DECIMAL(19,4)) * CAST(v2 AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS s4 FROM e GROUP BY event_type),
         -- s3/s4 carry > 2^53 unscaled digits: DuckDB's decimal→double
         -- double-rounds (int128→double, then /10^scale) where the JVM
         -- rounds once; the VARCHAR hop makes the conversion a single
         -- correctly-rounded strtod on the exact digits
         m AS (SELECT event_type, n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
             CAST(CAST(s3 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
             CAST(CAST(s4 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS r4 FROM g),
         c AS (SELECT event_type, n, mu, r2 - mu * mu AS c2,
             r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS c3,
             r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS c4 FROM m)
         SELECT event_type, n, mu AS mean,
           c3 / sqrt(c2 * c2 * c2) AS skewness,
           c4 / (c2 * c2) - 3.0 AS kurtosis_excess
         FROM c ORDER BY event_type""")),
    QuerySpec("q_gini", (s, d) => Aggregates.giniValue(s, d), Oracle(
      // Gini from the sorted-rank identity over integer cents;
      // rank*cents products in DECIMAL(38,0) (sums pass 2^63 at 100x)
      """WITH e AS (SELECT event_type, event_id,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS vc FROM events),
         r AS (SELECT event_type, vc,
             row_number() OVER (PARTITION BY event_type ORDER BY vc, event_id) AS i FROM e),
         g AS (SELECT event_type, count(*) AS n, sum(vc) AS sv,
             sum(CAST(i AS DECIMAL(19,0)) * CAST(vc AS DECIMAL(19,0))) AS siv
           FROM r GROUP BY event_type)
         SELECT event_type, n AS n_events,
           2.0 * CAST(siv AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE)) - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE) AS gini
         FROM g ORDER BY event_type""")),
    QuerySpec("q_zipf_fit", (s, d) => TextOps.zipfFit(s, d), Oracle(
      // Zipf fit: ln terms quantized DECIMAL(18,8), pairwise products
      // EXACT at DECIMAL(38,16), one shared IEEE closed form
      """WITH cn AS (SELECT token, count(*) AS c FROM
             (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token FROM documents)
           WHERE token <> '' GROUP BY token),
         rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, token) AS r FROM cn),
         t AS (SELECT CAST(ln(r) AS DECIMAL(18,8)) AS x, CAST(ln(c) AS DECIMAL(18,8)) AS y
             FROM rk WHERE r <= 1000),
         g AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(CAST(CAST(x AS DECIMAL(19,8)) * CAST(x AS DECIMAL(19,8)) AS DECIMAL(38,16))) AS sxx,
             sum(CAST(CAST(x AS DECIMAL(19,8)) * CAST(y AS DECIMAL(19,8)) AS DECIMAL(38,16))) AS sxy,
             sum(CAST(CAST(y AS DECIMAL(19,8)) * CAST(y AS DECIMAL(19,8)) AS DECIMAL(38,16))) AS syy FROM t),
         -- scale-16 sums can exceed 2^53 unscaled on a natural
         -- vocabulary: VARCHAR hop = single correctly-rounded strtod
         -- (the skew/kurtosis precedent)
         m AS (SELECT n, CAST(n AS DOUBLE) AS nd,
             CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
             CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
             CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
             CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd,
             CAST(CAST(syy AS VARCHAR) AS DOUBLE) AS syyd FROM g),
         f AS (SELECT n, nd * sxyd - sxd * syd AS covn,
             nd * sxxd - sxd * sxd AS varx, nd * syyd - syd * syd AS vary FROM m)
         SELECT n AS n_ranks, covn / varx AS slope,
           covn * covn / (varx * vary) AS r2
         FROM f""")),
    QuerySpec("q_trend_ols", (s, d) => TimeSeries.trendOls(s, d), Oracle(
      // OLS normal equations on per-day means held at a fixed 1e-6 tick
      // (integer division — structurally deterministic; see trendOls doc);
      // all moments exact integers, one shared IEEE closed form
      """WITH daily AS (
           SELECT event_type,
             CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT) AS x,
             CAST(sum(CAST(value AS DECIMAL(18,2))) * 1000000 AS BIGINT) // count(*) AS y
           FROM events GROUP BY event_type, CAST(epoch_us(date_trunc('day', ts)) / 86400000000 AS BIGINT)),
         g AS (SELECT event_type, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
           sum(y) AS sy, sum(x * y) AS sxy,
           sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
           FROM daily GROUP BY event_type),
         m AS (SELECT event_type, n, CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
           CAST(sxx AS DOUBLE) AS sxxd, CAST(sy AS DOUBLE) AS syd,
           CAST(sxy AS DOUBLE) AS sxyd, CAST(syy AS DOUBLE) AS syyd FROM g),
         f AS (SELECT event_type, n, nd * sxyd - sxd * syd AS covn,
           nd * sxxd - sxd * sxd AS varx, nd * syyd - syd * syd AS vary,
           sxd, syd, nd FROM m)
         SELECT event_type, n AS n_days, covn / varx / 1000000.0 AS slope,
           (syd - covn / varx * sxd) / nd / 1000000.0 AS intercept,
           covn * covn / (varx * vary) AS r2
         FROM f ORDER BY event_type""")),
    QuerySpec("q_funnel_paths", (s, d) => Behavior.funnelPaths(s, d), Oracle(
      """WITH seq AS (SELECT user_id, event_type,
             lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
             lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
           FROM events)
         SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
         FROM seq WHERE e3 IS NOT NULL
         GROUP BY path ORDER BY n DESC, path LIMIT 10""")),
    QuerySpec("q_lateness", (s, d) => Drift.latenessAudit(s, d), Oracle(
      // watermark lateness vs the deterministic md5-draw arrival order
      // (the simulated hash-split replay); integer micros to the bucket
      """WITH t AS (SELECT user_id, event_id,
             md5(CAST(event_id AS VARCHAR)) AS arr, epoch_us(ts) AS us
           FROM events),
         r AS (SELECT CAST(floor((max(us) OVER (PARTITION BY user_id
                ORDER BY arr, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us) / 3600000000.0) AS BIGINT) AS late_hr
           FROM t)
         SELECT late_hr, count(*) AS n FROM r GROUP BY late_hr ORDER BY late_hr""")),
    QuerySpec("q_key_skew", (s, d) => Relational.keySkew(s, d), Oracle(
      """WITH cnts AS (SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey),
         stats AS (SELECT count(*) AS n_keys, sum(cnt) AS total, max(cnt) AS max_cnt FROM cnts),
         top AS (SELECT l_partkey, cnt FROM cnts ORDER BY cnt DESC, l_partkey LIMIT 5)
         SELECT l_partkey, cnt, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
           CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS skew_vs_mean,
           n_keys, max_cnt
         FROM top, stats ORDER BY cnt DESC, l_partkey""")),
    QuerySpec("q_source_jsonl", (s, d) => Relational.jsonlSourceSummary(s, d), Oracle(
      s"""SELECT event_type, count(*) AS n,
          min(event_id) AS min_id, max(event_id) AS max_id,
          ${dsum("value")} AS total
          FROM events GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_source_evolution", (s, d) => Relational.evolvedSourceSummary(s, d), Oracle(
      // schema-evolution read: Spark merges a legacy 2-column parquet
      // half with the evolved 3-column half (mergeSchema; legacy rows'
      // missing event_type surfaces as NULL → '_legacy'); the oracle
      // recomputes from the original table via the same parity split
      s"""SELECT CASE WHEN event_id % 2 = 1 THEN event_type ELSE '_legacy' END AS etype,
          count(*) AS n, min(event_id) AS min_id, max(event_id) AS max_id,
          ${dsum("value")} AS total
          FROM events GROUP BY 1 ORDER BY etype""")),
    QuerySpec("q_count", (s, d) => Relational.countAll(s, d), Oracle(
      "SELECT count(*) AS n FROM lineitem")),
    // §2.6 sorts / limits / top-k
    QuerySpec("q_orderby_limit", (s, d) => Relational.orderByLimit(s, d), Oracle(
      """SELECT event_id, value FROM
         (SELECT event_id, value FROM events ORDER BY ts DESC, event_id DESC LIMIT 5000) t
         ORDER BY event_id""")),
    QuerySpec("q_sort", (s, d) => Relational.sortByShipdate(s, d), Oracle(
      """SELECT strftime(l_shipdate, '%Y-%m-%d') AS ship_d, l_orderkey, l_linenumber, l_quantity
         FROM lineitem ORDER BY ship_d, l_orderkey, l_linenumber""")),
    // §2.7 set ops + distinct
    QuerySpec("q_distinct", (s, d) => Relational.distinctPairs(s, d), Oracle(
      "SELECT DISTINCT event_type, user_id FROM events ORDER BY event_type, user_id")),
    QuerySpec("q_union", (s, d) => Relational.unionSlices(s, d), Oracle(
      """SELECT event_id, event_type FROM events WHERE event_type = 'click'
         UNION ALL
         SELECT event_id, event_type FROM events WHERE value > 150.0
         ORDER BY event_id, event_type""")),
    QuerySpec("q_intersect", (s, d) => Relational.intersectUsers(s, d), Oracle(
      """SELECT user_id FROM events WHERE event_type = 'click'
         INTERSECT
         SELECT user_id FROM events WHERE event_type = 'purchase'
         ORDER BY user_id""")),
    QuerySpec("q_except", (s, d) => Relational.exceptUsers(s, d), Oracle(
      """SELECT user_id FROM events WHERE event_type = 'error'
         EXCEPT
         SELECT user_id FROM events WHERE event_type = 'signup'
         ORDER BY user_id""")),
    // §2.4 aggregations
    QuerySpec("q_agg_groupby", (s, d) => Aggregates.groupedPricingSummary(s, d), Oracle(
      s"""SELECT l_returnflag, l_linestatus,
          ${dsum("l_quantity")} AS sum_qty,
          ${dsum("l_extendedprice")} AS sum_base_price,
          $revenue AS sum_disc_price,
          ${dsum("l_quantity")} / count(*) AS avg_qty,
          count(*) AS count_order
          FROM lineitem
          WHERE l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
          GROUP BY l_returnflag, l_linestatus
          ORDER BY l_returnflag, l_linestatus""")),
    QuerySpec("q_agg_rollup", (s, d) => Aggregates.rollupSummary(s, d), Oracle(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
          coalesce(l_linestatus, 'ALL') AS ls,
          count(*) AS n, ${dsum("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
          ORDER BY rf, ls""")),
    QuerySpec("q_metrics_summary", (s, d) => Aggregates.metricsSummary(s, d), Oracle(
      s"""SELECT count(*) AS n, min(value) AS min_value, max(value) AS max_value,
          ${dsum("value")} AS sum_value,
          ${dsum("value")} / count(*) AS avg_value
          FROM events""")),
    QuerySpec("q_agg_cube", (s, d) => Aggregates.cubeSummary(s, d), Oracle(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
          coalesce(l_linestatus, 'ALL') AS ls,
          count(*) AS n, ${dsum("l_quantity")} AS sum_qty
          FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
          ORDER BY rf, ls""")),
    QuerySpec("q_agg_grouping_sets", (s, d) => Aggregates.groupingSets(s, d), Oracle(
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
          coalesce(l_linestatus, 'ALL') AS ls,
          count(*) AS n, ${dsum("l_quantity")} AS sum_qty
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          ORDER BY rf, ls""")),
    QuerySpec("q_agg_percentile", (s, d) => Aggregates.percentiles(s, d), Oracle(
      """SELECT event_type, quantile_cont(value, 0.5) AS med,
         quantile_cont(value, 0.9) AS p90, count(*) AS n
         FROM events GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_approx_distinct", (s, d) => Aggregates.approxDistinctParts(s, d),
      CheckedBy("q_approx_distinct_check")),
    QuerySpec("q_approx_pctl", (s, d) => Aggregates.approxPercentiles(s, d),
      CheckedBy("q_approx_pctl_check")),
    QuerySpec("q_sketch_rollup", (s, d) => Aggregates.sketchRollup(s, d),
      CheckedBy("q_sketch_rollup_check")),
    QuerySpec("q_approx_topk", (s, d) => Aggregates.approxTopTokens(s, d), Oracle(
      // the sketch is exact while the stream's distinct count stays under
      // its tracking capacity (10000 ≫ |vocab| here) and the item set is
      // exactly the top k when the k/k+1 count boundary is untied — both
      // preconditions spec-asserted on this corpus (AggregateSpec)
      """SELECT CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rnk,
           token, freq AS est_freq FROM (
           SELECT token, count(*) AS freq FROM (
             SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
             FROM documents) t
           WHERE length(token) > 0
           GROUP BY token ORDER BY freq DESC, token LIMIT 20)
         ORDER BY rnk""")),
    // invariant COMPANIONS (ops.Checks): the sketch state above is not
    // SQL-expressible, but each sketch's CONTRACT is — re-stated here as
    // hash-comparable rows (exact columns value-for-value, guaranteed
    // bands as booleans the oracle pins TRUE)
    QuerySpec("q_approx_distinct_check", (s, d) => Checks.approxDistinctCheck(s, d), Oracle(
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, TRUE AS within_band
         FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""")),
    QuerySpec("q_approx_pctl_check", (s, d) => Checks.approxPctlCheck(s, d), Oracle(
      """SELECT event_type, count(*) AS n, TRUE AS med_rank_ok, TRUE AS p90_rank_ok
         FROM events GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_sketch_rollup_check", (s, d) => Checks.sketchRollupCheck(s, d), Oracle(
      """SELECT event_type,
           count(DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d')) AS n_days,
           TRUE AS merged_in_band, TRUE AS direct_in_band
         FROM events GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_agg_pivot", (s, d) => Aggregates.pivotEventValues(s, d), Oracle(
      """SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
         CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
         CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
         CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
         FROM events GROUP BY user_id ORDER BY user_id""")),
    QuerySpec("q_agg_monthly", (s, d) => Aggregates.monthlyRevenue(s, d), Oracle(
      s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
          count(*) AS n_orders, ${dsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY 1 ORDER BY 1""")),
    QuerySpec("q_agg_unpivot", (s, d) => Aggregates.unpivotEventValues(s, d), Oracle(
      // melt(pivot(x)) collapses to the plain grouped sum — the identity
      // the round trip must satisfy
      s"""SELECT user_id, event_type, ${dsum("value")} AS total
          FROM events GROUP BY user_id, event_type
          ORDER BY user_id, event_type""")),
    // §2.3 joins
    QuerySpec("q_join_broadcast", (s, d) => Joins.broadcastJoin(s, d), Oracle(
      """SELECT n_name, r_name FROM nation
         JOIN region ON n_regionkey = r_regionkey ORDER BY n_name""")),
    QuerySpec("q_join_shuffle", (s, d) => Joins.shuffleJoinRevenue(s, d), Oracle(
      s"""SELECT c_custkey, c_name, $revenue AS revenue, count(*) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          GROUP BY c_custkey, c_name ORDER BY c_custkey""")),
    QuerySpec("q_join_semi", (s, d) => Joins.semiJoin(s, d), Oracle(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""")),
    QuerySpec("q_join_anti", (s, d) => Joins.antiJoin(s, d), Oracle(
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey""")),
    QuerySpec("q_join_outer", (s, d) => Joins.outerJoinOrderCounts(s, d), Oracle(
      """SELECT c_custkey, count(o_orderkey) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""")),
    QuerySpec("q_join_range", (s, d) => Joins.rangeJoinClicksBeforePurchase(s, d), Oracle(
      """SELECT a.event_id,
         (SELECT count(*) FROM events b
          WHERE b.user_id = a.user_id AND b.event_type = 'click'
            AND b.ts >= a.ts - INTERVAL 1 HOUR AND b.ts <= a.ts) AS n_clicks_1h
         FROM events a WHERE a.event_type = 'purchase' ORDER BY a.event_id""")),
    QuerySpec("q_join_asof", (s, d) => Joins.asofLastClickBeforePurchase(s, d), Oracle(
      """SELECT a.event_id,
         (SELECT b.value FROM events b
          WHERE b.user_id = a.user_id AND b.event_type = 'click'
            AND (b.ts < a.ts OR (b.ts = a.ts AND b.event_id < a.event_id))
          ORDER BY b.ts DESC, b.event_id DESC LIMIT 1) AS last_click_value
         FROM events a WHERE a.event_type = 'purchase' ORDER BY a.event_id""")),
    QuerySpec("q_join_bucketed", (s, d) => Joins.bucketedJoinRevenue(s, d), Oracle(
      s"""SELECT o_orderpriority, $revenue AS revenue, count(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")),
    QuerySpec("q_agg_salted", (s, d) => Aggregates.saltedUserTotals(s, d), Oracle(
      s"""SELECT user_id, ${dsum("value")} AS total, count(*) AS n
          FROM events GROUP BY user_id ORDER BY user_id""")),
    QuerySpec("q_join_bloom", (s, d) => Joins.bloomPrunedJoin(s, d), Oracle(
      // the bloom bitset is transparent to the RESULT (the exact join
      // removes false positives), so the oracle is the plain join
      s"""SELECT o_orderpriority, $revenue AS revenue, count(*) AS n_items
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderdate >= TIMESTAMP '1995-01-01'
            AND o_orderdate < TIMESTAMP '1995-04-01'
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")),
    QuerySpec("q_join_skew_salted", (s, d) => Joins.saltedSkewJoinTypeAvg(s, d), Oracle(
      // oracle is the PLAIN (unsalted) join — salting must be invisible in
      // the result; the skew mechanics are asserted in JoinSpec
      s"""WITH prof AS (SELECT event_type, ${dsum("value")} / count(*) AS type_avg
          FROM events GROUP BY event_type)
          SELECT e.event_id, e.event_type, e.value, p.type_avg
          FROM events e JOIN prof p USING (event_type)
          ORDER BY e.event_id""")),
    QuerySpec("q_sql_correlated", (s, d) => Relational.sqlCorrelatedCustomer(s, d), Oracle(
      // identical SQL text runs through BOTH engines (see
      // Relational.CorrelatedCustomerSql for the decorrelation contract)
      Relational.CorrelatedCustomerSql)),
    // §2.5 windows
    QuerySpec("q_window_rank", (s, d) => Windows.rankPerUser(s, d), Oracle(
      """SELECT event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         rank() OVER (PARTITION BY user_id ORDER BY value) AS rk,
         dense_rank() OVER (PARTITION BY user_id ORDER BY value) AS drk
         FROM events ORDER BY event_id""")),
    QuerySpec("q_window_lag", (s, d) => Windows.lagLeadPerUser(s, d), Oracle(
      """SELECT event_id, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
         lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
         FROM events ORDER BY event_id""")),
    QuerySpec("q_last5_window", (s, d) => Windows.lastKStats(s, d, 5), Oracle(
      s"""WITH r AS (SELECT event_type, value,
          row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
          SELECT event_type, ${dsum("value")} AS sum_lastk,
          min(value) AS min_lastk, max(value) AS max_lastk, count(*) AS n
          FROM r WHERE rn <= 5 GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_sliding_windows", (s, d) => Windows.slidingWindowStats(s, d, 60), Oracle(
      """SELECT event_id, w_sum, w_min, w_max FROM (
         SELECT event_id,
           count(*) OVER w AS w_cnt,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS w_sum,
           min(value) OVER w AS w_min,
           max(value) OVER w AS w_max
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)) t
         WHERE w_cnt = 60 ORDER BY event_id""")),
    QuerySpec("q_minmax_scale", (s, d) => Windows.minMaxScale(s, d), Oracle(
      """SELECT event_id, (value - mn) / (mx - mn) AS scaled
         FROM events, (SELECT min(value) AS mn, max(value) AS mx FROM events) st
         ORDER BY event_id""")),
    // frozen-scaler parity (ref Q5): constants trained elsewhere,
    // out-of-range values scale outside [0,1]
    QuerySpec("q_minmax_frozen", (s, d) => Windows.minMaxScaleFrozen(s, d, 10.0, 200.0), Oracle(
      """SELECT event_id, (value - 10.0) / (200.0 - 10.0) AS scaled
         FROM events ORDER BY event_id""")),
    QuerySpec("q_window_running", (s, d) => Windows.runningTotals(s, d), Oracle(
      """SELECT event_id,
         CAST(sum(CAST(value AS DECIMAL(18,2))) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
         count(*) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_n
         FROM events ORDER BY event_id""")),
    QuerySpec("q_window_ntile", (s, d) => Windows.ntileBuckets(s, d), Oracle(
      """SELECT event_id,
         CAST(ntile(10) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS BIGINT) AS bucket
         FROM events ORDER BY event_id""")),
    QuerySpec("q_window_topk", (s, d) => Windows.topKPerGroup(s, d), Oracle(
      """SELECT event_type, event_id, value, rnk FROM (
         SELECT event_type, event_id, value,
           CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rnk
         FROM events) t WHERE rnk <= 3 ORDER BY event_type, rnk""")),
    QuerySpec("q_sessionize", (s, d) => Windows.sessionize(s, d), Oracle(
      // gaps-and-islands sessionization; epoch_us truncates DuckDB's ns
      // precision to Spark's us so gap comparisons and ordering agree
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         l AS (SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                 OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > 1800000000
                THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (SELECT user_id, us,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
           FROM l)
         SELECT user_id, sess_idx, count(*) AS n_events,
           CAST(max(us) - min(us) AS BIGINT) AS duration_us
         FROM s GROUP BY user_id, sess_idx ORDER BY user_id, sess_idx""")),
    QuerySpec("q_session_window", (s, d) => Windows.sessionWindowNative(s, d), Oracle(
      // native session_window semantics: a gap of EXACTLY the threshold
      // starts a new session (>=, not >) and end = last event + gap
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         l AS (SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                 OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
                THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (SELECT user_id, us,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
           FROM l)
         SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
           count(*) AS n_events
         FROM s GROUP BY user_id, sess_idx ORDER BY user_id, start_us""")),
    QuerySpec("q_window_pctrank", (s, d) => Windows.percentRankDist(s, d), Oracle(
      """SELECT event_id,
         percent_rank() OVER (PARTITION BY event_type ORDER BY value) AS pr,
         cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
         FROM events ORDER BY event_id""")),
    QuerySpec("q_zscore_group", (s, d) => Windows.zscoreScale(s, d), Oracle(
      // moments accumulate in DECIMAL (order-independent, lossless in a
      // double at these magnitudes); the mean/var/z algebra is then the
      // IDENTICAL double expression both engines — bit-exact, no stddev()
      """WITH st AS (
           SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
           FROM events GROUP BY event_type)
         SELECT e.event_id, e.event_type,
           (e.value - sx / n) / sqrt((sxx - sx * sx / n) / (n - 1)) AS z
         FROM events e JOIN st USING (event_type) ORDER BY e.event_id""")),
    QuerySpec("q_typed_moments", (s, d) => Typed.tickMoments(s, d), Oracle(
      // typed-Aggregator moments: same decimal-moment algebra as zscore
      """SELECT event_type, count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS mean,
           (CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE)
             - CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               * CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*))
             / (count(*) - 1) AS variance
         FROM events GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_typed_cogroup", (s, d) => Typed.cogroupAttribution(s, d), Oracle(
      // typed cogroup attribution counts: the window formulation in SQL
      """WITH a AS (
           SELECT user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ac
           FROM events)
         SELECT user_id, count(*) AS n_purchases,
           CAST(sum(CASE WHEN ac IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_attributed
         FROM a WHERE event_type = 'purchase'
         GROUP BY user_id ORDER BY user_id""")),
    QuerySpec("q_ffill", (s, d) => Windows.forwardFill(s, d), Oracle(
      """SELECT event_id, reading,
           last_value(reading IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING) AS filled
         FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_id % 7 = 0 THEN value END AS reading
               FROM events)
         ORDER BY event_id""")),
    QuerySpec("q_resample", (s, d) => Windows.resampleGrid(s, d), Oracle(
      // daily-grid resample with linear interpolation between bracketing
      // events (edges back/forward-filled); identical double formula on
      // identical integer-microsecond operands → bit-exact. (user_id, ts)
      // is unique in the fixture (spec-asserted), so the carry windows
      // are order-deterministic.
      """WITH sp AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
         g AS (SELECT u.user_id,
                 unnest(generate_series(CAST(sp.d0 AS TIMESTAMP), CAST(sp.d1 AS TIMESTAMP),
                   INTERVAL 1 DAY)) AS day
               FROM (SELECT DISTINCT user_id FROM events) u, sp),
         uni AS (SELECT user_id, epoch_us(ts) AS us, value AS v, 0 AS is_grid FROM events
                 UNION ALL
                 SELECT user_id, epoch_us(day) AS us, CAST(NULL AS DOUBLE) AS v, 1 AS is_grid FROM g),
         w AS (SELECT user_id, us, is_grid,
                 last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, is_grid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v1,
                 last_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, is_grid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t1,
                 first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY us, is_grid
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v2,
                 first_value(CASE WHEN is_grid = 0 THEN us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, is_grid
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t2
               FROM uni)
         SELECT user_id, strftime(make_timestamp(us), '%Y-%m-%d') AS day,
           CASE WHEN v1 IS NULL THEN v2
                WHEN v2 IS NULL THEN v1
                WHEN t2 = t1 THEN v1
                ELSE v1 + (v2 - v1) * (CAST(us - t1 AS DOUBLE) / CAST(t2 - t1 AS DOUBLE)) END
             AS value_interp
         FROM w WHERE is_grid = 1 ORDER BY user_id, day""")),
    QuerySpec("q_winsorize", (s, d) => Windows.winsorize(s, d), Oracle(
      """WITH qx AS (
           SELECT event_type, quantile_cont(value, 0.05) AS plo,
             quantile_cont(value, 0.95) AS phi
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type,
           greatest(least(value, phi), plo) AS clipped
         FROM events e JOIN qx USING (event_type) ORDER BY event_id""")),
    QuerySpec("q_robust_scale", (s, d) => Windows.robustScale(s, d), Oracle(
      """WITH qx AS (
           SELECT event_type, quantile_cont(value, 0.5) AS med,
             quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.75) AS q3
           FROM events GROUP BY event_type)
         SELECT event_id, e.event_type, (value - med) / (q3 - q1) AS robust_z
         FROM events e JOIN qx USING (event_type) ORDER BY event_id""")),
    QuerySpec("q_corr_daily", (s, d) => Aggregates.corrDaily(s, d), Oracle(
      """WITH daily AS (
           SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
           FROM events GROUP BY day, event_type),
         m AS (
           SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*) AS n_days,
             CAST(sum(a.v) AS DOUBLE) AS sx, CAST(sum(b.v) AS DOUBLE) AS sy,
             CAST(sum(a.v * a.v) AS DOUBLE) AS sxx,
             CAST(sum(b.v * b.v) AS DOUBLE) AS syy,
             CAST(sum(a.v * b.v) AS DOUBLE) AS sxy
           FROM daily a JOIN daily b USING (day)
           WHERE b.event_type >= a.event_type
           GROUP BY type_a, type_b)
         SELECT type_a, type_b, n_days,
           (n_days * sxy - sx * sy) /
             (sqrt(n_days * sxx - sx * sx) * sqrt(n_days * syy - sy * sy)) AS corr
         FROM m ORDER BY type_a, type_b""")),
    QuerySpec("q_ts_acf", (s, d) => Aggregates.acfDaily(s, d), Oracle(
      // ACF over the same daily-decimal series: lag columns in one
      // window, then the corr_daily moment algebra per (type, lag)
      """WITH daily AS (
           SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS v
           FROM events GROUP BY day, event_type),
         lagged AS (
           SELECT event_type, v,
             lag(v, 1) OVER w AS v_1, lag(v, 2) OVER w AS v_2,
             lag(v, 3) OVER w AS v_3, lag(v, 4) OVER w AS v_4,
             lag(v, 5) OVER w AS v_5
           FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)),
         st AS (
           SELECT event_type, 1 AS lag_k, v, v_1 AS vl FROM lagged WHERE v_1 IS NOT NULL
           UNION ALL SELECT event_type, 2, v, v_2 FROM lagged WHERE v_2 IS NOT NULL
           UNION ALL SELECT event_type, 3, v, v_3 FROM lagged WHERE v_3 IS NOT NULL
           UNION ALL SELECT event_type, 4, v, v_4 FROM lagged WHERE v_4 IS NOT NULL
           UNION ALL SELECT event_type, 5, v, v_5 FROM lagged WHERE v_5 IS NOT NULL),
         m AS (
           SELECT event_type, lag_k, count(*) AS n,
             CAST(sum(v) AS DOUBLE) AS sx, CAST(sum(vl) AS DOUBLE) AS sy,
             CAST(sum(v * v) AS DOUBLE) AS sxx, CAST(sum(vl * vl) AS DOUBLE) AS syy,
             CAST(sum(v * vl) AS DOUBLE) AS sxy
           FROM st GROUP BY event_type, lag_k)
         SELECT event_type, CAST(lag_k AS INT) AS lag_k, n,
           (n * sxy - sx * sy) /
             (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS acf
         FROM m ORDER BY event_type, lag_k""")),
    // drift monitors: reference half vs current half of each series
    QuerySpec("q_ks_drift", (s, d) => Drift.ksDrift(s, d), Oracle(
      // two-sample KS: the ECDF gap stays INTEGER to the final division
      // (DuckDB's HUGEINT sums mirror Spark's DECIMAL(38,0)) — bit-exact
      """WITH sp AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
         g AS (SELECT event_type, value,
                 sum(CASE WHEN 2 * epoch_us(ts) <= mn + mx THEN 1 ELSE 0 END) AS ca,
                 sum(CASE WHEN 2 * epoch_us(ts) <= mn + mx THEN 0 ELSE 1 END) AS cb
               FROM events, sp GROUP BY event_type, value),
         w AS (SELECT event_type,
                 sum(ca) OVER (PARTITION BY event_type ORDER BY value ROWS UNBOUNDED PRECEDING) AS cuma,
                 sum(cb) OVER (PARTITION BY event_type ORDER BY value ROWS UNBOUNDED PRECEDING) AS cumb,
                 sum(ca) OVER (PARTITION BY event_type) AS na,
                 sum(cb) OVER (PARTITION BY event_type) AS nb
               FROM g)
         SELECT event_type, CAST(max(na) AS BIGINT) AS n_ref, CAST(max(nb) AS BIGINT) AS n_cur,
           CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
             / (CAST(max(na) AS DOUBLE) * CAST(max(nb) AS DOUBLE)) AS ks_stat
         FROM w GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_psi_drift", (s, d) => Drift.psiDrift(s, d), Oracle(
      // PSI per bin: integer counts → fixed-association double formula;
      // only the cross-bin total quantizes through DECIMAL(18,8) (the
      // chi-square precedent)
      """WITH sp AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
         t AS (SELECT event_type, value, (2 * epoch_us(ts) <= mn + mx) AS is_ref
               FROM events, sp),
         rg AS (SELECT event_type, min(value) AS vmn, max(value) AS vmx
                FROM t WHERE is_ref GROUP BY event_type),
         b AS (SELECT t.event_type, is_ref,
                 CASE WHEN vmx > vmn
                      THEN CAST(least(greatest(floor((value - vmn) / ((vmx - vmn) / 10.0)), 0), 9) AS BIGINT)
                      ELSE 0 END AS bin
               FROM t JOIN rg USING (event_type)),
         cells AS (SELECT event_type, bin,
                 sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ca,
                 sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cb
               FROM b GROUP BY event_type, bin),
         fr AS (SELECT rg.event_type, bb.bin
                FROM rg, (SELECT unnest(generate_series(0, 9)) AS bin) bb),
         tot AS (SELECT event_type,
                 sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS na,
                 sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS nb
               FROM t GROUP BY event_type),
         fl AS (SELECT fr.event_type, fr.bin,
                 coalesce(ca, 0) AS c_ref, coalesce(cb, 0) AS c_cur, na, nb
               FROM fr LEFT JOIN cells c ON fr.event_type = c.event_type AND fr.bin = c.bin
               JOIN tot ON fr.event_type = tot.event_type),
         p AS (SELECT event_type, bin, c_ref, c_cur,
                 (c_ref + 0.5) / (na + 5.0) AS p_ref,
                 (c_cur + 0.5) / (nb + 5.0) AS p_cur
               FROM fl),
         q AS (SELECT *, CAST(CAST((p_cur - p_ref) * ln(p_cur / p_ref)
                 AS DECIMAL(18,8)) AS DOUBLE) AS psi_term FROM p)
         SELECT event_type, CAST(bin AS BIGINT) AS bin,
           CAST(c_ref AS BIGINT) AS c_ref, CAST(c_cur AS BIGINT) AS c_cur,
           p_ref, p_cur, psi_term,
           CAST(CAST(sum(CAST(psi_term AS DECIMAL(18,8))) OVER (PARTITION BY event_type)
             AS DECIMAL(18,8)) AS DOUBLE) AS psi
         FROM q ORDER BY event_type, bin""")),
    QuerySpec("q_embed_drift", (s, d) => Drift.embedCentroidDrift(s, d), Oracle(
      // embedding-centroid drift: per-element DECIMAL(18,8) quantization
      // before every order-sensitive sum; means and cosine are
      // fixed-association IEEE on identical operands
      """WITH ex AS (SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v,
                 (vec_id % 2 = 0) AS is_ref
               FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
         m AS (SELECT label, pos,
                 sum(CASE WHEN is_ref THEN CAST(v AS DECIMAL(18,8)) ELSE CAST(0.0 AS DECIMAL(18,8)) END) AS sref,
                 sum(CASE WHEN is_ref THEN CAST(0.0 AS DECIMAL(18,8)) ELSE CAST(v AS DECIMAL(18,8)) END) AS scur,
                 sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS cref,
                 sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS ccur
               FROM ex GROUP BY label, pos),
         mm AS (SELECT label, cref, ccur,
                 CAST(sref AS DOUBLE) / cref AS mref,
                 CAST(scur AS DOUBLE) / ccur AS mcur
               FROM m)
         SELECT label, CAST(max(cref) AS BIGINT) AS n_ref, CAST(max(ccur) AS BIGINT) AS n_cur,
           CAST(CAST(sum(CAST(mref * mcur AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS DOUBLE)
             / (sqrt(CAST(CAST(sum(CAST(mref * mref AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS DOUBLE))
              * sqrt(CAST(CAST(sum(CAST(mcur * mcur AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS DOUBLE))) AS centroid_cos
         FROM mm GROUP BY label ORDER BY label""")),
    // user-behavior analytics over the event log
    QuerySpec("q_retention", (s, d) => Behavior.retention(s, d), Oracle(
      // cohort retention: first-active-day cohorts × day offsets; the
      // activity set is distinct per (user, day) so the cell count needs
      // no COUNT(DISTINCT)
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id)
         SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
           count(*) AS n_users
         FROM a JOIN c USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_day, day_offset""")),
    QuerySpec("q_funnel", (s, d) => Behavior.funnel(s, d), Oracle(
      // ordered funnel: each stage strictly after the user's FIRST event
      // of the previous stage (exact microsecond comparisons)
      """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                    WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY e.user_id),
         p AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY e.user_id)
         SELECT count(v.t_view) AS n_view, count(c.t_click) AS n_click,
           count(p.t_purchase) AS n_purchase
         FROM v LEFT JOIN c ON v.user_id = c.user_id
                LEFT JOIN p ON v.user_id = p.user_id""")),
    QuerySpec("q_scd2", (s, d) => Behavior.scd2(s, d), Oracle(
      // SCD type-2 from the change log: consecutive-repeat collapse, then
      // lead() closes each validity interval (NULL = current)
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
         l AS (SELECT user_id, event_type, us, event_id,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
           FROM e),
         ch AS (SELECT user_id, event_type, us, event_id FROM l
                WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, CAST(us AS BIGINT) AS valid_from_us,
           CAST(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS BIGINT) AS valid_to_us,
           lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL AS is_current
         FROM ch ORDER BY user_id, valid_from_us""")),
    QuerySpec("q_active_users", (s, d) => Behavior.activeUsers(s, d), Oracle(
      // growth dashboard: DAU, new users, cumulative — all from the
      // distinct (user, day) activity set
      """WITH a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
         dau AS (SELECT day, count(*) AS n_active FROM a GROUP BY day),
         fu AS (SELECT user_id, min(day) AS day FROM a GROUP BY user_id),
         nu AS (SELECT day, count(*) AS n_new FROM fu GROUP BY day)
         SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.n_active,
           COALESCE(nu.n_new, 0) AS n_new,
           CAST(sum(COALESCE(nu.n_new, 0)) OVER (ORDER BY dau.day
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
         FROM dau LEFT JOIN nu ON dau.day = nu.day
         ORDER BY day""")),
    QuerySpec("q_attribution", (s, d) => Behavior.attribution(s, d), Oracle(
      // last-touch attribution: strictly-prior frame, integer gap
      """SELECT purchase_id, user_id, attributed_click, gap_us FROM (
           SELECT event_id AS purchase_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS attributed_click,
             epoch_us(ts) - last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
               OVER w AS gap_us
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         WHERE event_type = 'purchase' ORDER BY purchase_id""")),
    QuerySpec("q_funnel_time", (s, d) => Behavior.funnelTime(s, d), Oracle(
      // time-to-convert: integer-micros gaps, exact interpolated pctls
      """WITH tv AS (SELECT user_id, min(epoch_us(ts)) AS tvus FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         tp AS (SELECT e.user_id, min(epoch_us(e.ts)) AS tpus
                FROM events e JOIN tv ON e.user_id = tv.user_id
                WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > tvus
                GROUP BY 1),
         g AS (SELECT (tpus - tvus) / 3600000000.0 AS gap_h
               FROM tv JOIN tp ON tv.user_id = tp.user_id)
         SELECT count(*) AS n_converted,
           quantile_cont(gap_h, 0.5) AS median_hours,
           quantile_cont(gap_h, 0.9) AS p90_hours
         FROM g""")),
    QuerySpec("q_embed_outliers", (s, d) => Drift.embedNormOutliers(s, d), Oracle(
      // unit-norm QA: the dot self-fold mirrors list_sum's
      // left-to-right order; |norm² − 1| ranks normalization error
      """WITH n2 AS (SELECT vec_id,
             list_sum(list_transform(generate_series(1, len(embedding)),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))) AS norm2
           FROM embeddings)
         SELECT vec_id, norm2, unit_err FROM (
           SELECT vec_id, norm2, abs(norm2 - 1.0) AS unit_err
           FROM n2 ORDER BY unit_err DESC, vec_id LIMIT 10)
         ORDER BY vec_id""")),
    // table maintenance: merge/upsert + incremental rollup refresh +
    // snapshot-diff CDC + small-file compaction
    QuerySpec("q_merge_upsert", (s, d) => Maintain.mergeUpsert(s, d), Oracle(
      // MERGE semantics: latest change per business key full-outer-joined
      // onto the latest base state; value<3.0 changes are delete markers
      """WITH e AS (SELECT user_id, event_type, ts, event_id, value FROM events),
         b AS (SELECT user_id, event_type, value AS base_value FROM (
             SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM e WHERE ts < TIMESTAMP '2024-01-04') t WHERE rn = 1),
         c AS (SELECT user_id, event_type, value AS chg_value,
                      value < 3.0 AS is_delete FROM (
             SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM e WHERE ts >= TIMESTAMP '2024-01-04') t WHERE rn = 1)
         SELECT COALESCE(b.user_id, c.user_id) AS user_id,
           COALESCE(b.event_type, c.event_type) AS event_type,
           COALESCE(c.chg_value, b.base_value) AS value,
           (b.base_value IS NOT NULL AND c.chg_value IS NOT NULL) AS updated,
           (b.base_value IS NULL) AS inserted
         FROM b FULL OUTER JOIN c
           ON b.user_id = c.user_id AND b.event_type = c.event_type
         WHERE NOT COALESCE(c.is_delete, FALSE)
         ORDER BY user_id, event_type""")),
    QuerySpec("q_incr_rollup", (s, d) => Maintain.incrementalRollup(s, d), Oracle(
      // incremental maintenance correctness: merging the delta partial
      // aggregate into the base MUST equal this from-scratch recompute
      """SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_snapshot_diff", (s, d) => Maintain.snapshotDiff(s, d), Oracle(
      // snapshot-diff CDC: two trailing-window key states, full outer
      // joined; the change stream is insert/delete/update (unchanged drops)
      """WITH a AS (SELECT user_id, event_type, value AS old_value FROM (
             SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts >= TIMESTAMP '2024-01-01'
                           AND ts <  TIMESTAMP '2024-01-11') t WHERE rn = 1),
         b AS (SELECT user_id, event_type, value AS new_value FROM (
             SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id, event_type
                 ORDER BY ts DESC, event_id DESC) AS rn
             FROM events WHERE ts >= TIMESTAMP '2024-01-20'
                           AND ts <  TIMESTAMP '2024-01-30') t WHERE rn = 1)
         SELECT COALESCE(a.user_id, b.user_id) AS user_id,
           COALESCE(a.event_type, b.event_type) AS event_type,
           a.old_value, b.new_value,
           CASE WHEN a.old_value IS NULL THEN 'insert'
                WHEN b.new_value IS NULL THEN 'delete'
                ELSE 'update' END AS change
         FROM a FULL OUTER JOIN b
           ON a.user_id = b.user_id AND a.event_type = b.event_type
         WHERE a.old_value IS NULL OR b.new_value IS NULL
            OR a.old_value <> b.new_value
         ORDER BY user_id, event_type""")),
    QuerySpec("q_compact", (s, d) => Maintain.compactedEvents(s, d), Oracle(
      // compaction contract: layout may change, content may not — the
      // oracle is the source table itself, row for row
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value
         FROM events ORDER BY event_id""")),
    // weight-proportional sampling, groupwise skyline, CSV quarantine source
    QuerySpec("q_sample_weighted", (s, d) => Relational.weightedSample(s, d), Oracle(
      // weight-proportional sampler: P(keep) = k/(2·k_max), decided by an
      // integer-exact compare of the top-32 hash bits (same HUGEINT
      // mod-2^64 fold as q_text_rollhash) against the per-row weight
      """WITH ev AS (SELECT event_id, event_type,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events),
         km AS (SELECT max(k) AS k_max FROM ev),
         h AS (SELECT event_id, event_type, k,
            list_reduce(list_prepend(CAST(0 AS HUGEINT),
              list_transform(generate_series(1, length('wsamp#' || CAST(event_id AS VARCHAR) || '#v1')),
                i -> ascii(('wsamp#' || CAST(event_id AS VARCHAR) || '#v1')[i]))),
              (a, b) -> (a * 1000003 + b) % CAST(18446744073709551616 AS HUGEINT)) AS hu
           FROM ev)
         SELECT h.event_id, h.event_type, h.k FROM h, km
         WHERE (h.hu >> 32) * CAST(km.k_max AS HUGEINT) * 2
             < CAST(h.k AS HUGEINT) * 4294967296
         ORDER BY event_id""")),
    QuerySpec("q_group_sample", (s, d) => Relational.groupSampleK(s, d), Oracle(
      // per-stratum fixed-k: md5-ordered row_number, identical hex order
      """SELECT source, rnk, doc_id, n_chars FROM (
           SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS rnk
           FROM documents)
         WHERE rnk <= 5 ORDER BY source, rnk""")),
    QuerySpec("q_negative_sample", (s, d) => Relational.negativeSample(s, d), Oracle(
      // negative sampling: hash-generated candidate parts (same HUGEINT
      // mirror of graft_rolling_hash as q_sample_weighted), dedup per
      // (customer, part) on min slot, anti-join observed pairs, k by slot
      """WITH np AS (SELECT count(*) AS n_parts FROM part),
         slots AS (SELECT c_custkey, unnest(generate_series(0, 9)) AS slot FROM customer),
         h AS (SELECT c_custkey, slot,
            list_reduce(list_prepend(CAST(0 AS HUGEINT),
              list_transform(generate_series(1, length(str)), i -> ascii(str[i]))),
              (a, b) -> (a * 1000003 + b) % CAST(18446744073709551616 AS HUGEINT)) AS hu
           FROM (SELECT c_custkey, slot,
                   'negs#' || CAST(c_custkey AS VARCHAR) || '#' || CAST(slot AS VARCHAR) || '#v1' AS str
                 FROM slots)),
         cand AS (SELECT c_custkey, CAST((hu >> 32) % n_parts AS BIGINT) AS p_partkey,
                    min(slot) AS slot
                  FROM h CROSS JOIN np GROUP BY 1, 2),
         obs AS (SELECT DISTINCT o.o_custkey, l.l_partkey
                 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
         neg AS (SELECT c.c_custkey, c.p_partkey, c.slot FROM cand c
                 WHERE NOT EXISTS (SELECT 1 FROM obs
                   WHERE obs.o_custkey = c.c_custkey AND obs.l_partkey = c.p_partkey)),
         r AS (SELECT c_custkey, p_partkey,
                 row_number() OVER (PARTITION BY c_custkey ORDER BY slot) AS rnk
               FROM neg)
         SELECT c_custkey, CAST(rnk AS BIGINT) AS rnk, p_partkey
         FROM r WHERE rnk <= 5 ORDER BY c_custkey, rnk""")),
    QuerySpec("q_skyline", (s, d) => Relational.skylineByBrand(s, d), Oracle(
      // groupwise skyline: the quadratic dominance NOT EXISTS is the
      // semantics; the Spark plan is the O(n log n) running-max form
      """SELECT p.p_brand, p.p_partkey, p.p_retailprice, p.p_size
         FROM part p
         WHERE NOT EXISTS (SELECT 1 FROM part q WHERE q.p_brand = p.p_brand
           AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
           AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
         ORDER BY p.p_brand, p.p_partkey""")),
    QuerySpec("q_source_csv", (s, d) => Relational.csvSourceSummary(s, d), Oracle(
      // CSV quarantine source: the corrupted slice (event_id % 97 == 0)
      // lands in _corrupt_record and is excluded; survivors aggregate
      // bit-identically to the source (doubles round-trip shortest-form)
      s"""SELECT event_type, count(*) AS n,
          min(event_id) AS min_id, max(event_id) AS max_id,
          ${dsum("value")} AS total
          FROM events WHERE event_id % 97 <> 0
          GROUP BY event_type ORDER BY event_type""")),
    QuerySpec("q_source_orc", (s, d) => Relational.orcSourceSummary(s, d), Oracle(
      // ORC round-trips every column bit-exactly (binary encoding, no text
      // conversion), so the oracle is the same aggregate straight off the
      // parquet source table
      s"""SELECT event_type, count(*) AS n,
          min(event_id) AS min_id, max(event_id) AS max_id,
          ${dsum("value")} AS total
          FROM events GROUP BY event_type ORDER BY event_type""")),
    // co-occurrence graph analytics
    QuerySpec("q_graph_triangles", (s, d) => Behavior.coPurchaseTriangles(s, d), Oracle(
      // triangles in the top-3-partner (kNN) co-purchase graph: the naive
      // id-ordered 3-way join over the same edge derivation IS the
      // semantics; the Spark plan is the degree-oriented wedge algorithm
      """WITH pd AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                     FROM events WHERE event_type = 'purchase'),
         c AS (SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_days
               FROM pd a JOIN pd b ON a.d = b.d AND a.user_id < b.user_id
               GROUP BY 1, 2),
         sym AS (SELECT ua AS u, ub AS v, n_days FROM c
                 UNION ALL SELECT ub, ua, n_days FROM c),
         pick AS (SELECT u, v FROM (
             SELECT u, v, row_number() OVER (PARTITION BY u
               ORDER BY n_days DESC, v) AS rn FROM sym) t WHERE rn <= 3),
         e AS (SELECT DISTINCT least(u, v) AS ua, greatest(u, v) AS ub FROM pick)
         SELECT e1.ua AS u1, e1.ub AS u2, e2.ub AS u3
         FROM e e1 JOIN e e2 ON e1.ub = e2.ua
                   JOIN e e3 ON e1.ua = e3.ua AND e2.ub = e3.ub
         ORDER BY u1, u2, u3""")),
    QuerySpec("q_pagerank", (s, d) => Behavior.pageRank(s, d), Oracle(
      // fixed-point PageRank: identical integer recurrence, iterations
      // unrolled as chained CTEs (generated — see pageRankOracleSql)
      pageRankOracleSql)),
    QuerySpec("q_graph_components", (s, d) => Behavior.coPurchaseComponents(s, d), Oracle(
      // connected components over the kNN graph: same edge derivation as
      // the triangles oracle, then the recursive-CTE transitive closure
      // proved for q_dedup_clusters (component = min reachable id)
      """WITH RECURSIVE pd AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                     FROM events WHERE event_type = 'purchase'),
         c AS (SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_days
               FROM pd a JOIN pd b ON a.d = b.d AND a.user_id < b.user_id
               GROUP BY 1, 2),
         sym AS (SELECT ua AS u, ub AS v, n_days FROM c
                 UNION ALL SELECT ub, ua, n_days FROM c),
         pick AS (SELECT u, v FROM (
             SELECT u, v, row_number() OVER (PARTITION BY u
               ORDER BY n_days DESC, v) AS rn FROM sym) t WHERE rn <= 3),
         e AS (SELECT DISTINCT least(u, v) AS ua, greatest(u, v) AS ub FROM pick),
         nodes AS (SELECT ua AS user_id FROM e UNION SELECT ub FROM e),
         ed AS (SELECT ua AS src, ub AS dst FROM e UNION SELECT ub, ua FROM e),
         reach(src, dst) AS (
           SELECT src, dst FROM ed
           UNION
           SELECT r.src, x.dst FROM reach r JOIN ed x ON x.src = r.dst),
         comp AS (SELECT n.user_id,
                    least(n.user_id, coalesce(min(r.dst), n.user_id)) AS component
                  FROM nodes n LEFT JOIN reach r ON r.src = n.user_id
                  GROUP BY n.user_id)
         SELECT user_id, component FROM comp ORDER BY user_id""")),
    QuerySpec("q_transitions", (s, d) => Behavior.transitions(s, d), Oracle(
      // Markov transition counts: user-keyed lead(), matrix count
      """WITH t AS (SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
             ORDER BY ts, event_id) AS to_type
         FROM events)
         SELECT event_type AS from_type, to_type, count(*) AS n
         FROM t WHERE to_type IS NOT NULL
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    QuerySpec("q_copurchase_pairs", (s, d) =>
      Behavior.coPurchasePairCounts(s, d).orderBy("ua", "ub"), Oracle(
      // co-purchase pair weights: the output-sensitive day-keyed join
      // (the sparse-regime sibling of the kNN build's all-pairs scorer;
      // both derivations must agree on every weight)
      """WITH pd AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
                     FROM events WHERE event_type = 'purchase')
         SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_days
         FROM pd a JOIN pd b ON a.d = b.d AND a.user_id < b.user_id
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    // data-quality constraint suite + time-range window breadth
    QuerySpec("q_dq_checks", (s, d) => Aggregates.dqChecks(s, d), Oracle(
      // data-quality suite: every metric is a ratio of exact counts
      """WITH s AS (SELECT
             CAST(count(l_quantity) AS DOUBLE) / count(*) AS completeness,
             CAST(count_if(l_returnflag IN ('A','N','R')) AS DOUBLE) / count(*) AS accepted,
             CAST(count_if(l_discount >= 0.0 AND l_discount <= 0.5) AS DOUBLE) / count(*) AS rng,
             CAST(count(*) AS BIGINT) AS n
           FROM lineitem),
         u AS (SELECT CAST(count(*) AS DOUBLE) AS n_distinct FROM
             (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
         o AS (SELECT CAST(count(*) AS DOUBLE) AS n_orphans FROM lineitem
               WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
         SELECT check_name, metric, metric >= 1.0 AS passed FROM (
           SELECT 'accepted_values_l_returnflag' AS check_name, accepted AS metric FROM s
           UNION ALL SELECT 'completeness_l_quantity', completeness FROM s
           UNION ALL SELECT 'range_l_discount', rng FROM s
           UNION ALL SELECT 'referential_orderkey', 1.0 - o.n_orphans / s.n FROM s, o
           UNION ALL SELECT 'uniqueness_orderkey_linenumber', u.n_distinct / s.n FROM s, u
         ) t ORDER BY check_name""")),
    QuerySpec("q_window_movavg", (s, d) => Windows.movingAverage24h(s, d), Oracle(
      // trailing 24h moving average: time-RANGE frame over epoch micros,
      // decimal sum + one double division
      """WITH t AS (SELECT event_id, user_id, epoch_us(ts) AS us, value FROM events)
         SELECT event_id,
           count(*) OVER w AS n_24h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) /
             count(*) OVER w AS mav_24h
         FROM t
         WINDOW w AS (PARTITION BY user_id ORDER BY us
           RANGE BETWEEN 86400000000 PRECEDING AND CURRENT ROW)
         ORDER BY event_id""")),
    // market-bar analytics over the tick stream (the reference's domain)
    QuerySpec("q_market_ohlc", (s, d) => Market.ohlcBars(s, d), Oracle(
      // market bars: open/close via arg_min/arg_max on the (unique) event
      // time; size parsed from props with the q_parse_json regex
      """SELECT event_type AS symbol,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           arg_min(value, ts) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, ts) AS close,
           count(*) AS n_trades,
           CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS size_sum
         FROM events GROUP BY symbol, day ORDER BY symbol, day""")),
    QuerySpec("q_market_vwap", (s, d) => Market.vwap(s, d), Oracle(
      """SELECT event_type AS symbol,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS size_sum,
           CAST(sum(CAST(value AS DECIMAL(18,2)) *
                    CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS DOUBLE)
             / CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS DOUBLE) AS vwap
         FROM events GROUP BY symbol, day ORDER BY symbol, day""")),
    QuerySpec("q_market_drawdown", (s, d) => Market.drawdown(s, d), Oracle(
      // running max is exact over doubles; the chunked prefix-combine on
      // the Spark side is bit-identical to this plain window by construction
      """SELECT event_id, run_max, value / nullif(run_max, 0) - 1.0 AS drawdown
         FROM (SELECT event_id, value,
                 max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS run_max
               FROM events)
         ORDER BY event_id""")),
    QuerySpec("q_market_bollinger", (s, d) => Market.bollinger(s, d), Oracle(
      // decimal frame moments -> identical double band algebra (zscore trick)
      """WITH f AS (
           SELECT event_id, count(*) OVER win AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
               OVER win AS DOUBLE) AS sxx
           FROM events
           WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
         SELECT event_id, sx / 20 AS bb_mid,
           sx / 20 + 2.0 * sqrt((sxx - sx * sx / 20) / 19) AS bb_up,
           sx / 20 - 2.0 * sqrt((sxx - sx * sx / 20) / 19) AS bb_dn
         FROM f WHERE n = 20 ORDER BY event_id""")),
    QuerySpec("q_market_returns", (s, d) => Market.returnsQuery(s, d), Oracle(
      // complete 2-row frames == rows whose lag exists
      """SELECT event_id, event_type,
           CAST(CAST(value AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2)) AS DOUBLE) AS diff,
           value / nullif(prev, 0) - 1.0 AS ret
         FROM (SELECT event_id, event_type, ts, value,
                 lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
               FROM events)
         WHERE prev IS NOT NULL ORDER BY event_id""")),
    QuerySpec("q_market_shift", (s, d) => Market.levelShift(s, d), Oracle(
      // two-window level-shift detector: daily means from the exact
      // DECIMAL(18,2) day sum; the sliding w-day sums accumulate
      // DECIMAL(18,8)-quantized daily means (association-free — immune
      // to segment-tree vs incremental frame evaluation); only the final
      // divisions/subtraction are doubles, fixed-association both sides
      """WITH daily AS (
           SELECT event_type AS symbol,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS dmean
           FROM events GROUP BY 1, 2),
         q AS (SELECT symbol, day, dmean, CAST(dmean AS DECIMAL(18,8)) AS dq FROM daily),
         w AS (SELECT symbol, day, dmean,
             count(*) OVER (PARTITION BY symbol ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_prev,
             count(*) OVER (PARTITION BY symbol ORDER BY day ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS n_next,
             CAST(sum(dq) OVER (PARTITION BY symbol ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS DOUBLE) AS sp,
             CAST(sum(dq) OVER (PARTITION BY symbol ORDER BY day ROWS BETWEEN 1 FOLLOWING AND 7 FOLLOWING) AS DOUBLE) AS sn
           FROM q)
         SELECT symbol, day, dmean,
           sp / n_prev AS prev_mean, sn / n_next AS next_mean,
           sn / n_next - sp / n_prev AS shift
         FROM w WHERE n_prev = 7 AND n_next = 7
         ORDER BY symbol, day""")),
    QuerySpec("q_market_rsi", (s, d) => Market.rsi(s, d), Oracle(
      """WITH r AS (
           SELECT event_id, event_type, ts,
             CAST(value AS DECIMAL(18,2)) - CAST(prev AS DECIMAL(18,2)) AS diff
           FROM (SELECT event_id, event_type, ts, value,
                   lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
                 FROM events)
           WHERE prev IS NOT NULL),
         f AS (
           -- CASE, not greatest(): DuckDB's greatest() promotes DECIMAL
           -- to DOUBLE, which would make the sums order-dependent
           SELECT event_id, count(*) OVER win AS n,
             CAST(sum(CASE WHEN diff > 0 THEN diff ELSE 0 END) OVER win AS DOUBLE) AS g,
             CAST(sum(CASE WHEN diff < 0 THEN -diff ELSE 0 END) OVER win AS DOUBLE) AS l
           FROM r
           WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT event_id,
           CASE WHEN l = 0 THEN 100.0
                ELSE 100.0 - 100.0 / (1.0 + g / l) END AS rsi
         FROM f WHERE n = 14 ORDER BY event_id""")),
    QuerySpec("q_market_breakout", (s, d) => Market.breakouts(s, d), Oracle(
      """WITH f AS (
           SELECT event_id, value, count(*) OVER win AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS sx,
             CAST(sum(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)))
               OVER win AS DOUBLE) AS sxx
           FROM events
           WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         b AS (
           SELECT event_id, value,
             sx / 20 + 2.0 * sqrt((sxx - sx * sx / 20) / 19) AS bb_up,
             sx / 20 - 2.0 * sqrt((sxx - sx * sx / 20) / 19) AS bb_dn
           FROM f WHERE n = 20)
         SELECT event_id, value AS px, bb_up, bb_dn,
           CASE WHEN value > bb_up THEN 'up' ELSE 'dn' END AS side
         FROM b WHERE value > bb_up OR value < bb_dn
         ORDER BY event_id""")),
    QuerySpec("q_market_ewma", (s, d) => Market.ewma(s, d), Oracle {
      // the weight literals come from the SAME driver-side computation the
      // Spark plan inlines. They are printed in EXPONENT notation on
      // purpose: DuckDB types a plain decimal-point literal as DECIMAL and
      // casting that to DOUBLE rounds twice (weights land 1 ulp off); an
      // e-notation literal parses directly to the nearest double. Both
      // engines then run the identical left-to-right multiply-add fold
      // (DotProduct == list_reduce over list_transform).
      val ws = graft.ops.Market.ewmaWeights(10)
        .map(w => f"$w%.17e").mkString("[", ", ", "]")
      s"""WITH f AS (
           SELECT event_id, count(*) OVER win AS n, list(value) OVER win AS xs
           FROM events
           WINDOW win AS (PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         SELECT event_id,
           list_reduce(list_transform(generate_series(1, 10),
             i -> xs[i] * ($ws::DOUBLE[])[i]), (a, b) -> a + b) AS ewma
         FROM f WHERE n = 10 ORDER BY event_id"""
    }),
    QuerySpec("q_market_macd", (s, d) => Market.macd(s, d), Oracle {
      // MACD: the same literal-weight truncated-EWMA folds as
      // q_market_ewma, composed twice (close → macd → signal)
      def ws(k: Int) = graft.ops.Market.ewmaWeights(k)
        .map(w => f"$w%.17e").mkString("[", ", ", "]")
      val (w12, w26, w9) = (ws(12), ws(26), ws(9))
      s"""WITH bars AS (
           SELECT event_type AS symbol,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             arg_max(value, ts) AS close
           FROM events GROUP BY symbol, day),
         f AS (
           SELECT symbol, day, count(*) OVER w26 AS n,
             list(close) OVER w12 AS xf, list(close) OVER w26 AS xs
           FROM bars
           WINDOW w12 AS (PARTITION BY symbol ORDER BY day ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
                  w26 AS (PARTITION BY symbol ORDER BY day ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)),
         m AS (
           SELECT symbol, day,
             list_reduce(list_transform(generate_series(1, 12), i -> xf[i] * ($w12::DOUBLE[])[i]), (a, b) -> a + b)
             - list_reduce(list_transform(generate_series(1, 26), i -> xs[i] * ($w26::DOUBLE[])[i]), (a, b) -> a + b) AS macd
           FROM f WHERE n = 26),
         g AS (
           SELECT symbol, day, macd, count(*) OVER w9 AS nm, list(macd) OVER w9 AS xm
           FROM m
           WINDOW w9 AS (PARTITION BY symbol ORDER BY day ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)),
         h AS (
           SELECT symbol, day, macd,
             CASE WHEN nm = 9 THEN
               list_reduce(list_transform(generate_series(1, 9), i -> xm[i] * ($w9::DOUBLE[])[i]), (a, b) -> a + b)
             END AS signal
           FROM g)
         SELECT symbol, day, macd, signal, macd - signal AS hist
         FROM h ORDER BY symbol, day"""
    }),
    QuerySpec("q_market_stochastic", (s, d) => Market.stochastic(s, d), Oracle {
      // stochastic %K/%D: rolling channel + uniform-weight fold
      val u = f"${1.0 / 3}%.17e"
      s"""WITH bars AS (
           SELECT event_type AS symbol,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
           FROM events GROUP BY symbol, day),
         f AS (
           SELECT symbol, day, close,
             min(low) OVER wk AS lo, max(high) OVER wk AS hi, count(*) OVER wk AS n
           FROM bars
           WINDOW wk AS (PARTITION BY symbol ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
         p AS (
           SELECT symbol, day, 100.0 * (close - lo) / (hi - lo) AS pct_k
           FROM f WHERE n = 14 AND hi > lo),
         g AS (
           SELECT symbol, day, pct_k, count(*) OVER wd AS nd, list(pct_k) OVER wd AS xd
           FROM p
           WINDOW wd AS (PARTITION BY symbol ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
         SELECT symbol, day, pct_k,
           CASE WHEN nd = 3 THEN
             list_reduce(list_transform(generate_series(1, 3), i -> xd[i] * $u), (a, b) -> a + b)
           END AS pct_d
         FROM g ORDER BY symbol, day"""
    }),
    QuerySpec("q_market_atr", (s, d) => Market.atr(s, d), Oracle(
      """WITH bars AS (
           SELECT event_type AS symbol,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             max(value) AS high, min(value) AS low, arg_max(value, ts) AS close
           FROM events GROUP BY symbol, day),
         t AS (
           SELECT symbol, day, high, low,
             lag(close) OVER (PARTITION BY symbol ORDER BY day) AS pc
           FROM bars),
         tr AS (
           SELECT symbol, day,
             CAST(greatest(high - low, abs(high - pc), abs(low - pc)) AS DECIMAL(18,2)) AS tr
           FROM t WHERE pc IS NOT NULL),
         f AS (
           SELECT symbol, day, count(*) OVER win AS n,
             CAST(sum(tr) OVER win AS DOUBLE) / 14.0 AS atr
           FROM tr
           WINDOW win AS (PARTITION BY symbol ORDER BY day
             ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
         SELECT symbol, day, atr FROM f WHERE n = 14 ORDER BY symbol, day""")),
    QuerySpec("q_market_beta", (s, d) => Market.beta(s, d), Oracle(
      """WITH bars AS (
           SELECT event_type AS symbol,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             arg_max(value, ts) AS close
           FROM events GROUP BY symbol, day),
         deltas AS (
           SELECT symbol, day,
             CAST(close AS DECIMAL(18,2)) -
               CAST(lag(close) OVER (PARTITION BY symbol ORDER BY day) AS DECIMAL(18,2)) AS dd
           FROM bars QUALIFY dd IS NOT NULL),
         market AS (
           SELECT day, CAST(sum(dd) AS DECIMAL(18,2)) AS dm
           FROM deltas GROUP BY day),
         m AS (
           SELECT symbol, count(*) AS n_days,
             CAST(sum(dd) AS DOUBLE) AS sd, CAST(sum(dm) AS DOUBLE) AS sm,
             CAST(sum(dd * dm) AS DOUBLE) AS sdm,
             CAST(sum(dm * dm) AS DOUBLE) AS smm
           FROM deltas JOIN market USING (day) GROUP BY symbol)
         SELECT symbol, n_days,
           (n_days * sdm - sd * sm) / (n_days * smm - sm * sm) AS beta
         FROM m ORDER BY symbol""")),
    QuerySpec("q_stream_vwap", (s, d) => graft.streaming.Pipeline.streamingVwap(s, d), Oracle(
      // the STREAMING VWAP must converge to the batch VWAP table exactly
      // (same decimal sums, incremental state) — identical oracle modulo
      // column order of the grain
      """SELECT event_type AS symbol,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS size_sum,
           CAST(sum(CAST(value AS DECIMAL(18,2)) *
                    CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS DOUBLE)
             / CAST(sum(CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT)) AS DOUBLE) AS vwap
         FROM events GROUP BY symbol, day ORDER BY symbol, day""")),
    QuerySpec("q_stream_enrich", (s, d) => graft.streaming.Pipeline.streamEnrich(s, d), Oracle(
      """SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2)) * length(event_type)) AS DOUBLE) AS weighted_sum
         FROM events GROUP BY event_type ORDER BY event_type""")),
    // data profiling
    QuerySpec("q_histogram", (s, d) => Aggregates.histogram(s, d), Oracle(
      """WITH st AS (
           SELECT min(CAST(l_extendedprice AS DOUBLE)) AS mn,
                  max(CAST(l_extendedprice AS DOUBLE)) AS mx
           FROM lineitem)
         SELECT CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - mn)
                  / ((mx - mn) / 20.0)), 19) AS BIGINT) AS bin,
           count(*) AS n_items,
           min(CAST(l_extendedprice AS DOUBLE)) AS bin_min,
           max(CAST(l_extendedprice AS DOUBLE)) AS bin_max
         FROM lineitem, st GROUP BY bin ORDER BY bin""")),
    QuerySpec("q_profile", (s, d) => Aggregates.profile(s, d), Oracle(
      """WITH p AS (
           SELECT 'l_discount' AS col_name, count(*) AS n_rows,
             count(*) - count(l_discount) AS n_null,
             count(DISTINCT l_discount) AS n_distinct,
             CAST(min(l_discount) AS DOUBLE) AS min_v,
             CAST(max(l_discount) AS DOUBLE) AS max_v
           FROM lineitem
           UNION ALL
           SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
             count(DISTINCT l_extendedprice),
             CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_quantity', count(*), count(*) - count(l_quantity),
             count(DISTINCT l_quantity),
             CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE)
           FROM lineitem
           UNION ALL
           SELECT 'l_tax', count(*), count(*) - count(l_tax),
             count(DISTINCT l_tax),
             CAST(min(l_tax) AS DOUBLE), CAST(max(l_tax) AS DOUBLE)
           FROM lineitem)
         SELECT col_name, n_rows, n_null, n_distinct, min_v, max_v
         FROM p ORDER BY col_name""")),
    QuerySpec("q_sample_stratified", (s, d) => Relational.stratifiedSample(s, d), Oracle(
      // mirrors Relational.stratifiedSample: per-stratum keep-threshold
      // floor(0.5 * n_min/n_t * 2^32) against the top 32 bits of the
      // HUGEINT rolling hash of 'strat#'||event_id||'#v1' (same fold as
      // q_text_rollhash; see stratifiedSample's scaladoc for why the
      // salt+suffix are load-bearing) — a rows-exact sampling oracle
      """WITH prof AS (SELECT event_type, count(*) AS n_t FROM events GROUP BY event_type),
         r AS (SELECT event_type,
            CAST(floor(CAST((SELECT min(n_t) FROM prof) AS DOUBLE) / CAST(n_t AS DOUBLE)
              * 0.5 * 4294967296.0) AS BIGINT) AS thresh
           FROM prof),
         h AS (SELECT event_id, event_type, value,
            list_reduce(list_prepend(CAST(0 AS HUGEINT),
              list_transform(generate_series(1, length('strat#' || CAST(event_id AS VARCHAR) || '#v1')),
                i -> ascii(('strat#' || CAST(event_id AS VARCHAR) || '#v1')[i]))),
              (a, b) -> (a * 1000003 + b) % CAST(18446744073709551616 AS HUGEINT)) AS hu
           FROM events)
         SELECT e.event_type, e.event_id, e.value
         FROM h e JOIN r USING (event_type)
         WHERE (e.hu >> 32) < CAST(r.thresh AS HUGEINT)
         ORDER BY e.event_type, e.event_id""")),
    QuerySpec("q_ts_search", (s, d) => TimeSeries.searchByShape(s, d), Oracle(
      // Pearson shape-similarity search; every term mirrors the Spark
      // fold shapes (list_sum == left fold, dot via list_transform) so the
      // correlation is bit-exact
      """WITH w AS (
           SELECT event_id, event_type,
             list(value) OVER fr AS win,
             count(*) OVER fr AS n
           FROM events
           WINDOW fr AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
         c AS (SELECT event_id, event_type, win,
                 list_sum(win) AS sm,
                 list_sum(list_transform(win, x -> x * x)) AS ss
               FROM w WHERE n = 20),
         q AS (SELECT win AS qwin, sm AS qsm, ss AS qss FROM c ORDER BY event_id LIMIT 1),
         sc AS (SELECT c.event_id, c.event_type,
             (list_sum(list_transform(generate_series(1, 20), i -> c.win[i] * q.qwin[i]))
               - 20.0 * (c.sm / 20.0) * (q.qsm / 20.0))
             / (sqrt(c.ss - 20.0 * (c.sm / 20.0) * (c.sm / 20.0))
              * sqrt(q.qss - 20.0 * (q.qsm / 20.0) * (q.qsm / 20.0))) AS corr
           FROM c, q
           WHERE c.ss - 20.0 * (c.sm / 20.0) * (c.sm / 20.0) > 0
             AND q.qss - 20.0 * (q.qsm / 20.0) * (q.qsm / 20.0) > 0),
         top AS (SELECT * FROM sc ORDER BY corr DESC, event_id LIMIT 25)
         SELECT event_id, event_type, corr FROM top ORDER BY event_id""")),
    // §2.10 prediction. q_predict_windows runs the BATCHED inference
    // operator (buffered predictBatch per partition, broadcast weights —
    // the reference's model.predict(sequences) shape) with the oracle-
    // exact linear predictor; q_predict_gru runs the same operator with
    // the recurrent-cell forward pass (not SQL-expressible → rows-only,
    // spec-verified batch==row-at-a-time).
    QuerySpec("q_predict_next", (s, d) => Predict.predictNext(Tables.events(s, d), 5), Oracle(
      last5LinearOracleSql)),
    QuerySpec("q_predict_windows", (s, d) => Predict.predictAllWindowsBatched(s, d, 60), Oracle(
      """SELECT event_id, event_type,
         last_v + (last_v - first_v) / 59.0 AS predicted FROM (
         SELECT event_id, event_type, value AS last_v,
           count(*) OVER w AS w_cnt,
           first_value(value) OVER w AS first_v
         FROM events
         WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)) t
         WHERE w_cnt = 60 ORDER BY event_id""")),
    QuerySpec("q_predict_gru", (s, d) => Predict.gruPredictions(s, d, 60),
      CheckedBy("q_predict_gru_check")),
    QuerySpec("q_predict_gru_check", (s, d) => Checks.gruPredictCheck(s, d), Oracle(
      // GRU companion: the exact row-identity projection (one row per
      // complete 60-window) hash-checks value-for-value; the analytic
      // output-range law |predicted/value - 1| <= Σ|wOut| (valid for ANY
      // weights — GRU state is a convex combination of tanh outputs)
      // surfaces as the boolean the oracle pins TRUE
      """WITH t AS (SELECT event_id, event_type,
           row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
         FROM events)
         SELECT count(*) AS n_rows, count(DISTINCT event_type) AS n_series,
           min(event_id) AS min_id, max(event_id) AS max_id,
           TRUE AS within_gru_bound
         FROM t WHERE rn >= 60""")),
    // the reference's actual artifact shape (lstm_model.keras:
    // LSTM(64,relu)→LSTM(32,relu)→Dense(1)) — recurrent values are not
    // SQL-expressible, so rows-only + the hash-gated companion below
    QuerySpec("q_predict_lstm", (s, d) => Predict.lstmPredictions(s, d, 60),
      CheckedBy("q_predict_lstm_check")),
    QuerySpec("q_predict_lstm_check", (s, d) => Checks.lstmPredictCheck(s, d), Oracle(
      // LSTM companion: hash-exact row identity of the window set derived
      // WITHIN the reference's bounded fetch slice (ORDER BY ts DESC LIMIT
      // 10000, batch_processor.py:76 — at the sf0.01 gate the slice IS the
      // whole corpus, so the bound is also cross-checked against the
      // unbounded derivation there); the value laws valid under the
      // reference's relu cell (finiteness, zero-base) ride as booleans
      fetchSliceWindowsOracleSql(
        """TRUE AS all_finite, TRUE AS zero_base_zero_pred
         FROM t WHERE rn >= 60"""))),
    // the artifact's TRAINED weights (ported from lstm_model.keras by
    // tools/dump_keras_weights.py) + frozen scaler.pkl constants, at the
    // model's true (5,1) input shape; rows-only + hash-gated companion
    QuerySpec("q_predict_lstm_ref", (s, d) => Predict.lstmRefPredictions(s, d, 5),
      CheckedBy("q_predict_lstm_ref_check")),
    QuerySpec("q_predict_lstm_ref_check", (s, d) => Checks.lstmRefPredictCheck(s, d), Oracle(
      // trained-weights companion: same row-identity derivation at the
      // artifact's true (5,1) window shape, and the oracle pins the EXACT
      // frozen-scaler doubles decoded from the reference's scaler.pkl — a
      // bad weight extraction or swapped resource flips the hash
      fetchSliceWindowsOracleSql(
        """TRUE AS all_finite,
           170.75782116164527 AS scaler_min,
           189.0292566483142 AS scaler_max
         FROM t WHERE rn >= 5"""))),
    // §2.8 scalar functions
    QuerySpec("q_string_date_math", (s, d) => Scalars.stringDateMath(s, d), Oracle(
      """SELECT o_orderkey,
         upper(o_orderpriority) AS pri_up,
         substr(o_orderpriority, 1, 1) AS pri_code,
         concat(o_orderstatus, '-', o_orderpriority) AS status_pri,
         CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
         CAST(year(o_orderdate) AS BIGINT) AS yr,
         CAST(month(o_orderdate) AS BIGINT) AS mon,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mon_start,
         abs(o_totalprice - 100000.0) AS centered,
         sqrt(o_totalprice) AS sqrt_price,
         round(ln(o_totalprice), 4) AS ln_price
         FROM orders ORDER BY o_orderkey""")),
    QuerySpec("q_parse_json", (s, d) => Scalars.parseJson(s, d), Oracle(
      """SELECT event_id,
         CAST(regexp_extract(props, '"k"\s*:\s*(-?\d+)', 1) AS BIGINT) AS k
         FROM events ORDER BY event_id""")),
    QuerySpec("q_parse_variant", (s, d) => Scalars.parseVariant(s, d), Oracle(
      // VARIANT parse: typed path extraction mirrors json_extract; the
      // discovered schema is constant because every props is {"k": int}
      """SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(NULL AS BIGINT) AS k_missing,
           'OBJECT<k: BIGINT>' AS v_schema
         FROM events ORDER BY event_id""")),
    QuerySpec("q_array_funcs", (s, d) => Scalars.arrayFunctions(s, d), Oracle(
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_toks,
           toks[1] AS first_tok,
           toks[-1] AS last_tok,
           list_contains(toks, 'the') AS has_the,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS top3_alpha
         FROM t ORDER BY doc_id""")),
    // north-star: text analysis
    QuerySpec("q_text_quality", (s, d) => TextOps.quality(s, d), Oracle(
      """WITH b AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars2,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
         FROM documents),
         r AS (SELECT *,
           CASE WHEN n_chars2 > 0 THEN CAST(n_punct AS DOUBLE) / n_chars2 ELSE 0.0 END AS punct_ratio,
           CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END AS stop_ratio
         FROM b)
         SELECT doc_id, n_chars2, n_tokens, n_punct, n_stop, punct_ratio, stop_ratio,
           stop_ratio * 0.5 + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
             + (1.0 - punct_ratio) * 0.2 AS quality_score
         FROM r ORDER BY doc_id""")),
    QuerySpec("q_token_count", (s, d) => TextOps.tokenCounts(s, d), Oracle(
      """SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""")),
    QuerySpec("q_text_langid", (s, d) => TextOps.langId(s, d), Oracle(
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         sc AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS BIGINT) AS s_en,
           CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','des'))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS s_de,
           CAST(len(list_filter(toks, x -> x IN ('el','los','las','que','una'))) AS BIGINT) AS s_es
         FROM t)
         SELECT doc_id, s_en, s_fr, s_de, s_es,
           CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS predicted
         FROM sc ORDER BY doc_id""")),
    QuerySpec("q_text_fingerprint", (s, d) => TextOps.fingerprint(s, d), Oracle(
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
         FROM documents ORDER BY doc_id""")),
    QuerySpec("q_text_rollhash", (s, d) => TextOps.rollingFingerprint(s, d), Oracle(
      // mirrors graft.functions.RollingHash: h = h*1000003 + byte wrapping
      // mod 2^64, over the whitespace-normalized text; HUGEINT carries the
      // 84-bit intermediate product, then fold back to signed 64-bit
      """WITH nt AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM documents),
         codes AS (SELECT doc_id, list_transform(generate_series(1, length(t)), i -> ascii(t[i])) AS cs FROM nt),
         h AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS HUGEINT), cs),
                 (a, b) -> (a * 1000003 + b) % CAST(18446744073709551616 AS HUGEINT)) AS hu
               FROM codes)
         SELECT doc_id, CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
                             THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS rh
         FROM h ORDER BY doc_id""")),
    QuerySpec("q_text_editdist", (s, d) => TextOps.editDistanceConsecutive(s, d), Oracle(
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS BIGINT) AS edit_dist
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         ORDER BY id_a""")),
    QuerySpec("q_text_scrub", (s, d) => TextOps.scrub(s, d), Oracle(
      // DuckDB regexp_replace needs the 'g' flag to match Spark's
      // replace-all default; the patterns themselves are RE2-safe
      """SELECT doc_id,
         regexp_replace(
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]+', '<NUM>', 'g') AS scrubbed
         FROM documents ORDER BY doc_id""")),
    QuerySpec("q_text_chunks", (s, d) => TextOps.chunkDocs(s, d), Oracle(
      """WITH t AS (
           SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents WHERE length(trim(text)) > 0),
         c AS (
           SELECT doc_id, toks, len(toks) AS n,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE CAST(floor((len(toks) - 64 + 47) / 48.0) AS BIGINT) + 1 END AS nc
           FROM t)
         SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
           CAST(len(toks[ci*48+1 : ci*48+64]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[ci*48+1 : ci*48+64], ' ') AS chunk_text
         FROM c, unnest(generate_series(0, nc - 1)) AS s(ci)
         ORDER BY doc_id, chunk_idx""")),
    QuerySpec("q_text_pack", (s, d) => TextOps.packDocs(s, d), Oracle(
      """WITH t AS (
           SELECT doc_id, doc_id % 32 AS stream,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, stream, n_tokens,
             sum(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM t)
         SELECT doc_id, stream, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % 512 AS BIGINT) AS pack_offset
         FROM c ORDER BY doc_id""")),
    QuerySpec("q_text_novelty", (s, d) => TextOps.bigramNovelty(s, d), Oracle(
      // exact counts, one final double division — value-exact without
      // decimal routing; docs with <2 tokens have no bigrams and no row
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         bg AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] AS bigram
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 1))) t(i)),
         df AS (SELECT bigram, count(*) AS dfreq FROM bg GROUP BY bigram)
         SELECT bg.doc_id, count(*) AS n_bigrams,
           CAST(sum(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
           CAST(sum(CASE WHEN df.dfreq = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
         FROM bg JOIN df USING (bigram)
         GROUP BY bg.doc_id ORDER BY bg.doc_id""")),
    QuerySpec("q_text_dupspans", (s, d) => TextOps.duplicatedSpans(s, d), Oracle(
      // repeated k-token spans: the oracle groups windows by their string
      // content; Spark groups by a 128-bit hash pair of the same string —
      // identical counts absent a 2^-129-scale collision
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         base AS (SELECT doc_id, greatest(0, len(arr) - 7) AS n_windows, arr FROM arrs),
         g AS (SELECT doc_id, array_to_string(arr[i:i+7], ' ') AS gram
               FROM base, unnest(generate_series(1, n_windows)) t(i)
               WHERE n_windows > 0),
         uniq AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY gram HAVING count(*) = 1),
         u AS (SELECT doc_id, count(*) AS n_unique FROM uniq GROUP BY doc_id)
         SELECT b.doc_id, CAST(b.n_windows AS BIGINT) AS n_windows,
           CAST(b.n_windows - coalesce(u.n_unique, 0) AS BIGINT) AS dup_windows,
           CASE WHEN b.n_windows = 0 THEN 0.0
                ELSE CAST(b.n_windows - coalesce(u.n_unique, 0) AS DOUBLE) / b.n_windows END AS dup_frac
         FROM base b LEFT JOIN u USING (doc_id) ORDER BY b.doc_id""")),
    QuerySpec("q_budget_select", (s, d) => TextOps.budgetSelect(s, d), Oracle(
      // token-budget curation: the oracle is the flat quality-ordered
      // prefix cumsum; the Spark plan computes the same prefix via a
      // bucket histogram + boundary-bucket-only exact ordering
      """WITH b AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars2,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
         FROM documents),
         r AS (SELECT doc_id, n_tokens,
           (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 0.5
             + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
             + (1.0 - CASE WHEN n_chars2 > 0 THEN CAST(n_punct AS DOUBLE) / n_chars2 ELSE 0.0 END) * 0.2
             AS quality_score
         FROM b),
         o AS (SELECT doc_id, n_tokens, quality_score,
               sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM r)
         SELECT doc_id, n_tokens, quality_score
         FROM o WHERE cum <= 15000 ORDER BY doc_id""")),
    QuerySpec("q_lm_counts", (s, d) => TextOps.bigramCountOfCounts(s, d), Oracle(
      // Good–Turing count-of-counts: N_c per count class c over multiset
      // bigram counts; c* only where the c+1 class exists (count classes
      // are gappy). One exact-integer multiply + one division — value-exact
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         bg AS (SELECT arr[i] || ' ' || arr[i+1] AS bigram
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 1))) t(i)),
         cnt AS (SELECT bigram, count(*) AS c FROM bg GROUP BY bigram),
         noc AS (SELECT c, count(*) AS n_c FROM cnt GROUP BY c),
         w AS (SELECT c, n_c, lead(c) OVER (ORDER BY c) AS nc,
                 lead(n_c) OVER (ORDER BY c) AS nn FROM noc)
         SELECT c, n_c,
           CASE WHEN nc = c + 1 THEN CAST(c + 1 AS DOUBLE) * nn / n_c END AS gt_cstar
         FROM w ORDER BY c""")),
    QuerySpec("q_text_pmi", (s, d) => TextOps.pmiCollocations(s, d), Oracle(
      // PMI collocations: everything inside the ln is integer-exact in
      // IEEE doubles with identical association on both engines; the ln
      // itself is only 1-ulp-reproducible across libms, so the PMI value
      // is quantized to 6 decimals on BOTH sides (BM25/centroid precedent)
      """WITH t AS (SELECT string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         bgall AS (SELECT toks[i] AS w1, toks[i+1] AS w2, toks[i] || ' ' || toks[i+1] AS bigram
                   FROM t, unnest(generate_series(1, greatest(0, len(toks) - 1))) u(i)),
         bgc AS (SELECT bigram, min(w1) AS w1, min(w2) AS w2, count(*) AS c_ab
                 FROM bgall GROUP BY bigram),
         uc AS (SELECT tok, count(*) AS c_tok FROM (
                  SELECT unnest(toks) AS tok FROM t) u
                WHERE length(tok) > 0 GROUP BY tok),
         n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bg FROM bgc),
         res AS (SELECT b.bigram, b.c_ab, a.c_tok AS c_a, c.c_tok AS c_b,
                 round(ln(CAST(b.c_ab AS DOUBLE) * CAST(n.n_bg AS DOUBLE)
                   / (CAST(a.c_tok AS DOUBLE) * CAST(c.c_tok AS DOUBLE))), 6) AS pmi
                 FROM bgc b JOIN uc a ON a.tok = b.w1 JOIN uc c ON c.tok = b.w2, n
                 WHERE b.c_ab >= 5)
         SELECT bigram, c_ab, c_a, c_b, pmi FROM res
         ORDER BY pmi DESC, bigram LIMIT 50""")),
    QuerySpec("q_rag_retrieve", (s, d) => TextOps.ragRetrieve(s, d), Oracle(
      // multi-query BM25 retrieval + budgeted context packing: the oracle
      // ranks with a window; Spark ranks with the bounded top-k aggregate
      // (identical (score desc, doc_id) order); per-term scores quantize
      // through DECIMAL(18,8) on both sides like q_bm25_topk. ONE constant
      // for both the scan-served and index-served entries (the bm25
      // shared-constant discipline): parity is structural.
      ragOracleSql)),
    QuerySpec("q_rag_from_index", (s, d) => TextOps.ragFromIndex(s, d), Oracle(ragOracleSql)),
    QuerySpec("q_split_balance", (s, d) => TextOps.splitBalance(s, d), Oracle(
      // split-balance chi-square: o and all margins are exact integers;
      // expected/contrib are fixed-association IEEE expressions of them
      // (bit-exact both engines); only the cross-cell statistic sum is
      // order-sensitive, so contributions quantize through DECIMAL(18,8).
      // Cells with zero observed docs are absent from the table and the
      // statistic on BOTH engines (observed-cell chi-square).
      """WITH sp AS (SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
                     ELSE 'test' END AS split
                FROM documents),
         cells AS (SELECT sp.split, d.source, count(*) AS o
                   FROM documents d JOIN sp USING (doc_id) GROUP BY 1, 2),
         m AS (SELECT split, source, o,
               CAST(sum(o) OVER (PARTITION BY split) AS DOUBLE)
                 * CAST(sum(o) OVER (PARTITION BY source) AS DOUBLE)
                 / CAST(sum(o) OVER () AS DOUBLE) AS expected
               FROM cells),
         c2 AS (SELECT split, source, o, expected,
                (CAST(o AS DOUBLE) - expected) * (CAST(o AS DOUBLE) - expected)
                  / expected AS contrib
                FROM m)
         SELECT split, source, o, expected, contrib,
           CAST(CAST(sum(CAST(contrib AS DECIMAL(18,8))) OVER () AS DECIMAL(18,8)) AS DOUBLE) AS chisq
         FROM c2 ORDER BY split, source""")),
    QuerySpec("q_sample_quality", (s, d) => TextOps.sampleByQuality(s, d), Oracle(
      // quality-proportional sampling: the uniform draw is the first 52
      // md5 bits of the doc_id (exactly representable in a double; /2^52
      // is exact power-of-two scaling), so keep/drop is bit-deterministic
      // on both engines against the bit-identical quality score
      """WITH b AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars2,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
         FROM documents),
         qual AS (SELECT doc_id, n_tokens,
           (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 0.5
             + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
             + (1.0 - CASE WHEN n_chars2 > 0 THEN CAST(n_punct AS DOUBLE) / n_chars2 ELSE 0.0 END) * 0.2
             AS quality_score
         FROM b),
         s AS (SELECT doc_id, n_tokens, quality_score,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT) AS DOUBLE)
             / 4503599627370496.0 AS u
           FROM qual)
         SELECT doc_id, n_tokens, quality_score, u FROM s
         WHERE u < quality_score ORDER BY doc_id""")),
    QuerySpec("q_text_repetition", (s, d) => TextOps.repetition(s, d), Oracle(
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         tokstats AS (SELECT doc_id, len(arr) AS n_tokens,
                      len(list_distinct(arr)) AS n_distinct FROM arrs),
         bg AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] AS bigram
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 1))) t(i)),
         rep AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   CAST(max(c) AS BIGINT) AS top_count
                 FROM (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram) g
                 GROUP BY doc_id)
         SELECT t.doc_id, t.n_tokens,
           CAST(t.n_distinct AS DOUBLE) / t.n_tokens AS ttr,
           coalesce(r.n_bigrams, 0) AS n_bigrams,
           coalesce(r.top_count, 0) AS top_count,
           CASE WHEN r.n_bigrams IS NULL THEN 0.0
                ELSE CAST(r.top_count AS DOUBLE) / r.n_bigrams END AS rep_frac
         FROM tokstats t LEFT JOIN rep r USING (doc_id) ORDER BY t.doc_id""")),
    QuerySpec("q_text_rarity", (s, d) => TextOps.tokenRarity(s, d), Oracle(
      """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                      FROM documents),
         tok2 AS (SELECT * FROM tok WHERE length(token) > 0),
         vocab AS (SELECT token, count(*) AS tf FROM tok2 GROUP BY token)
         SELECT doc_id, count(*) AS n_tokens,
           CAST(sum(tf) AS DOUBLE) / count(*) AS mean_tf,
           CAST(min(tf) AS BIGINT) AS min_tf
         FROM tok2 JOIN vocab USING (token)
         GROUP BY doc_id ORDER BY doc_id""")),
    QuerySpec("q_hash_split", (s, d) => TextOps.hashSplit(s, d), Oracle(
      """SELECT doc_id,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
              ELSE 'test' END AS split
         FROM documents ORDER BY doc_id""")),
    QuerySpec("q_top_tokens", (s, d) => TextOps.topTokens(s, d), Oracle(
      """SELECT token, count(*) AS freq FROM (
           SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
           FROM documents) t
         WHERE length(token) > 0
         GROUP BY token ORDER BY freq DESC, token LIMIT 20""")),
    QuerySpec("q_index_postings", (s, d) => TextOps.invertedPostings(s, d), Oracle(
      // block-sharded inverted index; postings string is the
      // (doc_id, pos)-ordered concatenation within each block. ONE
      // constant for the full build AND the base⊎delta merged read: the
      // delta-segment lifecycle's contract is "merged read == full
      // rebuild, bit for bit", so q_index_delta carries the full-rebuild
      // SQL (the q_incr_rollup oracle trick).
      indexPostingsOracleSql)),
    QuerySpec("q_index_delta", (s, d) => TextOps.indexDeltaMerge(s, d), Oracle(
      indexPostingsOracleSql)),
    QuerySpec("q_index_delete", (s, d) => TextOps.indexWithDeletes(s, d), Oracle(
      // the DELETE half (Lucene liveDocs): the tombstone-masked read of
      // the full index must equal the rebuild over the surviving
      // documents — survivors defined by the SAME keep-best CTE chain as
      // q_dedup_keep_best (shared constant), rebuild by the SAME
      // parameterized generator as every other index-lifecycle entry
      indexDeleteOracleSql)),
    QuerySpec("q_index_snapshot", (s, d) => TextOps.indexFromSnapshot(s, d), Oracle(
      // the SNAPSHOT read: base ⊎ delta ⊖ tombstones resolved through the
      // manifest — append and delete composed in one consistent read,
      // same rebuild-over-survivors contract as q_index_delete
      indexDeleteOracleSql)),
    QuerySpec("q_index_asof", (s, d) => TextOps.indexAsOfBase(s, d), Oracle(
      // time travel: the index AS OF the base generation — rebuild over
      // doc_id < cut, the block-aligned cut recomputed in SQL with the
      // same integer arithmetic as indexDeltaCut (both engines derive
      // the snapshot boundary independently)
      indexRebuildOracleSqlOver(
        "(SELECT doc_id, text FROM documents WHERE doc_id < " +
          "(SELECT greatest(100, (max(doc_id)+1)*9//10//100*100) FROM documents))"))),
    QuerySpec("q_bm25_snapshot_served", (s, d) => TextOps.bm25FromSnapshot(s, d), Oracle(
      // snapshot-bound retrieval: manifest-resolved segments + tombstones
      // — value-identical to the live serve (snapshot == full ⊖ deletes),
      // same survivor-scoped parameterized BM25 SQL (shared constant)
      bm25LiveOracleSql)),
    QuerySpec("q_stream_compact", (s, d) => TextOps.streamIndexCompacted(s, d), Oracle(
      // compaction: streamed partials folded once into a published sidecar,
      // then served — still the full-rebuild contract
      indexPostingsOracleSql)),
    QuerySpec("q_bm25_compact_served", (s, d) => TextOps.bm25FromCompactedIndex(s, d), Oracle(
      // retrieval over the COMPACTED stream store (flush → compact → serve)
      bm25OracleSql)),
    QuerySpec("q_bm25_live_served", (s, d) => TextOps.bm25FromLiveIndex(s, d), Oracle(
      // retrieval over the TOMBSTONE-MASKED index: same parameterized BM25
      // SQL, survivor-scoped end to end (tf, df, norms, corpus stats)
      bm25LiveOracleSql)),
    QuerySpec("q_stream_index", (s, d) => TextOps.streamIndexMerged(s, d), Oracle(
      // streaming ingestion half of the same lifecycle: per-micro-batch
      // partial segments, merged at read — same full-rebuild contract
      indexPostingsOracleSql)),
    QuerySpec("q_bm25_topk", (s, d) => TextOps.bm25TopK(s, d), Oracle(
      // Okapi BM25 (k1=1.2, b=0.75), same formula tree as the Spark plan;
      // per-term scores cast to DECIMAL(18,8) BEFORE the per-doc sum so
      // the score is order-independent on both engines. ONE constant for
      // both the scan-served and index-served entries: the index path
      // must score exactly what the scan path scores, and sharing the
      // string makes that parity structural, not textual (r15 ADVICE —
      // two separately-maintained copies can silently drift).
      bm25OracleSql)),
    QuerySpec("q_bm25_from_index", (s, d) => TextOps.bm25FromIndex(s, d), Oracle(bm25OracleSql)),
    QuerySpec("q_bm25_stream_served", (s, d) => TextOps.bm25FromStreamedIndex(s, d), Oracle(
      // retrieval over the index the STREAM built (flush → merge → serve):
      // the whole lineage never scans the corpus as a batch, yet the
      // scores must equal the corpus-scan form exactly
      bm25OracleSql)),
    QuerySpec("q_zorder", (s, d) => Layout.zorder(s, d), Oracle(
      // Morton/z-order clustering key — the identical integer bit-spread
      // algebra as ops.Layout.zorder, CTE-chained
      """WITH s AS (SELECT min(user_id) AS umin, max(user_id) AS umax,
                    min(CAST(ts AS DATE)) AS dmin, max(CAST(ts AS DATE)) AS dmax FROM events),
         b AS (SELECT event_id,
                 ((user_id - umin) * 65536) // (umax - umin + 1) AS xi,
                 (CAST(datediff('day', dmin, CAST(ts AS DATE)) AS BIGINT) * 65536)
                   // (CAST(datediff('day', dmin, dmax) AS BIGINT) + 1) AS yi
               FROM events, s),
         x1 AS (SELECT event_id, (xi | (xi << 8)) & 16711935 AS x,
                       (yi | (yi << 8)) & 16711935 AS y FROM b),
         x2 AS (SELECT event_id, (x | (x << 4)) & 252645135 AS x,
                       (y | (y << 4)) & 252645135 AS y FROM x1),
         x3 AS (SELECT event_id, (x | (x << 2)) & 858993459 AS x,
                       (y | (y << 2)) & 858993459 AS y FROM x2),
         x4 AS (SELECT event_id, (x | (x << 1)) & 1431655765 AS x,
                       (y | (y << 1)) & 1431655765 AS y FROM x3)
         SELECT event_id, x | (y * 2) AS z, (x | (y * 2)) // 67108864 AS zbucket
         FROM x4 ORDER BY z, event_id""")),
    QuerySpec("q_curate", (s, d) => TextOps.curateCorpus(s, d), Oracle(
      // composition of the q_text_quality, q_text_langid, and q_dedup_exact
      // oracles: curated corpus = quality ∩ target-language ∩ dup-keeper
      """WITH b AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars2,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
         FROM documents),
         qual AS (SELECT doc_id, n_tokens,
           (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 0.5
             + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
             + (1.0 - (CASE WHEN n_chars2 > 0 THEN CAST(n_punct AS DOUBLE) / n_chars2 ELSE 0.0 END)) * 0.2
             AS quality_score
         FROM b),
         t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         sc AS (SELECT doc_id,
           CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS BIGINT) AS s_en,
           CAST(len(list_filter(toks, x -> x IN ('le','la','les','et','des'))) AS BIGINT) AS s_fr,
           CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ein'))) AS BIGINT) AS s_de,
           CAST(len(list_filter(toks, x -> x IN ('el','los','las','que','una'))) AS BIGINT) AS s_es
         FROM t),
         lang AS (SELECT doc_id,
           CASE WHEN s_en >= s_fr AND s_en >= s_de AND s_en >= s_es THEN 'en'
                WHEN s_fr >= s_de AND s_fr >= s_es THEN 'fr'
                WHEN s_de >= s_es THEN 'de' ELSE 'es' END AS predicted
         FROM sc),
         keepers AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text))
         SELECT q.doc_id, q.n_tokens, q.quality_score
         FROM qual q JOIN lang l ON l.doc_id = q.doc_id
         WHERE q.doc_id IN (SELECT doc_id FROM keepers)
           AND q.quality_score >= 0.5 AND l.predicted = 'en'
         ORDER BY q.doc_id""")),
    QuerySpec("q_mixture_sample", (s, d) => TextOps.mixtureSample(s, d), Oracle(
      // domain-mixture sampling: the oracle is the flat per-source
      // md5-order prefix cumsum under the √tokens-share allocation; the
      // Spark plan computes the same prefix via a per-source 256-bucket
      // md5-prefix histogram + boundary-bucket-only exact ordering (the
      // bucket is the md5 string's own 2-hex-char prefix, so bucket order
      // refines md5 order). Allocation weights quantize through
      // DECIMAL(28,6) before the cross-source sum so both engines add
      // exactly representable values.
      """WITH tok AS (SELECT doc_id, source,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens
         FROM documents),
         tot AS (SELECT source,
                 CAST(round(sqrt(CAST(sum(n_tokens) AS DOUBLE)), 6) AS DECIMAL(28,6)) AS wsd
                 FROM tok GROUP BY source),
         alloc AS (SELECT source,
                   CAST(floor(CAST(20000 AS DOUBLE) * CAST(wsd AS DOUBLE)
                     / CAST(sum(wsd) OVER () AS DOUBLE)) AS BIGINT) AS budget
                   FROM tot),
         sel AS (SELECT t.source, t.doc_id, t.n_tokens,
                 sum(t.n_tokens) OVER (PARTITION BY t.source
                   ORDER BY md5(CAST(t.doc_id AS VARCHAR)), t.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM tok t)
         SELECT s.source, s.doc_id, s.n_tokens
         FROM sel s JOIN alloc a ON a.source = s.source
         WHERE s.cum <= a.budget
         ORDER BY s.source, s.doc_id""")),
    QuerySpec("q_shard_manifest", (s, d) => TextOps.shardManifest(s, d), Oracle(
      // deterministic shard manifest: md5-hash routing + per-shard balance
      """WITH t AS (SELECT doc_id,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % 32 AS shard,
           CAST(length(text) AS BIGINT) AS n_bytes,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens
         FROM documents)
         SELECT shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         FROM t GROUP BY shard ORDER BY shard""")),
    QuerySpec("q_text_keywords", (s, d) => TextOps.tfidfKeywords(s, d), Oracle(
      // top-3 TF-IDF keywords: integer tf/df/N → one fixed-association
      // double score; (score desc, token) rank order identical both
      // engines, token breaking exact ties
      """WITH tf AS (
           SELECT doc_id, token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                 FROM documents)
           WHERE token <> '' GROUP BY doc_id, token),
         df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
         nd AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                 CAST(CAST(tf.tf * ln((n_docs + 1.0) / (df.df + 1.0))
                   AS DECIMAL(18,8)) AS DOUBLE) AS score
               FROM tf JOIN df USING (token), nd),
         r AS (SELECT *, row_number() OVER (
                 PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
               FROM sc)
         SELECT doc_id, CAST(rnk AS INT) AS rnk, token,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
         FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""")),
    QuerySpec("q_source_entropy", (s, d) => TextOps.sourceEntropy(s, d), Oracle(
      // per-source Shannon entropy: H = ln(N) − (Σ c·ln c)/N; the
      // order-sensitive sum quantizes through DECIMAL(18,8)
      """WITH ct AS (
           SELECT source, token, count(*) AS c
           FROM (SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                 FROM documents)
           WHERE token <> '' GROUP BY source, token),
         m AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS n_types,
                 CAST(CAST(sum(CAST(c * ln(c) AS DECIMAL(18,8))) AS DECIMAL(18,8)) AS DOUBLE) AS sclc
               FROM ct GROUP BY source)
         SELECT source, n_tokens, n_types,
           CAST(CAST(ln(n_tokens) - sclc / n_tokens AS DECIMAL(18,8)) AS DOUBLE) AS entropy_nats
         FROM m ORDER BY source""")),
    QuerySpec("q_lm_perplexity", (s, d) => TextOps.lmPerplexity(s, d), Oracle(
      // bigram-LM perplexity: integer counts → fixed-association double
      // p; NLL terms and the final exp quantize through DECIMAL(18,8)
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         occ AS (SELECT doc_id, arr[i] || ' ' || arr[i+1] AS bigram
                 FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 1))) t(i)),
         c12 AS (SELECT bigram, count(*) AS c12 FROM occ GROUP BY bigram),
         c1 AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(c12) AS BIGINT) AS c1
                FROM c12 GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vocab FROM (
                 SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
                 FROM documents) WHERE tok <> ''),
         sc AS (SELECT doc_id,
                 CAST(-ln((c12 + 1.0) / (c1 + vocab)) AS DECIMAL(18,8)) AS nll_term
               FROM occ JOIN c12 USING (bigram)
               JOIN c1 ON split_part(occ.bigram, ' ', 1) = c1.w1, v),
         agg AS (SELECT doc_id, count(*) AS n_bigrams,
                 CAST(CAST(sum(nll_term) AS DECIMAL(18,8)) AS DOUBLE) AS nll_sum
               FROM sc GROUP BY doc_id)
         SELECT doc_id, n_bigrams, nll_sum / n_bigrams AS avg_nll,
           CAST(CAST(exp(nll_sum / n_bigrams) AS DECIMAL(18,8)) AS DOUBLE) AS ppl
         FROM agg ORDER BY doc_id""")),
    // north-star: deduplication
    QuerySpec("q_dedup_exact", (s, d) => Dedup.exact(s, d), Oracle(
      """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n_copies
         FROM documents GROUP BY md5(text) ORDER BY keep_id""")),
    QuerySpec("q_dedup_ngram_jaccard", (s, d) => Dedup.ngramJaccardConsecutive(s, d), Oracle(
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id = ta.doc_id + 1
                   GROUP BY 1, 2)
         SELECT p.id_a, p.id_b, coalesce(i.ni, 0) AS n_common, sa.ns AS n_a, sb.ns AS n_b,
           CAST(coalesce(i.ni, 0) AS DOUBLE) / (sa.ns + sb.ns - coalesce(i.ni, 0)) AS jaccard
         FROM pairs p
         LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         JOIN sizes sa ON sa.doc_id = p.id_a
         JOIN sizes sb ON sb.doc_id = p.id_b
         ORDER BY p.id_a""")),
    QuerySpec("q_dedup_containment", (s, d) => Dedup.containmentConsecutive(s, d), Oracle(
      // asymmetric containment on the same consecutive-pair shingle sets
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id = ta.doc_id + 1
                   GROUP BY 1, 2)
         SELECT p.id_a, p.id_b, coalesce(i.ni, 0) AS n_common, sa.ns AS n_a, sb.ns AS n_b,
           CAST(coalesce(i.ni, 0) AS DOUBLE) / sa.ns AS contain_ab,
           CAST(coalesce(i.ni, 0) AS DOUBLE) / sb.ns AS contain_ba
         FROM pairs p
         LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         JOIN sizes sa ON sa.doc_id = p.id_a
         JOIN sizes sb ON sb.doc_id = p.id_b
         ORDER BY p.id_a""")),
    QuerySpec("q_dedup_minhash", (s, d) => Dedup.minhashLshPairs(s, d), Oracle(
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id > ta.doc_id
                   GROUP BY 1, 2)
         SELECT id_a, id_b, CAST(ni AS DOUBLE) / (sa.ns + sb.ns - ni) AS jaccard
         FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(ni AS DOUBLE) / (sa.ns + sb.ns - ni) >= 0.5
         ORDER BY id_a, id_b""")),
    QuerySpec("q_dedup_simhash", (s, d) => Dedup.simhashSignatures(s, d), Oracle(
      // mirrors Dedup.simhashSignatures exactly: 3-token distinct shingles
      // of the lowercased tokens, per-shingle RollingHash (same HUGEINT
      // mod-2^64 fold as q_text_rollhash), bit j of the signature set iff
      // MORE THAN half the shingle hashes have bit j set (sum of ±1 > 0)
      """WITH nt AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
         sh AS (SELECT doc_id,
            list_distinct(list_transform(generate_series(1, len(toks)-2),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
          FROM nt WHERE len(toks) >= 3),
         hs AS (SELECT doc_id,
            list_transform(shs, sgl ->
              list_reduce(list_prepend(CAST(0 AS HUGEINT), list_transform(generate_series(1, length(sgl)), i -> ascii(sgl[i]))),
                (a, b) -> (a * 1000003 + b) % CAST(18446744073709551616 AS HUGEINT))) AS hl
          FROM sh),
         sig AS (SELECT doc_id,
            list_sum(list_transform(generate_series(0, 63), j ->
              CASE WHEN 2 * len(list_filter(hl, h -> ((h >> j) & 1) = 1)) > len(hl)
                   THEN (CAST(1 AS HUGEINT) << j) ELSE CAST(0 AS HUGEINT) END)) AS hu
          FROM hs)
         SELECT doc_id, CAST(CASE WHEN hu >= CAST(9223372036854775808 AS HUGEINT)
             THEN hu - CAST(18446744073709551616 AS HUGEINT) ELSE hu END AS BIGINT) AS simhash
         FROM sig ORDER BY doc_id""")),
    QuerySpec("q_dedup_clusters", (s, d) => Dedup.nearDupComponents(s, d), Oracle(
      // same exact >=0.5-Jaccard pair set as q_dedup_minhash, then
      // transitive closure via recursive CTE; component = min reachable id
      """WITH RECURSIVE arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id > ta.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                   WHERE CAST(ni AS DOUBLE) / (sa.ns + sb.ns - ni) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
         ),
         comp AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
                  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
                  GROUP BY d.doc_id)
         SELECT doc_id, component, (doc_id = component) AS is_keeper
         FROM comp ORDER BY doc_id""")),
    QuerySpec("q_source_overlap", (s, d) => Dedup.sourceOverlap(s, d), Oracle(
      // cross-source duplication matrix over the same exact-threshold
      // pair set the cluster oracles use
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id > ta.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                   WHERE CAST(ni AS DOUBLE) / (sa.ns + sb.ns - ni) >= 0.5)
         SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b, count(*) AS n_pairs
         FROM pairs JOIN documents da ON da.doc_id = id_a
         JOIN documents db ON db.doc_id = id_b
         GROUP BY 1, 2 ORDER BY 1, 2""")),
    QuerySpec("q_dedup_keep_best", (s, d) => Dedup.keepBestPerCluster(s, d), Oracle(
      // cluster retention: same transitive closure as q_dedup_clusters,
      // survivor = argmax (quality_score, -doc_id) per component via a
      // window; Spark computes it with a partial-aggregating max_by
      s"WITH RECURSIVE $keepBestCtesSql SELECT cluster_id, kept_doc_id, kept_quality, n_members FROM kept ORDER BY cluster_id")),
    QuerySpec("q_decontaminate", (s, d) => Dedup.decontaminate(s, d), Oracle(
      // decontamination = hashSplit ⋈ content fingerprints ⋈ the exact
      // >=0.5-Jaccard pair set (same CTEs as q_dedup_minhash's oracle)
      """WITH sp AS (SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
                ELSE 'test' END AS split
           FROM documents),
         fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
         ex AS (SELECT tt.doc_id AS test_id, tr.doc_id AS train_id, 'exact' AS reason
                FROM fp tr JOIN sp str ON str.doc_id = tr.doc_id AND str.split = 'train'
                JOIN fp tt ON tt.fp = tr.fp
                JOIN sp stt ON stt.doc_id = tt.doc_id AND stt.split = 'test'),
         arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id > ta.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT id_a, id_b
                FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                WHERE CAST(ni AS DOUBLE) / (sa.ns + sb.ns - ni) >= 0.5),
         nd AS (SELECT jp.id_b AS test_id, jp.id_a AS train_id, 'neardup' AS reason
                FROM jp JOIN sp sa ON sa.doc_id = jp.id_a AND sa.split = 'train'
                JOIN sp sb ON sb.doc_id = jp.id_b AND sb.split = 'test'
                UNION ALL
                SELECT jp.id_a AS test_id, jp.id_b AS train_id, 'neardup' AS reason
                FROM jp JOIN sp sa ON sa.doc_id = jp.id_a AND sa.split = 'test'
                JOIN sp sb ON sb.doc_id = jp.id_b AND sb.split = 'train')
         SELECT test_id, train_id, min(reason) AS reason
         FROM (SELECT * FROM ex UNION ALL SELECT * FROM nd) u
         GROUP BY test_id, train_id ORDER BY test_id, train_id""")),
    QuerySpec("q_contamination", (s, d) => Dedup.contaminationFraction(s, d), Oracle(
      // per-test-doc k-gram contamination fraction: the oracle tests gram
      // STRING membership; Spark tests the 128-bit hash pair of the same
      // string — identical absent a 2^-129-scale collision (dupspans note)
      """WITH arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sp AS (SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'c' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'e' THEN 'val'
                     ELSE 'test' END AS split
                FROM documents),
         g AS (SELECT DISTINCT doc_id,
                 arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] || ' ' || arr[i+3] || ' ' ||
                 arr[i+4] || ' ' || arr[i+5] || ' ' || arr[i+6] || ' ' || arr[i+7] AS gram
               FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 7))) t(i)),
         tr AS (SELECT DISTINCT gram FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train'),
         te AS (SELECT g.doc_id, g.gram FROM g JOIN sp USING (doc_id) WHERE sp.split = 'test'),
         agg AS (SELECT doc_id, count(*) AS n_grams,
                 CAST(sum(CASE WHEN gram IN (SELECT gram FROM tr) THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
                 FROM te GROUP BY doc_id)
         SELECT s2.doc_id,
           CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(a.n_matched, 0) AS BIGINT) AS n_matched,
           CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0.0
                ELSE CAST(a.n_matched AS DOUBLE) / a.n_grams END AS contam_frac
         FROM sp s2 LEFT JOIN agg a USING (doc_id)
         WHERE s2.split = 'test' ORDER BY s2.doc_id""")),
    QuerySpec("q_simjoin_prefix", (s, d) => Dedup.prefixSimJoin(s, d), Oracle(
      // exact set-similarity join semantics: ALL same-source pairs with
      // token-set Jaccard >= 9/10 (integer-threshold compare — no float
      // boundary); the Spark plan generates candidates by prefix
      // filtering instead of this all-pairs scan
      """WITH toks AS (SELECT doc_id, source, list_distinct(string_split_regex(lower(trim(text)), '\s+')) AS tk
                       FROM documents
                       WHERE len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) > 0),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.tk, b.tk)) AS BIGINT) AS n_common,
                 CAST(len(a.tk) AS BIGINT) AS n_a, CAST(len(b.tk) AS BIGINT) AS n_b
               FROM toks a JOIN toks b ON a.source = b.source AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, n_common, (n_a + n_b - n_common) AS n_union,
           CAST(n_common AS DOUBLE) / (n_a + n_b - n_common) AS jaccard
         FROM p WHERE n_common * 10 >= (n_a + n_b - n_common) * 9
         ORDER BY id_a, id_b""")),
    // north-star: similarity search
    QuerySpec("q_embed_cosine_pairs", (s, d) => Similarity.cosineConsecutive(s, d), Oracle(
      """WITH p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
                    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1)
         SELECT id_a, id_b,
           list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, len(ea)), i -> CAST(ea[i] AS DOUBLE) * CAST(ea[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, len(eb)), i -> CAST(eb[i] AS DOUBLE) * CAST(eb[i] AS DOUBLE))))) AS cos
         FROM p ORDER BY id_a""")),
    QuerySpec("q_dedup_embed", (s, d) => Similarity.embedNearDupLsh(s, d), Oracle(
      // shared sign-band pair constant (embedDupCtesSql): this entry, the
      // q_ann_live survivor set, and q_ann_pq_live_check's truth
      // cardinality all bind the same CTE chain
      s"WITH $embedDupCtesSql SELECT id_a, id_b, cos FROM dups ORDER BY id_a, id_b")),
    QuerySpec("q_dedup_embed_ivf", (s, d) => Similarity.embedNearDupIvf(s, d),
      CheckedBy("q_dedup_embed_ivf_check")),
    QuerySpec("q_ann_bruteforce", (s, d) => Similarity.bruteForceTopK(s, d), Oracle(
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q.q_id, e.vec_id AS n_id,
           list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.q_id),
         r AS (SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
               FROM scored)
         SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, cos
         FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),
    QuerySpec("q_ann_lsh", (s, d) => Similarity.lshTopK(s, d), CheckedBy("q_ann_recall")),
    QuerySpec("q_ann_ivf", (s, d) => Similarity.ivfTopK(s, d), CheckedBy("q_ann_recall")),
    QuerySpec("q_ann_pq", (s, d) => Similarity.pqTopK(s, d), CheckedBy("q_ann_pq_check")),
    QuerySpec("q_ann_ivfpq", (s, d) => Similarity.ivfPqTopK(s, d), CheckedBy("q_ann_pq_check")),
    QuerySpec("q_ann_pq_check", (s, d) => Checks.annPqCheck(s, d), Oracle(
      // PQ companion: the truth count is the exact 10×5 brute-force set
      // (Spark recomputes it; the oracle pins the cardinality and the
      // recall floor boolean)
      "SELECT CAST(50 AS BIGINT) AS n_true, TRUE AS pq_recall_ok, TRUE AS ivfpq_recall_ok")),
    QuerySpec("q_ann_pq_delta", (s, d) => Similarity.pqTopKDelta(s, d),
      CheckedBy("q_ann_pq_delta_check")),
    QuerySpec("q_ann_pq_delta_check", (s, d) => Checks.annPqDeltaCheck(s, d), Oracle(
      // append-lifecycle companion: recall over base ⊎ delta codes (frozen
      // base codebooks, FAISS add) + exact base/delta coverage of the corpus
      "SELECT CAST(50 AS BIGINT) AS n_true, TRUE AS delta_recall_ok, TRUE AS cover_ok")),
    QuerySpec("q_ann_live", (s, d) => Similarity.bruteForceTopKLive(s, d), Oracle(
      annLiveOracleSql)),
    QuerySpec("q_ann_pq_live", (s, d) => Similarity.pqTopKLive(s, d),
      CheckedBy("q_ann_pq_live_check")),
    QuerySpec("q_ann_pq_live_check", (s, d) => Checks.annPqLiveCheck(s, d), Oracle(
      // delete-lifecycle companion: n_true = 5 × |survivor queries| is
      // recomputed by the oracle from the same pair rule; the booleans are
      // the recall floor + the exact no-dead-served / mask-cardinality
      // invariants the Spark side asserts
      s"""WITH $embedDupCtesSql,
         tomb AS (SELECT DISTINCT id_b AS vec_id FROM dups)
         SELECT CAST(5 * (SELECT count(*) FROM embeddings
                          WHERE vec_id < 10
                            AND vec_id NOT IN (SELECT vec_id FROM tomb)) AS BIGINT) AS n_true,
           TRUE AS live_recall_ok, TRUE AS no_tomb_ok, TRUE AS mask_cover_ok""")),
    QuerySpec("q_ann_recall", (s, d) => Checks.annRecallCheck(s, d), Oracle(
      "SELECT CAST(50 AS BIGINT) AS n_true, TRUE AS lsh_recall_ok, TRUE AS ivf_recall_ok")),
    QuerySpec("q_dedup_embed_ivf_check", (s, d) => Checks.embedIvfDedupCheck(s, d), Oracle(
      // n_true_pairs is recomputed INDEPENDENTLY by the oracle over all
      // pairs — agreeing to the last pair also cross-checks the two
      // engines' cosine folds at the threshold
      """SELECT count(*) AS n_true_pairs, TRUE AS all_found_true, TRUE AS coverage_ok
         FROM (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)), i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)), i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))) AS cos
           FROM embeddings a JOIN embeddings b ON b.vec_id > a.vec_id) p
         WHERE cos >= 0.4""")),
    QuerySpec("q_embed_quantize", (s, d) => Similarity.quantizeInt8(s, d), Oracle(
      // INT8 quantization is exact end to end: float→double cast,
      // division, HALF_UP round (DuckDB rounds half away from zero, same
      // as Spark's BigDecimal HALF_UP on doubles), and long arithmetic
      // all evaluate identically in both engines
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                    FROM embeddings),
         s AS (SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale FROM e),
         q AS (SELECT vec_id, emb, scale,
               CASE WHEN scale = 0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(emb, x -> CAST(round(x / scale) AS BIGINT)) END AS qv
               FROM s)
         SELECT vec_id, scale, CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_min(qv) AS q_min, list_max(qv) AS q_max,
           CASE WHEN scale = 0 THEN 0.0
                ELSE list_max(list_transform(generate_series(1, len(emb)),
                       i -> abs(emb[i] - CAST(qv[i] AS DOUBLE) * scale))) END AS max_err
         FROM q ORDER BY vec_id""")),
    QuerySpec("q_ann_quantized", (s, d) => Similarity.quantizedTopK(s, d), Oracle(
      // quantized search: scales cancel out of the quantized cosine, so
      // ranking is a pure integer-dot ratio (ints <= 127, sums exactly
      // representable in double) -- identical arithmetic in both engines
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
                    FROM embeddings),
         s AS (SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale FROM e),
         c AS (SELECT vec_id,
               CASE WHEN scale = 0 THEN list_transform(emb, x -> 0.0)
                    ELSE list_transform(emb, x -> round(x / scale)) END AS q
               FROM s),
         n AS (SELECT vec_id, q,
               sqrt(list_sum(list_transform(generate_series(1, len(q)), i -> q[i] * q[i]))) AS qn
               FROM c),
         qs AS (SELECT vec_id AS q_id, q AS q_q, qn AS q_qn FROM n WHERE vec_id < 10),
         scored AS (SELECT qs.q_id, n.vec_id AS n_id,
           list_sum(list_transform(generate_series(1, len(qs.q_q)), i -> qs.q_q[i] * n.q[i]))
             / (qs.q_qn * n.qn) AS qcos
           FROM n, qs WHERE n.vec_id <> qs.q_id),
         r AS (SELECT q_id, n_id, qcos,
               row_number() OVER (PARTITION BY q_id ORDER BY qcos DESC, n_id) AS rnk
               FROM scored)
         SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, qcos
         FROM r WHERE rnk <= 5 ORDER BY q_id, rnk""")),
    QuerySpec("q_knn_classify", (s, d) => Similarity.knnClassify(s, d), Oracle(
      // same cosine fold as q_ann_bruteforce; rank cut (cos DESC, n_id)
      // mirrors the TopKByAgg ordering key, vote tie-break (votes DESC,
      // label ASC) mirrors the max_by struct
      """WITH l AS (SELECT vec_id AS n_id, embedding AS n_emb, label AS n_label
                    FROM embeddings WHERE vec_id % 5 <> 0),
         q AS (SELECT vec_id, embedding AS q_emb, label AS true_label
               FROM embeddings WHERE vec_id % 5 = 0),
         scored AS (SELECT q.vec_id, q.true_label, l.n_id, l.n_label,
           list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(l.n_emb[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, len(l.n_emb)), i -> CAST(l.n_emb[i] AS DOUBLE) * CAST(l.n_emb[i] AS DOUBLE))))) AS cos
           FROM q, l),
         top AS (SELECT vec_id, true_label, n_label,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, n_id) AS rnk
                 FROM scored),
         votes AS (SELECT vec_id, true_label, n_label AS lab, count(*) AS votes
                   FROM top WHERE rnk <= 10 GROUP BY 1, 2, 3),
         pick AS (SELECT vec_id, true_label, lab, votes,
                  row_number() OVER (PARTITION BY vec_id ORDER BY votes DESC, lab) AS pr
                  FROM votes)
         SELECT vec_id, CAST(lab AS BIGINT) AS pred_label,
           CAST(true_label AS BIGINT) AS true_label, votes
         FROM pick WHERE pr = 1 ORDER BY vec_id""")),
    QuerySpec("q_ann_range", (s, d) => Similarity.rangeSearch(s, d), Oracle(
      // threshold range search: exact, so the oracle is the same scan
      """WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         scored AS (SELECT q.q_id, e.vec_id AS n_id,
           list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
           FROM embeddings e, q WHERE e.vec_id <> q.q_id)
         SELECT q_id, n_id, cos FROM scored
         WHERE cos >= 0.2 ORDER BY q_id, n_id""")),
    QuerySpec("q_knn_centroid", (s, d) => Similarity.centroidClassify(s, d), Oracle(
      // nearest-class-centroid classification: per-label mean embedding
      // quantized to 6 decimals on both engines (distributed avg is
      // summation-order sensitive in its last bits; the quantization
      // absorbs it — the BM25 DECIMAL precedent), then cosines over the
      // identical prototypes match bit-exactly
      """WITH lab AS (SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 5 <> 0),
         pr AS (SELECT label, i AS pos, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mq
                FROM lab, unnest(generate_series(1, len(embedding))) t(i)
                GROUP BY label, i),
         proto AS (SELECT label, list(mq ORDER BY pos) AS c_emb FROM pr GROUP BY label),
         q AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS true_label
               FROM embeddings WHERE vec_id % 5 = 0),
         scored AS (SELECT q.vec_id, q.true_label, CAST(p.label AS BIGINT) AS c_label,
           list_sum(list_transform(generate_series(1, len(q.embedding)), i -> CAST(q.embedding[i] AS DOUBLE) * p.c_emb[i]))
           / (sqrt(list_sum(list_transform(generate_series(1, len(q.embedding)), i -> CAST(q.embedding[i] AS DOUBLE) * CAST(q.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, len(p.c_emb)), i -> p.c_emb[i] * p.c_emb[i])))) AS cos
           FROM q, proto p),
         r AS (SELECT vec_id, true_label, c_label, cos,
               row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, c_label) AS rn
               FROM scored)
         SELECT vec_id, c_label AS pred_label, true_label, cos AS score
         FROM r WHERE rn = 1 ORDER BY vec_id""")),
    // the IVF scale path: centroids are Spark-trained (not DuckDB-
    // expressible) → rows-only + the hash-gated parity companion
    QuerySpec("q_knn_classify_ivf", (s, d) => Similarity.knnClassifyIvf(s, d),
      CheckedBy("q_knn_classify_ivf_check")),
    QuerySpec("q_knn_classify_ivf_check", (s, d) => Checks.knnClassifyIvfCheck(s, d), Oracle(
      // IVF classify companion: the oracle knows the holdout count exactly
      // (every query must surface, uncovered ones as explicit nulls); the
      // parity/coverage floors vs the fully-oracled exact classifier are
      // the booleans pinned TRUE
      """SELECT count(*) AS n_queries, TRUE AS nulls_accounted,
           TRUE AS agree_ok, TRUE AS coverage_ok
         FROM embeddings WHERE vec_id % 5 = 0""")),
    QuerySpec("q_knn_classify_adc_check", (s, d) => Checks.adcClassifyCheck(s, d), Oracle(
      // ADC-regime parity companion (Checks.adcClassifyCheck): the code-scan
      // + exact-rerank classifier answers the same query set with identical
      // coverage and >= 0.7 covered-prediction agreement vs the exact
      // in-cell scan; n_queries (the holdout count) checks value-for-value
      """SELECT count(*) AS n_queries, TRUE AS coverage_same,
           TRUE AS agree_ok
         FROM embeddings WHERE vec_id % 5 = 0""")),
    QuerySpec("q_dedup_wideband_check", (s, d) => Checks.widebandRecallCheck(s, d), Oracle(
      // wide-band regime gate: the >20k fixture is synthesized INSIDE the
      // Spark query (deterministic xxhash64 coordinates + 50 planted
      // near-copies), so the oracle pins the fixture arithmetic and the
      // regime's promised recall/volume booleans
      "SELECT CAST(21050 AS BIGINT) AS n_vectors, CAST(50 AS BIGINT) AS n_planted, TRUE AS recall_ok, TRUE AS volume_ok, TRUE AS xrecall_ok, TRUE AS xvolume_ok")),
    // north-star: multimodal plumbing (stub decode, real Spark shape).
    // The registered query emits SCALAR feature columns (declarative,
    // oracle-hashable); the array-returning batched-decode path
    // (Multimodal.decodeFeatures) is the library API, spec-verified.
    QuerySpec("q_multimodal_features", (s, d) => Multimodal.featureColumns(s, d), Oracle(
      // ASCII-ONLY assumption: this oracle folds DuckDB characters/code
      // points while Spark's featureColumns folds UTF-8 bytes — equal only
      // while 1 char == 1 byte. TextMultimodalSpec asserts the fixture
      // satisfies length(text) == octet_length(text) so a non-ASCII
      // fixture change fails loudly, not silently.
      """SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_bytes,
         CAST(CASE WHEN length(text) = 0 THEN 0 ELSE ascii(text[1]) END AS BIGINT) AS f_first,
         CAST(CASE WHEN length(text) = 0 THEN 0 ELSE ascii(text[-1]) END AS BIGINT) AS f_last,
         CAST(CASE WHEN length(text) = 0 THEN 0
              ELSE list_reduce(list_transform(generate_series(1, length(text)), i -> ascii(text[i])),
                               (a, b) -> xor(a, b)) END AS BIGINT) AS f_xor
         FROM documents ORDER BY doc_id""")),
    QuerySpec("q_multimodal_frames", (s, d) =>
      Multimodal.frameSample(s, d).drop("frame"), Oracle(
      """WITH t AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n FROM documents),
         f AS (SELECT doc_id, n, unnest(generate_series(0, CAST(ceil(n / 256.0) AS BIGINT) - 1)) AS frame_idx FROM t)
         SELECT doc_id, frame_idx, least(64, n - frame_idx * 256) AS frame_len
         FROM f ORDER BY doc_id, frame_idx""")),
    // §2.1 generator + streaming
    QuerySpec("q_gen_ticks", (s, d) => graft.gen.Ticks.generate(s, Seq("AAPL", "MSFT", "GOOG"), 2000L),
      CheckedBy("q_gen_ticks_invariants")),
    // the walk itself is xxhash64-seeded (not DuckDB-expressible), but
    // its CONTRACT is: per-symbol cardinality, the 100 ms timestamp
    // arithmetic as a projection of i, and the reference's price/volume
    // domains all hash-check against first-principles values
    QuerySpec("q_gen_ticks_invariants", (s, d) => {
      import org.apache.spark.sql.functions._
      graft.gen.Ticks.generate(s, Seq("AAPL", "MSFT", "GOOG"), 2000L)
        .groupBy(col("symbol"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("timestamp")).as("n_ts"),
          date_format(min(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSS").as("ts_first"),
          date_format(max(col("timestamp")), "yyyy-MM-dd HH:mm:ss.SSS").as("ts_last"),
          (min(col("price")) > 0.0).as("price_positive"),
          (min(col("volume")) >= 100000L && max(col("volume")) <= 500000L)
            .as("volume_in_domain"))
        .orderBy(col("symbol"))
    }, Oracle(
      // the generator's hash-seeded walk isn't DuckDB-expressible, but its
      // contract is: DuckDB re-derives per-symbol cardinality, the 100 ms
      // timestamp arithmetic (epoch + i*100ms for i in [0, 2000)), and the
      // reference's price/volume domain checks from FIRST PRINCIPLES — a
      // generator bug (wrong cadence, off-by-one count, domain escape,
      // duplicate timestamps) flips this hash
      """SELECT symbol, CAST(2000 AS BIGINT) AS n, CAST(2000 AS BIGINT) AS n_ts,
         strftime(TIMESTAMP '2024-01-01 00:00:00', '%Y-%m-%d %H:%M:%S.%g') AS ts_first,
         strftime(TIMESTAMP '2024-01-01 00:00:00' + INTERVAL 100 MILLISECOND * 1999,
           '%Y-%m-%d %H:%M:%S.%g') AS ts_last,
         TRUE AS price_positive, TRUE AS volume_in_domain
         FROM (VALUES ('AAPL'), ('GOOG'), ('MSFT')) AS t(symbol) ORDER BY symbol""")),
    QuerySpec("q_stream_pipeline", (s, d) => graft.streaming.Pipeline.streamPipeline(s, d), Oracle(
      // the stream pipeline's final output IS the last-5 linear prediction
      // per series over the full event stream (stream == batch parity,
      // also asserted in StreamingSpec), so the batch oracle applies
      last5LinearOracleSql)),
    QuerySpec("q_event_window", (s, d) => graft.streaming.Pipeline.eventTimeWindow(s, d), Oracle(
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM events GROUP BY 1, 2 ORDER BY day, event_type""")),
    QuerySpec("q_stream_drift", (s, d) => graft.streaming.Pipeline.streamDrift(s, d), Oracle(
      // streaming PSI: the drained per-(day, series, bin) integer counts
      // equal the batch windowed counts (the q_event_window guarantee),
      // so the oracle recomputes the same daily PSI from events directly
      """WITH sp AS (SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events),
         t AS (SELECT event_type, value, ts, (2 * epoch_us(ts) <= mn + mx) AS is_ref
               FROM events, sp),
         rg AS (SELECT event_type, min(value) AS vmn, max(value) AS vmx
                FROM t WHERE is_ref GROUP BY event_type),
         rbin AS (SELECT t.event_type,
                 CASE WHEN vmx > vmn
                      THEN CAST(least(greatest(floor((value - vmn) / ((vmx - vmn) / 10.0)), 0), 9) AS BIGINT)
                      ELSE 0 END AS bin
               FROM t JOIN rg USING (event_type) WHERE is_ref),
         rcells AS (SELECT event_type, bin, count(*) AS ca FROM rbin GROUP BY 1, 2),
         rtot AS (SELECT event_type, count(*) AS na FROM t WHERE is_ref GROUP BY 1),
         pref AS (SELECT fr.event_type, fr.bin,
                 (coalesce(ca, 0) + 0.5) / (na + 5.0) AS p_ref
               FROM (SELECT rg.event_type, bb.bin
                     FROM rg, (SELECT unnest(generate_series(0, 9)) AS bin) bb) fr
               LEFT JOIN rcells c ON fr.event_type = c.event_type AND fr.bin = c.bin
               JOIN rtot ON fr.event_type = rtot.event_type),
         cbin AS (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, t.event_type,
                 CASE WHEN vmx > vmn
                      THEN CAST(least(greatest(floor((value - vmn) / ((vmx - vmn) / 10.0)), 0), 9) AS BIGINT)
                      ELSE 0 END AS bin
               FROM t JOIN rg USING (event_type)),
         cells AS (SELECT day, event_type, bin, count(*) AS n FROM cbin GROUP BY 1, 2, 3),
         fr2 AS (SELECT dt.day, dt.event_type, bb.bin
               FROM (SELECT DISTINCT day, event_type FROM cells) dt,
                    (SELECT unnest(generate_series(0, 9)) AS bin) bb),
         tot AS (SELECT day, event_type, CAST(sum(n) AS BIGINT) AS nd FROM cells GROUP BY 1, 2),
         fl AS (SELECT fr2.day, fr2.event_type, fr2.bin, coalesce(n, 0) AS n, nd, p_ref
               FROM fr2
               LEFT JOIN cells c ON fr2.day = c.day AND fr2.event_type = c.event_type AND fr2.bin = c.bin
               JOIN tot ON fr2.day = tot.day AND fr2.event_type = tot.event_type
               JOIN pref ON fr2.event_type = pref.event_type AND fr2.bin = pref.bin),
         q AS (SELECT day, event_type, nd,
                 CAST((((n + 0.5) / (nd + 5.0)) - p_ref)
                   * ln(((n + 0.5) / (nd + 5.0)) / p_ref) AS DECIMAL(18,8)) AS psi_term
               FROM fl)
         SELECT day, event_type, CAST(max(nd) AS BIGINT) AS n_day,
           CAST(CAST(sum(psi_term) AS DECIMAL(18,8)) AS DOUBLE) AS psi
         FROM q GROUP BY day, event_type ORDER BY day, event_type""")),
    QuerySpec("q_stream_dedup", (s, d) => graft.streaming.Pipeline.streamDedup(s, d), Oracle(
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type")),
    QuerySpec("q_stream_dedup_wm", (s, d) => graft.streaming.Pipeline.streamDedupBounded(s, d), Oracle(
      // watermark-bounded streaming dedup: the derived delay spans the
      // whole staged corpus, so no state evicts mid-drain and the output
      // equals the batch DISTINCT (in production the delay is minutes and
      // the state store stays bounded — that is the point of the operator)
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type")),
    QuerySpec("q_stateful_predict", (s, d) => graft.streaming.Pipeline.statefulPredictions(s, d),
      CheckedBy("q_stateful_final")),
    QuerySpec("q_stateful_final", (s, d) => graft.streaming.Pipeline.statefulFinal(s, d), Oracle(
      // the stateful drain's final emission per series is computed from the
      // arrival-order-robust last-5 state, so it equals the batch last-5
      // prediction — the q_predict_next oracle (stream == batch parity as
      // a HASH row)
      last5LinearOracleSql)),
    QuerySpec("q_stream_metrics", (s, d) => graft.streaming.Pipeline.streamWithMetrics(s, d),
      CheckedBy("q_stream_metrics_conservation")),
    QuerySpec("q_stream_metrics_conservation", (s, d) => Checks.streamMetricsConservation(s, d), Oracle(
      "SELECT count(*) AS total_rows, TRUE AS has_batches FROM events")),
    QuerySpec("q_stream_join", (s, d) => graft.streaming.Pipeline.streamStreamJoin(s, d), Oracle(
      """SELECT p.event_id AS p_id, c.event_id AS c_id, c.value AS click_value
         FROM events p JOIN events c
           ON c.user_id = p.user_id
          AND p.event_type = 'purchase' AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         ORDER BY p_id, c_id""")),
    QuerySpec("q_stream_sliding", (s, d) => graft.streaming.Pipeline.slidingEventWindow(s, d), Oracle(
      // sliding 1d/12h windows: each event lands in exactly 2 epoch-aligned
      // windows (width/slide = 2), enumerated by the UNION ALL
      """WITH w AS (
           SELECT to_timestamp(CAST(floor(epoch(ts) / 43200) AS BIGINT) * 43200) AS ws,
                  event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events
           UNION ALL
           SELECT to_timestamp(CAST(floor(epoch(ts) / 43200) AS BIGINT) * 43200 - 43200) AS ws,
                  event_type, CAST(value AS DECIMAL(18,2)) AS v FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
           count(*) AS n, CAST(sum(v) AS DOUBLE) AS total
         FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""")),
    QuerySpec("q_stream_session", (s, d) => graft.streaming.Pipeline.streamSessionWindows(s, d), Oracle(
      // streaming merging session windows == the batch session_window
      // table (same >=-gap edge and end = last event + gap)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         l AS (SELECT user_id, event_id, us,
           CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
                 OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) >= 1800000000
                THEN 1 ELSE 0 END AS new_sess
           FROM e),
         s AS (SELECT user_id, us,
           CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_idx
           FROM l)
         SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
           count(*) AS n_events
         FROM s GROUP BY user_id, sess_idx ORDER BY user_id, start_us""")),
    QuerySpec("q_stream_outer_join", (s, d) => graft.streaming.Pipeline.streamOuterJoin(s, d), Oracle(
      // left-outer interval join: purchases null-extended when no
      // same-user click precedes within the hour
      """SELECT p.event_id AS p_id, c.event_id AS c_id, c.value AS click_value
         FROM events p LEFT JOIN events c
           ON c.user_id = p.user_id AND c.event_type = 'click'
          AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
         WHERE p.event_type = 'purchase'
         ORDER BY p_id, c_id""")),
  )

  /** The last-5 linear prediction per series over `events` — the oracle
    * of the batch query and of both stream forms of it
    * (`q_predict_next`, `q_stream_pipeline`, `q_stateful_final`). */
  private val last5LinearOracleSql =
    """WITH r AS (SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts DESC, event_id DESC) AS rn
         FROM events),
         lk AS (SELECT event_type,
           max(CASE WHEN rn = 1 THEN value END) AS last_v,
           max(CASE WHEN rn = 5 THEN value END) AS first_v,
           count(*) AS n
           FROM r WHERE rn <= 5 GROUP BY event_type)
         SELECT event_type, last_v + (last_v - first_v) / 4.0 AS predicted
         FROM lk WHERE n = 5 ORDER BY event_type"""

  /** Row identity of the windows derived inside the reference's bounded
    * fetch slice (`ORDER BY ts DESC LIMIT 10000`, `batch_processor.py:76`),
    * for the two LSTM companions: the slice CTE `s`, its per-series
    * `row_number` `t`, and the identity columns, followed by `tail` (the
    * companion's own columns, its FROM and its window-length filter). */
  private def fetchSliceWindowsOracleSql(tail: String): String =
    """WITH s AS (SELECT event_id, event_type, ts FROM events
           ORDER BY ts DESC, event_id DESC LIMIT 10000),
         t AS (SELECT event_id, event_type,
           row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
         FROM s)
         SELECT count(*) AS n_rows, count(DISTINCT event_type) AS n_series,
           min(event_id) AS min_id, max(event_id) AS max_id,
           """ + tail

  /** DECIMAL-exact sum fragment shared by several oracles. */
  private def dsum(col: String) = s"CAST(sum(CAST($col AS DECIMAL(18,2))) AS DOUBLE)"

  /** The fixed-point PageRank oracle, iterations unrolled as chained
    * CTEs from the SAME integer recurrence as ops.Behavior.pageRank:
    * contrib = r // deg (truncating — operands positive), then
    * r' = 150000000000 + (85·Σcontrib) // 100. The edge derivation is
    * the q_graph_triangles kNN build verbatim. */
  private def pageRankOracleSql: String = {
    val base =
      """WITH pd AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS d
           FROM events WHERE event_type = 'purchase'),
         c AS (SELECT a.user_id AS ua, b.user_id AS ub, count(*) AS n_days
               FROM pd a JOIN pd b ON a.d = b.d AND a.user_id < b.user_id
               GROUP BY 1, 2),
         sym AS (SELECT ua AS u, ub AS v, n_days FROM c
                 UNION ALL SELECT ub, ua, n_days FROM c),
         pick AS (SELECT u, v FROM (
             SELECT u, v, row_number() OVER (PARTITION BY u
               ORDER BY n_days DESC, v) AS rn FROM sym) t WHERE rn <= 3),
         e AS (SELECT DISTINCT least(u, v) AS ua, greatest(u, v) AS ub FROM pick),
         adj AS (SELECT ua AS u, ub AS v FROM e UNION ALL SELECT ub, ua FROM e),
         deg AS (SELECT u, count(*) AS deg FROM adj GROUP BY u),
         r0 AS (SELECT u, CAST(1000000000000 AS BIGINT) AS r FROM deg)"""
    val iters = (1 to graft.ops.Behavior.PageRankIters).map { i =>
      s""",
         r$i AS (SELECT a.v AS u,
             CAST(150000000000 + (85 * sum(p.r // d.deg)) // 100 AS BIGINT) AS r
           FROM adj a JOIN r${i - 1} p ON a.u = p.u JOIN deg d ON a.u = d.u
           GROUP BY a.v)"""
    }.mkString
    base + iters +
      s"""
         SELECT u AS user_id, r AS rank_units
         FROM r${graft.ops.Behavior.PageRankIters} ORDER BY user_id"""
  }
  private val revenue =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE)"

  /** Shared full-rebuild inverted-index oracle, PARAMETERIZED by the
    * document source (r16 verdict #1: "reusing the shared-constant
    * discipline (parameterized, since the corpus differs)"). One
    * generator binds the rebuild semantics for every index-lifecycle
    * entry — `q_index_postings` (full corpus), `q_index_delta`
    * (base ⊎ delta merged read), `q_stream_index` (streamed partials,
    * merged at read), and `q_index_delete` (the SURVIVING documents
    * after tombstoning) — so "X equals the rebuild over docs D, bit
    * for bit" can never drift per-entry. */
  private def indexRebuildOracleSqlOver(docsRel: String,
      withClause: String = "WITH "): String =
    raw"""${withClause}d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
                  FROM $docsRel),
       tk AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks)),
                i -> {'pos': i - 1, 'tok': toks[i]})) AS u FROM d),
       t AS (SELECT doc_id, u.pos AS pos, u.tok AS token FROM tk
             WHERE length(u.tok) > 0)
       SELECT token, doc_id // 100 AS block_id,
         count(DISTINCT doc_id) AS df_block, count(*) AS n_postings,
         string_agg(doc_id || ':' || pos, ' ' ORDER BY doc_id, pos) AS postings
       FROM t GROUP BY 1, 2 ORDER BY token, block_id"""

  private val indexPostingsOracleSql = indexRebuildOracleSqlOver("documents")

  /** The keep-best-per-cluster CTE chain (shingle Jaccard >= 0.5 pairs ->
    * transitive closure -> per-cluster quality argmax), ending in
    * `kept(cluster_id, kept_doc_id, kept_quality, n_members)`. ONE
    * constant consumed by BOTH `q_dedup_keep_best` and
    * `q_index_delete`'s survivor set — the tombstoned index's oracle
    * deletes exactly the documents the dedup oracle rejects, so the two
    * entries cannot drift apart. */
  private val keepBestCtesSql =
    raw"""arrs AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS arr FROM documents),
         sh AS (SELECT DISTINCT doc_id, arr[i] || ' ' || arr[i+1] || ' ' || arr[i+2] AS shingle
                FROM arrs, unnest(generate_series(1, greatest(0, len(arr) - 2))) t(i)),
         sizes AS (SELECT doc_id, count(*) AS ns FROM sh GROUP BY doc_id),
         inter AS (SELECT ta.doc_id AS id_a, tb.doc_id AS id_b, count(*) AS ni
                   FROM sh ta JOIN sh tb ON tb.shingle = ta.shingle AND tb.doc_id > ta.doc_id
                   GROUP BY 1, 2),
         pairs AS (SELECT id_a, id_b
                   FROM inter JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
                   WHERE CAST(ni AS DOUBLE) / (sa.ns + sb.ns - ni) >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
         ),
         comp AS (SELECT d.doc_id, least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS component
                  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
                  GROUP BY d.doc_id),
         b AS (SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars2,
           CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens,
           CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT) AS n_punct,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
         FROM documents),
         qual AS (SELECT doc_id,
           (CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE) / n_tokens ELSE 0.0 END) * 0.5
             + least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.3
             + (1.0 - CASE WHEN n_chars2 > 0 THEN CAST(n_punct AS DOUBLE) / n_chars2 ELSE 0.0 END) * 0.2
             AS quality_score
         FROM b),
         ranked AS (SELECT c.component AS cluster_id, q.doc_id, q.quality_score,
                    row_number() OVER (PARTITION BY c.component
                      ORDER BY q.quality_score DESC, q.doc_id) AS rn,
                    count(*) OVER (PARTITION BY c.component) AS n_members
                    FROM comp c JOIN qual q ON q.doc_id = c.doc_id),
         kept AS (SELECT cluster_id, doc_id AS kept_doc_id, quality_score AS kept_quality, n_members
                  FROM ranked WHERE rn = 1)"""

  /** Tombstone-masked index read == rebuild over the SURVIVING
    * documents (the `kept` set of [[keepBestCtesSql]]). */
  private val indexDeleteOracleSql = indexRebuildOracleSqlOver(
    "(SELECT dd.doc_id, dd.text FROM documents dd JOIN kept k ON k.kept_doc_id = dd.doc_id)",
    s"WITH RECURSIVE $keepBestCtesSql, ")

  /** Shared Okapi-BM25 oracle body for `q_bm25_topk` AND
    * `q_bm25_from_index`: the index-served path must score exactly what
    * the scan-served path scores, so both entries bind this one string —
    * the parity cannot drift (r15 ADVICE). */
  private def bm25OracleSqlOver(docsRel: String,
      withClause: String = "WITH "): String =
    raw"""${withClause}ex AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
                   FROM $docsRel),
       qt AS (SELECT unnest(['vector', 'hash', 'dup']) AS token),
       t AS (SELECT doc_id, token FROM ex
             WHERE length(token) > 0 AND token IN (SELECT token FROM qt)),
       dl AS (SELECT doc_id,
                CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                     x -> length(x) > 0)) AS BIGINT) AS dl
              FROM $docsRel),
       stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       df AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
       term AS (SELECT tf.doc_id,
           CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * (tf * 2.2)
                / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
             AS DECIMAL(18,8)) AS tscore
         FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id
         CROSS JOIN stats)
       SELECT doc_id, CAST(CAST(sum(tscore) AS DECIMAL(18,8)) AS DOUBLE) AS score,
              count(*) AS n_hits
       FROM term GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 10"""

  private val bm25OracleSql = bm25OracleSqlOver("documents")

  /** BM25 over the tombstone-masked index == BM25 over the surviving
    * documents: the SAME parameterized scoring SQL, over the `kept`
    * survivor set of [[keepBestCtesSql]] — tf, df, norms AND corpus
    * stats all survivor-scoped. */
  private val bm25LiveOracleSql = bm25OracleSqlOver(
    "(SELECT dd.doc_id, dd.text FROM documents dd JOIN kept kk ON kk.kept_doc_id = dd.doc_id)",
    s"WITH RECURSIVE $keepBestCtesSql, ")

  /** The sign-band near-dup pair CTE chain (8 bands × 8 sign bits as
    * candidate generator, exact cosine verify, threshold 0.4), ending in
    * `dups(id_a, id_b, cos)` — mirrors Similarity.embedNearDupLsh
    * exactly. ONE constant consumed by `q_dedup_embed`, `q_ann_live`'s
    * survivor set, AND `q_ann_pq_live_check`'s truth cardinality — the
    * vector tombstone rule is the dedup oracle's loser set by
    * construction, so the entries cannot drift (the [[keepBestCtesSql]]
    * discipline applied to the embedding store). */
  private val embedDupCtesSql =
    """b AS (
           SELECT vec_id, t,
             CAST((embedding[8*t+1] >= 0) AS INT) + 2*CAST((embedding[8*t+2] >= 0) AS INT)
             + 4*CAST((embedding[8*t+3] >= 0) AS INT) + 8*CAST((embedding[8*t+4] >= 0) AS INT)
             + 16*CAST((embedding[8*t+5] >= 0) AS INT) + 32*CAST((embedding[8*t+6] >= 0) AS INT)
             + 64*CAST((embedding[8*t+7] >= 0) AS INT) + 128*CAST((embedding[8*t+8] >= 0) AS INT) AS key
           FROM embeddings, unnest(generate_series(0, 7)) AS s(t)),
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
                  FROM b a JOIN b b2 ON b2.t = a.t AND b2.key = a.key AND b2.vec_id > a.vec_id),
         sc AS (SELECT id_a, id_b,
             list_sum(list_transform(generate_series(1, len(ea.embedding)), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, len(ea.embedding)), i -> CAST(ea.embedding[i] AS DOUBLE) * CAST(ea.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, len(eb.embedding)), i -> CAST(eb.embedding[i] AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE))))) AS cos
           FROM cand JOIN embeddings ea ON ea.vec_id = id_a JOIN embeddings eb ON eb.vec_id = id_b),
         dups AS (SELECT id_a, id_b, cos FROM sc WHERE cos >= 0.4)"""

  /** Brute-force truth over the SURVIVOR vectors — `q_ann_live`:
    * `q_ann_bruteforce`'s exact scoring body with queries and neighbors
    * drawn from embeddings minus the tombstone set (the `dups` losers of
    * [[embedDupCtesSql]]). Value-oracled: mask-at-read ≡ rebuild over
    * survivors, for vectors. */
  private val annLiveOracleSql =
    s"""WITH $embedDupCtesSql,
         tomb AS (SELECT DISTINCT id_b AS vec_id FROM dups),
         live AS (SELECT vec_id, embedding FROM embeddings
                  WHERE vec_id NOT IN (SELECT vec_id FROM tomb)),
         q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM live WHERE vec_id < 10),
         scored AS (SELECT q.q_id, e.vec_id AS n_id,
           list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(generate_series(1, len(q.q_emb)), i -> CAST(q.q_emb[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))) AS cos
           FROM live e, q WHERE e.vec_id <> q.q_id),
         r AS (SELECT q_id, n_id, cos,
               row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rnk
               FROM scored)
         SELECT q_id, CAST(rnk AS BIGINT) AS rnk, n_id, cos
         FROM r WHERE rnk <= 5 ORDER BY q_id, rnk"""

  /** Shared multi-query RAG oracle body for `q_rag_retrieve` AND
    * `q_rag_from_index` — same structural-parity discipline as
    * [[bm25OracleSql]]: the index-served retrieval must produce exactly
    * the scan-served packing, so both entries bind one string. */
  private val ragOracleSql =
    """WITH qm AS (SELECT CAST(v.query_id AS BIGINT) AS query_id, v.token
                   FROM (VALUES (1, 'vector'), (1, 'hash'), (1, 'dup'),
                                (2, 'stream'), (2, 'batch'), (2, 'window'),
                                (3, 'customer'), (3, 'order'), (3, 'join'))
                     AS v(query_id, token)),
       ex AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
              FROM documents),
       t AS (SELECT doc_id, token FROM ex
             WHERE length(token) > 0 AND token IN (SELECT token FROM qm)),
       dl AS (SELECT doc_id,
                CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                                     x -> length(x) > 0)) AS BIGINT) AS dl
              FROM documents),
       stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       df AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
       term AS (SELECT qm.query_id, tf.doc_id,
           CAST(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                * (tf * 2.2)
                / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
             AS DECIMAL(18,8)) AS tscore
         FROM tf JOIN df USING (token) JOIN dl ON tf.doc_id = dl.doc_id
         CROSS JOIN stats JOIN qm ON qm.token = tf.token),
       sc AS (SELECT query_id, doc_id,
              CAST(CAST(sum(tscore) AS DECIMAL(18,8)) AS DOUBLE) AS score
              FROM term GROUP BY 1, 2),
       rk AS (SELECT query_id, doc_id, score,
              row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
              FROM sc),
       nt AS (SELECT doc_id,
              CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(string_split_regex(lower(trim(text)), '\s+')) END AS BIGINT) AS n_tokens
              FROM documents),
       packed AS (SELECT r.query_id, CAST(r.rnk AS BIGINT) AS rnk, r.doc_id,
              r.score, nt.n_tokens,
              CAST(sum(nt.n_tokens) OVER (PARTITION BY r.query_id ORDER BY r.rnk
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              FROM rk r JOIN nt ON nt.doc_id = r.doc_id WHERE r.rnk <= 5)
       SELECT query_id, rnk, doc_id, score, n_tokens, cum_tokens FROM packed
       WHERE cum_tokens <= 300 ORDER BY query_id, rnk"""
}
