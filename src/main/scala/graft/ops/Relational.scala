package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Core relational operators: scan/filter/project, sort, top-k, set ops,
  * distinct (SURVEY.md §2.2, §2.6, §2.7).
  *
  * The reference's batch path does a manual sort+limit pushdown into MySQL
  * (`batch_processor.py:72-79`: `ORDER BY timestamp DESC LIMIT 10000`) and a
  * driver-side re-sort ascending (`batch_processor.py:114`). Here the whole
  * chain is one Catalyst plan: `orderBy(desc).limit(n)` compiles to
  * `TakeOrderedAndProject` — a per-partition top-k + driver merge, no full
  * shuffle sort. At 100 TB each task keeps only its local top-n heap, so the
  * operator moves O(n × partitions) rows, not the whole table.
  */
object Relational {

  /** Projection + row filter (generalizes reference P5, which projects the
    * price series, `stream_consumer.py:73`). Filter + projection both push
    * into the parquet scan (PushedFilters / ReadSchema in explain). */
  def scanFilter(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("event_id"))

  /** Hive-style PARTITIONED layout + partition-pruned scan: the events
    * table is staged once per events fingerprint, partitioned by event_type,
    * then a filter on the partition column prunes whole directories at
    * planning time (`PartitionFilters` in the plan — zero I/O for
    * non-matching partitions). At 100 TB this is the first line of
    * defense: a date/tenant partition column turns full-corpus scans
    * into slice scans before a single byte is read. The staging write
    * exists only because the fixtures are unpartitioned — production
    * data lands partitioned at ingest and pays nothing here.
    * RelationalSpec asserts the pruned plan; the oracle states the same
    * aggregate over the raw table. */
  def partitionedEventsDir(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "partitionedEventsDir") {
      val out = graft.Tuning.diskTmpDir("graft_part_").toString
      Tables.events(s, d)
        .write.mode("overwrite").partitionBy("event_type").parquet(out)
      out
    }

  def partitionPrunedDaily(s: SparkSession, d: String,
      eventType: String = "purchase"): DataFrame =
    s.read.parquet(partitionedEventsDir(s, d))
      .filter(col("event_type") === eventType)
      .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        Aggregates.dsum(col("value")).as("total"))
      .orderBy(col("day"))

  /** JSON-lines SOURCE path (S-row breadth): the events table staged
    * once as .jsonl (the reference's wire format, persisted), then read
    * back with an EXPLICIT schema — schema-on-read without inference
    * (an inference pass over 100 TB is a full extra scan) — and
    * aggregated. Timestamps round-trip as epoch micros (lossless;
    * ISO strings would re-parse through the session zone). Oracle states
    * the same aggregate over the original table. */
  def jsonlEventsDir(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "jsonlEventsDir") {
      val out = graft.Tuning.diskTmpDir("graft_jsonl_").toString
      Tables.events(s, d)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .write.mode("overwrite").json(out)
      out
    }

  /** Stage a SCHEMA-EVOLVED parquet dataset once per corpus: half the
    * events written with a LEGACY 2-column schema (event_id, value),
    * half with the evolved 3-column one (+event_type) — the shape every
    * long-lived lake table reaches as writers upgrade. Deterministic
    * split on event_id parity so the oracle can recompute from the
    * original table. */
  def evolvedEventsDirs(s: SparkSession, d: String): (String, String) = {
    val root = Tables.artifact(s, d, Seq("events"), "evolvedEventsDirs") {
      val out = graft.Tuning.diskTmpDir("graft_evo_").toString
      val e = Tables.events(s, d)
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("value"))
        .write.mode("overwrite").parquet(out + "/legacy")
      e.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(out + "/evolved")
      out
    }
    (root + "/legacy", root + "/evolved")
  }

  /** SCHEMA-EVOLUTION read: `mergeSchema` unions the per-file schemas,
    * legacy rows surface the missing column as NULL (no rewrite of old
    * files, no failure), and the query runs over the union — grouped
    * here with NULLs bucketed as '_legacy' so the evolution is visible
    * in the output. At 100 TB this is how a lake table adds a column:
    * footer-merge at planning time, zero data movement. */
  def evolvedSourceSummary(s: SparkSession, d: String): DataFrame = {
    val (legacy, evolved) = evolvedEventsDirs(s, d)
    s.read.option("mergeSchema", "true").parquet(legacy, evolved)
      .groupBy(coalesce(col("event_type"), lit("_legacy")).as("etype"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        Aggregates.dsum(col("value")).as("total"))
      .orderBy(col("etype"))
  }

  def jsonlSourceSummary(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))
    s.read.schema(schema).json(jsonlEventsDir(s, d))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        Aggregates.dsum(col("value")).as("total"))
      .orderBy(col("event_type"))
  }

  /** SQL-text surface: the SAME ANSI SQL string runs verbatim through
    * `spark.sql` here and through DuckDB as its own oracle — the
    * portability contract of declaring plans in SQL over registered
    * views. */
  val RevenueByYearPrioritySql: String =
    """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
       FROM orders GROUP BY 1, 2 ORDER BY 1, 2"""

  def sqlRevenueByYearPriority(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(RevenueByYearPrioritySql)
  }

  /** Multi-join SQL-text surface, TPC-H Q3 shape (shipping priority):
    * 3-way join, selective dim filter, grouped decimal revenue, top-10.
    * The SAME string runs through spark.sql and DuckDB; Catalyst's
    * value-add is join ordering + broadcast selection + pushing the
    * date/mktsegment predicates into all three scans. (The fixture has
    * no o_shippriority column; o_orderpriority stands in.) */
  val ShippingPrioritySql: String =
    """SELECT l_orderkey AS orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS STRING) AS orderdate, o_orderpriority AS priority
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate < DATE '1997-01-01' AND l_shipdate > DATE '1997-01-01'
       GROUP BY l_orderkey, o_orderdate, o_orderpriority
       ORDER BY revenue DESC, orderkey LIMIT 10"""

  /** TPC-H Q5 shape (local-supplier volume): SIX-way join through two
    * dimension chains that must meet on nationkey, region filter at the
    * far end. The optimizer stress test of the SQL surface — a bad join
    * order multiplies the fact table through unfiltered dims. Same text
    * both engines. */
  val LocalSupplierVolumeSql: String =
    """SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA' AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
       GROUP BY n_name ORDER BY revenue DESC, n_name"""

  private def tpchViews(s: SparkSession, d: String): Unit = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    Tables.supplier(s, d).createOrReplaceTempView("supplier")
    Tables.nation(s, d).createOrReplaceTempView("nation")
    Tables.region(s, d).createOrReplaceTempView("region")
    Tables.part(s, d).createOrReplaceTempView("part")
  }

  /** TPC-H Q19 shape (disjunctive discounted revenue): a fact⋈dim join
    * whose predicate is an OR of brand/size/quantity conjunct triples —
    * the classic disjunctive-pushdown test. Catalyst must (a) extract
    * the COMMON conjuncts of the disjunction for scan pushdown (every
    * branch bounds p_size ≥ 1 and l_quantity ≤ 30, so both scans get a
    * residual range filter even though no single branch applies to all
    * rows) and (b) keep the join an equi-join on partkey with the OR as
    * a post-join residual — a naive planner degrades to a cartesian
    * with the whole predicate as a filter. Same SQL text both engines;
    * the spec asserts the physical join stayed keyed. */
  val DisjunctiveRevenueSql: String =
    """SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
       FROM lineitem, part
       WHERE p_partkey = l_partkey
         AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 45 AND l_quantity BETWEEN 20 AND 30))
       GROUP BY p_brand ORDER BY p_brand"""

  def sqlDisjunctiveRevenue(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(DisjunctiveRevenueSql)
  }

  def sqlShippingPriority(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(ShippingPrioritySql)
  }

  def sqlLocalSupplierVolume(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(LocalSupplierVolumeSql)
  }

  /** Correlated-subquery surface (same SQL text, both engines): a
    * correlated EXISTS plus two correlated scalar subqueries (COUNT and
    * MAX). Catalyst must DECORRELATE all three — the EXISTS into a left
    * semi join, each scalar aggregate into a left outer join over a
    * grouped subplan (including the COUNT-over-empty-group null→0 edge)
    * — because per-row subquery re-execution is not an executable plan
    * shape in Spark at all. RelationalSpec asserts the optimized plan is
    * pure joins with no surviving correlated predicate. */
  val CorrelatedCustomerSql: String =
    """SELECT c_custkey, c_name,
       CAST((SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders,
       (SELECT max(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = c.c_custkey) AS max_price
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o3
                     WHERE o3.o_custkey = c.c_custkey
                       AND o3.o_orderpriority = '1-URGENT')
       ORDER BY c_custkey"""

  def sqlCorrelatedCustomer(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("customer")
    Tables.orders(s, d).createOrReplaceTempView("orders")
    s.sql(CorrelatedCustomerSql)
  }

  /** TPC-H Q4 shape (late orders by priority): an aggregation over a
    * correlated EXISTS whose predicate compares an inner column against
    * an OUTER-derived expression (`l_shipdate > o_orderdate + 60 days`)
    * — decorrelation must carry the non-equi condition into the semi
    * join, not just the orderkey equality. At scale the semi join
    * shuffles only (orderkey, shipdate) off the fact table and the date
    * range prunes orders at the scan. Same text both engines. */
  val LateOrdersSql: String =
    """SELECT o_orderpriority AS priority, count(*) AS n_orders
       FROM orders
       WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1997-07-01'
         AND EXISTS (SELECT 1 FROM lineitem
                     WHERE l_orderkey = o_orderkey
                       AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY o_orderpriority ORDER BY priority"""

  def sqlLateOrders(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(LateOrdersSql)
  }

  /** TPC-H Q11 shape (important-nation value): a grouped aggregate
    * filtered against an UNCORRELATED scalar subquery over the same
    * fact table — the global sum plans as its own one-row subplan,
    * broadcast into the HAVING-style filter. Both sums route through
    * DECIMAL(18,2) so the threshold comparison is exact on both
    * engines. Same text both engines. */
  val NationValueSql: String =
    """SELECT n_name, value FROM (
         SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value
         FROM lineitem, supplier, nation
         WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
         GROUP BY n_name) t
       WHERE value > (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) FROM lineitem) * 0.04
       ORDER BY value DESC, n_name"""

  def sqlNationValue(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(NationValueSql)
  }

  /** TPC-H Q14 shape (promo revenue share): conditional aggregation —
    * one pass computes both the CASE-gated numerator and the total, so
    * the ratio costs a single fact⋈dim join, not two. Numerator and
    * denominator are exact decimals cast to DOUBLE before the one
    * double division (bit-deterministic given identical operands);
    * no decimal-division scale rules are relied on cross-engine. */
  val PromoShareSql: String =
    """SELECT CAST(promo_revenue AS DOUBLE) AS promo_revenue,
         CAST(total_revenue AS DOUBLE) AS total_revenue,
         100.0 * CAST(promo_revenue AS DOUBLE) / CAST(total_revenue AS DOUBLE) AS promo_pct
       FROM (
         SELECT sum(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo_revenue,
                sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS total_revenue
         FROM lineitem, part
         WHERE l_partkey = p_partkey
           AND l_shipdate >= DATE '1997-09-01' AND l_shipdate < DATE '1997-12-01') t"""

  def sqlPromoShare(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(PromoShareSql)
  }

  /** TPC-H Q16 shape (supplier count by part attributes): COUNT
    * DISTINCT over a NOT IN anti-join — the distinct plans as a
    * two-level aggregate (group ∪ suppkey first, then count), so no
    * per-group distinct set survives in memory; the NOT IN side is a
    * broadcast null-aware anti join against the tiny supplier slice.
    * Same text both engines. */
  val SupplierPartsSql: String =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem, part
       WHERE p_partkey = l_partkey AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  def sqlSupplierParts(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(SupplierPartsSql)
  }

  /** TPC-H Q21 shape (suppliers who kept others waiting): the
    * hardest decorrelation in the TPC-H suite — a correlated EXISTS
    * (another supplier on the same order) AND a correlated NOT EXISTS
    * with a non-equi inner predicate (no LATER ship on the same order
    * from someone else) over the same fact table, three logical scans
    * of lineitem meeting on orderkey. Catalyst plans semi + anti joins
    * keyed on orderkey with the inequality as residual; the per-order
    * row groups are bounded (7 lines max), so no skew. Same text both
    * engines. */
  /** Q21-style "waiting supplier", DECORRELATED (r18, guide §3): the
    * EXISTS/NOT-EXISTS form planned as one lineitem scan PLUS two full
    * lineitem BROADCASTS (LeftSemi + LeftAnti build sides) — a plan
    * that cannot exist at 100 TB (the build side is the corpus) and
    * scanned lineitem three times. Equivalent aggregate form:
    * per (order, supplier) take smax = max(l_shipdate); per order take
    * m1 = max(smax), its multiplicity, the second distinct value m2,
    * and the supplier count. For a line l1 of supplier s:
    *   EXISTS other-supplier line            ⟺ n_supp ≥ 2
    *   NOT EXISTS other-supplier line with
    *   d3 > d1                               ⟺ (other_max > d1) IS NOT
    *   TRUE, where other_max = m2 if s uniquely attains m1, else m1.
    * The IS NOT TRUE form (not `<=`) keeps NULL shipdates faithful to
    * the correlated original: a NULL d1 or an all-NULL other side can
    * never satisfy `d3 > d1`, so those lines stay KEPT. Each l1 line is
    * still counted individually, so numwait is row-identical to the
    * correlated form — the DuckDB oracle (which keeps the original
    * EXISTS formulation) verifies the rewrite value-exactly. Plan:
    * 2 pruned lineitem scans, (order,supplier)-scale windows, no
    * corpus-scale broadcast. */
  val WaitingSupplierSql: String =
    """WITH per_os AS (
         SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
         FROM lineitem GROUP BY l_orderkey, l_suppkey
       ), w1 AS (
         SELECT l_orderkey, l_suppkey, smax,
                max(smax)  OVER (PARTITION BY l_orderkey) AS m1,
                count(*)   OVER (PARTITION BY l_orderkey) AS n_supp
         FROM per_os
       ), oth AS (
         SELECT l_orderkey, l_suppkey, n_supp,
                CASE WHEN smax = m1
                      AND sum(CASE WHEN smax = m1 THEN 1 ELSE 0 END)
                            OVER (PARTITION BY l_orderkey) = 1
                     THEN max(CASE WHEN smax < m1 THEN smax END)
                            OVER (PARTITION BY l_orderkey)
                     ELSE m1 END AS other_max
         FROM w1
       )
       SELECT s_name, count(*) AS numwait
       FROM lineitem l1
       JOIN orders   ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
       JOIN oth      ON oth.l_orderkey = l1.l_orderkey
                    AND oth.l_suppkey = l1.l_suppkey
       JOIN supplier ON s_suppkey = l1.l_suppkey
       WHERE oth.n_supp >= 2
         AND (oth.other_max > l1.l_shipdate) IS NOT TRUE
       GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"""

  def sqlWaitingSupplier(s: SparkSession, d: String): DataFrame = {
    tpchViews(s, d); s.sql(WaitingSupplierSql)
  }

  /** count(*) — reference A1 (`batch_processor.py:82`). */
  def countAll(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(count(lit(1)).as("n"))

  /** JOIN-KEY SKEW audit — the diagnostic you run BEFORE choosing
    * between the plain and the salted join (`q_join_skew_salted`):
    * top-k hottest values of a join key with each key's share of the
    * table and its ratio to the mean key load. One partial-aggregating
    * groupBy to per-key counts, a TakeOrderedAndProject top-k, and a
    * one-row broadcast of the global stats — nothing scales with the
    * key cardinality except the count table itself. */
  def keySkew(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val cnts = Tables.lineitem(s, d)
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
    val stats = cnts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"),
      max(col("cnt")).as("max_cnt"))
    cnts.orderBy(col("cnt").desc, col("l_partkey")).limit(k)
      .crossJoin(broadcast(stats))
      .select(col("l_partkey"), col("cnt"),
        (col("cnt").cast(DoubleType) / col("total").cast(DoubleType)).as("share"),
        (col("cnt").cast(DoubleType) * col("n_keys").cast(DoubleType) /
          col("total").cast(DoubleType)).as("skew_vs_mean"),
        col("n_keys"), col("max_cnt"))
      .orderBy(col("cnt").desc, col("l_partkey"))
  }

  /** Top-k by time desc, emitted ascending — the reference's composed
    * "latest 10000, ascending" semantics (`batch_processor.py:76,114`).
    * Catalyst plans the desc+limit as TakeOrderedAndProject. */
  def orderByLimit(s: SparkSession, d: String, k: Int = 5000): DataFrame =
    Tables.events(s, d)
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(k)
      .select(col("event_id"), col("value"))
      .orderBy(col("event_id"))

  /** Full sort by (shipdate, key, line) — reference O1
    * (`stream_consumer.py:72` orderBy(timestamp)). Range-partitioned
    * exchange + per-partition sort; no driver collect. */
  def sortByShipdate(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_d"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      .orderBy(col("ship_d"), col("l_orderkey"), col("l_linenumber"))

  /** Deterministic STRATIFIED downsampling to class balance: every
    * stratum (event_type) is thinned toward a common target — half the
    * rarest stratum's count, so even the rarest class is genuinely
    * sampled — by a per-row hash threshold: keep iff the top 32 bits of
    * rolling_hash('strat#' || event_id || '#v1') fall under
    * floor(½·n_min/n_t · 2³²). The salt+SUFFIX matter: hashing the bare
    * digit string leaves short ids' deltas in the LOW bits (the top-32
    * test would keep everything); a trailing suffix multiplies id deltas
    * by B^|suffix| mod 2⁶⁴, equidistributing the top bits (measured
    * ±0.15% per decile over 100k ids). The training-set resampling
    * primitive at 100 TB: NO shuffle of the fact side at all (the 5-row
    * rate table broadcasts; the filter is a codegen'd expression any
    * executor evaluates from the row alone), unlike per-group
    * sort/row_number sampling which funnels each hot stratum through one
    * sort task. Deterministic in the key → stable across retries/reruns,
    * and exactly mirrorable in SQL (rows-exact oracle, not a
    * statistical check). */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    graft.functions.Native.register(s)
    val ev = Tables.events(s, d)
    val prof = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val nMin = prof.agg(min(col("n_t")).as("n_min"))
    val rates = prof.crossJoin(broadcast(nMin))
      .select(col("event_type"),
        floor(col("n_min").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_t").cast(org.apache.spark.sql.types.DoubleType) *
          lit(0.5) * lit(4294967296.0)).as("thresh"))
    ev.select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(rates), Seq("event_type"))
      .filter(shiftrightunsigned(
        graft.functions.Native.rollingHash(
          concat(lit("strat#"),
            col("event_id").cast(org.apache.spark.sql.types.StringType),
            lit("#v1"))),
        32) < col("thresh"))
      .select(col("event_type"), col("event_id"), col("value"))
      .orderBy(col("event_type"), col("event_id"))
  }

  /** NEGATIVE SAMPLING for training-pair assembly: for every customer,
    * up to k parts they have NEVER ordered — the standard negatives
    * generator of recommendation / contrastive training data. The naive
    * formulation is `customer × part ANTI JOIN observed` — a cartesian
    * the planner must never see. This plan is candidate-generative and
    * coordination-free:
    *   1. each customer expands to `slots` candidate part ids via the
    *      deterministic content hash (same `rollingHash` discipline as
    *      [[stratifiedSample]]/[[weightedSample]] — any worker derives
    *      the same candidates from the key alone; no RNG state, and the
    *      uniform hash means NO hot part key);
    *   2. candidates dedupe per (customer, part) keeping the smallest
    *      slot (map-side combined — O(customers·slots) slim rows);
    *   3. one LEFT ANTI equi-join against the distinct observed
    *      (custkey, partkey) pairs — ids only ever shuffle, and the
    *      observed-pairs distinct is itself partial-aggregated;
    *   4. rank by slot within customer (≤ slots rows per group — the
    *      window is bounded by construction) and keep k.
    * Yield contract: a candidate colliding with an observed pair or a
    * duplicate slot is dropped, so `slots − k` is the slack; with
    * uniform candidates the miss rate is |observed per customer| /
    * |parts|, so slots = 2k holds k output rows per customer unless a
    * customer has ordered a large fraction of the whole catalog (at
    * which point negatives are scarce by definition, and the operator
    * honestly emits fewer). Deterministic end-to-end → value-exact
    * DuckDB oracle. */
  def negativeSample(s: SparkSession, d: String, k: Int = 5,
      slots: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{LongType, StringType}
    graft.functions.Native.register(s)
    val nParts = Tables.part(s, d).agg(count(lit(1)).as("n_parts"))
    val candRaw = Tables.customer(s, d).select(col("c_custkey"))
      .select(col("c_custkey"), explode(sequence(lit(0), lit(slots - 1))).as("slot"))
      .crossJoin(broadcast(nParts))
      .select(col("c_custkey"), col("slot"),
        // part keys are dense 0..n_parts-1 in the fixture, so the
        // hash maps straight onto the catalog
        pmod(shiftrightunsigned(
          graft.functions.Native.rollingHash(
            concat(lit("negs#"), col("c_custkey").cast(StringType), lit("#"),
              col("slot").cast(StringType), lit("#v1"))), 32),
          col("n_parts")).as("p_partkey"))
    val cand = candRaw
      .groupBy(col("c_custkey"), col("p_partkey"))
      .agg(min(col("slot")).as("slot"))
    // BLOOM PRE-FILTER of the observed side (§3.2): the anti-join only
    // ever needs observed pairs that collide with a CANDIDATE, and
    // candidates are ≤ slots per customer — a vanishing fraction of the
    // observed (customer, part) pairs. A Bloom filter over the combined
    // candidate key (xxhash64 of both columns — the same expression on
    // both sides, so an observed row matching a candidate can never be
    // a false negative) drops the rest BEFORE the distinct's exchange
    // and the anti-join's sort: the observed leg shrinks from every
    // distinct pair the corpus contains to candidate-collisions + the
    // fp rate. False positives only add rows the exact anti-join then
    // handles — the result is unchanged by construction. The filter is
    // built from the PRE-dedup candidate stream (duplicate inserts are
    // no-ops) so no extra exchange runs to build it.
    val nCust = Tables.rowCount(s, d, "customer")
    val bf = candRaw.select(xxhash64(col("c_custkey"), col("p_partkey")).as("ck"))
      .stat.bloomFilter("ck", math.max(nCust * slots, 1000L), 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightBeCand = udf((k: Long) => bfB.value.mightContainLong(k))
    val observed = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c_custkey"), col("l_partkey").as("p_partkey"))
      .filter(mightBeCand(xxhash64(col("c_custkey"), col("p_partkey"))))
      .distinct()
    val w = Window.partitionBy(col("c_custkey")).orderBy(col("slot"))
    cand.join(observed, Seq("c_custkey", "p_partkey"), "left_anti")
      .withColumn("rnk", row_number().over(w).cast(LongType))
      .filter(col("rnk") <= k)
      .select(col("c_custkey"), col("rnk"), col("p_partkey"))
      .orderBy(col("c_custkey"), col("rnk"))
  }

  /** DISTINCT (SURVEY A6). Partial (map-side) distinct then shuffle on the
    * group key — scales as the number of distinct pairs, not input rows. */
  def distinctPairs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"))
      .distinct()
      .orderBy(col("event_type"), col("user_id"))

  /** UNION ALL of two filtered slices (SURVEY §2.7). Spark union is
    * bag-semantics (= SQL UNION ALL); no shuffle at all. */
  def unionSlices(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.filter(col("event_type") === "click").select(col("event_id"), col("event_type"))
      .union(e.filter(col("value") > 150.0).select(col("event_id"), col("event_type")))
      .orderBy(col("event_id"), col("event_type"))
  }

  /** INTERSECT (distinct semantics, same as SQL). */
  def intersectUsers(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** EXCEPT (distinct semantics). */
  def exceptUsers(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    e.filter(col("event_type") === "error").select(col("user_id"))
      .except(e.filter(col("event_type") === "signup").select(col("user_id")))
      .orderBy(col("user_id"))
  }

  /** WEIGHT-PROPORTIONAL sampling (probability-proportional-to-size):
    * keep an event with P = ½ · k / k_max, where k is the integer
    * importance weight the event carries in its props JSON — the data-
    * mixing primitive of training-corpus assembly (upweight rare, high-
    * value slices; downweight boilerplate). Same engineering as
    * [[stratifiedSample]]: the keep test is a pure per-row expression —
    * top-32 hash bits of rolling_hash('wsamp#'||event_id||'#v1')
    * against a per-row threshold — so the fact table never shuffles;
    * only the 1-row k_max aggregate moves (a driver-side action, same
    * single scan the broadcast variant would run, and the value folds
    * into codegen as a literal). The comparison is INTEGER-exact
    * (hash32·k_max·2 < k·2³² with hash32 < 2³², so the left side stays
    * in Long iff k_max < 2³⁰ — no float boundary can flip a row between
    * engines), which is what makes a probabilistic sampler rows-exact
    * oracle-able. The k_max bound is ENFORCED, not assumed: the DuckDB
    * oracle computes the same test in HUGEINT, so a silently wrapping
    * Long here would diverge without an error — past the guard, widen
    * the Spark side to Decimal to match the oracle's unbounded
    * arithmetic. Deterministic in the key: retries, reruns, and both
    * engines keep exactly the same rows. */
  def weightedSample(s: SparkSession, d: String): DataFrame = {
    graft.functions.Native.register(s)
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast(org.apache.spark.sql.types.LongType).as("k"))
    // corpus-wide max weight: one full JSON-extraction scan of events
    // (~0.3 s at sf0.1), stored per events fingerprint
    val kMax = Tables.artifact(s, d, Seq("events"), "weightedSample.kMax")(
      java.lang.Long.valueOf(ev.agg(max(col("k"))).head().getLong(0))).longValue()
    require(kMax < (1L << 30),
      s"weightedSample keep-test runs in Long: hash32·k_max·2 wraps once " +
        s"k_max ≥ 2^30 (got $kMax) while the oracle computes in HUGEINT; " +
        "widen the comparison to Decimal before raising the weight range")
    ev.filter(shiftrightunsigned(
        graft.functions.Native.rollingHash(
          concat(lit("wsamp#"),
            col("event_id").cast(org.apache.spark.sql.types.StringType),
            lit("#v1"))), 32) * lit(kMax) * lit(2L)
        < col("k") * lit(4294967296L))
      .select(col("event_id"), col("event_type"), col("k"))
      .orderBy(col("event_id"))
  }

  /** Per-stratum FIXED-k sample: exactly k documents per source, chosen
    * by md5(doc_id) order — the "k examples from every domain" draw an
    * eval-set builder needs where a fractional sampler gives the wrong
    * guarantee (a rare stratum must still yield exactly k, a huge one
    * no more). The md5 order is a coordination-free uniform permutation
    * any worker recomputes from the id alone (the sampler-family rule),
    * and the keep-k plans as WindowGroupLimit partial → final: each map
    * task truncates to k rows per stratum BEFORE the exchange, so the
    * shuffle carries ≤ k·partitions rows per stratum at any corpus
    * size. */
  def groupSampleK(s: SparkSession, d: String, k: Int = 5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("u"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("u",
        md5(col("doc_id").cast(org.apache.spark.sql.types.StringType)))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("doc_id"), col("n_chars"))
      .orderBy(col("source"), col("rnk"))
  }

  /** GROUPWISE SKYLINE (Pareto frontier): per brand, the parts for which
    * no same-brand part is both cheaper-or-equal AND larger-or-equal
    * (with one strict) — the "best trade-off" query of catalog/candidate
    * pruning. The naive formulation is a quadratic NOT EXISTS theta
    * self-join; this plan is O(n log n) and shuffle-minimal via the 2-D
    * monotonicity of dominance:
    *   1. per (brand, price): the max size at that exact price — a
    *      map-side-combined aggregate (the only pass over the data);
    *   2. over the per-price rows (O(distinct prices), tiny), a running
    *      max ordered by price gives the best size among STRICTLY
    *      cheaper parts (lag of the running max skips the current
    *      price group);
    *   3. a part survives iff no strictly-cheaper part has size ≥ its
    *      size AND no same-price part has size > its size — one
    *      broadcast-able equi-join back on (brand, price).
    * At 100 TB the window runs over per-price aggregates, not rows, and
    * every join is an equi-join; nothing quadratic anywhere. */
  def skylineByBrand(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = Tables.part(s, d)
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
    val perPrice = p.groupBy(col("p_brand"), col("p_retailprice"))
      .agg(max(col("p_size")).as("m_size"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("p_retailprice"))
    val withPrev = perPrice
      .withColumn("run_max", max(col("m_size")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("prev_max", lag(col("run_max"), 1).over(w))
      .select(col("p_brand"), col("p_retailprice"), col("m_size"), col("prev_max"))
    p.join(withPrev, Seq("p_brand", "p_retailprice"))
      .filter((col("prev_max").isNull || col("prev_max") < col("p_size")) &&
        col("m_size") <= col("p_size"))
      .select(col("p_brand"), col("p_partkey"), col("p_retailprice"), col("p_size"))
      .orderBy(col("p_brand"), col("p_partkey"))
  }

  /** CSV SOURCE with explicit schema + malformed-row QUARANTINE: the
    * events table staged once as CSV lines with a deterministic slice
    * (event_id % 97 == 0) corrupted in-place — the landing-zone reality
    * of file-based ingest. Read back PERMISSIVE with a corrupt-record
    * column: bad lines surface as quarantine rows instead of failing
    * the job (DROPMALFORMED would hide them; FAILFAST would lose the
    * whole 100 TB batch to one bad line). Schema is explicit — an
    * inference pass is a full extra scan. Doubles round-trip through
    * their shortest decimal form (Java semantics both ways), so the
    * surviving rows aggregate bit-identically to the source table.
    * Null fields serialize as explicit EMPTY positions (each column is
    * coalesced to '' before concat_ws) — concat_ws alone SKIPS nulls,
    * which would shift later fields left and parse a null-bearing row
    * as a different, valid-looking row instead of quarantining it. */
  def csvEventsDir(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "csvEventsDir") {
      val out = graft.Tuning.diskTmpDir("graft_csv_").toString
      val S = org.apache.spark.sql.types.StringType
      def f(c: org.apache.spark.sql.Column) = coalesce(c.cast(S), lit(""))
      Tables.events(s, d)
        .select(
          when(col("event_id") % 97 === 0,
            concat(lit("#corrupt#"), col("event_id").cast(S)))
            .otherwise(concat_ws(",",
              f(col("event_id")), f(unix_micros(col("ts"))), f(col("user_id")),
              f(col("event_type")), f(col("value"))))
            .as("value"))
        .write.mode("overwrite").text(out)
      out
    }

  def csvEventsRaw(s: SparkSession, d: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("_corrupt_record", org.apache.spark.sql.types.StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(csvEventsDir(s, d))
  }

  def csvSourceSummary(s: SparkSession, d: String): DataFrame =
    csvEventsRaw(s, d)
      .filter(col("_corrupt_record").isNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        Aggregates.dsum(col("value")).as("total"))
      .orderBy(col("event_type"))

  /** ORC SOURCE round-trip: the events table staged once as ORC files,
    * read back through Spark's native vectorized ORC reader, then
    * aggregated. ORC is the second columnar interchange format a lake
    * engine must speak (Hive-era tables are ORC); unlike the CSV path
    * there is no text conversion anywhere — longs, timestamps, and
    * doubles round-trip bit-exactly through ORC's binary encoding, so
    * the summary hashes identically to the same aggregate computed
    * straight off the parquet source (which is what the oracle does).
    * The read path gets the same scan-level treatment as parquet:
    * column pruning and predicate pushdown reach the ORC stripes, and
    * the per-type summary is a partial-aggregating groupBy over a
    * 5-key space — no wide shuffle at any corpus size. */
  def orcEventsDir(s: SparkSession, d: String): String =
    Tables.artifact(s, d, Seq("events"), "orcEventsDir") {
      val out = graft.Tuning.diskTmpDir("graft_orc_").toString
      Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.mode("overwrite").orc(out)
      out
    }

  def orcSourceSummary(s: SparkSession, d: String): DataFrame =
    s.read.orc(orcEventsDir(s, d))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        Aggregates.dsum(col("value")).as("total"))
      .orderBy(col("event_type"))
}
