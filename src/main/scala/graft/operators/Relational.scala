package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{CacheScope, Tables}

/** Relational/OLAP tier — the capabilities of the reference's TPC-H-style
  * RDD programs (reference `assignment5/Q1..Q7.scala`), re-expressed as
  * declarative DataFrame plans so Catalyst chooses broadcast vs
  * shuffle joins, pushes filters into the parquet scan, and plans
  * distributed top-k (`TakeOrderedAndProject`) for the sort+limit shapes.
  *
  * Scale posture: every query here is shuffle-bounded — dimension tables
  * (nation/customer subsets, part, supplier) are explicitly
  * `broadcast()`-hinted; the only big-big shuffle is orders⋈lineitem on
  * orderkey, which at 100 TB would additionally be bucketed on orderkey
  * so the join is co-located (no repartition needed).
  */
object Relational {

  /** Component-wise date-prefix predicate (reference Q1.scala:42-51):
    * the argument `1996`, `1996-03` or `1996-03-15` matches on however
    * many components are given — component equality, NOT string prefix
    * (`1996-1` must not match `1996-10`). Maps to year/month/day
    * comparisons that Catalyst can push to parquet row-group stats.
    */
  def dateMatch(c: Column, spec: String): Column = {
    // Components compare as *strings* in the reference ("1996-1" matches
    // nothing, because the stored component is "01"); a non-canonical or
    // impossible component folds to constant false. Canonical prefixes
    // compile to a half-open timestamp RANGE [lo, hi) rather than
    // year()/month() extraction: ranges reach the parquet scan as
    // PushedFilters, so row-group stats (and, on a partitioned table,
    // partition pruning) skip everything outside the window — the
    // difference between scanning a month and scanning 100 TB.
    import java.time.LocalDate
    def canon(v: String, w: Int) = v.length == w && v.forall(_.isDigit)
    val p = spec.split("-")
    if (!p.zip(Seq(4, 2, 2)).forall { case (v, w) => canon(v, w) })
      return lit(false)
    try {
      val (lo, hi) = p.map(_.toInt) match {
        case Array(y)       => (LocalDate.of(y, 1, 1), LocalDate.of(y + 1, 1, 1))
        case Array(y, m)    => val d = LocalDate.of(y, m, 1); (d, d.plusMonths(1))
        case Array(y, m, d) => val x = LocalDate.of(y, m, d); (x, x.plusDays(1))
        case _              => return lit(false)
      }
      c >= lit(lo.atStartOfDay) && c < lit(hi.atStartOfDay)
    } catch {
      case _: java.time.DateTimeException => lit(false) // e.g. month 13
    }
  }

  /** Q1 equivalent (reference Q1.scala): count lineitems shipped in the
    * date-prefix window. One scan, no shuffle beyond the final scalar agg.
    */
  def q1FilterCount(s: SparkSession, dir: String, date: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(dateMatch(col("l_shipdate"), date))
      .agg(count(lit(1)).as("cnt"))

  /** Q2 equivalent (reference Q2.scala): orderpriority+orderkey of
    * lineitems shipped in the window, by orderkey, first `k`.
    * (Fixture orders has no o_clerk; o_orderpriority substitutes —
    * FIXTURES.md §A.) orders⋈lineitem is the one big-big join; Spark
    * plans TakeOrderedAndProject over it, so only k rows leave each task.
    */
  def q2JoinTopk(s: SparkSession, dir: String, date: String, k: Int): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(dateMatch(col("l_shipdate"), date))
      .select("l_orderkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("o_orderpriority"), col("l_orderkey"))
      .orderBy(col("l_orderkey"), col("o_orderpriority"))
      .limit(k)
  }

  /** Q3 equivalent (reference Q3.scala): part+supplier names of shipped
    * lineitems — two dimension lookups, both broadcast (the reference
    * `collectAsMap`+broadcast by hand; here a `broadcast()` hint).
    */
  def q3BroadcastJoin(s: SparkSession, dir: String, date: String, k: Int): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(dateMatch(col("l_shipdate"), date))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val p = Tables.part(s, dir).select("p_partkey", "p_name")
    val su = Tables.supplier(s, dir).select("s_suppkey", "s_name")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_name"), col("s_name"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
      .limit(k)
  }

  /** Q4 equivalent (reference Q4.scala): lineitems shipped in the window,
    * counted per customer nation. Probe side reduced before the join
    * (filter first), nation broadcast; orders⋈lineitem shuffles once on
    * orderkey, then one partial-agg'd groupBy.
    */
  def q4NationAgg(s: SparkSession, dir: String, date: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(dateMatch(col("l_shipdate"), date))
      .select("l_orderkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("n_nationkey"))
  }

  /** Q5 equivalent (reference Q5.scala): monthly shipped-lineitem counts
    * for two nations' customers (reference: CANADA + UNITED STATES; the
    * synthetic fixture nations are NATION_i). Nation filter reduces
    * customer before it is broadcast — semi-join reduction as in
    * reference Q5.scala:66-69 but declarative.
    */
  def q5Monthly(s: SparkSession, dir: String, nations: Seq[String]): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir)
      .filter(col("n_name").isin(nations: _*))
      .select("n_nationkey", "n_name")
    val cn = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"), date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("n_name"), col("ship_month"))
  }

  /** Calendar densification ("date spine"): Q5's monthly counts LEFT
    * JOINed onto a generated nation × month grid so months with no
    * shipments surface as explicit zeros — the gap-filling step every
    * reporting pipeline needs and GROUP BY alone cannot produce. The
    * spine is `sequence()`-generated (rows from expressions, no table
    * scan) and tiny, so it broadcasts; the fact side is the already-
    * aggregated Q5 output, never the raw table.
    */
  def dateSpineFill(s: SparkSession, dir: String, nations: Seq[String],
                    from: String = "1995-01-01",
                    months: Int = 84): DataFrame = {
    val spine = s.range(1).select(explode(sequence(lit(0),
        lit(months - 1))).as("i"))
      .select(date_format(add_months(to_date(lit(from)), col("i")), "yyyy-MM")
        .as("ship_month"))
    val nat = Tables.nation(s, dir)
      .filter(col("n_name").isin(nations: _*)).select("n_name")
    nat.crossJoin(spine)
      .join(q5Monthly(s, dir, nations), Seq("n_name", "ship_month"), "left")
      .select(col("n_name"), col("ship_month"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** Arg-selecting / conditional aggregate family: per order status the
    * priority of the most expensive order (`max_by`), the date of the
    * cheapest (`min_by`), a FILTER-clause conditional count, and
    * `bool_or`/`every` predicates — the aggregates the reference
    * emulated with sort-then-take. All partial-aggregable (each carries
    * one (key, value) pair per group per task). The ordering key packs
    * (cents, orderkey) into one exact BIGINT so ties are impossible and
    * both engines pick the same row — `mode()` is deliberately absent:
    * its tie-break is engine-arbitrary (and sf0.001 ties).
    */
  def argMaxAgg(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    s.sql("""
      SELECT o_orderstatus,
             max_by(o_orderpriority,
                    CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
                      + o_orderkey) AS priciest_priority,
             date_format(min_by(o_orderdate,
                    CAST(round(o_totalprice * 100) AS BIGINT) * 10000000
                      + o_orderkey), 'yyyy-MM-dd') AS cheapest_date,
             count(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
             bool_or(o_totalprice > 400000) AS any_jumbo,
             every(o_totalprice > 1000) AS all_above_1k
      FROM graft_orders
      GROUP BY o_orderstatus""")
  }

  /** Q6 equivalent (reference Q6.scala, TPC-H Q1 shape): grouped
    * multi-aggregate over the shipped window. Single scan → single
    * partial+final hash aggregate; the derived measures stay inside
    * whole-stage codegen. Sums rounded for engine-portable comparison.
    */
  def q6MultiAgg(s: SparkSession, dir: String, date: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(dateMatch(col("l_shipdate"), date))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice")), 4).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 4).as("sum_charge"),
        round(avg(col("l_quantity")), 6).as("avg_qty"),
        round(avg(col("l_extendedprice")), 6).as("avg_price"),
        round(avg(col("l_discount")), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Explicit semi-join (reference Q4.scala:80-83 / Q5.scala:66-69 used
    * broadcast-map existence filters): customers with at least one order
    * before the cutoff. LEFT SEMI keeps the build side out of the output
    * and stops probing on first match.
    */
  def semiJoin(s: SparkSession, dir: String, date: String): DataFrame = {
    val cutoff = to_timestamp(lit(date))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff).select("o_custkey")
    Tables.customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
  }

  /** Anti-join (absent from the reference — SURVEY §2.10 gap list; free
    * in Spark): customers with NO orders before the cutoff.
    */
  def antiJoin(s: SparkSession, dir: String, date: String): DataFrame = {
    val cutoff = to_timestamp(lit(date))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff).select("o_custkey")
    Tables.customer(s, dir)
      .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
  }

  /** Rollup aggregation (gap-list operator, free in Spark): lineitem
    * counts by (nation, month) with per-nation and grand totals.
    */
  def rollupAgg(s: SparkSession, dir: String, nations: Seq[String]): DataFrame = {
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir)
      .filter(col("n_name").isin(nations: _*))
      .select("n_nationkey", "n_name")
    val cn = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .select(col("n_name"), date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .rollup(col("n_name"), col("ship_month"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Cube aggregation (gap-list operator): all grouping-set combinations
    * of (returnflag, linestatus) — partial aggregation still applies per
    * grouping set, so the shuffle carries one row per set per map task.
    */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))

  /** Top-k rows per group via a rank window (gap-list: the reference
    * had no window functions at all): k most expensive orders per
    * order-priority class. One shuffle on the partition key; the rank
    * filter prunes before anything else moves.
    */
  def windowTopk(s: SparkSession, dir: String, k: Int): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
  }

  /** Multiple DISTINCT aggregates in one pass (gap-list operator):
    * Spark plans this with one Expand + two-phase aggregation — no
    * per-distinct extra shuffle.
    */
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows"))

  /** EXCEPT DISTINCT (gap-list set operation): customers who placed
    * orders before the cutoff but none on/after it.
    */
  def exceptOp(s: SparkSession, dir: String, date: String): DataFrame = {
    val cutoff = to_timestamp(lit(date))
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderdate") < cutoff).select("o_custkey")
      .except(o.filter(col("o_orderdate") >= cutoff).select("o_custkey"))
  }

  /** Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    * DUPLICATE cardinalities (a supplier shipping 5 times in month 1
    * and twice in month 2 survives EXCEPT ALL 3 times), which the
    * distinct variants above erase. Spark plans both as a count-
    * per-row aggregate + generate, one shuffle each; both results are
    * union-tagged into one frame so the operator pair verifies as a
    * single query.
    */
  def multisetOps(s: SparkSession, dir: String,
                  m1: String, m2: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val a = li.filter(dateMatch(col("l_shipdate"), m1)).select("l_suppkey")
    val b = li.filter(dateMatch(col("l_shipdate"), m2)).select("l_suppkey")
    a.exceptAll(b).withColumn("op", lit("except_all"))
      .unionByName(a.intersectAll(b).withColumn("op", lit("intersect_all")))
      .groupBy("op", "l_suppkey")
      .agg(count(lit(1)).as("multiplicity"))
  }

  /** INTERSECT DISTINCT: suppliers who shipped in both months. */
  def intersectOp(s: SparkSession, dir: String,
                  m1: String, m2: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    li.filter(dateMatch(col("l_shipdate"), m1)).select("l_suppkey")
      .intersect(li.filter(dateMatch(col("l_shipdate"), m2)).select("l_suppkey"))
  }

  /** Pivot aggregation (gap-list operator): one column per linestatus,
    * row per returnflag. Spark plans pivot as a single two-phase
    * aggregate with CASE projections — no extra shuffle vs a plain
    * groupBy; explicit value list keeps the schema static (and at scale
    * avoids the values-discovery pre-query).
    */
  def pivotAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum(col("l_quantity")), 4))
      .withColumnRenamed("F", "qty_f")
      .withColumnRenamed("O", "qty_o")

  /** Top-k per group via the custom `TopKAgg` typed aggregator (UDAF
    * framework coverage): bounded partial aggregation — at most k rows
    * per group leave each map task — then one explode back to rows.
    * Same rows as `windowTopk` by construction (shared tiebreak).
    */
  def topkAgg(s: SparkSession, dir: String, k: Int): DataFrame = {
    val agg = udaf(new graft.functions.Aggregators.TopKAgg(k))
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(agg(col("o_orderkey"), col("o_totalprice")).as("top"))
      .select(col("o_orderpriority"), explode(col("top")).as("t"))
      .select(col("o_orderpriority"),
        col("t._2").as("o_orderkey"), col("t._1").as("o_totalprice"))
  }

  /** Exact decimal aggregation (type-coverage: the reference had no
    * decimals at all): fixed-point sums are exact and order-insensitive.
    * The final sums are surfaced as their canonical decimal STRINGS —
    * any float surface invites last-ulp/round-mode divergence between
    * engines (double round() semantics are implementation-defined on
    * half-way reprs), while decimal→string is pure integer formatting:
    * identical digits on every engine and version.
    */
  def decimalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(18,2)").as("p"),
        col("l_discount").cast("decimal(18,4)").as("d"))
      .groupBy("l_returnflag")
      // the SUM is exact fixed-point end to end; the surfaced value is
      // the decimal's canonical string (scale-2 / scale-4 — trailing
      // zeros preserved by both engines), never a double
      .agg(sum(col("p")).cast("decimal(38,2)").cast("string").as("sum_price"),
        sum(col("d")).cast("decimal(38,4)").cast("string").as("sum_disc"),
        count(lit(1)).as("cnt"))

  /** Statistical aggregates (variance/stddev/correlation/covariance) —
    * all single-pass mergeable sketches in Spark, so they scale like
    * plain sums; rounded on both sides since merge order perturbs the
    * low bits.
    */
  def statsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
        round(covar_samp(col("l_extendedprice"), col("l_discount")), 4)
          .as("cov_pd"))

  /** Z-order clustering: interleave the low 16 bits of two join/filter
    * keys into one Morton curve position, assign rows to `buckets`
    * equal-size files in curve order (`ntile` — the file assignment a
    * `repartitionByRange(z)` table rewrite produces), and emit each
    * bucket's per-column min/max — the zone map a writer stores so
    * range pruning works on BOTH columns at once (each bucket spans a
    * bounded rectangle of (partkey, suppkey) space). Pure integer bit
    * arithmetic + a rank, exactly restatable in SQL. The global-order
    * window IS the point at scale — a layout rewrite is a total range
    * partitioning; Spark runs it as `repartitionByRange` + local sort,
    * never one task.
    */
  def zorderBuckets(s: SparkSession, dir: String,
                    buckets: Int = 64): DataFrame = {
    val morton = (0 until 16).map { i =>
      (shiftleft(shiftright(col("l_partkey"), i).bitwiseAND(1), 2 * i) +
        shiftleft(shiftright(col("l_suppkey"), i).bitwiseAND(1), 2 * i + 1))
        .cast("long")
    }.reduce(_ + _)
    val w = Window.orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
    Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_orderkey"), col("l_linenumber"), morton.as("z"))
      .withColumn("bucket", ntile(buckets).over(w))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        min("l_partkey").as("min_pk"), max("l_partkey").as("max_pk"),
        min("l_suppkey").as("min_sk"), max("l_suppkey").as("max_sk"))
  }

  /** Linear-regression aggregates (`regr_*`): slope, intercept, r²,
    * and paired-row count of extendedprice against quantity per return
    * flag — one-pass mergeable moment sketches (sums of x, y, xy, x²),
    * so they scale exactly like sum/avg. Rounded for engine-portable
    * float comparison.
    */
  def regressionAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
          .as("slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
          .as("intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 6).as("r2"),
        expr("regr_count(l_extendedprice, l_quantity)").as("n_pairs"))

  /** Deterministic hash-based sampling (the scalable sampling idiom: no
    * RNG state, reproducible across engines and retries, pushes to the
    * scan as a plain predicate). Keeps rows whose key hashes into
    * `[0, pct)` of 100 buckets.
    */
  def sampleHash(s: SparkSession, dir: String, pct: Int): DataFrame =
    // key folded mod 2^31 before the multiply so the product stays
    // under 2^54 — overflow-free on any engine at any key scale
    Tables.orders(s, dir)
      .filter(pmod(pmod(col("o_orderkey"), lit(2147483648L)) * lit(8388593L),
        lit(100)) < pct)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** Analytic rank functions (percent_rank / cume_dist / ntile) over a
    * per-priority total order. The orderkey tiebreak makes every rank —
    * including ntile bucket boundaries — deterministic, so the result is
    * engine-independent. One shuffle on the partition key, one sort
    * within partitions; at scale this is the same cost shape as any
    * windowed rank. Output thinned to orderkeys ≡ 0 (mod 10) AFTER the
    * windows so ranks are computed over the full table.
    */
  def rankFns(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("pct_rank", round(percent_rank().over(w), 6))
      .withColumn("cum_dist", round(cume_dist().over(w), 6))
      .withColumn("quartile", ntile(4).over(w))
      .filter(col("o_orderkey") % 10 === 0)
  }

  /** Explicit GROUPING SETS — finer than cube/rollup: per-flag, per-
    * status, and grand-total rows in one pass (grouping_id
    * disambiguates the null patterns). Spark expands the sets into one
    * Expand + single aggregate, so it shuffles once regardless of how
    * many sets are requested.
    */
  def groupingSetsAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("cnt"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))

  /** Exact percentiles per group (ordered aggregate; linear
    * interpolation — matches DuckDB's quantile_cont). At 100 TB exact
    * percentiles of a huge group require a per-group sort; the scale
    * alternative is `approx_percentile` (t-digest), same call shape.
    */
  def pricePercentiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))

  /** Bloom-prefiltered semi join — the 100 TB join-pruning pattern.
    * Build a Bloom filter over the (filtered) dimension's keys in one
    * pass, broadcast its fixed-size bits to every fact partition, and
    * drop non-matching fact rows BEFORE the shuffle; the real semi join
    * then removes the filter's false positives, so the result is exactly
    * the semi join while the shuffle only carries rows that probably
    * match. This is what Spark's own runtime-filter optimization injects
    * when statistics allow — here it is explicit, so the pruning is
    * guaranteed rather than cost-model-dependent.
    */
  def bloomSemiJoin(s: SparkSession, dir: String,
                    minBal: Double = 9000.0): DataFrame = {
    val hot = Tables.customer(s, dir)
      .filter(col("c_acctbal") > minBal)
      .select(col("c_custkey").cast("long").as("c_custkey"))
    val bf = hot.stat.bloomFilter("c_custkey", 100000L, 0.01)
    val bfB = s.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContainLong(k))
    Tables.orders(s, dir)
      .filter(mightContain(col("o_custkey").cast("long")))
      .join(hot, col("o_custkey") === col("c_custkey"), "left_semi")
      .select(col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 4).as("o_totalprice"))
  }

  /** Approximate aggregates — the 100 TB path where exact distinct
    * counts (full shuffle of every key) and exact percentiles (per-group
    * sort) stop being affordable. `approx_count_distinct` is HLL++
    * (fixed-size sketch, mergeable, one pass); `approx_percentile` is a
    * bounded-error rank sketch. Both are deterministic for a given
    * input, but no other engine reproduces the sketch internals, so the
    * oracle contract is: emit the EXACT value next to a boolean
    * "sketch landed within tolerance" — the flag is deterministically
    * true and hash-checkable, the exact column pins the data.
    */
  def approxAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_orderkey"), 0.05).as("acd"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_p50"),
        expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("ap50"))
      .select(
        col("l_returnflag"), col("exact_orders"), col("exact_p50"),
        (abs(col("acd") - col("exact_orders")) <=
          col("exact_orders") * 0.10).as("acd_ok"),
        (abs(col("ap50") - col("exact_p50")) <=
          col("exact_p50") * 0.05).as("ap50_ok"))

  /** Correlated EXISTS subquery (TPC-H Q4 shape — absent from the
    * reference, which had no subquery surface at all): orders in a date
    * window that have at least one returned lineitem, counted by
    * priority. Expressed as ANSI SQL so Catalyst's subquery
    * decorrelation (`RewritePredicateSubquery`) plans it — it rewrites
    * to a left-semi join on orderkey, the same physical shape the
    * reference hand-built for its semi-joins (Q4.scala:80-83), with the
    * date filter pushed to the orders scan.
    */
  def existsSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT o_orderpriority, count(*) AS cnt
      FROM graft_orders
      WHERE o_orderdate >= timestamp'1996-01-01 00:00:00'
        AND o_orderdate <  timestamp'1996-07-01 00:00:00'
        AND EXISTS (SELECT 1 FROM graft_lineitem
                    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      GROUP BY o_orderpriority""")
  }

  /** NOT IN subquery (null-aware anti join): parts with no shipment in
    * a given month, counted by brand. Catalyst plans the null-aware
    * anti join (`NOT IN` must yield empty if the subquery produces any
    * null — stricter than plain ANTI); with the non-null key here the
    * fast path applies. At scale the subquery side is the aggregated
    * key set, broadcast when small.
    */
  def notInSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("graft_part")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT p_brand, count(*) AS n_parts
      FROM graft_part
      WHERE p_partkey NOT IN (SELECT l_partkey FROM graft_lineitem
                              WHERE l_shipdate >= timestamp'2000-06-01 00:00:00'
                                AND l_shipdate <  timestamp'2000-07-01 00:00:00')
      GROUP BY p_brand""")
  }

  /** Correlated scalar subquery (TPC-H Q17 shape): revenue from
    * small-quantity lineitems — below 20% of their part's average
    * quantity — by brand. Catalyst decorrelates the per-part average
    * into one aggregate joined back on partkey
    * (`RewriteCorrelatedScalarSubquery`), so the "per-row subquery"
    * costs one extra aggregation over lineitem, not N queries.
    */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir).createOrReplaceTempView("graft_part")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT p_brand, round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
      FROM graft_lineitem JOIN graft_part ON p_partkey = l_partkey
      WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
                          FROM graft_lineitem l2
                          WHERE l2.l_partkey = graft_part.p_partkey)
      GROUP BY p_brand""")
  }

  /** Left outer join + double aggregation (TPC-H Q13 shape): the
    * distribution of per-customer order counts, with a non-trivial
    * predicate in the join's ON clause (urgent orders don't count —
    * which must NOT drop customers, unlike a WHERE filter). Customers
    * with no qualifying orders survive as c_count = 0 via
    * `count(o_orderkey)` skipping nulls.
    */
  def outerJoinHist(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey")
    val o = Tables.orders(s, dir)
      .select("o_custkey", "o_orderkey", "o_orderpriority")
    c.join(o,
        c("c_custkey") === o("o_custkey") &&
          o("o_orderpriority") =!= "1-URGENT",
        "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** Upsert/MERGE shape (SCD-1): reconcile a base snapshot (latest
    * order per customer before `cutoff`) with a delta batch (latest
    * order after it) — full outer join on the key, delta wins where
    * present, base survives otherwise, and `src` records which side
    * produced each row. This is the logical plan a MERGE INTO compiles
    * to; at 100 TB both sides would be bucketed on the key so the full
    * outer join is exchange-free.
    */
  def upsertMerge(s: SparkSession, dir: String,
                  cutoff: String = "1998-01-01"): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    def latest(side: DataFrame): DataFrame = side
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderdate"), col("o_orderstatus"))
    val orders = Tables.orders(s, dir)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus")
    val base = latest(orders.filter(col("o_orderdate") < lit(cutoff)))
      .withColumnsRenamed(Map("o_orderdate" -> "b_date", "o_orderstatus" -> "b_status"))
    val delta = latest(orders.filter(col("o_orderdate") >= lit(cutoff)))
      .withColumnsRenamed(Map("o_orderdate" -> "d_date", "o_orderstatus" -> "d_status"))
    base.join(delta, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        date_format(coalesce(col("d_date"), col("b_date")), "yyyy-MM-dd")
          .as("last_orderdate"),
        coalesce(col("d_status"), col("b_status")).as("last_status"),
        when(col("d_date").isNotNull, "delta").otherwise("base").as("src"))
  }

  /** UNPIVOT (wide → long): per-returnflag measure columns melted into
    * (l_returnflag, measure, value) rows via the native `unpivot`
    * operator — the inverse of `pivotAgg`. Values are rounded before
    * the melt so both engines compare the same scalars.
    */
  def unpivotMeasures(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 4).as("sum_qty"),
        round(sum("l_extendedprice"), 4).as("sum_price"),
        round(sum("l_discount"), 4).as("sum_disc"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
        "measure", "value")

  /** Two-pass equi-width histogram over `l_extendedprice`: pass 1 is a
    * scalar min/max aggregate collected to the driver (the only driver
    * exchange — two doubles), pass 2 buckets every row against those
    * literal bounds and reduces to `buckets` rows. The classic
    * distributed histogram shape: the second pass is a map-side
    * pre-aggregated groupBy whose shuffle carries at most `buckets`
    * rows per task regardless of table size.
    */
  def numericHist(s: SparkSession, dir: String, buckets: Int = 20): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val bounds = li.agg(min("l_extendedprice"), max("l_extendedprice")).head
    val (lo, hi) = (bounds.getDouble(0), bounds.getDouble(1))
    val b = least(
      floor((col("l_extendedprice") - lit(lo)) * lit(buckets) / lit(hi - lo)),
      lit((buckets - 1).toLong))
    li.select(b.cast("int").as("bucket"), col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        round(sum("l_extendedprice"), 4).as("mass"))
  }

  /** Q7 equivalent (reference Q7.scala, TPC-H Q3 shape): top-k unshipped
    * orders by revenue. Customer broadcast; orders pre-filtered on
    * orderdate and lineitem on shipdate before the orderkey shuffle.
    * (Fixture orders has no o_shippriority; o_orderstatus substitutes.)
    */
  def q7TopRevenue(s: SparkSession, dir: String, date: String, k: Int): DataFrame = {
    val cutoff = to_timestamp(lit(date))
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_name"), col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderstatus"))
      .agg(sum(col("rev")).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(k)
      .select(col("c_name"), col("l_orderkey"), col("o_orderdate"),
        col("o_orderstatus"), round(col("revenue"), 4).as("revenue"))
  }

  /** Referential-integrity audit: orphan counts for every FK relation in
    * the fixture schema — the standing data-quality gate a pipeline runs
    * before trusting a batch. Each relation is a left-anti join from
    * child to parent; at scale the parent key set broadcasts when
    * dimension-sized (nation, customer) and shuffles on the key when
    * fact-sized (orders), which is exactly what Catalyst picks from
    * sizes — no hints needed. Counts partially aggregate; nothing wide
    * ever collects.
    */
  def fkAudit(s: SparkSession, dir: String): DataFrame = {
    def rel(name: String, child: DataFrame, ck: String,
            parent: DataFrame, pk: String): DataFrame = {
      val orphans = child.join(parent, child(ck) === parent(pk), "left_anti")
      child.agg(count(lit(1)).as("n_child")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans")))
        .select(lit(name).as("relation"), col("n_child"), col("n_orphans"))
    }
    Seq(
      rel("lineitem->orders",
        Tables.lineitem(s, dir).select("l_orderkey"), "l_orderkey",
        Tables.orders(s, dir).select("o_orderkey"), "o_orderkey"),
      rel("orders->customer",
        Tables.orders(s, dir).select("o_custkey"), "o_custkey",
        Tables.customer(s, dir).select("c_custkey"), "c_custkey"),
      rel("lineitem->supplier",
        Tables.lineitem(s, dir).select("l_suppkey"), "l_suppkey",
        Tables.supplier(s, dir).select("s_suppkey"), "s_suppkey"),
      rel("customer->nation",
        Tables.customer(s, dir).select("c_nationkey"), "c_nationkey",
        Tables.nation(s, dir).select("n_nationkey"), "n_nationkey"),
      rel("supplier->nation",
        Tables.supplier(s, dir).select("s_nationkey"), "s_nationkey",
        Tables.nation(s, dir).select("n_nationkey"), "n_nationkey"))
      .reduce(_.unionByName(_))
  }

  /** Equi-depth (equal-frequency) histogram of order totals: exact
    * `percentile` boundaries at i/k, then a second scan assigns each
    * row by counting boundaries below it (a codegen'd fold over the
    * broadcast boundary array — no sort, no window over the table).
    * This two-pass shape is the scalable one: a global `ntile` would
    * be a single-partition window sort; here pass 1 is one aggregate
    * and pass 2 is embarrassingly parallel. At 100 TB the exact
    * percentile swaps for `approx_percentile` (same plan shape, the
    * t-digest merge is already distributed); boundaries are rounded
    * to 6 dp on both engines so bucket assignment compares identical
    * doubles. Equal values straddling a boundary all land in the same
    * bucket — counts are then only approximately n/k, which is the
    * honest semantics of an equi-depth histogram over ties.
    */
  def equiDepthHist(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_totalprice").as("p"))
    val probs = array((1 until k).map(i => lit(i.toDouble / k)): _*)
    val bounds = o.agg(transform(percentile(col("p"), probs),
      b => round(b, 6)).as("bs"))
    o.crossJoin(broadcast(bounds))
      .select(col("p"),
        (aggregate(col("bs"), lit(0),
          (acc, b) => acc + when(col("p") > b, 1).otherwise(0)) + 1)
          .cast("long").as("bucket")) // DuckDB len() is BIGINT
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        round(min(col("p")), 2).as("lo"), round(max(col("p")), 2).as("hi"))
  }

  /** Month-over-month revenue growth per nation: the Q5-shaped join
    * aggregated to monthly revenue, then one lag window computes the
    * consecutive-month percent change (first month has no baseline and
    * reports null). The window partitions by nation — tiny state, no
    * global sort; the heavy lifting is the same broadcast-dimension
    * join as Q5.
    */
  def momGrowth(s: SparkSession, dir: String,
                nations: Seq[String]): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir)
      .filter(col("n_name").isin(nations: _*))
      .select("n_nationkey", "n_name")
    val cn = c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "n_name")
    val monthly = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
      .groupBy(col("n_name"),
        date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("rev"))
    val w = Window.partitionBy("n_name").orderBy("ship_month")
    monthly
      .withColumn("prev", lag(col("rev"), 1).over(w))
      .select(col("n_name"), col("ship_month"), col("rev"),
        round((col("rev") - col("prev")) / col("prev") * 100, 4)
          .as("growth_pct"))
  }

  /** 2-D Pareto skyline of orders: the orders not dominated on
    * (higher total price, earlier order date) by any other order —
    * dominance = ≥ on both axes, > on at least one. Two-phase exact
    * algorithm: each partition computes its LOCAL skyline with a
    * single sort-then-sweep pass (anything dominated locally is
    * dominated globally, so this prunes thousands-to-one), the small
    * candidate union re-sweeps once. The global step sees only local
    * skyline points — at 100 TB the candidate set stays ~partition
    * count × skyline size, never the table. Output ordered columns
    * only (key, price, epoch-date), fully deterministic.
    */
  def skyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"),
        col("o_totalprice").as("price"),
        unix_timestamp(col("o_orderdate")).as("odate"))
      .as[(Long, Double, Long)]
    // sweep: sorted by (price desc, odate asc, key), a point survives
    // iff its date is strictly below the minimum date seen at strictly
    // higher prices AND equals the minimum date of its own price run
    // (an equal-price earlier-date point dominates; full (price, date)
    // ties coexist — dominance needs one strict axis)
    def sweep(it: Iterator[(Long, Double, Long)]) = {
      val sorted = it.toArray.sortBy { case (k, p, d) => (-p, d, k) }
      val out = Array.newBuilder[(Long, Double, Long)]
      var bestDate = Long.MaxValue // min date among strictly higher prices
      var i = 0
      while (i < sorted.length) {
        var j = i // the run of equal prices, date-ascending
        while (j < sorted.length && sorted(j)._2 == sorted(i)._2) j += 1
        val runMin = sorted(i)._3
        var t = i
        while (t < j && sorted(t)._3 == runMin) {
          if (runMin < bestDate) out += sorted(t)
          t += 1
        }
        bestDate = math.min(bestDate, runMin)
        i = j
      }
      out.result().iterator
    }
    val local = base.mapPartitions(sweep).coalesce(1).mapPartitions(sweep)
    local.toDF("o_orderkey", "price", "odate")
  }

  /** LISTAGG/string_agg surface: order keys per priority class as one
    * deterministic comma-joined string (sorted within the group before
    * concatenation — an unordered string_agg is nondeterministic under
    * parallelism and useless for comparison). Built as
    * sort_array(collect_list(...)) + array_join: collect_list's
    * partial aggregation keeps the shuffle at one row per (task,
    * group); the sort is per-group output, not a table sort. Group
    * payloads are capped by the predicate (one ship-month) — the same
    * boundedness any LISTAGG at scale needs.
    */
  def stringAgg(s: SparkSession, dir: String,
                month: String = "1996-03"): DataFrame =
    Tables.orders(s, dir)
      .filter(dateMatch(col("o_orderdate"), month))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        array_join(sort_array(collect_list(col("o_orderkey"))), ",")
          .as("order_keys"))

  /** Percent-of-total contribution: each nation's revenue share of the
    * global total, with a running cumulative share over the ranked
    * list (the Pareto-chart shape). The total rides in by window sum
    * over the tiny aggregated frame — the raw table is aggregated
    * exactly once.
    */
  def revenueShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    val byNation = li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.join(broadcast(n),
        col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "n_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("rev"))
    val wAll = Window.partitionBy()
    val wRank = Window.orderBy(col("rev").desc, col("n_name"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byNation
      .withColumn("share_pct",
        round(col("rev") / sum(col("rev")).over(wAll) * 100, 4))
      .withColumn("cum_share_pct",
        round(sum(col("rev")).over(wRank) /
          sum(col("rev")).over(wAll) * 100, 4))
  }

  /** TPC-H Q16 shape: distinct supplier counts per (brand, type, size)
    * for parts, excluding suppliers on a complaint list (here: negative
    * account balance — the fixtures' analog of Q16's LIKE-matched
    * complaints). The exclusion is a NOT IN over a tiny subquery →
    * null-aware anti join; the distinct count shuffles once on the
    * grouping key after the partsupp-shaped join. Top groups by count
    * with a deterministic tiebreak, Q16's presentation order.
    */
  def q16Shape(s: SparkSession, dir: String, limit: Int = 30): DataFrame = {
    val ps = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
      .distinct()
    val bad = Tables.supplier(s, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey"))
    val p = Tables.part(s, dir)
      .select("p_partkey", "p_brand", "p_type", "p_size")
    ps.join(bad, col("suppkey") === col("s_suppkey"), "left_anti")
      .join(broadcast(p), col("partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc,
        col("p_brand"), col("p_type"), col("p_size"))
      .limit(limit)
  }

  /** TPC-H Q19 shape (disjunctive discounted revenue): revenue over an
    * OR of brand/size/quantity conjunctions. The point is plan
    * hygiene, not arithmetic: Catalyst extracts the common
    * `p_partkey = l_partkey` equality join under the disjunction, and
    * the per-branch part predicates stay broadcast-side, so the OR
    * never degrades the join to a nested loop.
    */
  def q19Shape(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#2" && col("p_size") <= 10 &&
          col("l_quantity") <= 20) ||
        (col("p_brand") === "Brand#17" && col("p_size") <= 25 &&
          col("l_quantity") <= 35))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Lineitems-per-order histogram (the order-size profile; Q13's
    * two-level aggregation family applied to the lineitem fan-out):
    * first aggregate counts lines per order, second counts orders per
    * size. Both keyed, both partial-agg'd; the second input is one
    * row per order.
    */
  def orderSizeHist(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_lines"))
      .groupBy(col("n_lines"))
      .agg(count(lit(1)).as("n_orders"))

  /** TPC-H Q10 shape (returned-item losses): revenue tied up in
    * returned lineitems per customer, top `k` with name and nation —
    * the churn-risk report. Orders⋈lineitem is the one big-big
    * shuffle; customer+nation broadcast; the final cut is distributed
    * top-k (TakeOrderedAndProject), revenue rounded before ranking so
    * the selected set is engine-stable.
    */
  def q10Shape(s: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name", "c_nationkey")
    val n = Tables.nation(s, dir).select("n_nationkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c.join(broadcast(n),
        col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_name", "n_name")),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("lost_revenue"))
      .orderBy(col("lost_revenue").desc, col("c_custkey"))
      .limit(k)
  }

  /** TPC-H Q14 shape (promotion effect): per ship month, the share of
    * discounted revenue coming from PROMO-type parts — the
    * conditional-aggregate-ratio idiom (CASE inside SUM over one
    * scan), Q14's 100·promo/total. One broadcast dimension join, one
    * keyed aggregate; both sums ride the same partial-agg shuffle.
    */
  def q14Shape(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
    val p = Tables.part(s, dir).select("p_partkey", "p_type")
    val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
      .agg(round(sum(when(col("p_type") === "PROMO", rev).otherwise(0.0)) /
          sum(rev) * 100, 4).as("promo_pct"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q11 shape ("important stock"): per-part sales value, kept
    * only when the part's value exceeds `meanMultiple` × the mean
    * per-part value — Q11's scalar-subquery-in-HAVING, planned as a
    * broadcast 1-row cross join + filter above the aggregate. Q11's
    * literal `total × fraction` cut is density-bound (part count
    * scales with the corpus, so any fixed fraction eventually selects
    * nothing — the neighbor_jaccard lesson); a mean-relative cut asks
    * the same question scale-free. Two passes over the aggregated
    * (part-count-sized) frame, one over the fact table.
    */
  def q11Shape(s: SparkSession, dir: String,
               meanMultiple: Double = 1.25): DataFrame = {
    val perPart = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(round(sum(col("l_extendedprice")), 4).as("value"))
      .persist()
    CacheScope.register(perPart) // eager: total + filter both read it
    val total = perPart.agg(
      (sum(col("value")) / count(lit(1))).as("mean_value"))
    perPart.crossJoin(broadcast(total))
      .filter(col("value") > col("mean_value") * meanMultiple)
      .select(col("l_partkey"), col("value"))
  }

  /** RFM segmentation: per customer, recency (days from last order to
    * the corpus horizon), frequency (order count) and monetary (total
    * spend), each bucketed into quintiles by exact percentile
    * boundaries computed in ONE aggregate pass and broadcast back —
    * the same two-pass equi-depth shape as `equiDepthHist`, never a
    * global sort. Output: (r_bucket, f_bucket, m_bucket, n_customers),
    * the segment-size table a CRM pipeline consumes. Bucket 5 = most
    * orders/spend and most days stale (raw quintile semantics on each
    * axis; flipping recency is a presentation choice left to the
    * consumer). Ties share a bucket — integer frequencies make that
    * the honest semantics.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val horizon = "1998-12-31"
    val perCust = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(
        datediff(lit(horizon).cast("date"),
          max(col("o_orderdate")).cast("date")).cast("double").as("r"),
        count(lit(1)).cast("double").as("f"),
        sum(col("o_totalprice")).as("m"))
      .persist()
    CacheScope.register(perCust) // eager: boundary agg + assignment both read it
    val probs = array(Seq(0.2, 0.4, 0.6, 0.8).map(lit): _*)
    val bounds = perCust.agg(
      transform(percentile(col("r"), probs), b => round(b, 6)).as("rb"),
      transform(percentile(col("f"), probs), b => round(b, 6)).as("fb"),
      transform(percentile(col("m"), probs), b => round(b, 6)).as("mb"))
    def bucket(x: Column, bs: Column): Column =
      (aggregate(bs, lit(0),
        (acc, b) => acc + when(x > b, 1).otherwise(0)) + 1).cast("long")
    perCust.crossJoin(broadcast(bounds))
      .select(bucket(col("r"), col("rb")).as("r_bucket"),
        bucket(col("f"), col("fb")).as("f_bucket"),
        bucket(col("m"), col("mb")).as("m_bucket"))
      .groupBy("r_bucket", "f_bucket", "m_bucket")
      .agg(count(lit(1)).as("n_customers"))
  }

  /** Winsorization: clamp a measure to its per-group [p05, p95] band
    * and report the group mean before/after — the robust-stats step
    * that keeps a handful of outlier rows from dominating a model
    * feature or a revenue metric. Group quantiles are one aggregate
    * (group count is tiny) broadcast back onto the scan; bounds round
    * to 6 dp first so both engines clamp at identical doubles. Swap
    * `percentile` for `approx_percentile` at 100 TB — same shape.
    */
  def winsorize(s: SparkSession, dir: String,
                lo: Double = 0.05, hi: Double = 0.95): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    val bounds = li.groupBy("l_returnflag")
      .agg(round(percentile(col("x"), lit(lo)), 6).as("blo"),
        round(percentile(col("x"), lit(hi)), 6).as("bhi"))
    li.join(broadcast(bounds), "l_returnflag")
      .select(col("l_returnflag"), col("x"),
        least(greatest(col("x"), col("blo")), col("bhi")).as("w"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        round(avg(col("x")), 4).as("avg_raw"),
        round(avg(col("w")), 4).as("avg_winsorized"))
  }

  /** TPC-H Q22 shape: per nation, the count and total balance of
    * customers whose account balance exceeds the average positive
    * balance and who never placed an order matching `excludePriority`
    * (the fixtures give every customer orders in every year, so
    * classic Q22's "never ordered" — and any date-window variant — is
    * vacuously empty at small SFs; the priority predicate keeps the
    * exact same plan shape with a non-trivial answer at every SF).
    * The scalar average rides in as a broadcast 1-row frame (no
    * collect); the exclusion is a left-anti join — the decorrelated
    * form of NOT EXISTS — whose right side is pre-filtered by the
    * pushed-down predicate before it ever shuffles.
    */
  def q22Shape(s: SparkSession, dir: String,
               excludePriority: String = "1-URGENT"): DataFrame = {
    val c = Tables.customer(s, dir)
    val posAvg = c.filter(col("c_acctbal") > 0)
      .agg(avg(col("c_acctbal")).as("pos_avg"))
    val excluded = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === excludePriority)
      .select(col("o_custkey"))
    c.crossJoin(broadcast(posAvg))
      .filter(col("c_acctbal") > col("pos_avg"))
      .join(excluded, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
  }

  /** Q18 shape (large-volume orders): orders whose total quantity
    * clears a threshold, enriched with their customer — the
    * HAVING-then-join-back pattern. The aggregate runs FIRST and the
    * (tiny) surviving order set drives both joins, so the big table
    * shuffles once for the group-by and never again; quantity sums are
    * exact decimal so the HAVING cut can't wobble between engines.
    */
  def q18Shape(s: SparkSession, dir: String,
               minQty: Long = 150L): DataFrame = {
    val big = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sum_qty"))
      .filter(col("sum_qty") >= minQty)
    big.join(Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_orderpriority"),
        col("sum_qty").cast("double").as("sum_qty"))
  }

  /** TPC-H Q8 shape (national market share): within one region's
    * customers and one part type, the fraction of yearly revenue
    * supplied by a given nation. Adapted to the fixture schema (no
    * partsupp; p_type stands in for the type filter). The two
    * dimension chains (customer→nation→region, supplier→nation) are
    * broadcast; the only big-big shuffle is orders⋈lineitem. The
    * share is a conditional-sum-over-sum inside one aggregate pass —
    * no second scan, no self-join.
    */
  def q8Shape(s: SparkSession, dir: String,
              region: String = "ASIA", ptype: String = "PROMO",
              suppNation: String = "NATION_3"): DataFrame = {
    val custNation = broadcast(
      Tables.customer(s, dir).select("c_custkey", "c_nationkey")
        .join(Tables.nation(s, dir), col("c_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === region)
        .select("c_custkey"))
    val suppN = broadcast(
      Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val promoParts = Tables.part(s, dir)
      .filter(col("p_type") === ptype).select("p_partkey")
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("v"))
      .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey"),
            year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .join(promoParts, col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_year"))
      .agg(round(
        sum(when(col("supp_nation") === suppNation, col("v")).otherwise(0d)) /
          sum(col("v")), 6).as("mkt_share"))
  }

  /** TPC-H Q9 shape (product-type profit): profit per supplier nation
    * per order year over a part-name family. No partsupp in the
    * fixture, so unit cost is modeled as 0.1·p_retailprice — the shape
    * (filtered 4-way join, two-key rollup) is what's being exercised.
    * The p_name LIKE filter prunes `part` before the join, and
    * supplier→nation broadcasts.
    */
  def q9Shape(s: SparkSession, dir: String,
              family: String = "widget"): DataFrame = {
    val parts = Tables.part(s, dir)
      .filter(col("p_name").contains(family))
      .select("p_partkey", "p_retailprice")
    val suppN = broadcast(
      Tables.supplier(s, dir)
        .join(Tables.nation(s, dir), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name")))
    Tables.lineitem(s, dir)
      .join(parts, col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, dir).select(
          col("o_orderkey"), year(col("o_orderdate")).cast("long").as("o_year")),
        col("l_orderkey") === col("o_orderkey"))
      .join(suppN, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("o_year"))
      // per-line profit quantized to decimal(18,4) BEFORE the sum: decimal
      // addition is exact, so the aggregate is merge-order-insensitive and
      // hashes identically to any engine doing the same quantization.
      .agg(round(sum(
        (col("l_extendedprice") * (lit(1) - col("l_discount")) -
          lit(0.1) * col("p_retailprice") * col("l_quantity"))
          .cast("decimal(18,4)")).cast("double"), 2).as("profit"))
  }

  /** TPC-H Q12 shape (shipping-delay priority split): lineitems
    * bucketed by ship delay (days from order to ship; the fixture has
    * no shipmode/receiptdate, so the delay band IS the mode), counting
    * critical- vs normal-priority lines per band. One join, one
    * aggregate; the shipdate range filter pushes to the parquet scan.
    */
  def q12Shape(s: SparkSession, dir: String,
               year0: String = "1996-01-01",
               year1: String = "1997-01-01"): DataFrame = {
    val delay = datediff(col("l_shipdate"), col("o_orderdate"))
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(year0).cast("timestamp") &&
        col("l_shipdate") < lit(year1).cast("timestamp"))
      .select("l_orderkey", "l_shipdate")
      .join(Tables.orders(s, dir)
          .select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .select(
        when(delay >= 90, "LATE").when(delay >= 30, "SLOW")
          .otherwise("FAST").as("delay_bucket"),
        hi.cast("long").as("hi"), (!hi).cast("long").as("lo"))
      .groupBy(col("delay_bucket"))
      .agg(sum(col("hi")).as("high_line_count"),
        sum(col("lo")).as("low_line_count"))
  }

  /** TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    * keeping the supplier(s) that attain the maximum — the revenue is
    * rounded BEFORE the max comparison so the tie decision is made on
    * identical doubles in any engine (oracle-parity rule). The scalar
    * max is broadcast back, never a sort.
    */
  def q15Shape(s: SparkSession, dir: String,
               q0: String = "1996-01-01", q1: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(q0).cast("timestamp") &&
        col("l_shipdate") < lit(q1).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
        .as("total_rev"))
      .persist()
    CacheScope.register(rev) // eager: max + filter both read it
    val mx = rev.agg(max(col("total_rev")).as("max_rev"))
    val out = rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
    out
  }

  /** TPC-H Q20 shape (excess-share suppliers): suppliers whose shipped
    * quantity of any part in a name family exceeds a fraction of that
    * part's total shipped quantity for the year (availqty has no
    * fixture counterpart, so the threshold is the part's own shipped
    * total). Aggregate to (supplier, part) FIRST, derive the per-part
    * total from that same aggregate — the fact table is scanned and
    * shuffled exactly once, and the distinct is over suppliers only.
    */
  def q20Shape(s: SparkSession, dir: String,
               family: String = "widget", share: Double = 0.2): DataFrame = {
    val shipped = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .join(Tables.part(s, dir).filter(col("p_name").contains(family))
          .select("p_partkey"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity")).as("qty"))
    val withTot = shipped.withColumn("part_qty",
      sum(col("qty")).over(Window.partitionBy(col("l_partkey"))))
    withTot.filter(col("qty") > lit(share) * col("part_qty"))
      .select("l_suppkey").distinct()
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"))
  }

  /** TPC-H Q21 shape (suppliers who kept orders waiting): in finished
    * multi-supplier orders, the supplier who alone shipped last (the
    * unique argmax of l_shipdate; receiptdate/commitdate have no
    * fixture counterpart). Both the per-order max and the distinct-
    * supplier count come from ONE aggregate over the joined lines;
    * the argmax-uniqueness check is a second small aggregate over only
    * the max-attaining lines.
    */
  def q21Shape(s: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .persist()
    CacheScope.register(lines) // eager: per-order agg + join-back both read it
    val perOrder = lines.groupBy(col("l_orderkey").as("k"))
      .agg(max(col("l_shipdate")).as("max_ship"),
        countDistinct(col("l_suppkey")).as("nsupp"))
      .filter(col("nsupp") >= 2)
    val out = lines
      .join(perOrder, col("l_orderkey") === col("k") &&
        col("l_shipdate") === col("max_ship"))
      .groupBy(col("l_orderkey"))
      .agg(min(col("l_suppkey")).as("w_supp"),
        countDistinct(col("l_suppkey")).as("nmax"))
      .filter(col("nmax") === 1)
      .groupBy(col("w_supp"))
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
        col("w_supp") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
    out
  }

  /** TPC-H Q13 shape (customer order-count distribution): how many
    * customers placed exactly N qualifying orders, INCLUDING the
    * zero-order customers — the left join is the point of the shape
    * (an inner join silently drops the biggest bucket). The
    * qualification filter lives on the orders side BEFORE the join
    * (≡ an ON-clause predicate), and the first aggregate's key is the
    * join key, so it reuses the join's partitioning — two shuffles
    * total, the second over at most max-order-count distinct keys.
    */
  def q13Shape(s: SparkSession, dir: String,
               excludePriority: String = "3-MEDIUM"): DataFrame =
    Tables.customer(s, dir).select("c_custkey")
      .join(Tables.orders(s, dir)
          .filter(col("o_orderpriority") =!= excludePriority)
          .select("o_orderkey", "o_custkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q17 shape (small-quantity-order revenue): weekly-averaged
    * revenue from lineitems of one brand's parts whose quantity is
    * under 20% of that part's average quantity. The per-part average
    * comes from ONE aggregate over the same brand-filtered join the
    * outer query reads (cached — the classic correlated-subquery
    * decorrelation), and the brand dimension broadcasts. Quantities
    * are integer-valued doubles, so the average is exact in any merge
    * order; revenue sums in decimal before the final double rounding.
    */
  def q17Shape(s: SparkSession, dir: String,
               brand: String = "Brand#13"): DataFrame = {
    val pp = Tables.part(s, dir).filter(col("p_brand") === brand)
      .select("p_partkey")
    val j = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .persist()
    CacheScope.register(j) // eager: threshold agg + outer filter read it
    val th = j.groupBy(col("l_partkey").as("pk"))
      .agg((lit(0.2) * avg(col("l_quantity"))).as("thresh"))
    j.join(th, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < col("thresh"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double") / 7.0, 2).as("avg_yearly"))
  }

  /** One-pass column profiler (the data-quality audit a pipeline runs
    * before trusting a new drop): row count, null count, distinct
    * count, and min/max per profiled column, as one row per column.
    *
    * Shape at scale: a SINGLE aggregate over the scan — no per-column
    * jobs, no unpivot shuffle of ncols×rows. The multi-`count(distinct)`
    * rewrites through Catalyst's Expand (one shuffle, ncols× expansion
    * of the aggregate keys only); everything else is a partial agg that
    * merges map-side. The per-column rows are exploded AFTER the
    * aggregate from the single result row. Values surface as strings
    * (doubles via decimal quantization) so one schema carries every
    * column type; at 100 TB swap `count(distinct)` for
    * `approx_count_distinct` — same plan minus the Expand.
    */
  def columnProfile(s: SparkSession, dir: String): DataFrame = {
    // (name, string-surfaced value expression)
    val cols: Seq[(String, Column)] = Seq(
      "l_orderkey" -> col("l_orderkey").cast("string"),
      "l_returnflag" -> col("l_returnflag"),
      "l_shipdate" -> col("l_shipdate").cast("string"),
      "l_extendedprice" ->
        col("l_extendedprice").cast("decimal(18,2)").cast("string"))
    val aggs = cols.flatMap { case (n, c) =>
      Seq(sum(c.isNull.cast("long")).as(s"nulls_$n"),
        countDistinct(c).as(s"distinct_$n"),
        min(c).as(s"min_$n"), max(c).as(s"max_$n"))
    }
    val one = Tables.lineitem(s, dir)
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
    val entries = cols.map { case (n, _) =>
      struct(lit(n).as("column"), col("n_rows"),
        col(s"nulls_$n").as("n_nulls"), col(s"distinct_$n").as("n_distinct"),
        col(s"min_$n").as("min_v"), col(s"max_$n").as("max_v"))
    }
    one.select(explode(array(entries: _*)).as("p")).select(col("p.*"))
  }

  /** Deterministic per-group mode: the most frequent l_returnflag per
    * order priority, ties to the lexicographically smaller value — a
    * count aggregation plus a 1-row-per-group rank filter (plans as
    * WindowGroupLimit: each map task keeps its local best before the
    * per-group shuffle). Built-in `mode()` is tie-nondeterministic in
    * both engines, so the restatement IS the operator.
    */
  def modeAgg(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Hand partial-agg pushdown: collapse lineitem to one row per
    // (orderkey, flag) BELOW the join so the shuffle and join probe
    // carry counts, not raw line items (~4x fewer rows at any scale);
    // the post-join rollup then sums the pushed counts. Measured at
    // sf0.1: 6.16s (join-then-agg) -> see bench (agg-then-join).
    val perOrder = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"), col("l_returnflag"))
      .agg(count(lit(1)).as("pc"))
    val counts = perOrder
      .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"), col("l_returnflag"))
      .agg(sum(col("pc")).as("cnt"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("cnt").desc, col("l_returnflag"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"), col("l_returnflag").as("mode_flag"),
        col("cnt"))
  }

  /** Join-key skew report — the pre-flight diagnostic a planner (or an
    * engineer) reads before shuffling 100 TB on a key: row count,
    * distinct keys, max/avg per-key multiplicity, and their ratio (the
    * skew factor AQE's skew-join mitigation triggers on), for the
    * lineitem⋈orders key. Two aggregates (per-key counts, then global
    * moments over the key histogram) — the same cost shape as
    * `degreeDistribution`. The avg is an exact integer ratio so both
    * engines divide identical doubles.
    */
  def skewReport(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(col("l_orderkey"))
      .groupBy("l_orderkey").agg(count(lit(1)).as("c"))
      .agg(sum(col("c")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("c")).as("max_cnt"))
      .select(col("n_rows"), col("n_keys"), col("max_cnt"),
        round(col("n_rows") / col("n_keys"), 6).as("avg_cnt"),
        round(col("max_cnt") * col("n_keys") / col("n_rows"), 6)
          .as("skew_factor"))

  /** Per-bucket table checksums — the anti-entropy fingerprint two
    * replicas (or a source and its migrated copy) exchange to find
    * diverging buckets without moving data: documents hashed row-wise
    * with the engine's overflow-free multiplicative fold (id and
    * n_chars both feed the fold, so a changed row, not just a missing
    * one, flips its bucket), summed per `buckets`-way id bucket. One
    * partial-agg shuffle over `buckets` keys; comparing two tables is
    * then a `buckets`-row join, not a row-level diff.
    */
  def tableChecksums(s: SparkSession, dir: String,
                     buckets: Int = 64): DataFrame =
    Tables.documents(s, dir)
      .select(pmod(col("doc_id"), lit(buckets.toLong)).as("bucket"),
        pmod(col("doc_id") * lit(8388593L) + col("n_chars") * lit(31L),
          lit(2147483648L)).as("h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("checksum"))

  /** Slowly-changing-dimension type-2 history build: treat each
    * customer's order stream as a change log of their
    * `o_orderpriority` and emit one versioned row per VALUE CHANGE —
    * (custkey, value, effective_from, effective_to, version), open
    * interval (`effective_to` null) on the current value. This is the
    * warehouse-standard dimension-versioning merge (Kimball SCD2),
    * built from the log in one pass instead of row-at-a-time MERGE.
    *
    * Two windows over the same (custkey × chronological) partitioning
    * — `lag` to keep change points, `lead`/`row_number` to close
    * intervals and number versions — so the whole operator is ONE
    * shuffle on the dimension key followed by two in-partition sorted
    * passes (Spark reuses the sort between same-keyed windows).
    * Within-day reorders are tie-broken by order key, so the history
    * is deterministic and the oracle restates it row-for-row.
    */
  def scd2History(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val changes = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
    changes
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("eff_from"),
        date_format(lead(col("o_orderdate"), 1).over(w), "yyyy-MM-dd")
          .as("eff_to"),
        row_number().over(w).as("version"))
  }

  /** Frequent item PAIRS (market-basket, A-priori level 2): parts that
    * co-occur in at least `minSupport` orders, by support count. The
    * per-order item list dedupes first (multiplicity is not support);
    * `basketCap` drops whale orders before the pair fan-out — the same
    * Σ|basket|² quadratic control as every wedge/candidate operator
    * here (a 10k-item basket would emit 50M pairs and says nothing
    * about pairwise affinity anyway). Pair generation is a per-order
    * self-join on the order key, so the shuffle is keyed on orders
    * then pairs — never all-pairs across orders.
    */
  def frequentPairs(s: SparkSession, dir: String, minSupport: Int = 3,
                    basketCap: Int = 30): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist()
    CacheScope.register(items) // eager: size filter + both pair sides
    val small = items.groupBy("ok").agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= basketCap).select("ok")
    // persist+register (r11): b feeds BOTH pair-join sides — uncached,
    // the items⋈small restriction ran twice per query (StageProbe; the
    // sibling pairLift already cached it)
    val b = CacheScope.register(items.join(small, "ok").persist())
    b.select(col("ok"), col("pk").as("p1"))
      .join(b.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
      .orderBy(col("support").desc, col("p1"), col("p2"))
  }

  /** TPC-H Q2's correlated-min shape re-expressed on the star schema
    * here (no partsupp table): for each part, the supplier offering
    * its MINIMUM observed unit price (extendedprice/quantity on that
    * part's lineitems) — the classic "row matching a per-group
    * aggregate" decorrelation. The subquery plans as one partial-agg'd
    * groupBy joined back on the group key. Unit prices are doubles
    * computed from exact integer-scaled inputs (cents / integer qty),
    * so every engine derives the IDENTICAL double per row; `min` over
    * those is order-insensitive, and the equality match against the
    * min is exact — no epsilon, no tie ambiguity (supplier ties break
    * to min id).
    */
  def q2MincostShape(s: SparkSession, dir: String, k: Int = 50): DataFrame = {
    val unit = col("cents").cast("double") / col("qty")
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        // floor(x·100+0.5), not cast: the double nearest an exact
        // 2-decimal price can sit a hair BELOW it, and a bare cast
        // truncates that to the wrong cent
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
          .as("cents"),
        col("l_quantity").cast("long").as("qty"))
      .persist()
    CacheScope.register(li) // eager: min-agg + match join read it
    val best = li.groupBy("l_partkey").agg(min(unit).as("mu"))
    li.join(best, Seq("l_partkey"))
      .filter(unit === col("mu"))
      .groupBy(col("l_partkey"))
      .agg(min(col("l_suppkey")).as("best_supp"),
        (floor(min(col("mu")) * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("unit_price"))
      .orderBy(col("l_partkey"))
      .limit(k)
  }

  /** Mergeable-sketch rollup: per (event_type, day) HLL sketches of
    * the user set, UNIONED across days per type — the two-level
    * pattern that makes approximate distinct counts reaggregable
    * without rescanning (daily sketches persist once; any rollup —
    * weekly, monthly, all-time — is a cheap sketch union, the thing a
    * raw `approx_count_distinct` over the rollup window cannot do
    * without touching raw data again). Estimates are checked against
    * the exact distinct count with the sketch's error budget; the
    * surfaced columns are exact counts + boolean tolerance flags, so
    * the oracle restates exact values and `TRUE` (the approx_agg
    * contract).
    */
  def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        to_date(col("ts")).as("day"), col("user_id"))
      .groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
        countDistinct(col("user_id")).as("exact_day"))
    daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
        count(lit(1)).as("n_days"))
      .join(
        Tables.events(s, dir).groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users")),
        "event_type")
      .select(col("event_type"), col("n_days"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          greatest(col("exact_users") * lit(0.05), lit(5.0))).as("est_ok"))
      .orderBy("event_type")
  }

  /** Mergeable frequency-sketch rollup (W543) — the datasketches
    * FREQUENT-ITEMS tour [[hllRollup]] gives cardinality: per-day
    * `approx_top_k_accumulate` partial sketches, one
    * `approx_top_k_combine` union, one `approx_top_k_estimate` — the
    * two-phase shape that lets a 1000-executor ingest keep per-shard
    * heavy-hitter state and merge it without reshuffling raw rows.
    * Gated in the sketch's EXACT regime: `cap` ≥ distinct types, so
    * no counter is ever evicted and the estimate equals the exact
    * census (and `k` ≥ distinct, so no tie at a cut boundary can
    * reorder the surfaced set) — the same exactness discipline as the
    * HLL/KMV audits, but here the sketch itself is the operator under
    * test, not its error. Exploded to (item, count) rows so the
    * compare is order-free.
    */
  def topkSketchRollup(s: SparkSession, dir: String, cap: Int = 100,
                       k: Int = 50): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr(s"approx_top_k_accumulate(event_type, $cap)").as("sk"))
    daily
      .agg(expr(s"approx_top_k_estimate(" +
        s"approx_top_k_combine(sk, $cap), $k)").as("est"))
      .select(explode(col("est")).as("e"))
      .select(col("e.item").as("event_type"), col("e.count").as("n"))
      .orderBy("event_type")
  }

  /** Mergeable HLL distinct-count rollup (W555) — the Spark-4.1
    * datasketches HLL surface (`hll_sketch_agg` / `hll_union_agg` /
    * `hll_sketch_estimate`), the two-phase shape a 1000-executor
    * ingest uses for distinct users: per-(type, day) partial sketches
    * (bytes, not user ids) union'd per type WITHOUT reshuffling raw
    * rows. The estimate itself is engine-specific, so the gate pins
    * what IS restatable: the exact distinct census, and two booleans
    * computed Spark-side — `merge_consistent` (the union of daily
    * partials lands within 2% of the one direct global sketch;
    * TOLERANCE, not equality, because DataSketches estimates are not
    * layout-independent — a directly-built sketch keeps the HIP
    * estimator while a non-trivial union falls back to the composite
    * one, so two cuts of the same set can differ by a few counts,
    * measured in Round10OpsSpec) and `est_ok` (|est − exact|·20 ≤
    * exact, within 5% — far outside HLL's error at lgK=12) — which
    * the oracle restates as literal TRUEs. A broken union (dropped
    * register, wrong max) blows both tolerances and hash-fails the
    * gate.
    */
  def hllSketchRollup(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), col("user_id"), to_date(col("ts")).as("day"))
    val merged = ev.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_merged"))
    val direct = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("est_direct"),
        countDistinct(col("user_id")).as("exact_distinct"))
    merged.join(direct, "event_type")
      .select(col("event_type"), col("exact_distinct"),
        (abs(col("est_merged") - col("est_direct")) * lit(50L) <=
          col("exact_distinct")).as("merge_consistent"),
        (abs(col("est_merged") - col("exact_distinct")) * lit(20L) <=
          col("exact_distinct")).as("est_ok"))
      .orderBy("event_type")
  }

  /** `try_*` ANSI-safe arithmetic surface (W544): overflow and
    * division-by-zero return NULL (`try_multiply`, `try_divide`)
    * instead of wrapping silently (legacy mode) or failing the stage
    * (ANSI mode) — the per-row error-quarantine semantics a 100 TB
    * pipeline needs, where one poisoned row must not kill a 6-hour
    * job NOR corrupt an aggregate by wrapping. The planted overflow
    * (cents × 2×10¹², crossing 2⁶³ exactly where cents >
    * ⌊Long.Max/2×10¹²⌋) splits the fixture both ways, and the oracle
    * restates the semantics as explicit guards — so the gate pins
    * WHERE the null boundary sits, bit-exactly. Per-flag census of
    * null counts and the surviving values; one partial-agg'd scan.
    */
  def tryArithmetic(s: SparkSession, dir: String): DataFrame = {
    val m = 2000000000000L
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"),
        col("l_linenumber").cast("long").as("ln"))
      .select(col("l_returnflag"),
        try_multiply(col("cents"), lit(m)).as("mul"),
        try_divide(col("cents"), col("ln") - lit(1L)).as("dv"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("mul").isNull, 1L).otherwise(0L))
          .as("n_mul_overflow"),
        max(col("mul")).as("mul_max"),
        sum(when(col("dv").isNull, 1L).otherwise(0L)).as("n_div_null"),
        sum(floor(col("dv") * lit(1e6) + lit(0.5)).cast("long"))
          .as("div_sum6"))
      .orderBy("l_returnflag")
  }

  /** `IDENTIFIER()` templated-name resolution (W547) — the
    * SQL-injection-safe parameterization surface: table, aggregated
    * column, and group key all flow through `IDENTIFIER('…')`
    * constant-expression clauses, which Catalyst must resolve to the
    * same plan as the literal spelling (the mechanism a multi-tenant
    * query service uses to template object names WITHOUT string
    * splicing — a non-identifier string fails resolution instead of
    * injecting SQL). Gated value-exact against the oracle's plain
    * spelling; cents stay on the exact integer grid.
    */
  def identifierTemplated(s: SparkSession, dir: String): DataFrame = {
    val view = "graft_identifier_orders"
    Tables.orders(s, dir).createOrReplaceTempView(view)
    s.sql(
      s"""SELECT IDENTIFIER('o_orderpriority') AS priority,
                 count(*) AS n_orders,
                 sum(CAST(floor(IDENTIFIER('o_totalprice') * 100 + 0.5)
                   AS BIGINT)) AS cents
          FROM IDENTIFIER('$view')
          GROUP BY IDENTIFIER('o_orderpriority')
          ORDER BY priority""")
  }

  /** Association LIFT over the basket pairs [[frequentPairs]] mines:
    * lift(a,b) = P(a,b)/(P(a)·P(b)) = support_ab·N/(s_a·s_b) — the
    * "is this co-occurrence more than chance" score that separates
    * genuinely-associated items from merely-popular ones (support
    * alone top-ranks whatever two items are individually common).
    * Same capped baskets, one extra per-item support aggregation;
    * everything divides exact integers, quantized at 1e-4.
    */
  def pairLift(s: SparkSession, dir: String, minSupport: Int = 3,
               basketCap: Int = 30, k: Int = 40): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist()
    CacheScope.register(items) // eager: cap filter + singles + pairs
    val small = items.groupBy("ok").agg(count(lit(1)).as("sz"))
      .filter(col("sz") <= basketCap).select("ok")
    val b = items.join(small, "ok").persist()
    CacheScope.register(b) // eager: N + singles + both pair sides
    val nBaskets = b.select("ok").distinct().count()
    val singles = b.groupBy("pk").agg(count(lit(1)).as("s1"))
    val pairs = b.select(col("ok"), col("pk").as("p1"))
      .join(b.select(col("ok"), col("pk").as("p2")), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(singles.select(col("pk").as("p1"), col("s1").as("sa")), "p1")
      .join(singles.select(col("pk").as("p2"), col("s1").as("sb")), "p2")
      .select(col("p1"), col("p2"), col("support"),
        (floor(col("support").cast("double") * lit(nBaskets.toDouble) /
          (col("sa") * col("sb")) * lit(1e4) + lit(0.5)) / lit(1e4))
          .as("lift"))
      .orderBy(col("lift").desc, col("p1"), col("p2"))
      .limit(k)
  }

  /** Deterministic mergeable-quantile sketch query: per return flag,
    * the Munro–Paterson ladder's decile estimates checked against the
    * exact percentiles with a ±5 %-RANK acceptance band — the
    * bounded-state alternative to `percentile` (whose buffer is the
    * whole group) when a 100 TB column needs quantiles in one pass.
    * Sketch internals ride partial aggregation (O(b·log(N/b)) values
    * per map task cross the wire); the surfaced columns are the EXACT
    * percentiles plus boolean in-band flags, so the result is
    * independent of merge order (the flags hold for ANY merge tree by
    * the sketch's deterministic error bound).
    */
  def mpQuantiles(s: SparkSession, dir: String, b: Int = 512): DataFrame = {
    val sk = udaf(new graft.functions.Aggregators.MpQuantileAgg(b))
    val ps = (1 to 9).map(_ / 10.0)
    val lo = ps.map(p => math.max(0.01, p - 0.05))
    val hi = ps.map(p => math.min(0.99, p + 0.05))
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(sk(col("l_extendedprice")).as("sk"),
        percentile(col("l_extendedprice"),
          array(ps.map(lit): _*)).as("exact"),
        percentile(col("l_extendedprice"),
          array(lo.map(lit): _*)).as("lo"),
        percentile(col("l_extendedprice"),
          array(hi.map(lit): _*)).as("hi"))
      .select(col("l_returnflag"), col("exact"), col("lo"), col("hi"),
        posexplode(col("sk")).as(Seq("i", "pe")))
      .select(col("l_returnflag"), col("pe._1").as("p"),
        // project-wide quantize rule (floor(x*10^d+0.5)/10^d), not
        // round(): double round() half-way semantics are
        // implementation-defined across engines
        (floor(element_at(col("exact"), col("i") + 1) * lit(1e4)
          + lit(0.5)) / lit(1e4)).as("exact_q"),
        (col("pe._2") >= element_at(col("lo"), col("i") + 1) &&
          col("pe._2") <= element_at(col("hi"), col("i") + 1)).as("in_band"))
  }

  /** Join-output cardinality forecast: |A ⋈ B on k| = Σ_k f_A(k)·f_B(k)
    * computed EXACTLY from the two sides' key histograms — the number
    * a planner needs before committing to a join strategy, and the
    * skew diagnostic behind it (the top-1 key's product vs the total
    * tells you whether one reducer eats the join). Two partial-agg'd
    * key counts + one join of the (small) histograms; the fact tables
    * never join. Forecast for orders ⋈ lineitem on orderkey, with the
    * verified actual.
    */
  def joinCardinalityForecast(s: SparkSession, dir: String): DataFrame = {
    val fa = Tables.orders(s, dir)
      .groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val fb = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    val prod = fa.join(fb, "k")
      .select(col("k"), (col("ca") * col("cb")).as("p"))
      .persist()
    CacheScope.register(prod) // eager: total + max read it
    prod.agg(sum("p").as("forecast_rows"),
        max("p").as("max_key_rows"),
        count(lit(1)).as("n_join_keys"))
      .select(col("forecast_rows"), col("n_join_keys"),
        col("max_key_rows"),
        (floor(col("max_key_rows").cast("double") / col("forecast_rows")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("top_key_share"))
  }

  /** 2-D joint histogram of (quantity band, discount band) with the
    * independence ratio per cell — the bivariate profile that shows
    * WHERE two columns co-vary (a 1-D histogram per column can't):
    * cells with ratio ≫ 1 are the correlated pockets a pricing or
    * skew analysis drills into. Integer band math, one
    * partial-aggregated pass, marginals recovered from the cell
    * table itself (no second scan).
    */
  def hist2d(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select((col("l_quantity").cast("long") / lit(10)).cast("int")
          .as("qty_band"),
        floor(col("l_discount") * lit(20) + lit(0.5)).cast("int")
          .as("disc_band"))
      .groupBy("qty_band", "disc_band")
      .agg(count(lit(1)).as("n"))
      .persist()
    CacheScope.register(cells) // eager: marginals + total + cell scan
    val mq = cells.groupBy("qty_band").agg(sum("n").as("nq"))
    val md = cells.groupBy("disc_band").agg(sum("n").as("nd"))
    val tot = cells.agg(sum("n")).head().getLong(0)
    cells.join(broadcast(mq), "qty_band")
      .join(broadcast(md), "disc_band")
      .select(col("qty_band"), col("disc_band"), col("n"),
        (floor(col("n").cast("double") * lit(tot.toDouble) /
          (col("nq") * col("nd")) * lit(1e4) + lit(0.5)) / lit(1e4))
          .as("independence_ratio"))
      .orderBy("qty_band", "disc_band")
  }

  /** Disappearing items: parts ordered in the history window but
    * absent from the last `recentDays` of ship activity — the
    * assortment-gap / deprecation report (the anti-join twin of
    * "new items"). Dates compare as exact day numbers; the recent
    * set stays a semi-join key list, so the big table scans once
    * per side with the filter pushed to the scan.
    */
  def disappearingItems(s: SparkSession, dir: String,
                        recentDays: Int = 60, k: Int = 50): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), to_date(col("l_shipdate")).as("d"))
      .persist()
    CacheScope.register(li) // eager: max probe + both window scans
    // the cutoff stays a broadcast 1-row relation (no driver date
    // round-trip — the ship column is TIMESTAMP_NTZ and collecting it
    // marries the code to a JVM date class for no benefit)
    val cut = broadcast(li.agg(
      date_sub(max(col("d")), recentDays).as("cut")))
    val withCut = li.crossJoin(cut)
    val recent = withCut.filter(col("d") >= col("cut"))
      .select("l_partkey").distinct()
    withCut.filter(col("d") < col("cut"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_hist"),
        date_format(max("d"), "yyyy-MM-dd").as("last_seen"))
      .join(recent, Seq("l_partkey"), "left_anti")
      .orderBy(col("n_hist").desc, col("l_partkey"))
      .limit(k)
  }

  /** Zone-map prune report: given the z-order bucket layout
    * [[zorderBuckets]] produces, how many buckets a conjunctive range
    * predicate on BOTH keys would scan vs skip — the data-skipping
    * effectiveness audit run after a layout rewrite (the whole point
    * of clustering: a predicate's touched-bucket count IS its I/O at
    * scale, since each bucket is a file with min/max zone maps).
    * Pure arithmetic over the 64-row bucket table.
    */
  def zonemapPruneReport(s: SparkSession, dir: String,
                         pkLo: Long = 100, pkHi: Long = 300,
                         skLo: Long = 10, skHi: Long = 40): DataFrame = {
    val zb = zorderBuckets(s, dir)
    val overlaps = (col("min_pk") <= pkHi) && (col("max_pk") >= pkLo) &&
      (col("min_sk") <= skHi) && (col("max_sk") >= skLo)
    zb.agg(count(lit(1)).as("n_buckets"),
        sum(when(overlaps, 1L).otherwise(0L)).as("scanned"),
        sum(when(overlaps, col("n_rows")).otherwise(0L)).as("rows_scanned"),
        sum(col("n_rows")).as("rows_total"))
      .select(col("n_buckets"), col("scanned"),
        (col("n_buckets") - col("scanned")).as("skipped"),
        col("rows_scanned"), col("rows_total"),
        (floor(col("rows_scanned").cast("double") / col("rows_total")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("scan_frac"))
  }

  /** Functional-dependency / candidate-key audit (W268): for each
    * declared candidate X→Y, the group counts that decide whether the
    * dependency holds and HOW broken it is — `violating_groups` (LHS
    * groups seeing >1 distinct RHS) and the g3 error (minimum rows to
    * delete so the FD holds: n − Σ_groups max single-RHS count, the
    * standard TANE/FDEP measure). The schema-discovery companion to
    * `fk_audit`/`column_profile`: this is the audit that decides
    * whether a column is safe to use as a dedup key, a partition key,
    * or a join key at 100 TB. Each candidate costs one two-level
    * groupBy (map-side partial agg on both levels); candidates union
    * into one table. All counts exact integers.
    */
  def fdAudit(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ords = Tables.orders(s, dir)
    def audit(df: DataFrame, name: String, lhs: Seq[String],
              rhs: String): DataFrame = {
      val rc = df.groupBy((lhs :+ rhs).map(col): _*)
        .agg(count(lit(1)).as("c"))
      rc.groupBy(lhs.map(col): _*)
        .agg(count(lit(1)).as("n_rhs"), sum(col("c")).as("n_rows"),
          max(col("c")).as("mx"))
        .agg(count(lit(1)).as("lhs_groups"),
          sum(when(col("n_rhs") > 1, 1L).otherwise(0L))
            .as("violating_groups"),
          (sum(col("n_rows")) - sum(col("mx"))).as("g3_rows"))
        .select(lit(name).as("fd"), col("lhs_groups"),
          col("violating_groups"), col("g3_rows"),
          (col("violating_groups") === 0L).as("holds"))
    }
    audit(ords, "o_orderkey->o_custkey", Seq("o_orderkey"), "o_custkey")
      .unionAll(audit(ords, "o_custkey->o_orderpriority",
        Seq("o_custkey"), "o_orderpriority"))
      .unionAll(audit(li, "l_orderkey->l_returnflag",
        Seq("l_orderkey"), "l_returnflag"))
      .unionAll(audit(li, "l_orderkey,l_linenumber->l_partkey",
        Seq("l_orderkey", "l_linenumber"), "l_partkey"))
      .unionAll(audit(li, "l_partkey->l_suppkey",
        Seq("l_partkey"), "l_suppkey"))
      .orderBy("fd")
  }

  /** Poisson-bootstrap confidence interval for the mean order price —
    * the one-pass distributed bootstrap (each record enters resample b
    * with a Poisson(1) multiplicity, so no resample ever materializes):
    * B resamples, weight from a REPLICABLE hash of (orderkey, b)
    * mapped through the Poisson(1) CDF on a 1e7 integer grid (capped
    * at 5 — P(≥5) ≈ 0.37%, documented), weighted means per resample,
    * CI endpoints picked by rank over the B means (2.5th/97.5th
    * percentile as row_number 3 and 98 of B=100, fully tie-broken by
    * (mean, b) so both engines select the same element).
    *
    * Scale shape: the ×B row expansion fuses into whole-stage codegen
    * and partial-aggregates BEFORE the exchange, so the shuffle is B
    * keys × partitions partials — CPU scales ×B (the algorithm's
    * defining cost, B a fixed constant), shuffle volume doesn't scale
    * with the corpus at all. Prices land on the exact cents grid, so
    * per-resample weighted sums are exact LONGs (≤ ~5·Σcents) and
    * each mean is one identical double division on both engines.
    */
  def bootstrapCi(s: SparkSession, dir: String, b: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
      floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
        .as("cents"))
    val h = pmod(pmod(col("k") * lit(1000003L) + col("b") * lit(7919L),
      lit(2147483648L)) * lit(8388593L), lit(10000000L))
    // Poisson(1) CDF thresholds on the 1e7 grid: 0.3678794, 0.7357589,
    // 0.9196986, 0.9810118, 0.9963402, tail capped at 5
    val w = when(h < 3678794L, 0L).when(h < 7357589L, 1L)
      .when(h < 9196986L, 2L).when(h < 9810118L, 3L)
      .when(h < 9963402L, 4L).otherwise(5L)
    val means = o
      .select(col("k"), col("cents"),
        explode(sequence(lit(1L), lit(b.toLong))).as("b"))
      .select(col("b"), w.as("w"), col("cents"))
      .groupBy("b")
      .agg(sum(col("w") * col("cents")).as("swc"), sum(col("w")).as("sw"))
      .select(col("b"),
        (col("swc").cast("double") / col("sw").cast("double") / lit(100.0))
          .as("m"))
    // B rows: the single-partition rank window is over a constant-size
    // table, never the corpus
    val ranked = means
      .withColumn("rn", row_number().over(Window.orderBy(col("m"), col("b"))))
    // 2.5th/97.5th percentile ranks (ceil convention): 3 and 98 at B=100
    val loRank = math.max(1, math.ceil(0.025 * b).toInt)
    val hiRank = math.min(b, math.ceil(0.975 * b).toInt)
    val ci = ranked.agg(
      max(when(col("rn") === loRank, col("m"))).as("lo"),
      max(when(col("rn") === hiRank, col("m"))).as("hi"))
    val point = o.agg(count(lit(1)).as("n_orders"),
      (sum(col("cents")).cast("double") / count(lit(1)).cast("double") /
        lit(100.0)).as("mean"))
    point.crossJoin(broadcast(ci))
      .select(col("n_orders"),
        graft.operators.Events.q(col("mean"), 6).as("mean_price"),
        graft.operators.Events.q(col("lo"), 6).as("ci_lo"),
        graft.operators.Events.q(col("hi"), 6).as("ci_hi"),
        lit(b).as("n_resamples"))
  }

  /** Split-conformal prediction interval for order price with a
    * distribution-free coverage guarantee (Vovk; Lei et al.): hash-split
    * orders 50/25/25 into train/calibration/test, fit the trivially
    * restatable predictor (per-item-count mean price on the cents
    * grid, global-mean fallback for unseen counts), take q̂ as the
    * ⌈(n_cal+1)(1−α)⌉-th order statistic of calibration |residuals|,
    * then report the TEST coverage of ŷ ± q̂ — the finite-sample
    * guarantee says ≥ 1−α in expectation, and measuring it on held-out
    * data is the point of the audit.
    *
    * Scale shape: residuals are exact LONG cents, and q̂ is selected
    * via the cumulative window over the DISTINCT-residual count table
    * (the `sgd_auc` trick — the k-th order statistic without a per-row
    * global sort); everything else is two broadcast joins and
    * one-row aggregates. The hash split means a row's fate never
    * depends on partitioning or order.
    */
  def conformalIntervals(s: SparkSession, dir: String,
                         alpha: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir).select(col("o_orderkey").as("k"),
      floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
        .as("cents"))
    val li = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("n_items"))
    val base = CacheScope.track(o.join(li, Seq("k"), "left")
      .na.fill(0L, Seq("n_items"))
      .withColumn("split", Curation.pctHash(col("k")))
      .persist()) // train fit + calib quantile + test coverage
    val train = base.filter(col("split") < 50)
    val model = train.groupBy("n_items")
      .agg(floor(sum(col("cents")).cast("double") / count(lit(1)) +
        lit(0.5)).cast("long").as("yhat"))
    val gm = train.agg(floor(sum(col("cents")).cast("double") /
      count(lit(1)) + lit(0.5)).cast("long").as("gy"),
      count(lit(1)).as("n_train"))
    val scored = base.join(broadcast(model), Seq("n_items"), "left")
      .crossJoin(broadcast(gm))
      .select(col("k"), col("split"), col("n_train"),
        abs(col("cents") - coalesce(col("yhat"), col("gy"))).as("r"))
    val calib = scored.filter(col("split") >= 50 && col("split") < 75)
    val nc = calib.agg(count(lit(1)).as("n_calib"))
    // q̂ = smallest residual whose cumulative count reaches the rank —
    // the window runs over DISTINCT residual values only
    val w = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, 0)
    val qhat = calib.groupBy("r").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(w))
      .crossJoin(broadcast(nc))
      .filter(col("cum") >=
        ceil((col("n_calib") + lit(1)) * lit(1.0 - alpha)))
      .agg(min(col("r")).as("qhat"), max(col("n_calib")).as("n_calib"))
    scored.filter(col("split") >= 75)
      .crossJoin(broadcast(qhat))
      .agg(max(col("n_train")).as("n_train"),
        max(col("n_calib")).as("n_calib"),
        count(lit(1)).as("n_test"),
        (max(col("qhat")).cast("double") / lit(100.0)).as("qh"),
        (sum(when(col("r") <= col("qhat"), 1L).otherwise(0L))
          .cast("double") / count(lit(1)).cast("double")).as("cov"))
      .select(col("n_train"), col("n_calib"), col("n_test"),
        graft.operators.Events.q(col("qh"), 6).as("qhat_price"),
        graft.operators.Events.q(col("cov"), 6).as("coverage"))
  }

  /** LATERAL correlated-subquery top-k (W306): each March-1996 order's
    * 2 highest-value lineitems via `, LATERAL (… ORDER BY … LIMIT 2)` —
    * the ANSI shape (also DuckDB's) for "top-k rows of B per row of
    * A". Exercises a genuinely different Catalyst surface than the
    * window-function [[windowTopk]]: `DecorrelateInnerQuery` +
    * `RewriteLateralSubquery` must turn the per-row subquery into ONE
    * ranked join — without that rewrite the plan would be N
    * correlated executions. Ties break on (l_extendedprice DESC,
    * l_linenumber), so the cut is total-ordered and the oracle's
    * LATERAL (which DuckDB executes as its own dependent join)
    * returns the identical row set. Scale: the decorrelated plan is a
    * filter-pushed orders scan joined to a per-orderkey rank — no
    * driver loops, no re-execution per row.
    */
  def lateralJoinTopk(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders")
    Tables.lineitem(s, dir).createOrReplaceTempView("graft_lineitem")
    s.sql("""
      SELECT o_orderkey, o_totalprice, l.l_linenumber, l.l_extendedprice
      FROM graft_orders,
        LATERAL (SELECT l_linenumber, l_extendedprice
                 FROM graft_lineitem
                 WHERE l_orderkey = o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber
                 LIMIT 2) AS l
      WHERE o_orderdate >= timestamp'1996-03-01 00:00:00'
        AND o_orderdate <  timestamp'1996-04-01 00:00:00'""")
  }

  /** Smoothed target encoding with an out-of-fold leakage audit
    * (W308): the empirical-Bayes categorical encoding enc(g) =
    * (Σy_g + m·prior)/(n_g + m) of customer market segment against
    * order value — plus the audit that makes it SAFE to use: the
    * encoding refit on each half of a deterministic 2-fold split (the
    * repo's hash-arm convention on o_orderkey) and the cross-fold
    * gap. A segment whose fold encodings disagree is memorizing its
    * own targets, which is exactly how target encoding leaks at
    * training time. Sufficient statistics are exact 1e6-grid
    * DECIMAL(38) sums split by fold ONCE (full = a+b — one scan, not
    * three); prior and encodings are fixed double chains over those
    * exact integers. O(segments) rows after one partial-agg shuffle.
    */
  def targetEncode(s: SparkSession, dir: String,
                   m: Double = 20.0): DataFrame = {
    val dec = "decimal(38,0)"
    val j = Tables.orders(s, dir)
      .select(col("o_custkey"),
        floor(col("o_totalprice") * lit(1e6) + lit(0.5)).cast("long")
          .as("y"),
        (pmod(pmod(col("o_orderkey"), lit(2147483648L)) * lit(8388593L),
          lit(100L)) < 50).cast("long").as("inA"))
      .join(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("segment")),
        col("o_custkey") === col("c_custkey"))
    val bySeg = j.groupBy("segment")
      .agg(sum(col("inA")).as("na"),
        sum(lit(1L) - col("inA")).as("nb"),
        sum(when(col("inA") === 1, col("y")).otherwise(0L).cast(dec))
          .as("sa"),
        sum(when(col("inA") === 0, col("y")).otherwise(0L).cast(dec))
          .as("sb"))
    val tot = bySeg.agg(sum(col("na") + col("nb")).as("n_all"),
      sum(col("sa") + col("sb")).as("s_all"))
    def enc(sum: org.apache.spark.sql.Column,
            n: org.apache.spark.sql.Column) =
      (sum.cast("double") / lit(1e6) + lit(m) * col("prior")) /
        (n.cast("double") + lit(m))
    bySeg.crossJoin(broadcast(tot))
      .withColumn("prior",
        col("s_all").cast("double") / lit(1e6) /
          col("n_all").cast("double"))
      .select(col("segment"), (col("na") + col("nb")).as("n"),
        Events.q((col("sa") + col("sb")).cast("double") / lit(1e6) /
          (col("na") + col("nb")).cast("double"), 6).as("mean_raw"),
        Events.q(enc(col("sa") + col("sb"), col("na") + col("nb")), 6)
          .as("enc_full"),
        Events.q(enc(col("sa"), col("na")), 6).as("enc_fold_a"),
        Events.q(enc(col("sb"), col("nb")), 6).as("enc_fold_b"),
        Events.q(abs(enc(col("sa"), col("na"))
          - enc(col("sb"), col("nb"))), 6).as("fold_gap"))
      .orderBy("segment")
  }

  /** Simpson's-paradox audit (W309): the per-stratum OLS slope of
    * extended price on discount vs the pooled slope, with the
    * sign-reversal flag decided on EXACT integers — slope =
    * (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) has both numerator and
    * denominator as DECIMAL(38) products of exact 1e6-grid sums, so
    * "stratum trend contradicts the aggregate trend" is a bit-exact
    * sign comparison, not a float threshold. The confounding screen
    * every observational readout ([[Events.cupedAdjust]],
    * [[Events.diffInDiff]]) should run first: a reversed stratum
    * means the pooled slope is mix composition, not effect. One
    * partial-agg scan to strata moments; pooled moments are the SUM
    * of stratum moments (no second scan).
    */
  def simpsonAudit(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val li = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("stratum"),
      floor(col("l_discount") * lit(1e6) + lit(0.5)).cast("long")
        .as("x"),
      floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
        .as("y"))
    val g = li.groupBy("stratum")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("y").cast(dec)).as("sy"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"))
      .localCheckpoint() // pooled row re-aggregates these 5-row stats
    val pooled = g.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
      sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
      sum(col("sxy")).as("sxy"))
    def num(pre: String) = col(s"${pre}n").cast(dec) * col(s"${pre}sxy") -
      col(s"${pre}sx") * col(s"${pre}sy")
    def den(pre: String) = col(s"${pre}n").cast(dec) * col(s"${pre}sxx") -
      col(s"${pre}sx") * col(s"${pre}sx")
    val p = pooled.select(col("n").as("pn"), col("sx").as("psx"),
      col("sy").as("psy"), col("sxx").as("psxx"), col("sxy").as("psxy"))
    g.crossJoin(broadcast(p))
      .select(col("stratum"), col("n"),
        Events.q(num("").cast("double") / den("").cast("double"), 6)
          .as("slope"),
        Events.q(num("p").cast("double") / den("p").cast("double"), 6)
          .as("pooled_slope"),
        // exact sign logic on the numerators (denominators are ≥ 0 by
        // Cauchy–Schwarz, so slope sign = numerator sign); compared as
        // booleans — the DECIMAL(38) product would overflow. A zero
        // numerator is "no trend", never a flip.
        when(num("") =!= 0 && num("p") =!= 0 &&
          ((num("") < 0) =!= (num("p") < 0)), 1L).otherwise(0L)
          .as("sign_flip"))
      .orderBy("stratum")
  }

  /** Point-in-time (PIT) join (W317): each lineitem joined to the
    * customer's order-priority VERSION valid at ship time — the
    * temporal star-schema join every SCD2 dimension
    * ([[scd2History]]) exists to serve, and the one a plain key join
    * silently gets wrong (it reads today's attribute for yesterday's
    * fact — time-travel leakage, the batch cousin of
    * [[graft.operators.Curation]]'s train/serve leaks). Versions are
    * half-open [eff_from, eff_to); facts bind by custkey + range
    * containment, so the join is customer-keyed with per-customer
    * version lists — co-partitioned, never quadratic. `drifted`
    * counts lineitems whose valid-at-ship priority differs from the
    * order's own — the rows a non-temporal join would mislabel.
    * Exact 1e6-grid revenue sums; one row per priority.
    */
  def pitJoin(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("custkey")
      .orderBy(col("t_from"), col("okey"))
    val dim = Tables.orders(s, dir)
      .select(col("o_custkey").as("custkey"),
        col("o_orderpriority").as("priority"),
        unix_timestamp(col("o_orderdate")).as("t_from"),
        col("o_orderkey").as("okey"))
      .withColumn("prev", lag(col("priority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("priority"))
      .withColumn("t_to", lead(col("t_from"), 1).over(w))
      .select(col("custkey"), col("priority"), col("t_from"),
        col("t_to"))
    val facts = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        unix_timestamp(col("l_shipdate")).as("ship"),
        floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
          .as("rev"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey").as("custkey"),
        col("o_orderpriority").as("order_prio")),
        col("l_orderkey") === col("o_orderkey"))
    facts.join(dim,
        facts("custkey") === dim("custkey") &&
          col("ship") >= col("t_from") &&
          (col("t_to").isNull || col("ship") < col("t_to")))
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n_items"),
        Events.q(sum(col("rev").cast("decimal(38,0)")).cast("double") /
          lit(1e6), 4).as("revenue"),
        sum((col("priority") =!= col("order_prio")).cast("long"))
          .as("drifted"))
      .orderBy("priority")
  }

  /** Permutation feature importance for the [[Ml.ridgeRegression]]
    * fit (W318): R² of the full model vs R² with ONE feature's values
    * deterministically permuted (rank r takes the value at rank
    * (r + n/2) mod n over the (orderkey, linenumber) total order — a
    * fixed derangement both engines restate, no RNG). Breaking the
    * x↔y pairing kills exactly that feature's contribution, so the
    * R² drop IS its importance — the model-debugging readout that
    * coefficients can't give when features correlate. Only the cross
    * moments (Σxy, Σx₁x₂) change under permutation — marginals are
    * permutation-invariant — so each variant costs a rank join, not
    * a refit-from-scratch. All moments exact DECIMAL(38); R² and the
    * Cramer solve are fixed double chains. The global rank is the one
    * scale-bound stage (documented: per-partition permutation is the
    * 100 TB cut — same statistic in expectation).
    */
  def permImportance(s: SparkSession, dir: String,
                     lambda: Double = 0.1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val base = Tables.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      floor(col("l_quantity") * lit(1e6) + lit(0.5)).cast("long")
        .as("x1"),
      floor(col("l_discount") * lit(1e6) + lit(0.5)).cast("long")
        .as("x2"),
      floor(col("l_extendedprice") * lit(1e6) + lit(0.5)).cast("long")
        .as("y"))
      .withColumn("r", row_number().over(
        Window.orderBy("l_orderkey", "l_linenumber")).cast("long"))
      .localCheckpoint() // three self-reads: stats + two perm joins
    val n = base.count()
    val shift = n / 2
    def permuted(c: String) = base.select(col("r"), col("x1"),
        col("x2"), col("y"))
      .join(base.select(
        (pmod(col("r") - 1 + lit(shift), lit(n)) + 1).as("r"),
        col(c).as(s"${c}p")), "r")
    def stats(df: DataFrame, c1: org.apache.spark.sql.Column,
              c2: org.apache.spark.sql.Column) = df.agg(
      count(lit(1)).as("n"),
      sum(c1.cast(dec)).as("s1"), sum(c2.cast(dec)).as("s2"),
      sum(col("y").cast(dec)).as("sy"),
      sum(c1.cast(dec) * c1.cast(dec)).as("s11"),
      sum(c1.cast(dec) * c2.cast(dec)).as("s12"),
      sum(c2.cast(dec) * c2.cast(dec)).as("s22"),
      sum(c1.cast(dec) * col("y").cast(dec)).as("s1y"),
      sum(c2.cast(dec) * col("y").cast(dec)).as("s2y"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    def r2(st: DataFrame): org.apache.spark.sql.DataFrame = {
      def d(c: String, scale: Double) = col(c).cast("double") / lit(scale)
      val g11 = d("s11", 1e12)
      val g22 = d("s22", 1e12)
      val g33 = col("n").cast("double")
      val a11 = g11 + lit(lambda)
      val a12 = d("s12", 1e12)
      val a13 = d("s1", 1e6)
      val a22 = g22 + lit(lambda)
      val a23 = d("s2", 1e6)
      val a33 = g33 + lit(lambda)
      val b1 = d("s1y", 1e12)
      val b2 = d("s2y", 1e12)
      val b3 = d("sy", 1e6)
      def det3(m11: org.apache.spark.sql.Column,
               m12: org.apache.spark.sql.Column,
               m13: org.apache.spark.sql.Column,
               m21: org.apache.spark.sql.Column,
               m22: org.apache.spark.sql.Column,
               m23: org.apache.spark.sql.Column,
               m31: org.apache.spark.sql.Column,
               m32: org.apache.spark.sql.Column,
               m33: org.apache.spark.sql.Column) =
        m11 * (m22 * m33 - m23 * m32) -
          m12 * (m21 * m33 - m23 * m31) +
          m13 * (m21 * m32 - m22 * m31)
      val dA = det3(a11, a12, a13, a12, a22, a23, a13, a23, a33)
      val d1 = det3(b1, a12, a13, b2, a22, a23, b3, a23, a33)
      val d2 = det3(a11, b1, a13, a12, b2, a23, a13, b3, a33)
      val d3 = det3(a11, a12, b1, a12, a22, b2, a13, a23, b3)
      val (bb1, bb2, bb3) = (d1 / dA, d2 / dA, d3 / dA)
      val yy = d("syy", 1e12)
      // the quadratic term uses the RAW Gram (no λ): true residual SSE
      val sse = yy - lit(2.0) * (bb1 * b1 + bb2 * b2 + bb3 * b3) +
        (bb1 * (g11 * bb1 + a12 * bb2 + a13 * bb3) +
          bb2 * (a12 * bb1 + g22 * bb2 + a23 * bb3) +
          bb3 * (a13 * bb1 + a23 * bb2 + g33 * bb3))
      val sst = yy - b3 * b3 / col("n").cast("double")
      st.select((lit(1.0) - sse / sst).as("r2"))
    }
    val full = r2(stats(base, col("x1"), col("x2")))
      .select(col("r2").as("r2_full"))
    val p1 = r2(stats(permuted("x1"), col("x1p"), col("x2")))
      .select(col("r2").as("r2_perm_x1"))
    val p2 = r2(stats(permuted("x2"), col("x1"), col("x2p")))
      .select(col("r2").as("r2_perm_x2"))
    full.crossJoin(broadcast(p1)).crossJoin(broadcast(p2))
      .select(Events.q(col("r2_full"), 6).as("r2_full"),
        Events.q(col("r2_perm_x1"), 6).as("r2_perm_quantity"),
        Events.q(col("r2_perm_x2"), 6).as("r2_perm_discount"),
        Events.q(col("r2_full") - col("r2_perm_x1"), 6)
          .as("imp_quantity"),
        Events.q(col("r2_full") - col("r2_perm_x2"), 6)
          .as("imp_discount"))
  }

  /** Item-item collaborative-filtering top-k (W339): cosine similarity
    * over order-basket co-occurrence — cos(a,b) = c_ab/√(c_a·c_b) with
    * c_ab = baskets containing both, c_a = baskets containing a — and
    * the k most similar parts per part, the classic "customers who
    * bought X also bought Y" recommender table ([[frequentPairs]] gives
    * raw support, [[pairLift]] independence lift; cosine is the
    * normalization recommenders actually rank on).
    *
    * Candidate pairs come from an equality self-join on l_orderkey, so
    * the blowup is bounded by Σ|basket|² (TPC-H baskets are ≤7 rows) —
    * never an all-pairs item join. Ranking is deterministic without a
    * double compare: the sort key is the EXACT integer
    * ⌊c_ab²·10¹²/(c_a·c_b)⌋ (LONG integer division — monotone in
    * cosine), tie-broken by partkey; the surfaced cosine is the usual
    * 1e-6 floor-quantized double. Per-item cut is a rank window →
    * WindowGroupLimit keeps map-local top-k before the shuffle.
    */
  def itemCfTopk(s: SparkSession, dir: String, k: Int = 3,
                 minCo: Int = 2): DataFrame = {
    val baskets = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist()
    CacheScope.register(baskets) // eager: support + the pair self-join
    val supp = baskets.groupBy("pk").agg(count(lit(1)).as("c"))
    val co = baskets.toDF("ok", "pa")
      .join(baskets.toDF("ok2", "pb"),
        col("ok") === col("ok2") && col("pa") =!= col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCo)
    val scored = co
      .join(broadcast(supp.select(col("pk").as("pa"), col("c").as("ca"))), "pa")
      .join(broadcast(supp.select(col("pk").as("pb"), col("c").as("cb"))), "pb")
      .select(col("pa"), col("pb"), col("c_ab"), col("ca"), col("cb"),
        // `div` = LONG integer division (Column./ would go double)
        expr("(c_ab * c_ab * 1000000000000) div (ca * cb)").as("key12"))
    val w = Window.partitionBy("pa")
      .orderBy(col("key12").desc, col("pb"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("pa").as("part"), col("rn").as("rank"),
        col("pb").as("rec_part"), col("c_ab").as("co_count"),
        Events.q(col("c_ab").cast("double") /
          sqrt(col("ca").cast("double") * col("cb")), 6).as("cosine"))
  }

  /** Revenue in exact 1e-4 currency units: cents(price) × (100 −
    * cents(discount)) — both factors are small integers recovered from
    * the doubles by the deterministic floor(x·100+0.5), so every
    * downstream sum can run in DECIMAL with zero float drift. */
  private def rev4: Column =
    (floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long") *
      (lit(100L) - floor(col("l_discount") * 100 + lit(0.5)).cast("long")))

  /** Herfindahl–Hirschman concentration index (W349) of supplier-nation
    * revenue shares within each region — the market-concentration
    * readout ("is one nation carrying this region's supply?") that the
    * antitrust literature popularized and a sourcing dashboard reads as
    * single-point-of-failure risk. Revenue is exact 1e-4-unit integers
    * ([[rev4]]), per-(region, nation) and per-region sums are exact
    * DECIMAL, each nation's share² lands on a 1e-12 LONG grid before
    * the cross-nation sum (nation arrival order must not wiggle bits),
    * and HHI surfaces on the 1e-6 grid. Scale: one lineitem-keyed agg
    * against broadcast dims; the share grid is nation-cardinality.
    */
  def herfindahlIndex(s: SparkSession, dir: String): DataFrame = {
    val dims = Tables.supplier(s, dir)
      .join(Tables.nation(s, dir),
        col("s_nationkey") === col("n_nationkey"))
      .join(Tables.region(s, dir), col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("n_name"), col("r_name"))
    val byNation = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), rev4.as("rv"))
      .join(broadcast(dims), col("l_suppkey") === col("s_suppkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("rv").cast("decimal(38,0)")).as("nrev"))
    val byRegion = byNation.groupBy("r_name")
      .agg(sum(col("nrev")).as("rrev"))
    val share = col("nrev").cast("double") / col("rrev").cast("double")
    byNation.join(byRegion, "r_name")
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_nations"),
        sum(floor(share * share * lit(1e12) + lit(0.5)).cast("long"))
          .as("h12"))
      .select(col("r_name").as("region"), col("n_nations"),
        Events.q(col("h12").cast("double") / lit(1e12), 6).as("hhi"))
      .orderBy("region")
  }

  /** AMS (Alon–Matias–Szegedy) F₂ sketch audit (W359): estimate the
    * second frequency moment of the lineitem⋈orders join key — THE
    * number a planner wants before shuffling 100 TB on a key, since
    * F₂ = Σc_k² is exactly the self-join/skew size — from 16
    * sign-sketch counters, next to the exact answer. Each counter is
    * X_i = (Σ_k s_i(k)·c_k)² with s_i(k) = ±1 from an md5 coin (last
    * hex digit's parity of md5("key-row") — measured: the repo's
    * poly-hash coins CORRELATE with this fixture's per-key counts,
    * which the synthetic generator derives from the same multiplier
    * family, inflating rel_err to 0.8; md5 signs land at 0.18), so
    * the whole audit is exact integer arithmetic: signed sums in
    * DECIMAL, squares in DECIMAL, one final division. E[X] = F₂ and
    * Var ≤ 2F₂²/16, so the estimate should land within ~35% — the
    * surfaced rel_err lets the driver SEE the guarantee.
    * Scale: one key-count agg, then a 16-way broadcast fan-out that
    * partial-aggregates per sketch row; the counters are 16 numbers.
    */
  def amsF2(s: SparkSession, dir: String, rows: Int = 16): DataFrame = {
    val counts = Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("c"))
    val exact = counts.agg(
      sum((col("c") * col("c")).cast("decimal(38,0)")).as("f2"),
      count(lit(1)).as("n_keys"))
    val is = s.range(0, rows).select(col("id").as("i"))
    val d = substring(md5(concat(col("l_orderkey").cast("string"),
      lit("-"), col("i").cast("string"))), 32, 1)
    val sgn = when(d.isin("1", "3", "5", "7", "9", "b", "d", "f"),
      lit(-1L)).otherwise(lit(1L))
    val sketch = counts.crossJoin(broadcast(is))
      .select(col("i"), (sgn * col("c")).cast("decimal(38,0)").as("sc"))
      .groupBy("i").agg(sum(col("sc")).as("x"))
      .agg(sum((col("x") * col("x")).cast("decimal(38,0)")).as("sx2"),
        count(lit(1)).as("r"))
    val est = col("sx2").cast("double") / col("r")
    exact.crossJoin(broadcast(sketch))
      .select(col("n_keys"), col("f2").cast("double").as("f2_exact"),
        Events.q(est, 2).as("f2_est"),
        Events.q(abs(est - col("f2").cast("double")) /
          col("f2").cast("double"), 6).as("rel_err"))
  }

  /** Priority-sampling estimator audit (W360, Duffield–Lund–Thorup):
    * estimate total revenue from a k-item weighted sample — the
    * subset-sum estimator with provably near-minimal variance that a
    * 100 TB pipeline uses where uniform sampling would be hopeless
    * under skew. Priorities q_i = w_i/u_i use a deterministic md5
    * uniform u_i = (h+1)/16⁷ ∈ (0,1] (7 hex digits — the repo's
    * multiplicative hashes correlate with this fixture's generator;
    * and τ MUST live on the same scale as w, which needs u in (0,1],
    * not a raw integer); the sample is the top-k by (q, key) with
    * threshold τ = q_(k+1); the estimator Σ max(w_i, τ) is
    * unbiased (measured rel_err ≈ 0.9% at k=100 on sf0.01).
    * Weights are exact 1e-4-unit integers; each max(w, τ)
    * lands on a 1e-2 LONG grid before the one cross-row sum; τ itself
    * is a single windowed pick. Scale: one keyed agg then a top-(k+1)
    * rank cut — TakeOrdered-shaped, never a full materialized sort.
    */
  def prioritySample(s: SparkSession, dir: String, k: Int = 100)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey").as("key"), rev4.as("rv"))
      .groupBy("key").agg(sum(col("rv").cast("decimal(38,0)")).as("w"))
    val exact = per.agg(sum(col("w")).as("tot"), count(lit(1)).as("n"))
    val h = conv(substring(md5(col("key").cast("string")), 1, 7), 16, 10)
      .cast("long")
    val u = (h + 1).cast("double") / lit(268435456.0) // 16^7
    val q = col("w").cast("double") / u
    val ranked = per.select(col("key"), col("w"), q.as("q"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("q").desc, col("key"))))
      .filter(col("rn") <= k + 1)
    // n <= k degenerates to a census: tau = 0 makes max(w, tau) = w
    val tau = ranked.agg(coalesce(min(when(col("rn") === k + 1,
      col("q"))), lit(0.0)).as("tau"))
    val est = ranked.filter(col("rn") <= k)
      .crossJoin(broadcast(tau))
      .select(floor(greatest(col("w").cast("double"), col("tau")) *
        lit(1e2) + lit(0.5)).cast("long").as("m2"))
      .agg(sum(col("m2")).as("e2"))
    val estD = col("e2").cast("double") / lit(1e2)
    val totD = col("tot").cast("double")
    exact.crossJoin(broadcast(est))
      .select(col("n").as("n_items"), lit(k).as("k"),
        Events.q(totD / lit(1e4), 2).as("exact_total"),
        Events.q(estD / lit(1e4), 2).as("est_total"),
        Events.q(abs(estD - totD) / totD, 6).as("rel_err"))
  }

  /** Exact weighted quantiles (W363): quantity-weighted p50/p90 of
    * extended price per return flag — "the price a typical UNIT ships
    * at", which an unweighted median ([[percentiles]]) gets wrong
    * whenever cheap lines carry big quantities. Entirely integer: the
    * per-(flag, cents) weight histogram cumulates in one window, and
    * the quantile picks the first value whose scaled cumulative weight
    * clears the exact threshold (2·cum ≥ W for p50, 10·cum ≥ 9·W for
    * p90 — integer cross-multiplication, no rational ever surfaces).
    * Scale: histogram-cardinality after one keyed agg, the same shape
    * as [[equiDepthHist]].
    */
  def weightedMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100 + lit(0.5)).cast("long")
          .as("pc"),
        floor(col("l_quantity") + lit(0.5)).cast("long").as("qw"))
      .groupBy("l_returnflag", "pc")
      .agg(sum(col("qw")).as("w"))
    val tot = hist.groupBy(col("l_returnflag").as("rf"))
      .agg(sum(col("w")).as("wt"))
    val cum = hist
      .withColumn("cw", sum(col("w")).over(
        Window.partitionBy("l_returnflag").orderBy("pc")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(tot), col("l_returnflag") === col("rf"))
    cum.groupBy("l_returnflag")
      .agg(max(col("wt")).as("w_total"),
        min(when(col("cw") * 2 >= col("wt"), col("pc"))).as("p50c"),
        min(when(col("cw") * 10 >= col("wt") * 9, col("pc"))).as("p90c"))
      .select(col("l_returnflag"), col("w_total"),
        Events.q(col("p50c").cast("double") / 100, 2).as("p50_price"),
        Events.q(col("p90c").cast("double") / 100, 2).as("p90_price"))
      .orderBy("l_returnflag")
  }

  /** Frequent 3-itemsets (W364) over order baskets — the association-
    * mining step above [[frequentPairs]]: which part TRIPLES co-occur
    * in enough orders to drive bundle logic? Candidates come from a
    * within-basket ordered 3-way self-join (a < b < c), so the work is
    * Σ C(basket, 3) — basket sizes are small and bounded, never a
    * corpus self-join; the distinct-items projection first keeps
    * multi-line parts from inflating counts. Exact integer supports;
    * top-15 by (support desc, a, b, c). Scale: shuffles on the basket
    * key three times, each side pruned to (order, part) pairs.
    */
  def frequentTriples(s: SparkSession, dir: String,
                      minSup: Int = 2, k: Int = 15): DataFrame = {
    val items = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
      .persist()
    CacheScope.register(items) // eager: three join sides read it
    def side(n: String) = items.select(col("ok"), col("pk").as(n))
    val triples = side("a")
      .join(side("b"), Seq("ok")).filter(col("a") < col("b"))
      .join(side("c"), Seq("ok")).filter(col("b") < col("c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSup)
    triples.orderBy(col("support").desc, col("a"), col("b"), col("c"))
      .limit(k)
  }

  /** Lorenz curve deciles + Gini coefficient (W350) of per-customer
    * revenue — the inequality readout behind "what share of revenue do
    * the bottom 80% of customers carry?", and the continuous dual of
    * [[revenueShare]]'s fixed top-k cut. Per-customer revenue is exact
    * 1e-4-unit DECIMAL; customers sort ascending by (revenue, custkey)
    * so ranks are total-order deterministic; Σ i·xᵢ and the decile
    * cumulative sums stay DECIMAL-exact; Gini divides exact terms once:
    * G = (2·Σ i·xᵢ − (n+1)·Σx)/(n·Σx). Ten rows: decile upper bound's
    * cumulative revenue share, plus the scalar Gini broadcast onto
    * each. Scale: the spine is CUSTOMER-cardinality (lineitem collapses
    * in the first keyed agg); the rank and running revenue come from
    * [[Ranks.ranked]] (round-8) — approx-percentile range buckets +
    * bucket-PARTITIONED windows + broadcast offsets, the distributed
    * range-sort-with-offset-fixup this scaladoc used to promise —
    * value-identical to the single-window formulation and with zero
    * unpartitioned WindowExec in the plan (asserted in Round8OpsSpec).
    */
  def lorenzGini(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), rev4.as("rv"))
      .groupBy("o_custkey")
      .agg(sum(col("rv").cast("decimal(38,0)")).as("x"))
    val ranked = Ranks.ranked(per, "x", "o_custkey", "i",
      runningSums = Seq("x" -> "cum")).persist()
    CacheScope.register(ranked) // eager: totals + decile rollup read it
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("x") * col("i").cast("decimal(38,0)")).as("six"))
    val deciles = ranked.crossJoin(broadcast(tot))
      // explicit floor: integer/integer division promotes to DOUBLE in
      // both engines, but their double→int casts disagree on rounding
      .withColumn("dec", (floor((col("i") - 1) * 10 / col("n")) + 1)
        .cast("int"))
      .groupBy("dec", "n", "sx", "six")
      .agg(max(col("cum")).as("cumx"))
    val gini = (lit(2.0) * col("six").cast("double") -
      (col("n") + 1).cast("double") * col("sx").cast("double")) /
      (col("n").cast("double") * col("sx").cast("double"))
    deciles.select(col("dec").as("decile"),
      Events.q(col("cumx").cast("double") / col("sx").cast("double"), 6)
        .as("cum_rev_share"),
      Events.q(gini, 6).as("gini"))
      .orderBy("decile")
  }

  /** Cochran–Armitage trend test (W375): is the share of fulfilled
    * orders (o_orderstatus = 'F') MONOTONICALLY trending across order
    * months? The dose-response test that a per-month χ² can't give — χ²
    * asks "any difference anywhere", CA weights each month by an
    * ordered score so only a consistent drift registers; the
    * categorical sibling of [[Events.mannKendall]]'s rank trend. Scores
    * are the calendar month index s = 12·year + month (the statistic is
    * affine-score-invariant, so the origin doesn't matter). Everything
    * up to the final division is exact: per-month n_i, d_i are LONGs,
    * and Z² = N·(N·Σs·d − D·Σs·n)² / (D·(N−D)·(N·Σs²·n − (Σs·n)²))
    * multiplies exact DECIMAL(38,0) terms (s ~ 2e4, s²·n ~ 1e13 —
    * far inside 38 digits), divided once onto the 1e-6 grid; flagged
    * at the χ²₁ 5% critical value 3.841. Scale: one month-keyed agg
    * (month-cardinality spine), then a scalar reduction.
    */
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.orders(s, dir)
      .select((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("s"),
        (col("o_orderstatus") === "F").cast("long").as("f"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum(col("f")).as("d"))
    val agg = m.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum(col("d")).as("dd"),
      sum((col("s") * col("d")).cast("decimal(38,0)")).as("sd"),
      sum((col("s") * col("n")).cast("decimal(38,0)")).as("sn"),
      sum((col("s") * col("s") * col("n")).cast("decimal(38,0)"))
        .as("s2n"))
    val num = (col("nn") * col("sd") - col("dd") * col("sn"))
    val varT = (col("dd") * (col("nn") - col("dd")))
      .cast("decimal(38,0)") *
      (col("nn") * col("s2n") - col("sn") * col("sn"))
    val z2 = col("nn").cast("double") * num.cast("double") *
      num.cast("double") / varT.cast("double")
    agg.select(col("k").as("n_months"), col("nn").as("n_orders"),
      col("dd").as("n_fulfilled"),
      when(varT.cast("double") > 0, Events.q(z2, 6)).otherwise(lit(0.0))
        .as("z2"),
      (when(varT.cast("double") > 0, Events.q(z2, 6))
        .otherwise(lit(0.0)) > 3.841).cast("long").as("trend_flag"))
  }

  /** First-order partial correlation (W383): how do quantity and
    * extended price co-move once the discount is CONTROLLED for?
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — the
    * confounder screen [[covarianceMatrix]]'s raw pairwise view
    * can't answer (a shared driver inflates every raw r; the partial
    * subtracts it in closed form). All nine sufficient statistics
    * (Σx, Σx², Σxy, …) are exact DECIMAL sums over grid-quantized
    * columns (quantity ×100, price in cents, discount ×100); each
    * pairwise r divides cross-multiplied exact integers once and is
    * pinned to the 1e-12 grid BEFORE the partial formula, so both
    * engines feed bit-identical r's into the same fixed expression.
    * Scale: ONE aggregation over the scan — no join, no window; the
    * grid quantization keeps every power sum inside DECIMAL(38,0) at
    * any SF.
    */
  def partialCorr(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      floor(col("l_quantity") * lit(100) + lit(0.5)).cast("long").as("x"),
      floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
        .as("y"),
      floor(col("l_discount") * lit(100) + lit(0.5)).cast("long").as("z"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val g = li.agg(count(lit(1)).as("n"),
      sum(d38(col("x"))).as("sx"), sum(d38(col("y"))).as("sy"),
      sum(d38(col("z"))).as("sz"),
      sum(d38(col("x") * col("x"))).as("sxx"),
      sum(d38(col("y") * col("y"))).as("syy"),
      sum(d38(col("z") * col("z"))).as("szz"),
      sum(d38(col("x") * col("y"))).as("sxy"),
      sum(d38(col("x") * col("z"))).as("sxz"),
      sum(d38(col("y") * col("z"))).as("syz"))
    val n = col("n").cast("double")
    def r(sab: String, sa: String, sb: String, saa: String, sbb: String) =
      Events.q((n * col(sab).cast("double") -
        col(sa).cast("double") * col(sb).cast("double")) /
        (sqrt(n * col(saa).cast("double") -
          col(sa).cast("double") * col(sa).cast("double")) *
         sqrt(n * col(sbb).cast("double") -
           col(sb).cast("double") * col(sb).cast("double"))), 12)
    val base = g.select(col("n"),
      r("sxy", "sx", "sy", "sxx", "syy").as("rxy"),
      r("sxz", "sx", "sz", "sxx", "szz").as("rxz"),
      r("syz", "sy", "sz", "syy", "szz").as("ryz"))
    base.select(col("n"),
      Events.q(col("rxy"), 6).as("r_xy"),
      Events.q(col("rxz"), 6).as("r_xz"),
      Events.q(col("ryz"), 6).as("r_yz"),
      Events.q((col("rxy") - col("rxz") * col("ryz")) /
        sqrt((lit(1.0) - col("rxz") * col("rxz")) *
          (lit(1.0) - col("ryz") * col("ryz"))), 6).as("partial_r"))
  }

  /** DDSketch-style relative-error quantile audit (W391): log-bucket
    * the positive event values at γ = (1+α)/(1−α), read q50/q90/q99
    * off the bucket CDF, and CHECK the (γ−1)/2 relative-error
    * guarantee against the exact grid quantiles — the audit row for
    * the sketch family ([[mpQuantiles]] is rank-exact but
    * weight-heavy; DDSketch is the O(log range)-space mergeable
    * answer for latency-style long tails at 100 TB, where equi-depth
    * bins lose the p99.9). Buckets ⌊ln v / ln γ⌋ use ONE ln-γ
    * literal computed on the driver and injected into both engines
    * (no cross-libm constant); estimates are γ^b·(1+γ)/2 via
    * exp(b·lnγ); the quantile pick is the cross-multiplied
    * cumulative-count rule on exact integers. Scale: a value-keyed
    * agg collapsed onto a range-bounded bucket table (~2k buckets
    * per decade span) — the window runs over buckets, never rows.
    */
  def ddsketchAudit(s: SparkSession, dir: String,
                    relAcc: Double = 0.01): DataFrame = {
    val gamma = (1 + relAcc) / (1 - relAcc)
    val lnG = math.log(gamma)
    val bound = (gamma - 1) / 2
    val vi = Tables.events(s, dir)
      .filter(col("value").isNotNull)
      .select(floor(col("value") * lit(1e6) + lit(0.5)).cast("long")
        .as("v6"))
      .filter(col("v6") > 0)
      .persist()
    CacheScope.register(vi) // eager: bucket + exact sides read it
    val tot = vi.agg(count(lit(1)).as("n"))
    val qs = s.range(0, 3).select(
      element_at(array(lit(50), lit(90), lit(99)),
        (col("id") + 1).cast("int")).as("q_pct"))
    def pick(df: DataFrame, keyCol: String, out: String) = {
      val cum = df
        .withColumn("cum", sum(col("cnt")).over(
          Window.orderBy(keyCol).rowsBetween(
            Window.unboundedPreceding, 0)))
      cum.crossJoin(broadcast(tot)).crossJoin(broadcast(qs))
        .filter(col("cum") * 100 >= col("q_pct") * col("n"))
        .groupBy("q_pct").agg(min(col(keyCol)).as(out))
    }
    val byB = vi
      .select(floor(log(col("v6").cast("double") / lit(1e6)) / lit(lnG))
        .cast("long").as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    val byV = vi.groupBy("v6").agg(count(lit(1)).as("cnt"))
    val est = exp(col("b").cast("double") * lit(lnG)) *
      lit((1 + gamma) / 2)
    pick(byB, "b", "b").join(pick(byV, "v6", "v6"), "q_pct")
      .select(col("q_pct"), Events.q(est, 6).as("est"),
        Events.q(col("v6").cast("double") / lit(1e6), 6).as("exact"),
        Events.q(abs(est - col("v6").cast("double") / lit(1e6)) /
          (col("v6").cast("double") / lit(1e6)), 6).as("rel_err"),
        (Events.q(abs(est - col("v6").cast("double") / lit(1e6)) /
          (col("v6").cast("double") / lit(1e6)), 6) <= lit(bound))
          .cast("long").as("within_bound"))
      .orderBy("q_pct")
  }

  /** Coarsened-exact-matching ATT (W397, Iacus–King–Porro): stratify
    * orders on coarse covariates (order month × status), keep strata
    * containing BOTH urgent ("treated") and non-urgent orders, and
    * estimate the treatment effect on totalprice as the
    * treated-weighted within-stratum mean gap — the design-based
    * causal readout next to [[Events.diffInDiff]] (time) and
    * [[Curation.ipfRaking]] (marginals): matching ON OBSERVABLES
    * with no model. Per-stratum terms collapse to the exact-cents
    * cross-product (sT·nC − nT·sC)/nC, quantized to 1e-6 integers
    * before the cross-strata sum; one division by matched-treated
    * count surfaces dollars. Unmatched treated count is reported —
    * silently dropping off-support units is how matching lies.
    * Scale: ONE stratum-keyed aggregation with conditional sums.
    */
  def cemAtt(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      (col("o_orderpriority") === "1-URGENT").as("tr"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast("long").as("stratum_m"),
      col("o_orderstatus").as("stratum_s"),
      floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
        .as("cents"))
    val strata = o.groupBy("stratum_m", "stratum_s").agg(
      sum(col("tr").cast("long")).as("nt"),
      sum(when(col("tr"), col("cents")).otherwise(lit(0L))
        .cast("decimal(38,0)")).as("st"),
      sum((!col("tr")).cast("long")).as("nc"),
      sum(when(!col("tr"), col("cents")).otherwise(lit(0L))
        .cast("decimal(38,0)")).as("sc"))
    val matched = strata.filter(col("nt") > 0 && col("nc") > 0)
      .select(col("nt"),
        floor((col("st") * col("nc") - col("sc") * col("nt"))
          .cast("double") / col("nc").cast("double") * lit(1e6) +
          lit(0.5)).cast("long").as("t6"))
    val dropped = strata.filter(col("nc") === 0)
      .agg(coalesce(sum(col("nt")), lit(0L)).as("n_unmatched"))
    matched.agg(count(lit(1)).as("n_strata"),
        sum(col("nt")).as("n_treated"), sum(col("t6")).as("s6"))
      .crossJoin(broadcast(dropped))
      .select(col("n_strata"), col("n_treated"), col("n_unmatched"),
        Events.q(col("s6").cast("double") / lit(1e6) /
          col("n_treated").cast("double") / 100, 4).as("att_dollars"))
  }

  /** Odds ratio / risk ratio with Woolf 95% CI (W398) for the 2×2
    * "high-value order × fulfilled" table — the epidemiology-style
    * effect readout ([[cochranArmitage]] tests trend; this sizes ONE
    * exposure): exposure = totalprice strictly above the exact
    * median (cross-multiplied cumulative rule on the cents grid),
    * outcome = status F. All four cells exact LONGs; OR and RR are
    * cross-multiplied single divisions; the CI is
    * exp(ln OR ± 1.96·√(1/a+1/b+1/c+1/d)) as one fixed expression —
    * identical ln/exp arguments in both engines. Zero cells surface
    * defined = 0 with zeroed stats rather than ±∞. Scale: a cents-
    * keyed median pick + ONE conditional aggregation.
    */
  def oddsRatioCi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      floor(col("o_totalprice") * lit(100) + lit(0.5)).cast("long")
        .as("v"),
      (col("o_orderstatus") === "F").as("f"))
      .persist()
    CacheScope.register(o) // eager: median pick + the cell agg read it
    val tot = o.agg(count(lit(1)).as("n"))
    val med = o.groupBy("v").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("n"))
      .agg(min(col("v")).as("med"))
    val cells = o.crossJoin(broadcast(med)).agg(
      sum((col("v") > col("med") && col("f")).cast("long")).as("a"),
      sum((col("v") > col("med") && !col("f")).cast("long")).as("b"),
      sum((col("v") <= col("med") && col("f")).cast("long")).as("c"),
      sum((col("v") <= col("med") && !col("f")).cast("long")).as("d"))
    val ok = col("a") > 0 && col("b") > 0 && col("c") > 0 && col("d") > 0
    val or = (col("a") * col("d")).cast("double") /
      (col("b") * col("c")).cast("double")
    val rr = (col("a") * (col("c") + col("d"))).cast("double") /
      (col("c") * (col("a") + col("b"))).cast("double")
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      ok.cast("long").as("defined"),
      when(ok, Events.q(or, 6)).otherwise(lit(0.0)).as("odds_ratio"),
      when(ok, Events.q(rr, 6)).otherwise(lit(0.0)).as("risk_ratio"),
      when(ok, Events.q(exp(log(or) - lit(1.96) * se), 6))
        .otherwise(lit(0.0)).as("or_lo"),
      when(ok, Events.q(exp(log(or) + lit(1.96) * se), 6))
        .otherwise(lit(0.0)).as("or_hi"))
  }

  /** Directed association rules (W407) over order baskets: for every
    * co-purchased part pair above support, BOTH rules a→b and b→a
    * with confidence, lift, leverage, and conviction — the
    * recommendation readout on top of [[pairLift]]'s symmetric lift
    * (a rule is DIRECTED: bread→butter and butter→bread have the
    * same lift but very different confidence, and conviction is the
    * implication-strength measure lift lacks). Every metric is a
    * cross-multiplied exact-integer rational with ONE division —
    * conviction = (N−n_b)·n_a / (N·(n_a−n_ab)), guarded at
    * confidence 1 — and the top-k orders on the quantized confidence
    * with a pair tiebreak. Scale: one basket-keyed self-join bounded
    * by basket size (the [[frequentPairs]] shape), two item aggs.
    */
  def assocRules(s: SparkSession, dir: String, minSup: Long = 5,
                 k: Int = 15): DataFrame = {
    val bk = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("it"))
      .distinct().persist()
    CacheScope.register(bk) // eager: item counts + both join sides
    val nB = bk.select("ok").distinct().count()
    val items = bk.groupBy(col("it")).agg(count(lit(1)).as("cnt"))
    val pairs = bk.join(bk.select(col("ok"), col("it").as("it2")), "ok")
      .filter(col("it") < col("it2"))
      .groupBy(col("it").as("x"), col("it2").as("y"))
      .agg(count(lit(1)).as("nab"))
      .filter(col("nab") >= minSup)
    val rules = pairs.select(col("x").as("ante"), col("y").as("cons"),
        col("nab"))
      .unionAll(pairs.select(col("y").as("ante"), col("x").as("cons"),
        col("nab")))
      .join(items.select(col("it").as("ante"), col("cnt").as("na")),
        "ante")
      .join(items.select(col("it").as("cons"), col("cnt").as("nb")),
        "cons")
    val conf = col("nab").cast("double") / col("na").cast("double")
    val lift = (lit(nB) * col("nab")).cast("double") /
      (col("na") * col("nb")).cast("double")
    val lev = (col("nab") * lit(nB) - col("na") * col("nb"))
      .cast("double") / lit((nB * nB).toDouble)
    val convOk = col("na") > col("nab")
    val conv = ((lit(nB) - col("nb")) * col("na")).cast("double") /
      (lit(nB) * (col("na") - col("nab"))).cast("double")
    rules.select(col("ante"), col("cons"), col("nab").as("support"),
        Events.q(conf, 6).as("confidence"), Events.q(lift, 6).as("lift"),
        Events.q(lev, 6).as("leverage"),
        convOk.cast("long").as("conv_defined"),
        when(convOk, Events.q(conv, 6)).otherwise(lit(0.0))
          .as("conviction"))
      .orderBy(col("confidence").desc, col("ante"), col("cons"))
      .limit(k)
  }

  /** Log-log demand-curve fit (W414): regress ln(total quantity
    * ordered) on ln(retail price) across parts — the price
    * ELASTICITY readout (slope ≈ %ΔQ per %ΔP) that turns the
    * [[Events.olsTrend]] machinery into an economics question the
    * lineitem star can actually answer. Both log coordinates are
    * pinned to 1e-9 integer grids BEFORE the sufficient-statistic
    * sums (ln args are exact grid integers, identical in both
    * engines), so the five sums are exact DECIMALs; slope,
    * intercept, and R² each divide cross-multiplied exact values
    * once. Scale: one part-keyed agg + one broadcast part join +
    * one moment agg.
    */
  def priceElasticity(s: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg(floor(sum(col("l_quantity")) + lit(0.5)).cast("long").as("qy"))
    val pts = qty.join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey").as("l_partkey"),
          floor(col("p_retailprice") * lit(100) + lit(0.5)).cast("long")
            .as("pc"))), "l_partkey")
      .select(
        floor(log(col("pc").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("x9"),
        floor(log(col("qy").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("y9"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    // 1e-9-grid log coordinates square past Int64 — promote FIRST
    val g = pts.agg(count(lit(1)).as("n"),
      sum(d38(col("x9"))).as("sx"), sum(d38(col("y9"))).as("sy"),
      sum(d38(col("x9")) * d38(col("x9"))).as("sxx"),
      sum(d38(col("x9")) * d38(col("y9"))).as("sxy"),
      sum(d38(col("y9")) * d38(col("y9"))).as("syy"))
    val n = col("n").cast("double")
    val num = n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val dx = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val dy = n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val slope = num / dx
    val icept = (col("sy").cast("double") - slope *
      col("sx").cast("double")) / n / lit(1e9)
    g.select(col("n").as("n_parts"),
      Events.q(slope, 6).as("elasticity"),
      Events.q(icept, 6).as("intercept"),
      Events.q(num / dx * (num / dy), 6).as("r2"))
  }

  /** Inequality indices of per-customer spend (W415): Theil T
    * (top-sensitive), Theil L / mean-log-deviation
    * (bottom-sensitive), Atkinson(1) = 1 − geomean/mean — the
    * decomposable entropy family next to [[lorenzGini]]'s rank-based
    * Gini (Theil SUMS across subgroups, which is what a per-source/
    * per-shard drill-down needs; Gini doesn't). Spend is exact
    * cents; each per-customer x·ln-term is quantized to a 1e-9
    * integer (the x/μ rational cross-multiplies to x·n/S before the
    * single ln), so every sum is order-free; Atkinson folds ONE exp
    * of the exact mean-log. Zero-spend customers are excluded
    * (entropy indices are undefined at 0) and counted. Scale: one
    * customer-keyed agg + one moment agg.
    */
  def inequalityIndices(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast("long")).as("x"))
      .persist()
    CacheScope.register(spend) // eager: totals + the term agg read it
    val tot = spend.filter(col("x") > 0)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val nz = spend.filter(col("x") <= 0).agg(count(lit(1)).as("n_zero"))
    val terms = spend.filter(col("x") > 0).crossJoin(broadcast(tot))
      .select(col("n"), col("sx"),
        floor((col("x").cast("double") * col("n").cast("double") /
          col("sx").cast("double")) *
          log(col("x").cast("double") * col("n").cast("double") /
            col("sx").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("tt9"),
        floor(log(col("x").cast("double")) * lit(1e9) + lit(0.5))
          .cast("long").as("lx9"))
    val g = terms.groupBy("n", "sx").agg(
      sum(col("tt9").cast("decimal(38,0)")).as("st"),
      sum(col("lx9").cast("decimal(38,0)")).as("sl"))
    val n = col("n").cast("double")
    val mu = col("sx").cast("double") / n
    val theilT = col("st").cast("double") / lit(1e9) / n
    val meanLog = col("sl").cast("double") / lit(1e9) / n
    val theilL = log(mu) - meanLog
    val atk = lit(1.0) - exp(meanLog) / mu
    g.crossJoin(broadcast(nz))
      .select(col("n").as("n_customers"), col("n_zero"),
        Events.q(theilT, 6).as("theil_t"),
        Events.q(theilL, 6).as("theil_l"),
        Events.q(atk, 6).as("atkinson_1"))
  }

  /** Hoover (Robin Hood) index (W416) of per-customer spend: the
    * share of total spend that would have to MOVE to equalize
    * everyone — (1/2)*Sum|x_i/S - 1/n|, the maximum vertical gap of
    * [[lorenzGini]]'s Lorenz curve, and the inequality number with a
    * direct operational reading ("rebalance this fraction"). The
    * absolute deviations cross-multiply to the exact integers
    * |x_i*n - S| summed in DECIMAL; ONE division by 2*n*S surfaces
    * the index. Scale: one customer-keyed agg + one moment agg.
    */
  def hooverIndex(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast("long")).as("x"))
      .persist()
    CacheScope.register(spend) // eager: totals + the deviation agg
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    spend.crossJoin(broadcast(tot))
      .select(col("n"), col("sx"),
        abs(col("x").cast("decimal(38,0)") * col("n") - col("sx"))
          .as("dev"))
      .groupBy("n", "sx").agg(sum(col("dev")).as("sd"))
      .select(col("n").as("n_customers"),
        Events.q(col("sd").cast("double") /
          (lit(2.0) * col("n").cast("double") *
            col("sx").cast("double")), 6).as("hoover"))
  }

  /** Friedman rank test (W426): do the three return-flag classes
    * keep the SAME revenue ordering month after month, or does the
    * ranking shuffle? Blocks = ship months, treatments =
    * `l_returnflag`, ranked WITHIN each complete block — the
    * nonparametric repeated-measures ANOVA that [[Events.anovaOneway]]
    * can't be (months are paired, not independent samples). Ranks
    * use midrank ties on the exact cent totals and are carried in
    * HALF-UNITS (2·rank + ties − 1), so every rank sum is an exact
    * integer and Q = 3·ΣR'²/(b·k·(k+1)) − 3·b·(k+1) divides once.
    * Flag vs χ²₂ = 5.991 (k = 3). Scale: one (month, flag)-keyed
    * partial agg; the rank window partitions by month — b·k rows.
    */
  def friedmanTest(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .as("blk"), col("l_returnflag").as("trt"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      .groupBy("blk", "trt").agg(sum(col("cents")).as("v"))
      .persist()
    CacheScope.register(cells) // eager: k-count + complete-block filter
    val k = cells.agg(countDistinct(col("trt")).as("k"))
    val complete = cells
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("blk")))
      .crossJoin(broadcast(k)).filter(col("nb") === col("k"))
    val ranked = complete
      .withColumn("rk", rank().over(
        Window.partitionBy("blk").orderBy("v")))
      .withColumn("te", count(lit(1)).over(
        Window.partitionBy("blk", "v")))
      .select(col("blk"), col("trt"), col("k"),
        (col("rk") * 2 + col("te") - 1).cast("long").as("r2"))
    val sums = ranked.groupBy("trt", "k")
      .agg(countDistinct(col("blk")).as("b"), sum(col("r2")).as("rj"))
    val g = sums.groupBy("k", "b")
      .agg(sum(col("rj") * col("rj")).as("ssr"))
    val bD = col("b").cast("double")
    val kD = col("k").cast("double")
    val qStat = lit(3.0) * col("ssr").cast("double") /
      (bD * kD * (kD + 1)) - lit(3.0) * bD * (kD + 1)
    g.select(col("b").as("n_blocks"), col("k").as("k_treatments"),
      Events.q(qStat, 6).as("q_stat"),
      (Events.q(qStat, 6) > lit(5.991)).cast("long").as("reject_flag"))
  }

  /** Anderson–Darling uniformity test (W427) of `l_quantity` against
    * its design distribution Uniform{1..50} (PIT u = (v−½)/50) — the
    * tail-weighted upgrade of [[ksStatistic]]: AD weights deviations
    * by 1/(F(1−F)), so corrupted extremes move it long before the KS
    * sup-norm notices. The classic sorted-sample sum
    * Σ(2i−1)(ln u_(i) + ln(1−u_(n+1−i))) NEVER materializes a global
    * sort: grouping by the 50 distinct values turns each group's
    * (2i−1) run into the closed forms 2sc+c² and 2c(n−s)−c² (s =
    * rows before the group), so the statistic is a 50-row window
    * over exact counts, with the two logs on the 1e-9 grid. Flag vs
    * 2.492, the 5% point for a fully-specified null. Scale: one
    * value-keyed count agg; everything after is O(distinct values).
    */
  def andersonDarling(s: SparkSession, dir: String): DataFrame = {
    val byV = Tables.lineitem(s, dir)
      .select(col("l_quantity").cast("long").as("v"))
      .filter(col("v").between(1L, 50L))
      .groupBy("v").agg(count(lit(1)).as("c"))
    val w = Window.orderBy("v")
    val tot = byV.agg(sum(col("c")).as("n"))
    val cum = byV
      .withColumn("s", coalesce(sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
    val u = (col("v").cast("double") - lit(0.5)) / lit(50.0)
    val lnu9 = floor(log(u) * lit(1e9) + lit(0.5)).cast("long")
    val ln1u9 = floor(log(lit(1.0) - u) * lit(1e9) + lit(0.5))
      .cast("long")
    val coefA = lit(2L) * col("s") * col("c") + col("c") * col("c")
    val coefB = lit(2L) * col("c") * (col("n") - col("s")) -
      col("c") * col("c")
    val terms = cum.select(col("n"),
      (coefA.cast("decimal(38,0)") * lnu9 +
        coefB.cast("decimal(38,0)") * ln1u9).as("t9"))
    terms.groupBy("n").agg(sum(col("t9")).as("s9"))
      .select(col("n").as("n_rows"),
        Events.q(-col("n").cast("double") -
          col("s9").cast("double") /
            (col("n").cast("double") * lit(1e9)), 6).as("a2"),
        (Events.q(-col("n").cast("double") -
          col("s9").cast("double") /
            (col("n").cast("double") * lit(1e9)), 6) > lit(2.492))
          .cast("long").as("reject_flag"))
  }

  /** Page's trend test (W439) for ORDERED alternatives in the
    * [[friedmanTest]] layout (blocks = ship months, treatments =
    * return flags in the hypothesized order A < N < R): L = Σ_j j·R_j
    * rejects when the rank sums RISE along the hypothesized order —
    * strictly more powerful than Friedman's "any difference" when a
    * direction is pre-registered. Ranks ride the same half-unit
    * midrank trick, so L₂ = 2L is an exact integer and
    * z = (L₂ − bk(k+1)²/2) / √(b·k²(k+1)(k²−1)/36) is one sqrt and
    * one division over exact integers. One-sided flag at 1.644854.
    * Scale: identical to friedmanTest — one (month, flag) partial
    * agg, a b·k-row rank window.
    */
  def pageTrend(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .as("blk"), col("l_returnflag").as("trt"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5)).cast("long")
          .as("cents"))
      .groupBy("blk", "trt").agg(sum(col("cents")).as("v"))
      .persist()
    CacheScope.register(cells) // eager: k-count + complete-block filter
    val k = cells.agg(countDistinct(col("trt")).as("k"))
    val complete = cells
      .withColumn("nb", count(lit(1)).over(Window.partitionBy("blk")))
      .crossJoin(broadcast(k)).filter(col("nb") === col("k"))
    val ranked = complete
      .withColumn("rk", rank().over(
        Window.partitionBy("blk").orderBy("v")))
      .withColumn("te", count(lit(1)).over(
        Window.partitionBy("blk", "v")))
      // hypothesized treatment order = lexicographic flag order
      .withColumn("j", dense_rank().over(Window.orderBy("trt")))
      .select(col("blk"), col("k"), col("j").cast("long").as("j"),
        (col("rk") * 2 + col("te") - 1).cast("long").as("r2"))
    val g = ranked.agg(countDistinct(col("blk")).as("b"),
      max(col("k")).as("k"), sum(col("j") * col("r2")).as("l2"))
    val bD = col("b").cast("double")
    val kD = col("k").cast("double")
    val mean2 = bD * kD * (kD + 1) * (kD + 1) / 2
    val vr = bD * kD * kD * (kD + 1) * (kD * kD - 1) / 36
    val vrS = when(vr <= 0.0, lit(1.0)).otherwise(vr)
    val z = when(vr > 0.0,
      Events.q((col("l2").cast("double") - mean2) / sqrt(vrS), 6))
      .otherwise(lit(0.0))
    g.select(col("b").as("n_blocks"), col("k").as("k_treatments"),
      col("l2").as("l2"), z.as("z"),
      (z > lit(1.644854)).cast("long").as("trend_flag"))
  }

  /** Value-at-Risk and expected shortfall (W457) of order totals:
    * VaR₉₅ from the exact cross-multiplied cumulative rule on the
    * cent grid (no percentile interpolation), then
    * ES₉₅ = E[X | X ≥ VaR₉₅] as one division of exact integer sums —
    * the coherent tail-risk pair ([[Events.potGpd]] models the tail's
    * SHAPE; this prices its AVERAGE). The tail share is surfaced so a
    * reader sees how much mass the conditional mean averages over.
    * Scale: one value-keyed count agg + one conditional-moment agg.
    */
  def cvarEs(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.orders(s, dir)
      .select(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast("long").as("c"))
      .persist()
    CacheScope.register(v) // eager: threshold pick + the tail agg
    val byV = v.groupBy("c").agg(count(lit(1)).as("k"))
    val tot = byV.agg(sum(col("k")).as("n"))
    val thr = byV
      .withColumn("cum", sum(col("k")).over(Window.orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 100 >= col("n") * 95)
      .agg(min(col("c")).as("var_c"))
    val g = v.crossJoin(broadcast(thr)).crossJoin(broadcast(tot))
      .agg(max(col("n")).as("n"), max(col("var_c")).as("var_c"),
        sum((col("c") >= col("var_c")).cast("long")).as("n_tail"),
        sum(when(col("c") >= col("var_c"), col("c"))
          .otherwise(lit(0L))).as("s_tail"))
    g.select(col("n").as("n_orders"),
      Events.q(col("var_c").cast("double") / lit(100.0), 2)
        .as("var_95"),
      Events.q(col("s_tail").cast("double") /
        col("n_tail").cast("double") / lit(100.0), 2).as("es_95"),
      Events.q(col("n_tail").cast("double") / col("n").cast("double"),
        6).as("tail_share"))
  }

  /** Theil-T within/between decomposition (W466) of customer spend by
    * nation: T = T_between + Σ_g s_g·T_within(g) — how much spend
    * inequality is ACROSS nations vs inside them, the question the
    * single [[inequalityIndices]] number can't answer (and the Theil
    * index's defining advantage over Gini, which doesn't decompose).
    * Per-customer and per-nation log terms each land once on the
    * 1e-9 grid over exact rational arguments (x·n/S — never a
    * floating mean), sums are exact integers, and the within share
    * is one division. Scale: one customer agg + a broadcast nation
    * join + one 25-row group layer.
    */
  def theilDecomposition(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast("long")).as("x"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey").as("o_custkey"),
          col("c_nationkey").as("nat"))), "o_custkey")
      .filter(col("x") > 0)
      .persist()
    CacheScope.register(spend) // eager: totals + both term layers
    val tot = spend.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    // total T = (1/n)·Σ (x·n/S)·ln(x·n/S), per-term 1e-9 grid
    val tTerms = spend.crossJoin(broadcast(tot))
      .select(floor((col("x").cast("double") * col("n") /
        col("sx").cast("double")) *
        log(col("x").cast("double") * col("n") /
          col("sx").cast("double")) * lit(1e9) + lit(0.5))
        .cast("long").as("t9"))
    val tT = tTerms.agg(sum(col("t9")).as("st9"))
    // between: Σ_g (n_g/n)·(μ_g/μ)·ln(μ_g/μ); μ_g/μ = (x_g·n)/(n_g·S)
    val byG = spend.groupBy("nat")
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("xg"))
    val bTerms = byG.crossJoin(broadcast(tot))
      .select(floor((col("xg").cast("double") /
        col("sx").cast("double")) *
        log(col("xg").cast("double") * col("n") /
          (col("ng").cast("double") * col("sx").cast("double"))) *
        lit(1e9) + lit(0.5)).cast("long").as("b9"),
        col("n"))
    val tB = bTerms.groupBy("n").agg(sum(col("b9")).as("sb9"))
    val tTotal = col("st9").cast("double") /
      (col("n").cast("double") * lit(1e9))
    val tBetween = col("sb9").cast("double") / lit(1e9)
    val tW = tTotal - tBetween
    val tTotalS = when(col("st9") === 0, lit(1.0)).otherwise(tTotal)
    tT.crossJoin(broadcast(tB))
      .select(col("n").as("n_customers"),
        Events.q(tTotal, 6).as("theil_total"),
        Events.q(tBetween, 6).as("theil_between"),
        Events.q(tW, 6).as("theil_within"),
        when(col("st9") =!= 0, Events.q(tW / tTotalS, 6))
          .otherwise(lit(0.0)).as("within_share"))
  }

  /** Laspeyres/Paasche/Fisher price indices (W467) between the first
    * and second half of the ship-month span, over parts traded in
    * BOTH periods: with unit values v = R/Q, the Laspeyres
    * denominator Σv₀Q₀ and Paasche numerator Σv₁Q₁ collapse to the
    * EXACT revenues ΣR₀ / ΣR₁, and the two cross terms quantize
    * R₁Q₀/Q₁ and R₀Q₁/Q₀ per part on the cent grid before exact
    * sums — so "did like-for-like prices rise?" separates from "did
    * the basket change?" with two divisions and one sqrt (Fisher).
    * Scale: one (part, period) agg + a part-keyed self-join.
    */
  def priceIndex(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .as("m"),
        floor(col("l_extendedprice") * lit(100) + lit(0.5))
          .cast("long").as("cents"),
        col("l_quantity").cast("long").as("qty"))
    val mid = li.agg(((min(col("m")) + max(col("m"))) / lit(2))
      .cast("long").as("mid"))
    val per = li.crossJoin(broadcast(mid))
      .select(col("pk"), (col("m") <= col("mid")).cast("int")
        .as("p0"), col("cents"), col("qty"))
      .groupBy("pk", "p0")
      .agg(sum(col("cents")).as("r"), sum(col("qty")).as("q"))
    val both = per.filter(col("p0") === 1)
      .select(col("pk"), col("r").as("r0"), col("q").as("q0"))
      .join(per.filter(col("p0") === 0)
        .select(col("pk"), col("r").as("r1"), col("q").as("q1")), "pk")
      .filter(col("q0") > 0 && col("q1") > 0)
    val terms = both.select(col("r0"), col("r1"),
      floor(col("r1").cast("double") * col("q0") /
        col("q1").cast("double") + lit(0.5)).cast("long").as("lnum"),
      floor(col("r0").cast("double") * col("q1") /
        col("q0").cast("double") + lit(0.5)).cast("long").as("pden"))
    val g = terms.agg(count(lit(1)).as("n_parts"),
      sum(col("r0")).as("sr0"), sum(col("r1")).as("sr1"),
      sum(col("lnum")).as("sl"), sum(col("pden")).as("sp"))
    val lasp = col("sl").cast("double") / col("sr0").cast("double")
    val paas = col("sr1").cast("double") / col("sp").cast("double")
    g.select(col("n_parts"),
      Events.q(lasp, 6).as("laspeyres"),
      Events.q(paas, 6).as("paasche"),
      Events.q(sqrt(lasp * paas), 6).as("fisher"))
  }

  /** Syntetos–Boylan demand classification (W468): per part, the
    * average inter-demand interval ADI = span-months / demand-months
    * and the CV² of nonzero monthly quantities, cut at the canonical
    * (1.32, 0.49) quadrants — smooth / intermittent / erratic /
    * lumpy, the routing decision between [[Events.crostonForecast]]
    * (intermittent) and ordinary smoothing (smooth). Both statistics
    * are exact-integer ratios quantized once; the quadrant compare
    * runs on the quantized values so the census is engine-identical.
    * Scale: one (part, month) agg + one part agg.
    */
  def demandClassification(s: SparkSession, dir: String): DataFrame = {
    val pm = Tables.lineitem(s, dir)
      .select(col("l_partkey").as("pk"),
        (year(col("l_shipdate")) * 12 + month(col("l_shipdate")))
          .as("m"), col("l_quantity").cast("long").as("qty"))
      .groupBy("pk", "m").agg(sum(col("qty")).as("q"))
    val span = pm.agg((max(col("m")) - min(col("m")) + 1)
      .cast("long").as("span"))
    val perPart = pm.groupBy("pk")
      .agg(count(lit(1)).as("dm"), sum(col("q")).as("sq"),
        sum(col("q") * col("q")).as("sqq"))
      .crossJoin(broadcast(span))
    val dmD = col("dm").cast("double")
    val adi = Events.q(col("span").cast("double") / dmD, 4)
    val cv2 = Events.q(
      (dmD * col("sqq").cast("double") -
        col("sq").cast("double") * col("sq").cast("double")) /
        (col("sq").cast("double") * col("sq").cast("double")), 4)
    val classed = perPart.select(
      when(adi < lit(1.32) && cv2 < lit(0.49), lit("smooth"))
        .when(adi >= lit(1.32) && cv2 < lit(0.49), lit("intermittent"))
        .when(adi < lit(1.32), lit("erratic"))
        .otherwise(lit("lumpy")).as("cls"))
    classed.groupBy().agg(count(lit(1)).as("n_parts"),
      sum((col("cls") === "smooth").cast("long")).as("n_smooth"),
      sum((col("cls") === "intermittent").cast("long"))
        .as("n_intermittent"),
      sum((col("cls") === "erratic").cast("long")).as("n_erratic"),
      sum((col("cls") === "lumpy").cast("long")).as("n_lumpy"))
  }

  /** Perfect-order rate and lead-time profile (W470): per order, the
    * WORST line's lead time (days from order date to ship date); an
    * order is "perfect" when even that worst line ships within
    * `slaDays`. Surfaces the rate, the exact mean lead, and the
    * exact cumulative-rule p95 — the fulfillment SLA readout over
    * the same join [[q7TopRevenue]] prices. Lead times are integer
    * days, the p95 needs no interpolation, and every ratio is one
    * division. Scale: one orders⋈lineitem join (orderkey-keyed) +
    * one order-level max + tiny day-keyed aggs.
    */
  def perfectOrderRate(s: SparkSession, dir: String,
                       slaDays: Int = 30): DataFrame = {
    val leads = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_shipdate"))
      .join(Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderdate")),
        "l_orderkey")
      .select(col("l_orderkey"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
          .as("lead"))
      .persist()
    CacheScope.register(leads) // eager: order max + the p95 histogram
    val perOrder = leads.groupBy("l_orderkey")
      .agg(max(col("lead")).as("wl"))
    val og = perOrder.agg(count(lit(1)).as("n_orders"),
      sum((col("wl") <= slaDays).cast("long")).as("n_perfect"))
    val lg = leads.agg(count(lit(1)).as("nl"), sum(col("lead")).as("sl"))
    val byL = leads.groupBy("lead").agg(count(lit(1)).as("k"))
    val p95 = byL
      .withColumn("cum", sum(col("k")).over(Window.orderBy("lead")
        .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(lg))
      .filter(col("cum") * 100 >= col("nl") * 95)
      .agg(min(col("lead")).as("p95_lead"))
    og.crossJoin(broadcast(lg)).crossJoin(broadcast(p95))
      .select(col("n_orders"),
        Events.q(col("n_perfect").cast("double") /
          col("n_orders").cast("double"), 6).as("perfect_share"),
        Events.q(col("sl").cast("double") / col("nl").cast("double"),
          4).as("mean_lead_days"),
        col("p95_lead"))
  }

  /** ABC (Pareto) inventory classification (W471): parts ranked by
    * revenue; a part is class A while the revenue BEFORE it is under
    * 80% of the total (exact rule cum_excl·10 < S·8 — no float, no
    * interpolation), B under 95%, C otherwise — the census behind
    * "20% of parts carry 80% of revenue" and the prioritization cut
    * for cycle counting. Surfaces both the part counts and each
    * class's exact revenue share. Scale: one part-keyed agg + a
    * revenue-ordered cumulative window over parts (dimension-sized,
    * not fact-sized).
    */
  def abcClassification(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(floor(col("l_extendedprice") * lit(100) + lit(0.5))
        .cast("long")).as("r"))
    val tot = rev.agg(sum(col("r")).as("sr"))
    val w = Window.orderBy(col("r").desc, col("pk"))
    val classed = rev
      .withColumn("cumx", coalesce(sum(col("r")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("r"),
        when(col("cumx") * 10 < col("sr") * 8, lit("A"))
          .when(col("cumx") * 20 < col("sr") * 19, lit("B"))
          .otherwise(lit("C")).as("cls"), col("sr"))
    classed.groupBy().agg(count(lit(1)).as("n_parts"),
        sum((col("cls") === "A").cast("long")).as("n_a"),
        sum((col("cls") === "B").cast("long")).as("n_b"),
        sum((col("cls") === "C").cast("long")).as("n_c"),
        sum(when(col("cls") === "A", col("r")).otherwise(lit(0L)))
          .as("ra"),
        sum(when(col("cls") === "B", col("r")).otherwise(lit(0L)))
          .as("rb"),
        max(col("sr")).as("sr"))
      .select(col("n_parts"), col("n_a"), col("n_b"), col("n_c"),
        Events.q(col("ra").cast("double") / col("sr").cast("double"),
          6).as("rev_share_a"),
        Events.q(col("rb").cast("double") / col("sr").cast("double"),
          6).as("rev_share_b"))
  }

  /** Gini mean difference of order totals (W482) — E|X−X'|, the
    * dispersion number behind every inequality readout, plus the Gini
    * coefficient it implies (G = GMD/2μ = S/((n−1)·T)). The O(n²)
    * pairwise definition collapses to the exact sorted-rank identity
    * Σ(2i−n−1)·x₍ᵢ₎, evaluated per VALUE GROUP on the cent grid (a
    * tie block of ct rows after cb others contributes
    * v·ct·(2cb+ct−n) — one exact integer per distinct value, never a
    * row sort). Scale: one value-keyed agg + one window over distinct
    * cent values; the two surfaced ratios are single pinned double
    * chains.
    */
  def giniMeanDifference(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val v = Tables.orders(s, dir)
      .select(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast("long").as("c"))
    val byV = v.groupBy("c").agg(count(lit(1)).as("ct"))
    val tot = byV.agg(sum(col("ct")).as("n"),
      sum(col("c").cast(dec) * col("ct")).as("t"))
    val cb = coalesce(sum(col("ct")).over(
      Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)),
      lit(0L))
    val g = byV.select(col("c"), col("ct"), cb.as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("n"), col("t"),
        (col("c").cast(dec) * col("ct") *
          (lit(2L) * col("cb") + col("ct") - col("n"))).as("s"))
      .groupBy("n", "t").agg(sum(col("s")).as("s"))
    val nD = col("n").cast("double")
    g.select(col("n").as("n_orders"),
      Events.q((lit(2.0) * col("s").cast("double")) /
        (nD * (nD - lit(1.0))) / lit(100.0), 4).as("gmd"),
      Events.q(col("s").cast("double") /
        ((nD - lit(1.0)) * col("t").cast("double")), 6).as("gini"))
  }

  /** Benford first-digit screen (W483) on order totals — the fraud/
    * synthetic-data smell test: natural multi-scale amounts follow
    * P(d) = log10(1+1/d). The leading digit is extracted from the
    * cent-grid LONG via its decimal string (pure integer → text, no
    * float, engine-identical); expected shares are DRIVER-INJECTED
    * literals (the only transcendental runs in Scala, once); χ² terms
    * land on the 1e-9 grid before the order-free sum. One digit-keyed
    * agg over a 9-row spine that keeps zero-count digits. Domain is
    * POSITIVE totals (explicit filter, mirrored in the oracle): a
    * zero/negative amount has no Benford leading digit — without the
    * filter Spark would silently cast its '0'/'-' lead char to 0/null
    * while DuckDB errors, divergent behavior off-fixture.
    */
  def benfordDigits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probs = (1 to 9).map(d => (d.toLong, math.log10(1.0 + 1.0 / d)))
    val spine = probs.toDF("digit", "p")
    val dig = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 0)
      .select(substring(floor(col("o_totalprice") * lit(100) + lit(0.5))
        .cast("long").cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val byD = broadcast(spine).join(dig, Seq("digit"), "left")
      .select(col("digit"), col("p"),
        coalesce(col("n_obs"), lit(0L)).as("n_obs"))
    val tot = byD.agg(sum(col("n_obs")).as("n"))
    val withT = byD.crossJoin(broadcast(tot))
    val e = col("n").cast("double") * col("p")
    val diff = col("n_obs").cast("double") - e
    val terms = withT.withColumn("t9",
      floor(diff * diff / e * lit(1e9) + lit(0.5)).cast("long"))
    val chi2 = terms.agg(
      Events.q(sum(col("t9")).cast("double") / lit(1e9), 6).as("chi2"))
    terms.crossJoin(broadcast(chi2))
      .select(col("digit"), col("n_obs"),
        Events.q(col("n_obs").cast("double") / col("n").cast("double"),
          6).as("obs_share"),
        Events.q(col("p"), 6).as("benford_share"),
        col("chi2"))
      .orderBy("digit")
  }

  /** Per-brand inventory policy (W493): EOQ, safety stock, and
    * reorder point from the daily shipped-quantity series — the
    * operations-research table a replenishment planner reads
    * (√(2DS/H) Wilson lot size; z·σ_d·√L buffer; ROP = d̄·L + SS).
    * Demand moments are exact integer sums over (brand, ship-day)
    * daily totals; z/lead-time/cost constants are driver literals;
    * the three policy numbers are pinned ÷/√ chains — no libm.
    * Scale: one (brand, day)-keyed agg then a brands-sized table.
    */
  def inventoryPolicy(s: SparkSession, dir: String, leadDays: Int = 7,
                      setupCost: Double = 100.0,
                      holdCost: Double = 2.0): DataFrame = {
    val z95 = 1.6448536269514722
    val daily = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_shipdate").as("day"),
        col("l_quantity").cast("long").as("q"))
      .join(broadcast(Tables.part(s, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "day").agg(sum(col("q")).as("dq"))
    val g = daily.groupBy("p_brand")
      .agg(count(lit(1)).as("n"), sum(col("dq")).as("d"),
        sum(col("dq") * col("dq")).as("q2"))
    val nD = col("n").cast("double")
    val mean = col("d").cast("double") / nD
    val sigma = sqrt((col("q2").cast("double") -
      (col("d").cast("double") * col("d").cast("double")) / nD) /
      (nD - lit(1.0)))
    val eoq = sqrt((lit(2.0) * col("d").cast("double") *
      lit(setupCost)) / lit(holdCost))
    val ss = lit(z95) * sigma * sqrt(lit(leadDays.toDouble))
    g.select(col("p_brand"), col("n").as("n_days"),
        col("d").as("total_qty"),
        Events.q(eoq, 4).as("eoq"),
        Events.q(ss, 4).as("safety_stock"),
        Events.q(mean * lit(leadDays.toDouble) + ss, 4)
          .as("reorder_point"))
      .orderBy("p_brand")
  }

  /** Named-parameter SQL (W521): `spark.sql(text, args)` — the
    * injection-safe parameter-binding API (`:m`, `:r` markers bound
    * from a Map, never string-spliced), the surface a query service
    * exposes to callers. The gate pins that binding semantics equal
    * the literal-inlined SQL the oracle runs: one cohort filter + the
    * usual type rollup.
    */
  def namedParamsSql(s: SparkSession, dir: String,
                     m: Int = 7, r: Int = 3): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_events_np")
    s.sql(
      """SELECT event_type, count(*) AS n_events,
               sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_cents
         FROM graft_events_np
         WHERE pmod(user_id, :m) = :r
         GROUP BY event_type ORDER BY event_type""",
      Map("m" -> m, "r" -> r))
  }

  /** Recursive-CTE EMA (W522): month-of-year order counts smoothed by
    * the exponential recurrence e(m) = 0.3·n(m) + 0.7·e(m−1) — the
    * canonical computation plain SQL windows cannot express (each row
    * needs the PREVIOUS row's OUTPUT) and the first exercise of Spark
    * 4's `WITH RECURSIVE`. One SQL string, two engines: the linear
    * recursion (12 steps, anchor at month 1, recursive member joins
    * the next month) runs verbatim in DuckDB, and the double chain
    * multiplies in the same order on both, so the 1e-6-grid quantized
    * EMA is bit-identical. The `CAST(0.3 AS DOUBLE)` is load-bearing:
    * a bare 0.3 parses as DECIMAL(1,1) in Spark but DOUBLE in DuckDB —
    * the cross-engine literal-typing trap the dtype guard exists for.
    * Scale: the corpus-bound work is ONE month-keyed partial-agg scan;
    * the recursion iterates over a 12-row spine.
    */
  def recursiveCteEma(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_rc")
    s.sql(recursiveCteEmaSql("graft_orders_rc"))
  }

  /** The shared two-engine SQL text (table name injected so the oracle
    * runs it against DuckDB's `orders` view verbatim). */
  def recursiveCteEmaSql(table: String): String =
    s"""WITH RECURSIVE cnt AS (
          SELECT CAST(month(o_orderdate) AS INT) AS mn, count(*) AS n
          FROM $table GROUP BY 1),
        ema(mn, n, e) AS (
          SELECT mn, n, CAST(n AS DOUBLE) FROM cnt WHERE mn = 1
          UNION ALL
          SELECT c.mn, c.n,
                 CAST(0.3 AS DOUBLE) * c.n + CAST(0.7 AS DOUBLE) * ema.e
          FROM ema JOIN cnt c ON c.mn = ema.mn + 1)
        SELECT mn AS mth, n AS n_orders,
               floor(e * 1e6 + 0.5) / 1e6 AS ema
        FROM ema ORDER BY mn"""

  /** SQL-defined functions (W523): `CREATE TEMPORARY FUNCTION …
    * RETURN <expr>` — logic shipped as SQL and inlined by Catalyst at
    * plan time (no closure, no serialization, full codegen), the shape
    * a SQL-first team uses instead of Scala UDFs. A scalar function
    * (the engine's cent-grid quantizer) feeds the usual type rollup;
    * the gate pins that the function registry + inlining produce
    * exactly the hand-inlined expression's results.
    */
  def sqlUdfRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_events_udf")
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE)
             RETURNS BIGINT RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)""")
    s.sql(
      """SELECT event_type, count(*) AS n_events,
               sum(graft_cents(value)) AS v_cents
         FROM graft_events_udf
         GROUP BY event_type ORDER BY event_type""")
  }

  /** Session variables + EXECUTE IMMEDIATE (W524): `DECLARE VARIABLE`,
    * `SET VARIABLE … = (scalar subquery)`, then the final query runs
    * through `EXECUTE IMMEDIATE … USING` the variable — the scripted
    * two-step (compute a corpus statistic, parameterize the next query
    * with it) a SQL workflow engine runs. The cut is the exact
    * cent-grid mean (integer sum ÷ count, division order pinned), so
    * the variable's value — and therefore the filtered rollup — is
    * bit-identical to the oracle's inlined scalar subquery.
    */
  def sessionVarsSql(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_events_sv")
    s.sql("DECLARE OR REPLACE VARIABLE graft_cut DOUBLE")
    s.sql(
      """SET VARIABLE graft_cut =
           (SELECT CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
                        AS DOUBLE) / count(*) / 100
            FROM graft_events_sv)""")
    s.sql(
      """EXECUTE IMMEDIATE
           'SELECT event_type, count(*) AS n_above
            FROM graft_events_sv WHERE value > ?
            GROUP BY event_type ORDER BY event_type'
         USING graft_cut""")
  }

  /** SQL scripting (W525): a `BEGIN … WHILE … END` compound statement
    * — Spark 4's procedural control flow — runs 20 Newton iterations
    * x ← (x + n/x)/2 toward √n of the order count, returning the last
    * statement's result. The oracle restates the SAME float sequence
    * as a DuckDB recursive CTE: identical IEEE op order, so the
    * 1e-9-grid root is bit-identical — control-flow machinery gated
    * against recursion machinery computing one chain. Driver-sized:
    * the corpus contributes one count; the loop is 20 scalar steps.
    */
  def sqlScriptingNewton(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_sc")
    s.sql(
      """BEGIN
           DECLARE n DOUBLE;
           DECLARE x DOUBLE;
           DECLARE k INT DEFAULT 0;
           SET n = (SELECT CAST(count(*) AS DOUBLE) FROM graft_orders_sc);
           SET x = n;
           WHILE k < 20 DO
             SET x = (x + n / x) / CAST(2 AS DOUBLE);
             SET k = k + 1;
           END WHILE;
           SELECT CAST(n AS BIGINT) AS n_orders,
                  floor(x * 1e9 + 0.5) / 1e9 AS newton_sqrt;
         END""")
  }

  /** SQL pipe syntax (W526): Spark 4's `|>` operators — the
    * top-to-bottom dataflow spelling of filter → aggregate → order.
    * The gate pins the pipe FRONTEND lowers to exactly the classic
    * query's plan semantics (the oracle is the plain-SQL restatement).
    */
  def pipeSyntaxRollup(s: SparkSession, dir: String): DataFrame = {
    Tables.events(s, dir).createOrReplaceTempView("graft_events_pipe")
    s.sql(
      """FROM graft_events_pipe
         |> WHERE pmod(user_id, 2) = 0
         |> AGGREGATE count(*) AS n_events,
              sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS v_cents
            GROUP BY event_type
         |> ORDER BY event_type""")
  }

  /** SQL table-valued function (W527): `CREATE TEMPORARY FUNCTION …
    * RETURNS TABLE(…) RETURN SELECT …` — a SQL-defined relation
    * appearing in the FROM clause like any table (the spine-generator
    * shape every densification query wants as a named reusable). The
    * parameterized month spine LEFT JOINs the order counts; the gate
    * pins the TVF's expansion against the oracle's inline series.
    */
  def sqlTableFunction(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("graft_orders_tvf")
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_mspine(n INT)
         RETURNS TABLE(mn INT)
         RETURN SELECT explode(sequence(1, n)) AS mn""")
    s.sql(
      """SELECT t.mn AS mth, count(o.o_orderkey) AS n_orders
         FROM graft_mspine(12) t
         LEFT JOIN graft_orders_tvf o ON month(o.o_orderdate) = t.mn
         GROUP BY t.mn ORDER BY t.mn""")
  }
}

