package graft.queries

import graft.{Fixture, Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core analytics surface (SURVEY §2 B).
  *
  * Engine-parity rules (SURVEY §5). Output columns are only ever
  * BIGINT, STRING, DATE, or DOUBLE — never DECIMAL (stringification
  * is reader-dependent: `123.40` vs `123.4`) and never a DuckDB
  * HUGEINT (int sums must be CAST AS BIGINT in oracle SQL). Doubles
  * are made bit-deterministic by construction:
  *   - sums: per-row arithmetic quantization to SCALED LONGS (exact,
  *     order-independent accumulation, zero BigDecimal in the hot
  *     path), divided back to double on output — [[moneySum]] /
  *     [[termSum6]];
  *   - averages/scalars: IEEE ops over those exact sums;
  *   - intrinsically-double aggregates (percentile, corr, stddev):
  *     arithmetic rounding `floor(x*10^n+0.5)/10^n` ([[roundA]]),
  *     identical expression text on both engines.
  * Timestamps are only ever floored to epoch seconds (ns-vs-µs
  * parquet precision differs across engines); every query is
  * deterministically ordered with unique tie-breaks; LIMIT only under
  * full ORDER BY.
  */
object Analytics {

  /** Exact money sum → DOUBLE via SCALED LONGS: per-row arithmetic
    * half-up to integer cents (`floor(x*100+0.5)` — Spark floor on
    * double already returns LONG), exact order-independent long sum,
    * divide back on output. Values are identical to a per-row
    * DECIMAL(18,2)-cast sum, but with zero BigDecimal in the hot
    * path: Spark's double→decimal Cast goes through
    * BigDecimal.valueOf→Double.toString per row, which runs ~50x
    * slow while the codegen class is still interpreted and triggered
    * 2-minute first-run stalls (the round-1 lesson, re-learned).
    * Oracle twin:
    * `CAST(sum(CAST(floor(x*100.0+0.5) AS BIGINT)) AS DOUBLE)/100.0`. */
  def moneySum(c: Column): Column =
    sum(floor(c * 100.0 + 0.5)) / 100.0

  /** Exact sum of a derived full-precision term, quantized per row to
    * 6dp scaled longs. Oracle twin:
    * `CAST(sum(CAST(floor(e*1000000.0+0.5) AS BIGINT)) AS DOUBLE)/1000000.0`.
    *
    * Headroom: int64 holds |sum| up to ~9.2e12 at 6dp scale — ample
    * for per-group money aggregates at any SF, but a GLOBAL sum over
    * ~1e9 rows of ~1e5-magnitude values would overflow. ANSI mode
    * (Spark 4 default) fails loudly rather than wrapping; for such
    * columns drop to 2dp scale ([[moneySum]], ~9e16 headroom) or use
    * a decimal sum on the output side only (decimal Cast per OUTPUT
    * row is fine — it's the per-INPUT-row cast that was the hot-path
    * trap). */
  def termSum6(c: Column): Column =
    sum(floor(c * 1000000.0 + 0.5)) / 1000000.0

  /** 4dp variant: EXACT (no quantization error at all) for products of
    * two 2dp inputs like `l_extendedprice*(1-l_discount)`, with int64
    * headroom to ~9.2e14 — safe for global sums to ~1e9 rows of
    * ~1e5-magnitude values. Oracle twin:
    * `CAST(sum(CAST(floor(e*10000.0+0.5) AS BIGINT)) AS DOUBLE)/10000.0`. */
  def termSum4(c: Column): Column =
    sum(floor(c * 10000.0 + 0.5)) / 10000.0

  /** arithmetic round-half-up to n decimals — pure IEEE ops (floor,
    * mult, div), bit-identical in any engine; no BigDecimal anywhere */
  def roundA(c: Column, n: Int): Column = {
    val p = math.pow(10, n)
    floor(c * p + 0.5) / p
  }

  /** FLOOR division of an integer column by a positive constant —
    * pinned to DuckDB's `//` semantics for NEGATIVE inputs too
    * (Spark's `div` truncates toward zero: `-1 div 2 = 0` where
    * `-1 // 2 = -1`), so grid/bucket assignment cannot silently
    * diverge between engines on pre-epoch timestamps or signed keys.
    * `x - pmod(x, d)` is exactly divisible and pmod is non-negative,
    * so the double division is exact for |x| < 2^53 — far above any
    * epoch-seconds or key domain this engine buckets. */
  private[graft] def floorDiv(x: Column, d: Long): Column =
    ((x - pmod(x, lit(d))) / lit(d)).cast("long")

  private def t(s: SparkSession, d: String, n: String): DataFrame =
    Tables.load(s, d, n)

  /** events with an epoch-seconds `sec` column appended — extraction
    * is schema-adaptive ([[Tables.tsSec]]): the same query works
    * whether the lake delivered `ts` as TIMESTAMP(MICROS),
    * TIMESTAMP_NTZ, or a raw nanosecond LONG. Catalyst prunes the
    * original `ts` (and any other unused column) out of the scan when
    * a query selects a subset. */
  private def ev(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "events")
    e.withColumn("sec", Tables.tsSec(e))
  }

  // ---- q1: scan-filter-group-agg (TPC-H Q1 shape) --------------------
  val q1 = Q("q1_agg", Some("""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
      CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base,
      CAST(sum(CAST(floor((l_extendedprice*(1-l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc,
      CAST(sum(CAST(floor((l_extendedprice*(1-l_discount)*(1+l_tax)) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
      CAST(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty,
      CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_price,
      count(*) AS n
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus""")) { (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_shipdate") < lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      // q1 has only 6 groups, so these are effectively GLOBAL sums —
      // the scaled-long grid is picked per column for int64 headroom
      // (ANSI mode fails loudly on overflow): sum_disc is a 2dp x 2dp
      // product, so the 4dp grid is EXACT (zero rounding error) and
      // still holds ~1e9 rows; sum_charge is a 6dp product kept on the
      // 2dp grid (6dp would overflow near sf100) — its <=0.5e-2/row
      // quantization is a documented deviation from full exactness
      .agg(
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base"),
        termSum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc"),
        moneySum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (moneySum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---- q2: broadcast dim joins ---------------------------------------
  val q2 = Q("q2_join_broadcast", Some("""
    SELECT r_name, n_name, count(*) AS n_cust,
      CAST(sum(CAST(floor((c_acctbal) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name ORDER BY r_name, n_name""")) { (s, d) =>
    t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_cust"), moneySum(col("c_acctbal")).as("acctbal"))
      .orderBy("r_name", "n_name")
  }

  // ---- q3: join + agg + global top-k ---------------------------------
  val q3 = Q("q3_topk", Some("""
    SELECT l_orderkey,
      CAST(sum(CAST(floor((l_extendedprice*(1-l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
      CAST(o_orderdate AS DATE) AS odate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10""")) { (s, d) =>
    t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("odate"),
        col("o_orderpriority"))
      .agg(termSum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .select("l_orderkey", "revenue", "odate", "o_orderpriority")
      .orderBy(col("revenue").desc, col("l_orderkey")).limit(10)
  }

  // ---- q4: EXISTS / left-semi ----------------------------------------
  val q4 = Q("q4_semijoin", Some("""
    SELECT o_orderpriority, count(*) AS n,
      CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM orders WHERE EXISTS (
      SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
    GROUP BY o_orderpriority ORDER BY o_orderpriority""")) { (s, d) =>
    t(s, d, "orders")
      .join(t(s, d, "lineitem").filter(col("l_quantity") >= 48),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  // ---- q5: 5-way join (TPC-H Q5 shape: revenue by supplier nation) ---
  val q5 = Q("q5_multijoin", Some("""
    SELECT n_name,
      CAST(sum(CAST(floor((l_extendedprice*(1-l_discount)) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
      count(*) AS n
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name ORDER BY revenue DESC, n_name""")) { (s, d) =>
    t(s, d, "lineitem")
      .join(t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "supplier")), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, d, "region")).filter(col("r_name") === "ASIA"),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(termSum6(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  // ---- q6: selective pushdown scan agg (TPC-H Q6 shape) --------------
  val q6 = Q("q6_filter", Some("""
    SELECT CAST(sum(CAST(floor((l_extendedprice*l_discount) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""")) { (s, d) =>
    t(s, d, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))
  }

  // ---- q7: window row_number per partition ---------------------------
  val q7 = Q("q7_window", Some("""
    SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""")) { (s, d) =>
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, d, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  // ---- q8: ROLLUP grouping sets --------------------------------------
  val q8 = Q("q8_rollup", Some("""
    SELECT coalesce(l_returnflag,'ALL') AS flag, coalesce(l_linestatus,'ALL') AS status,
      count(*) AS n,
      CAST(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    ORDER BY flag, status""")) { (s, d) =>
    t(s, d, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"), col("qty"))
      .orderBy("flag", "status")
  }

  // ---- q9: NOT EXISTS / left-anti ------------------------------------
  val q9 = Q("q9_antijoin", Some("""
    SELECT c_mktsegment, count(*) AS n FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment ORDER BY c_mktsegment""")) { (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  // ---- q10: exact distinct counts ------------------------------------
  val q10 = Q("q10_distinct", Some("""
    SELECT count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(DISTINCT l_orderkey) AS n_orders, count(*) AS n
    FROM lineitem""")) { (s, d) =>
    t(s, d, "lineitem").agg(
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      count(lit(1)).as("n"))
  }

  // ---- q11: HAVING on aggregate --------------------------------------
  val q11 = Q("q11_having", Some("""
    SELECT o_custkey, count(*) AS n,
      CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM orders GROUP BY o_custkey
    HAVING count(*) >= 3 ORDER BY o_custkey""")) { (s, d) =>
    t(s, d, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), moneySum(col("o_totalprice")).as("total"))
      .filter(col("n") >= 3)
      .orderBy("o_custkey")
  }

  // ---- q12: conditional aggregation (CASE WHEN in sum) ---------------
  // sums of int must be CAST AS BIGINT in the oracle: DuckDB sum(int)
  // is HUGEINT, which stringifies differently from Spark's LONG.
  val q12 = Q("q12_casewhen", Some("""
    SELECT l_returnflag,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_n,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_n
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    t(s, d, "lineitem")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag")
      .agg(sum(when(high, 1).otherwise(0)).as("high_n"),
        sum(when(high, 0).otherwise(1)).as("low_n"))
      .orderBy("l_returnflag")
  }

  // ---- q13: left outer join distribution (TPC-H Q13 shape) -----------
  val q13 = Q("q13_outerjoin", Some("""
    SELECT c_count, count(*) AS custdist FROM (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count ORDER BY custdist DESC, c_count DESC""")) { (s, d) =>
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  // ---- q14: scalar-subquery threshold (TPC-H Q17 shape) --------------
  // quantities are integer-valued → per-part avg is exact in double,
  // so the 0.5*avg comparison is engine-stable.
  val q14 = Q("q14_subquery", Some("""
    SELECT CAST(sum(CAST(floor((l.l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly,
           count(*) AS n
    FROM lineitem l JOIN (
      SELECT l_partkey AS pk, avg(l_quantity) AS aq FROM lineitem GROUP BY l_partkey
    ) a ON l.l_partkey = a.pk
    WHERE l.l_quantity < 0.5 * a.aq""")) { (s, d) =>
    // no broadcast hint: the per-partkey aggregate is |parts|-sized —
    // broadcastable at test SFs (AQE will choose that from runtime
    // stats) but a shuffle join at 100 TB; forcing broadcast would be
    // a scale bug
    val li = t(s, d, "lineitem")
    val a = li.groupBy(col("l_partkey").as("pk")).agg(avg("l_quantity").as("aq"))
    li.join(a, col("l_partkey") === col("pk"))
      .filter(col("l_quantity") < lit(0.5) * col("aq"))
      .agg((moneySum(col("l_extendedprice")) / 7.0).as("avg_yearly"), count(lit(1)).as("n"))
  }

  // ---- q15: UNION ALL + agg ------------------------------------------
  val q15 = Q("q15_union", Some("""
    SELECT kind, count(*) AS n,
      CAST(sum(CAST(floor((bal) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM (SELECT 'customer' AS kind, c_acctbal AS bal FROM customer
          UNION ALL
          SELECT 'supplier' AS kind, s_acctbal AS bal FROM supplier)
    GROUP BY kind ORDER BY kind""")) { (s, d) =>
    val c = t(s, d, "customer").select(lit("customer").as("kind"), col("c_acctbal").as("bal"))
    val su = t(s, d, "supplier").select(lit("supplier").as("kind"), col("s_acctbal").as("bal"))
    c.unionAll(su).groupBy("kind")
      .agg(count(lit(1)).as("n"), moneySum(col("bal")).as("total"))
      .orderBy("kind")
  }

  // ---- q16: sessionization (30-min gap) via lag + cumulative sum -----
  val q16 = Q("q16_sessionize", Some("""
    WITH e AS (SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    g AS (SELECT user_id, event_id, sec,
            CASE WHEN sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800
                 THEN 1
                 WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) IS NULL
                 THEN 1 ELSE 0 END AS new_s FROM e),
    s AS (SELECT user_id, event_id, sec,
            CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM g)
    SELECT user_id, sid, count(*) AS n_events,
           min(sec) AS start_s, max(sec) AS end_s, max(sec)-min(sec) AS dur_s
    FROM s GROUP BY user_id, sid ORDER BY user_id, sid""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("sec"))
      .withColumn("prev", lag("sec", 1).over(w))
      .withColumn("new_s",
        when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
      .withColumn("sid", sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min("sec").as("start_s"),
        max("sec").as("end_s"), (max("sec") - min("sec")).as("dur_s"))
      .orderBy("user_id", "sid")
  }

  // ---- q17: pivot event_type → columns (conditional agg) -------------
  val q17 = Q("q17_pivot", Some("""
    SELECT user_id,
      count(*) FILTER (WHERE event_type = 'click')    AS n_click,
      count(*) FILTER (WHERE event_type = 'view')     AS n_view,
      count(*) FILTER (WHERE event_type = 'error')    AS n_error,
      coalesce(CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) FILTER (WHERE event_type = 'purchase') AS DOUBLE) / 1000000.0, 0.0) AS v_purchase,
      coalesce(CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) FILTER (WHERE event_type = 'signup') AS DOUBLE) / 1000000.0, 0.0) AS v_signup
    FROM events GROUP BY user_id ORDER BY user_id""")) { (s, d) =>
    val e = t(s, d, "events")
    def cnt(tp: String) = count(when(col("event_type") === tp, 1))
    def vsum(tp: String) =
      coalesce(termSum6(when(col("event_type") === tp, col("value"))), lit(0.0))
    e.groupBy("user_id")
      .agg(cnt("click").as("n_click"), cnt("view").as("n_view"),
        cnt("error").as("n_error"), vsum("purchase").as("v_purchase"),
        vsum("signup").as("v_signup"))
      .orderBy("user_id")
  }

  // ---- q18: time-bucketed aggregation --------------------------------
  val q18 = Q("q18_timeagg", Some("""
    WITH e AS (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_type, value FROM events)
    SELECT sec - sec % 3600 AS hour_s, event_type, count(*) AS n,
      CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
    FROM e GROUP BY hour_s, event_type ORDER BY hour_s, event_type""")) { (s, d) =>
    ev(s, d)
      .select(col("sec"), col("event_type"), col("value"))
      .withColumn("hour_s", col("sec") - col("sec") % 3600)
      .groupBy("hour_s", "event_type")
      .agg(count(lit(1)).as("n"), termSum6(col("value")).as("total"))
      .orderBy("hour_s", "event_type")
  }

  // ---- q19: running/cumulative window sum ----------------------------
  val q19 = Q("q19_running", Some("""
    WITH e AS (SELECT user_id, event_id, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
    SELECT user_id, event_id,
      CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) OVER (
        PARTITION BY user_id ORDER BY sec, event_id
        ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0 AS run_total
    FROM e ORDER BY user_id, event_id""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("value"), col("sec"))
      .select(col("user_id"), col("event_id"),
        (sum(floor(col("value") * 1000000.0 + 0.5)).over(w) / 1000000.0).as("run_total"))
      .orderBy("user_id", "event_id")
  }

  // ---- q20: JSON extraction + agg ------------------------------------
  // robust on BOTH sides, with identical edge semantics: under ANSI a
  // malformed props value throws CAST_INVALID_INPUT (Spark), DuckDB's
  // json_extract_string throws on non-JSON BEFORE any TRY_CAST, and
  // the two engines' lenient casts disagree on fractional strings
  // (DuckDB TRY_CAST('12.5') rounds to 13, Spark yields NULL) — so
  // both sides admit only integer-literal keys via the same regex and
  // route everything else (missing, malformed, fractional) to the
  // NULL bucket. The regex is bounded to 18 digits: an unbounded
  // digit run ('99999999999999999999') passes '[0-9]+' yet still
  // overflows the ANSI BIGINT cast on both engines; 18 digits always
  // fits Int64, longer keys go to the NULL bucket. And the NULL
  // bucket's SORT position is pinned explicitly (NULLS FIRST on both
  // sides): Spark's default asc is nulls-first while DuckDB's is
  // nulls-last, so on any corpus that produces the NULL bucket the
  // ordered compare would diverge on defaults.
  val q20 = Q("q20_json", Some("""
    WITH kx AS (SELECT CASE WHEN json_valid(props)
                  THEN json_extract_string(props, '$.k') END AS ks, value
                FROM events)
    SELECT CASE WHEN regexp_matches(ks, '^-?[0-9]{1,18}$')
             THEN CAST(ks AS BIGINT) END % 10 AS bucket,
      count(*) AS n,
      CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
    FROM kx GROUP BY bucket ORDER BY bucket NULLS FIRST""")) { (s, d) =>
    t(s, d, "events")
      .withColumn("bucket",
        expr("case when get_json_object(props, '$.k') rlike '^-?[0-9]{1,18}$' " +
          "then cast(get_json_object(props, '$.k') as bigint) end") % 10)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), termSum6(col("value")).as("total"))
      .orderBy(col("bucket").asc_nulls_first)
  }

  // ---- q21: exact interpolated quantiles -----------------------------
  val q21 = Q("q21_quantile", Some("""
    SELECT l_returnflag,
      floor(quantile_cont(l_quantity, 0.5) * 10000.0 + 0.5) / 10000.0 AS med_qty,
      floor(quantile_cont(l_extendedprice, 0.95) * 100.0 + 0.5) / 100.0 AS p95_price,
      count(*) AS n
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")) { (s, d) =>
    t(s, d, "lineitem").groupBy("l_returnflag")
      .agg(roundA(expr("percentile(l_quantity, 0.5)"), 4).as("med_qty"),
        roundA(expr("percentile(l_extendedprice, 0.95)"), 2).as("p95_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // ---- q22: statistical aggregates (corr / stddev / covar) -----------
  val q22 = Q("q22_stats", Some("""
    SELECT
      floor(corr(l_quantity, l_extendedprice) * 1000000.0 + 0.5) / 1000000.0 AS corr_qp,
      floor(stddev_samp(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sd_price,
      floor(covar_samp(l_quantity, l_discount) * 1000000.0 + 0.5) / 1000000.0 AS cov_qd,
      CAST(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*) AS avg_qty
    FROM lineitem""")) { (s, d) =>
    t(s, d, "lineitem").agg(
      roundA(corr("l_quantity", "l_extendedprice"), 6).as("corr_qp"),
      roundA(stddev_samp(col("l_extendedprice")), 2).as("sd_price"),
      roundA(covar_samp(col("l_quantity"), col("l_discount")), 6).as("cov_qd"),
      (moneySum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
  }

  // ---- q23: as-of join (most recent prior click per error event) -----
  val q23 = Q("q23_asof", Some("""
    WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    w AS (SELECT user_id, event_id, event_type, sec,
            last_value(CASE WHEN event_type = 'click' THEN sec END IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY sec, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_click
          FROM e)
    SELECT event_id, user_id, sec, coalesce(asof_click, -1) AS asof_click_sec
    FROM w WHERE event_type = 'error' ORDER BY event_id""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("sec"))
      .withColumn("asof_click",
        last(when(col("event_type") === "click", col("sec")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("sec"),
        coalesce(col("asof_click"), lit(-1L)).as("asof_click_sec"))
      .orderBy("event_id")
  }

  // ---- q24: CUBE grouping sets ---------------------------------------
  val q24 = Q("q24_cube", Some("""
    SELECT coalesce(l_returnflag,'ALL') AS flag, coalesce(l_linestatus,'ALL') AS status,
      count(*) AS n,
      CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total
    FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
    ORDER BY flag, status""")) { (s, d) =>
    t(s, d, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("total"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("n"), col("total"))
      .orderBy("flag", "status")
  }

  // ---- q25: INTERSECT / EXCEPT set operations ------------------------
  val q25 = Q("q25_setops", Some("""
    SELECT 'both' AS side, count(*) AS n FROM
      (SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'cust_only', count(*) FROM
      (SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'supp_only', count(*) FROM
      (SELECT s_nationkey AS k FROM supplier EXCEPT SELECT c_nationkey FROM customer)
    ORDER BY side""")) { (s, d) =>
    val c = t(s, d, "customer").select(col("c_nationkey").as("k"))
    val su = t(s, d, "supplier").select(col("s_nationkey").as("k"))
    def side(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("side"), col("n"))
    side("both", c.intersect(su))
      .unionAll(side("cust_only", c.except(su)))
      .unionAll(side("supp_only", su.except(c)))
      .orderBy("side")
  }

  // ---- q26: lead/lag/ntile window navigation -------------------------
  val q26 = Q("q26_leadlag", Some("""
    WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
    SELECT event_id, user_id,
      lag(event_type)  OVER w AS prev_type,
      lead(event_type) OVER w AS next_type,
      coalesce(sec - lag(sec) OVER w, -1) AS gap_s,
      ntile(4) OVER w AS quartile
    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ORDER BY event_id""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("sec"))
      .select(col("event_id"), col("user_id"),
        lag("event_type", 1).over(w).as("prev_type"),
        lead("event_type", 1).over(w).as("next_type"),
        coalesce(col("sec") - lag("sec", 1).over(w), lit(-1L)).as("gap_s"),
        ntile(4).over(w).as("quartile"))
      .orderBy("event_id")
  }

  // ---- q28: time-range join (banded, no cartesian) -------------------
  // every (error, click) pair of the same user within ±300s. The
  // Spark side uses the scale-safe banded form: a naive |e|x|e|
  // theta-join is quadratic, but bucketing time into 300s bands and
  // exploding the left side to its 3 neighbor bands turns it into an
  // equi-join on (user, band) + a residual |Δt|<=300 filter — each
  // qualifying pair matches in exactly one band, so no dedup needed.
  val q28 = Q("q28_rangejoin", Some("""
    WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)
    SELECT a.user_id, count(*) AS n_pairs,
      min(abs(a.sec - b.sec)) AS min_gap_s
    FROM e a JOIN e b ON a.user_id = b.user_id
      AND a.event_type = 'error' AND b.event_type = 'click'
      AND abs(a.sec - b.sec) <= 300
    GROUP BY a.user_id ORDER BY a.user_id""")) { (s, d) =>
    val e = ev(s, d)
      .select(col("user_id"), col("event_type"), col("sec"))
    val err = e.filter(col("event_type") === "error")
      .select(col("user_id"), col("sec").as("esec"), expr("sec div 300").as("b0"))
      .select(col("user_id"), col("esec"),
        explode(array(col("b0") - 1, col("b0"), col("b0") + 1)).as("bkt"))
    val clk = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("sec").as("csec"), expr("sec div 300").as("bkt"))
    err.join(clk, Seq("user_id", "bkt"))
      .filter(abs(col("esec") - col("csec")) <= 300)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("esec") - col("csec"))).as("min_gap_s"))
      .orderBy("user_id")
  }

  // ---- q45: AS-OF join (temporal lookup, union-interleave plan) ------
  /** each purchase matched to the SAME user's most recent view at or
    * before it ([[graft.operators.AsOf.asofJoin]]) — the temporal
    * lookup q28's banded range join cannot express (unbounded
    * lookback; a band bounds |Δt|). Left-outer: an unattributed
    * purchase keeps NULL view columns. The oracle is DuckDB's native
    * ASOF LEFT JOIN over the identically tie-collapsed right side —
    * the operator's union-interleave plan is hash-checked against
    * the engine-native as-of semantics. */
  val q45 = Q("q45_asof_join", Some("""
    WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v6
               FROM events),
    p AS (SELECT event_id AS purchase_id, user_id, sec FROM e
          WHERE event_type = 'purchase'),
    v AS (SELECT user_id, sec, arg_max(event_id, event_id) AS view_id,
            arg_max(v6, event_id) AS view_v6
          FROM e WHERE event_type = 'view' GROUP BY user_id, sec)
    SELECT p.purchase_id, p.user_id, p.sec, v.view_id,
      CAST(v.view_v6 AS DOUBLE) / 1000000.0 AS view_value,
      p.sec - v.sec AS gap_s
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.sec >= v.sec
    ORDER BY p.purchase_id""")) { (s, d) =>
    val e = ev(s, d)
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("sec"))
    val v = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("sec"),
        col("event_id").as("view_id"),
        floor(col("value") * 1000000.0 + 0.5).cast("long").as("view_v6"),
        col("sec").as("view_sec"))
    graft.operators.AsOf.asofJoin(p, v, "user_id", "sec",
        Seq("view_id", "view_v6", "view_sec"), "view_id")
      .select(col("purchase_id"), col("user_id"), col("sec"),
        col("view_id"),
        (col("view_v6").cast("double") / 1000000.0).as("view_value"),
        (col("sec") - col("view_sec")).as("gap_s"))
      .orderBy("purchase_id")
  }

  // ---- q46: VARIABLE-length interval join (custom physical op) -------
  /** each purchase attributed to the error "episodes" it falls
    * inside, where an episode's length VARIES per error
    * (60 + value·600 seconds) — the shape q28's fixed-width banding
    * cannot express without exploding every probe to the maximum
    * width. Runs on [[graft.plans.IntervalJoin.pointInInterval]]:
    * graft's full custom-operator tier (logical node → injected
    * planner strategy → `BroadcastIntervalJoinExec` stabbing a
    * broadcast max-hi segment tree in O(log n + k) per probe).
    * IntervalJoinSpec pins the plan free of
    * BroadcastNestedLoopJoin and the results ≡ Spark's own
    * theta-join; the oracle is the plain BETWEEN join. */
  val q46 = Q("q46_interval_join", Some("""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    w AS (SELECT event_id AS win_id, user_id AS w_user, sec AS lo,
            sec + 60 + CAST(floor(value * 600.0) AS BIGINT) AS hi
          FROM e WHERE event_type = 'error'),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user,
            sec AS psec FROM e WHERE event_type = 'purchase')
    SELECT p.purchase_id, count(*) AS n_win, min(w.win_id) AS first_win,
      min(p.psec - w.lo) AS min_into_s
    FROM p JOIN w ON p.p_user = w.w_user AND p.psec BETWEEN w.lo AND w.hi
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val e = ev(s, d)
    val w = e.filter(col("event_type") === "error")
      .select(col("event_id").as("win_id"), col("user_id").as("w_user"),
        col("sec").as("lo"),
        (col("sec") + lit(60L) +
          floor(col("value") * 600.0).cast("long")).as("hi"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("sec").as("psec"))
    graft.plans.IntervalJoin.pointInInterval(p, w, "psec", "lo", "hi",
        Seq("p_user" -> "w_user"))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_win"), min(col("win_id")).as("first_win"),
        min(col("psec") - col("lo")).as("min_into_s"))
      .orderBy("purchase_id")
  }

  // ---- q52: SHUFFLED variable-length interval join (fact × fact) ----
  /** q46's fact-sized sibling: EVERY event opens a variable-length
    * attention window (30 + value·300 seconds), and each purchase is
    * attributed to the windows of OTHER events it falls inside — a
    * fact×fact variable-length interval join, the case the broadcast
    * form's build cap orphans (collecting a fact-sized interval side
    * to the driver is exactly what `maxBuildRows` refuses). Runs on
    * `build = "shuffle"`: both sides co-partition on the user key
    * (ONE Exchange per side — IntervalJoinSpec pins no
    * BroadcastNestedLoopJoin and no broadcast of the interval side),
    * each partition builds its keys' sorted-lo/max-hi segment trees
    * executor-side, probes stab locally. Self-windows are removed by
    * a residual post-join filter (composes like any theta residual).
    * At 100 TB: the interval side scales with the cluster (per-
    * partition build memory), not the driver heap. */
  val q52 = Q("q52_interval_shuffle", Some("""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    w AS (SELECT event_id AS win_id, user_id AS w_user, sec AS lo,
            sec + 30 + CAST(floor(value * 300.0) AS BIGINT) AS hi
          FROM e),
    p AS (SELECT event_id AS purchase_id, user_id AS p_user,
            sec AS psec FROM e WHERE event_type = 'purchase')
    SELECT p.purchase_id, count(*) AS n_win, min(w.win_id) AS first_win,
      max(p.psec - w.lo) AS max_into_s
    FROM p JOIN w ON p.p_user = w.w_user AND p.psec BETWEEN w.lo AND w.hi
    WHERE w.win_id <> p.purchase_id
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val e = ev(s, d)
    val w = e.select(col("event_id").as("win_id"),
      col("user_id").as("w_user"), col("sec").as("lo"),
      (col("sec") + lit(30L) +
        floor(col("value") * 300.0).cast("long")).as("hi"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("sec").as("psec"))
    graft.plans.IntervalJoin.pointInInterval(p, w, "psec", "lo", "hi",
        Seq("p_user" -> "w_user"), build = "shuffle")
      .filter(col("win_id") =!= col("purchase_id"))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_win"), min(col("win_id")).as("first_win"),
        max(col("psec") - col("lo")).as("max_into_s"))
      .orderBy("purchase_id")
  }

  // ---- q54: EXACT per-group percentiles ------------------------------
  /** exact interpolated quantiles (`percentile`) per group — the
    * EXACT twin q32's sketch approximates, shipped for the measures
    * where exactness is cheap: over a BOUNDED-DOMAIN column
    * (l_quantity ∈ 1..50) Spark's percentile aggregates a
    * value→count map, so state is |domain|-sized per group — at
    * 100 TB the agg is one partial-agg shuffle of tiny maps, the
    * same shape as any groupBy count. (Unbounded/continuous measures
    * stay with q32's fixed-size sketch — exact quantiles there mean
    * buffering the group.) Cross-engine exactness: p ∈ {.25,.5,.75}
    * makes (n−1)·p and the interpolation weight dyadic rationals,
    * and the values are small ints — every product/sum below is
    * IEEE-exact, so Spark's a+(b−a)·f and any (1−f)·a+f·b
    * rearrangement agree bit-for-bit; no quantization needed. */
  val q54 = Q("q54_percentile_exact", Some("""
    SELECT l_returnflag,
      quantile_cont(l_quantity, 0.25) AS p25,
      quantile_cont(l_quantity, 0.50) AS p50,
      quantile_cont(l_quantity, 0.75) AS p75,
      CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.50)).as("p50"),
        percentile(col("l_quantity"), lit(0.75)).as("p75"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** q55: the remaining WINDOW-FRAME surface in one query — the
    * frame/function breadth q7/q19/q26/q29/q39 leave uncovered:
    * per-customer order history with `first_value` (date-ordered,
    * default frame), `nth_value(…, 3)` over the FULL-PARTITION ROWS
    * frame (the default frame stops at CURRENT ROW, so the 3rd order
    * would be NULL for rows 1–2 — the explicit UNBOUNDED FOLLOWING
    * frame is the point), `cume_dist` by price (peer-inclusive by
    * definition, so price ties contribute identically in both
    * engines — its only ratio is small-int rank/n, IEEE-exact), and
    * a trailing 3-row sum in exact cents (ROWS frame is safe here
    * because the ORDER key (date, orderkey) is unique). All windows
    * partition by customer: one shuffle on the key, no global sort. */
  val q55 = Q("q55_window_frames", Some("""
    WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate,
                 CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
               FROM orders)
    SELECT o_custkey, o_orderkey,
      first_value(cents) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey) AS first_cents,
      nth_value(cents, 3) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        AS third_cents,
      cume_dist() OVER (PARTITION BY o_custkey ORDER BY cents)
        AS price_cd,
      CAST(sum(cents) OVER (PARTITION BY o_custkey
        ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS trail3_cents
    FROM o ORDER BY o_custkey, o_orderkey""")) { (s, d) =>
    val o = t(s, d, "orders").select(col("o_custkey"), col("o_orderkey"),
      col("o_orderdate"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val byDate = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    val full = byDate.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val byPrice = Window.partitionBy("o_custkey").orderBy("cents")
    val trail = byDate.rowsBetween(-2, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"),
        first(col("cents")).over(byDate).as("first_cents"),
        nth_value(col("cents"), 3).over(full).as("third_cents"),
        cume_dist().over(byPrice).as("price_cd"),
        sum(col("cents")).over(trail).as("trail3_cents"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** q56: TPC-H Q22's shape — customers above the GLOBAL average
    * positive balance with no RECENT order (the "wealthy inactive"
    * audit: a scalar-subquery threshold + a date-restricted
    * anti-join + a rollup; this generator's orders cover every
    * customer, so inactivity is "since 2001" rather than "ever" —
    * 285 eligible at the gate SF).
    * Engine-exactness: the threshold comparison is CROSS-MULTIPLIED
    * integers — `cents·n > Σcents` instead of `acctbal > avg(...)` —
    * because a double avg is summation-order-dependent and a
    * boundary customer could flip between engines; exact cents make
    * the eligible SET identical by arithmetic, not by luck. Scale:
    * one column-pruned scan feeds the 2-scalar aggregate (broadcast
    * back as a 1-row cross join — q34's shape), the anti-join
    * shuffles on the key, the rollup is nation-sized. */
  val q56 = Q("q56_global_threshold_anti", Some("""
    WITH c AS (SELECT c_custkey, c_nationkey,
                 CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS cents
               FROM customer),
    pos AS (SELECT CAST(sum(cents) AS BIGINT) AS s,
              CAST(count(*) AS BIGINT) AS n FROM c WHERE cents > 0),
    elig AS (SELECT c.c_custkey, c.c_nationkey, c.cents
             FROM c CROSS JOIN pos
             WHERE c.cents * pos.n > pos.s
               AND NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_custkey = c.c_custkey
                                 AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'))
    SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
      CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM elig GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val c = t(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
      floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"))
    val pos = c.filter(col("cents") > 0)
      .agg(sum(col("cents")).as("s"), count(lit(1)).as("n"))
    c.crossJoin(broadcast(pos))
      .filter(col("cents") * col("n") > col("s"))
      .join(t(s, d, "orders")
          .filter(col("o_orderdate") >=
            lit("2001-01-01 00:00:00").cast("timestamp"))
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sum_cents"))
      .orderBy("c_nationkey")
  }

  // ---- q29: RANGE-frame sliding window (value-based, not row-based) --
  // trailing 1-hour sum per event: RANGE frames include sec-peers, so
  // ties contribute identically in both engines (ROWS frames — q19 —
  // would be order-dependent under ties).
  val q29 = Q("q29_rangewindow", Some("""
    WITH e AS (SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                 CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v6 FROM events)
    SELECT user_id, event_id,
      CAST(sum(v6) OVER (PARTITION BY user_id ORDER BY sec
                         RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        AS DOUBLE) / 1000000.0 AS hour_sum,
      CAST(count(*) OVER (PARTITION BY user_id ORDER BY sec
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        AS BIGINT) AS hour_n
    FROM e ORDER BY user_id, event_id""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(-3600L, Window.currentRow)
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("sec"),
        floor(col("value") * 1000000.0 + 0.5).as("v6"))
      .select(col("user_id"), col("event_id"),
        (sum("v6").over(w) / 1000000.0).as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
      .orderBy("user_id", "event_id")
  }

  // ---- q27: approximate distinct (HLL sketch) ------------------------
  // rows-only: HLL implementations differ across engines by design;
  // QueriesSpec asserts the estimates land within 5% of exact.
  val q27 = Q("q27_approx", None) { (s, d) =>
    // rsd 0.02: the default 0.05 is a relative STANDARD DEVIATION,
    // so single-run errors of 6%+ are in-spec; 0.02 costs a few KB
    // more sketch and keeps the estimate within a few percent
    t(s, d, "lineitem").agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
      approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
      count(lit(1)).as("n"))
  }

  // ---- q30: conversion funnel (ordered stage progression) ------------
  /** per-user view → later click → later purchase. Each stage is a
    * partial-agg min over the previous stage's survivors — joins
    * shuffle only (user_id, sec) pairs, never event payloads. */
  val q30 = Q("q30_funnel", Some("""
    WITH e AS (SELECT user_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    v AS (SELECT user_id, min(sec) AS v_sec FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(sec) AS c_sec FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND sec > v_sec GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(sec) AS p_sec FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND sec > c_sec GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase""")) { (s, d) =>
    // ONE events pass: the old stage-chained form (each stage a join
    // back to the previous stage's survivors) planned the events scan
    // 6x - v once, c over e⋈v, p over e⋈c(e⋈v). Per user, ordered by
    // sec, a RANGE frame ending at -1 sees exactly the rows with
    // strictly smaller sec, so "min view sec strictly before me"
    // non-null ⟺ sec > v_sec (the stage predicate), and the same one
    // frame over qualified clicks gives the purchase stage. The
    // USING-join null semantics are preserved explicitly: a NULL
    // user's views still count in n_view (they formed a group), but
    // NULL users never advance a stage (the join never matched them).
    val w = Window.partitionBy("user_id").orderBy("sec")
      .rangeBetween(Window.unboundedPreceding, -1)
    val staged = ev(s, d)
      .select(col("user_id"), col("event_type"), col("sec"))
      .withColumn("vmin",
        min(when(col("event_type") === "view", col("sec"))).over(w))
      .withColumn("click_ok", col("event_type") === "click" &&
        col("vmin").isNotNull && col("user_id").isNotNull)
      .withColumn("cmin",
        min(when(col("click_ok"), col("sec"))).over(w))
      .groupBy("user_id")
      .agg(max(col("event_type") === "view").as("has_view"),
        min(when(col("click_ok"), col("sec"))).as("c_sec"),
        min(when(col("event_type") === "purchase" &&
          col("cmin").isNotNull, col("sec"))).as("p_sec"))
    staged.agg(
      count(when(col("has_view"), lit(1))).as("n_view"),
      count(col("c_sec")).as("n_click"),
      count(col("p_sec")).as("n_purchase"))
  }

  // ---- q31: cohort retention matrix ----------------------------------
  /** cohort = first-active day; one row per (cohort, day-offset) with
    * distinct returning users. Two partial-agg passes over (user, day)
    * pairs — the standard retention shape, linear at any event count. */
  val q31 = Q("q31_retention", Some("""
    WITH e AS (SELECT DISTINCT user_id,
                 CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
    f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id),
    r AS (SELECT e.user_id, cohort, day - cohort AS offs
          FROM e JOIN f USING (user_id))
    SELECT cohort, offs, count(*) AS n_users FROM r
    WHERE offs <= 7 GROUP BY cohort, offs ORDER BY cohort, offs""")) { (s, d) =>
    val e = ev(s, d)
      .select(col("user_id"), expr("sec div 86400").as("day"))
      .distinct()
    val f = e.groupBy("user_id").agg(min("day").as("cohort"))
    e.join(f, "user_id")
      .select(col("cohort"), (col("day") - col("cohort")).as("offs"))
      .filter(col("offs") <= 7)
      .groupBy("cohort", "offs").agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "offs")
  }

  // ---- q32: approximate quantile sketch ------------------------------
  // rows-only like q27: the sketch (Greenwald-Khanna in Spark,
  // t-digest in DuckDB) differs across engines by design; QueriesSpec
  // asserts <1% relative error vs q21's exact interpolated quantiles.
  // This is the 100 TB path for q21: the exact per-group sort
  // materializes every value, while the GK sketch is a bounded-size
  // mergeable partial aggregate — one map-side pass, fixed memory per
  // group at any row count. accuracy=10000 bounds rank error at 1e-4.
  val q32 = Q("q32_approx_quantile", None) { (s, d) =>
    t(s, d, "lineitem").groupBy("l_returnflag")
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 10000)").as("med_qty"),
        expr("approx_percentile(l_extendedprice, 0.95, 10000)").as("p95_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // ---- q33: per-group mode (modal value) ------------------------------
  /** most frequent l_quantity per returnflag, ties to the smallest
    * value. The frequency table is a partial-agg groupBy down to
    * |flags × distinct qty| rows (≤150 here, bounded at any SF); the
    * argmax window runs over THAT, never the fact table — mode at
    * 100 TB costs one narrow shuffle of (flag, qty, count) triples.
    * The group key floors BEFORE the BIGINT cast on both sides:
    * quantities are integral by generator design, but a fractional
    * value would otherwise round in DuckDB's double→BIGINT cast and
    * truncate in Spark's — floor pins one semantic. */
  val q33 = Q("q33_mode", Some("""
    WITH c AS (SELECT l_returnflag, CAST(floor(l_quantity) AS BIGINT) AS qty,
                 count(*) AS n
               FROM lineitem GROUP BY l_returnflag, qty),
    r AS (SELECT l_returnflag, qty, n, row_number() OVER (
            PARTITION BY l_returnflag ORDER BY n DESC, qty) AS rn FROM c)
    SELECT l_returnflag, qty AS mode_qty, n AS mode_n
    FROM r WHERE rn = 1 ORDER BY l_returnflag""")) { (s, d) =>
    val c = t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), floor(col("l_quantity")).as("qty"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("l_returnflag").orderBy(col("n").desc, col("qty"))
    c.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("l_returnflag"), col("qty").as("mode_qty"), col("n").as("mode_n"))
      .orderBy("l_returnflag")
  }

  // ---- q34: equi-width histogram --------------------------------------
  /** 20-bucket equi-width histogram of l_extendedprice with bounds
    * from the data: pass 1 is a scalar min/max agg (broadcast back),
    * pass 2 buckets map-side and partial-aggs to ≤20 rows — the
    * two-pass histogram build, no sort, no per-row state. The bucket
    * expression floor((x - lo) / ((hi - lo) / 20.0)) is the same IEEE
    * arithmetic on both engines (hi lands in bucket 20, clamped to
    * 19, like every half-open-interval histogram). */
  // a degenerate hi = lo table (every value equal) makes the bucket
  // width 0 and the ratio 0/0 = NaN, which the ANSI BIGINT cast turns
  // into a job-killing error on BOTH engines — route that case to
  // bucket 0 explicitly instead
  val q34 = Q("q34_histogram", Some("""
    WITH b AS (SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
               FROM lineitem),
    h AS (SELECT least(CAST(floor(CASE WHEN hi = lo THEN 0.0 ELSE
                    (l_extendedprice - lo) / ((hi - lo) / 20.0) END)
                    AS BIGINT), 19) AS bucket,
                 l_extendedprice
          FROM lineitem CROSS JOIN b)
    SELECT bucket, count(*) AS n,
      CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS bucket_total
    FROM h GROUP BY bucket ORDER BY bucket""")) { (s, d) =>
    val li = t(s, d, "lineitem")
    val b = li.agg(min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
    li.crossJoin(broadcast(b))
      .select(least(floor(when(col("hi") === col("lo"), 0.0)
          .otherwise((col("l_extendedprice") - col("lo")) /
            ((col("hi") - col("lo")) / 20.0))).cast("long"), lit(19L)).as("bucket"),
        col("l_extendedprice"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), moneySum(col("l_extendedprice")).as("bucket_total"))
      .orderBy("bucket")
  }

  // ---- q35: GROUPING SETS (the general form q8/q24 specialize) -------
  // grouping_id disambiguates a real NULL group member from an
  // aggregated-out column — the textbook reason coalesce('ALL') alone
  // is not enough; Spark and DuckDB share the bitmask convention
  // (bit = 1 when the column is aggregated out, leading column =
  // high bit).
  val q35 = Q("q35_grouping_sets", Some("""
    SELECT coalesce(l_returnflag,'ALL') AS flag, coalesce(l_linestatus,'ALL') AS status,
      CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      count(*) AS n,
      CAST(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY gid, flag, status""")) { (s, d) =>
    t(s, d, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"), moneySum(col("l_quantity")).as("qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("qty"))
      .orderBy("gid", "flag", "status")
  }

  // ---- q36: q18's time buckets with NATIVE timestamp semantics -------
  /** hour buckets via `date_trunc` on a real TimestampNTZ column —
    * exercises timestamp types end-to-end (input decode → truncation
    * → group key → parquet output), not just integer epoch seconds.
    * [[Tables.tsNative]] canonicalizes whatever encoding the lake
    * delivered; the session's pinned UTC makes truncation identical
    * in both engines. A 24h bucket spec-checks against q18's hour_s
    * (hour_ts == epoch hour_s·1e6 micros) in QueriesSpec. */
  val q36 = Q("q36_timeagg_native", Some("""
    SELECT date_trunc('hour', ts) AS hour_ts, event_type, count(*) AS n,
      CAST(sum(CAST(floor((value) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total
    FROM events GROUP BY hour_ts, event_type ORDER BY hour_ts, event_type""")) { (s, d) =>
    val e = t(s, d, "events")
    e.select(date_trunc("hour", Tables.tsNative(e)).as("hour_ts"),
        col("event_type"), col("value"))
      .groupBy("hour_ts", "event_type")
      .agg(count(lit(1)).as("n"), termSum6(col("value")).as("total"))
      .orderBy("hour_ts", "event_type")
  }

  // ---- q37: latest-event-per-key (CDC/compaction dedup) --------------
  /** the standard change-data-capture read shape: one surviving row
    * per (user, event_type) — the latest by event time, event_id as
    * the deterministic tie-break. Window is a partial-sort per key
    * group; only (key, ts) ordering moves, and the native timestamp
    * is both the ordering AND an output column (second
    * timestamp-end-to-end query after q36, schema-adaptive via
    * [[Tables.tsNative]]). Spark works at MICROsecond precision
    * (tsNative truncates a NANOS long to micros), so the oracle
    * truncates too — `date_trunc('microseconds', ts)` in BOTH the
    * output and the window ordering: identity on today's MICROS
    * encode, and under a future sub-microsecond TIMESTAMP(NANOS)
    * encode it keeps the rn=1 row selection AND the output values
    * aligned (the r7 encoding-drift lesson, applied before the
    * drift this time). */
  val q37 = Q("q37_latest", Some("""
    SELECT user_id, event_type, event_id, ts, value FROM (
      SELECT user_id, event_type, event_id,
        date_trunc('microseconds', ts) AS ts, value,
        row_number() OVER (PARTITION BY user_id, event_type
                           ORDER BY date_trunc('microseconds', ts) DESC,
                                    event_id DESC) AS rn
      FROM events) WHERE rn = 1
    ORDER BY user_id, event_type""")) { (s, d) =>
    val e = t(s, d, "events")
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    e.select(col("user_id"), col("event_type"), col("event_id"),
        Tables.tsNative(e).as("ts"), col("value"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("user_id", "event_type")
  }

  // ---- q38: gaps-and-islands / SCD2 state segmentation ---------------
  /** collapse each user's consecutive same-type events into validity
    * intervals — the slowly-changing-dimension (type 2) build from a
    * change-event log, and the canonical gaps-and-islands shape: a
    * change flag (lag ≠ current), a running island id (cumulative sum
    * of flags), then one row per island with [valid_from, valid_to)
    * bounds (valid_to = next island's start, -1 for the open tail).
    * Two window passes + one partial agg over (user, island) — only
    * (user_id, sec-ordered) narrow rows shuffle, once. */
  val q38 = Q("q38_scd2_islands", Some("""
    WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
    g AS (SELECT user_id, event_id, event_type, sec,
            CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                        ORDER BY sec, event_id) IS DISTINCT FROM event_type
                 THEN 1 ELSE 0 END AS chg FROM e),
    s AS (SELECT user_id, event_type, sec,
            CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY sec, event_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
          FROM g),
    i AS (SELECT user_id, island, min(event_type) AS state,
            min(sec) AS valid_from, count(*) AS n_events
          FROM s GROUP BY user_id, island)
    SELECT user_id, island, state, valid_from,
      coalesce(lead(valid_from) OVER (PARTITION BY user_id
                 ORDER BY island) - 1, -1) AS valid_to, n_events
    FROM i ORDER BY user_id, island""")) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    val iw = Window.partitionBy("user_id").orderBy("island")
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"), col("sec"))
      .withColumn("chg",
        when(not(lag("event_type", 1).over(w) <=> col("event_type")), 1)
          .otherwise(0))
      .withColumn("island",
        sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "island")
      .agg(min("event_type").as("state"), min("sec").as("valid_from"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("island"), col("state"), col("valid_from"),
        coalesce(lead("valid_from", 1).over(iw) - 1, lit(-1L)).as("valid_to"),
        col("n_events"))
      .orderBy("user_id", "island")
  }

  // ---- q39: relative-rank windows (percent_rank / cume_dist) ---------
  /** the remaining window-rank surface after q7 (row_number/rank) and
    * q26 (ntile): per-nation customer balance percentiles — the
    * "where does this row sit in its group's distribution" read.
    * Ranks are exact integers scaled to doubles by (n-1)/n divisors,
    * so 4dp rounding is engine-stable; ties share a percent_rank and
    * take the group-max cume_dist in both engines. */
  val q39 = Q("q39_percent_rank", Some("""
    SELECT c_nationkey, c_custkey,
      floor(percent_rank() OVER w * 10000.0 + 0.5) / 10000.0 AS pct_rank,
      floor(cume_dist()   OVER w * 10000.0 + 0.5) / 10000.0 AS cume
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    ORDER BY c_nationkey, c_custkey""")) { (s, d) =>
    val w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    t(s, d, "customer")
      .select(col("c_nationkey"), col("c_custkey"),
        roundA(percent_rank().over(w), 4).as("pct_rank"),
        roundA(cume_dist().over(w), 4).as("cume"))
      .orderBy("c_nationkey", "c_custkey")
  }

  /** PageRank over the part–supplier bipartite graph
    * ([[graft.operators.Graph.pageRank]]) — iterative stationary-mass
    * centrality in exact micro-long arithmetic (contributions are
    * integer divisions, damping is integer: bit-identical in any
    * engine), 2 rounds unrolled in the oracle as CTEs. Node encoding:
    * part → 2k, supplier → 2k+1 (collision-free in one long key
    * space). The LLM-pipeline reading: source/domain authority for
    * crawl curation. */
  val q40 = {
    def c(i: Int, r: String) =
      s"""c$i AS (SELECT und.v, sum(r0.r // deg.deg) AS s
            FROM und JOIN deg USING (u) JOIN $r r0 ON r0.node = und.u
            GROUP BY und.v),
          r$i AS (SELECT deg.u AS node,
              CAST(150000 + (coalesce(c$i.s, 0) * 85) // 100 AS BIGINT) AS r
            FROM deg LEFT JOIN c$i ON c$i.v = deg.u)"""
    Q("q40_pagerank", Some(s"""
    WITH e0 AS (SELECT DISTINCT 2 * l_partkey AS u, 2 * l_suppkey + 1 AS v
                FROM lineitem),
    und AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
    deg AS (SELECT u, count(*) AS deg FROM und GROUP BY u),
    r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
    ${c(1, "r0")},
    ${c(2, "r1")}
    SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supp' END AS node_type,
      CAST(node // 2 AS BIGINT) AS key, CAST(r AS BIGINT) AS rank_micro
    FROM r2 ORDER BY node_type, key""")) { (s, d) =>
      val edges = t(s, d, "lineitem")
        .select((col("l_partkey") * 2).as("u"),
          (col("l_suppkey") * 2 + 1).as("v"))
      graft.operators.Graph.pageRank(edges, "u", "v", 2)
        .select(
          when(col("node") % 2 === 0, "part").otherwise("supp")
            .as("node_type"),
          floorDiv(col("node"), 2).as("key"), col("r").as("rank_micro"))
        .orderBy("node_type", "key")
    }
  }

  /** time-series RESAMPLING with last-observation-carried-forward —
    * the grid-alignment operator (metrics/feature stores emit
    * irregular events; training frames need regular intervals):
    * per user, a 6-hour grid spanning that user's activity, each
    * grid point carrying the latest event value at-or-before the
    * bucket end. One union + one per-user ordered window
    * (`last(value, ignoreNulls)` over grid markers interleaved with
    * events — never an as-of self-join per grid point); the grid
    * explode is bounded by span/bucket per user. Total order pinned
    * by (sec, is_grid, event_id) so same-second events resolve
    * identically in both engines; every emitted bucket is non-NULL
    * by construction (a user's first bucket contains their first
    * event). */
  val q41 = Q("q41_resample", Some("""
    WITH e AS (SELECT user_id, event_id,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec, value FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    span AS (SELECT user_id, min(sec) AS mn, max(sec) AS mx
             FROM e GROUP BY user_id),
    grid AS (SELECT user_id, unnest(range(mn // 21600, mx // 21600 + 1)) AS bkt
             FROM span),
    marks AS (
      SELECT user_id, bkt * 21600 + 21599 AS sec0, 1 AS is_grid,
             CAST(0 AS BIGINT) AS event_id, bkt,
             CAST(NULL AS DOUBLE) AS value
      FROM grid
      UNION ALL
      SELECT user_id, sec AS sec0, 0 AS is_grid, event_id,
             CAST(NULL AS BIGINT) AS bkt, value FROM e),
    locf AS (SELECT user_id, bkt, is_grid,
               last_value(value IGNORE NULLS) OVER (
                 PARTITION BY user_id
                 ORDER BY sec0, is_grid, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
             FROM marks)
    SELECT user_id, CAST(bkt * 21600 AS BIGINT) AS bucket_s, v AS value_locf
    FROM locf WHERE is_grid = 1 ORDER BY user_id, bucket_s""")) { (s, d) =>
    // an untimed or unkeyed event can't be placed on any user's grid:
    // excluded in BOTH engines (Spark's NULLS FIRST vs DuckDB's NULLS
    // LAST window ordering would otherwise diverge on the LOCF order)
    val e = ev(s, d).select(col("user_id"), col("event_id"), col("sec"),
        col("value"))
      .filter(col("sec").isNotNull && col("user_id").isNotNull)
    locfResample(e).orderBy("user_id", "bucket_s")
  }

  /** q41's engine over pre-projected (user_id, event_id, sec, value)
    * rows, factored so the grid guard and the negative-timestamp
    * floor semantics are directly testable. Grid buckets use
    * [[floorDiv]] (≡ the oracle's `//` — truncating `div` diverges on
    * pre-epoch seconds). `maxBucketsPerUser` bounds the per-user grid
    * explode: span/bucket is per-user (never global), but one
    * pathological row pair — a 1970 default-epoch artifact next to a
    * current event — would emit millions of grid rows into that
    * user's partition. The guard is a per-ROW `raise_error` refusal
    * BY NAME inside the plan (no extra driver action — the t17
    * lesson), sized so no realistic span trips it (100k buckets =
    * ~68 years at the 6-hour default). */
  private[graft] def locfResample(e: DataFrame, bucket: Long = 21600L,
      maxBucketsPerUser: Long = 100000L): DataFrame = {
    val span = e.groupBy(col("user_id"))
      .agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    val bounds = span.select(col("user_id"),
      floorDiv(col("mn"), bucket).as("bmn"),
      floorDiv(col("mx"), bucket).as("bmx"))
    val nBuckets = col("bmx") - col("bmn") + 1
    val bmxChecked = when(nBuckets > maxBucketsPerUser,
      raise_error(concat(lit("RESAMPLE GRID REFUSED: user "),
        col("user_id").cast("string"), lit(" spans "),
        nBuckets.cast("string"),
        lit(s" grid buckets > $maxBucketsPerUser — one degenerate " +
          "timestamp pair would explode this user's partition; widen " +
          "the bucket or raise maxBucketsPerUser deliberately")))
        .cast("long"))
      .otherwise(col("bmx"))
    val grid = bounds.select(col("user_id"),
      explode(sequence(col("bmn"), bmxChecked)).as("bkt"))
    val gm = grid.select(col("user_id"),
      (col("bkt") * bucket + (bucket - 1)).as("sec0"), lit(1).as("is_grid"),
      lit(0L).as("event_id"), col("bkt"),
      lit(null).cast("double").as("value"))
    val em = e.select(col("user_id"), col("sec").as("sec0"),
      lit(0).as("is_grid"), col("event_id"),
      lit(null).cast("long").as("bkt"), col("value"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("sec0"), col("is_grid"), col("event_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    gm.unionByName(em)
      .withColumn("v", last(col("value"), ignoreNulls = true).over(w))
      .filter(col("is_grid") === 1)
      .select(col("user_id"), (col("bkt") * bucket).cast("long").as("bucket_s"),
        col("v").as("value_locf"))
  }

  /** user-path analysis — the "common journeys" product-analytics
    * op: each user's event stream in (sec, event_id) order yields
    * its consecutive event-type TRIGRAMS via two LEADs over the
    * per-user window (narrow (user, type) rows — never a self-join
    * on the event table), counted corpus-wide, top 20 by frequency
    * (ties → path). The per-user window partitions by a
    * high-cardinality key, the count is a partial agg of trigram
    * strings, and the top-n is a TakeOrdered — every stage
    * corpus-linear. */
  val q42 = Q("q42_paths", Some("""
    WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
               WHERE ts IS NOT NULL AND user_id IS NOT NULL
                 AND event_type IS NOT NULL),
    t AS (SELECT user_id, event_type AS a,
            lead(event_type, 1) OVER w AS b,
            lead(event_type, 2) OVER w AS c
          FROM e WINDOW w AS (PARTITION BY user_id
                              ORDER BY sec, event_id)),
    p AS (SELECT a || '>' || b || '>' || c AS path, count(*) AS n
          FROM t WHERE b IS NOT NULL AND c IS NOT NULL
          GROUP BY 1)
    SELECT path, CAST(n AS BIGINT) AS n FROM p
    ORDER BY n DESC, path LIMIT 20""")) { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"), col("event_id"))
    // untyped/untimed/unkeyed events are excluded in BOTH engines
    // BEFORE the window (a NULL event_type mid-stream would otherwise
    // diverge: concat_ws skips NULLs where the oracle's || propagates)
    ev(s, d).select(col("user_id"), col("event_id"), col("event_type"),
        col("sec"))
      .filter(col("sec").isNotNull && col("user_id").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type").as("a"),
        lead(col("event_type"), 1).over(w).as("b"),
        lead(col("event_type"), 2).over(w).as("c"))
      .filter(col("b").isNotNull && col("c").isNotNull)
      .select(concat_ws(">", col("a"), col("b"), col("c")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(20)
  }

  /** correlated DOUBLE-EXISTS (the TPC-H Q21 "suppliers who kept
    * waiting" shape, on this schema: sole-blame suppliers — the only
    * supplier with a RETURNED line in a multi-supplier order):
    * `EXISTS (another supplier in the order) AND NOT EXISTS (another
    * supplier with a returned line)`. The Spark plan DECORRELATES
    * both subqueries into ONE distinct-pair aggregate: the fact
    * table collapses to (order, supplier, has_returned) rows in a
    * single map-side-combined shuffle — scanned ONCE; a
    * `countDistinct` pair here plans an Expand ×2 of the fact table,
    * measured 18.3s vs 6.1s on the 10× replica — the per-order
    * supplier counts fold over those pair rows, and the candidate
    * pairs come from the SAME aggregate, where the naive correlated
    * form self-joins the fact table twice. Supplier names broadcast.
    * NULL-suppkey lines are excluded up front: the oracle's `<>`
    * comparisons never match NULL, so counting NULL as a distinct
    * supplier would flip n_supp>1 decisions. Oracle keeps the EXISTS
    * form, so the decorrelation itself is hash-checked. */
  val q43 = Q("q43_multi_exists", Some("""
    WITH r AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
               WHERE l_returnflag = 'R'),
    cand AS (SELECT r.l_orderkey, r.l_suppkey FROM r
             WHERE EXISTS (SELECT 1 FROM lineitem l2
                           WHERE l2.l_orderkey = r.l_orderkey
                             AND l2.l_suppkey <> r.l_suppkey)
               AND NOT EXISTS (SELECT 1 FROM lineitem l3
                               WHERE l3.l_orderkey = r.l_orderkey
                                 AND l3.l_suppkey <> r.l_suppkey
                                 AND l3.l_returnflag = 'R'))
    SELECT s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM cand JOIN supplier s ON s.s_suppkey = cand.l_suppkey
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey LIMIT 20""")) { (s, d) =>
    val li = t(s, d, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_returnflag")
      .filter(col("l_suppkey").isNotNull)
    val pairs = li.groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0))
        .as("has_r"))
    // per-order supplier counts as UNBOUNDED window aggregates over
    // the pair table instead of a groupBy + join back: the old form
    // re-shuffled the pair table twice (once to the per-order agg,
    // once to co-locate for the join) — the window computes both
    // counts in the one order-keyed exchange and the join disappears
    val wOrd = Window.partitionBy("l_orderkey")
    pairs
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_supp_r", sum(col("has_r")).over(wOrd))
      .filter(col("has_r") === 1 && col("n_supp") > 1 &&
        col("n_supp_r") === 1)
      .join(broadcast(t(s, d, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey")).limit(20)
  }

  /** FULL OUTER join — the reconciliation read (two systems' daily
    * aggregates compared with NEITHER side allowed to drop: a day
    * present only in shipments and a day present only in events must
    * BOTH surface, null-filled on the absent side). The one join
    * type the suite didn't yet exercise; both sides are pre-aggregated
    * to one row per day BEFORE the join, so the full-outer is a
    * dim-×-dim-sized merge however large the fact tables are. */
  val q44 = Q("q44_full_outer", Some("""
    WITH ship AS (SELECT CAST(l_shipdate AS DATE) AS day,
                    count(*) AS n_ship FROM lineitem GROUP BY 1),
    act AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
              count(*) AS n_events FROM events
            WHERE ts IS NOT NULL GROUP BY 1)
    SELECT coalesce(ship.day, act.day) AS day,
      CAST(coalesce(n_ship, 0) AS BIGINT) AS n_ship,
      CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
      CAST(CASE WHEN ship.day IS NULL THEN 'events_only'
                WHEN act.day IS NULL THEN 'ship_only'
                ELSE 'both' END AS VARCHAR) AS presence
    FROM ship FULL OUTER JOIN act ON ship.day = act.day
    ORDER BY day""")) { (s, d) =>
    val e = t(s, d, "events")
    val ship = t(s, d, "lineitem")
      .groupBy(col("l_shipdate").cast("date").as("sday"))
      .agg(count(lit(1)).as("n_ship"))
    val act = e.filter(col("ts").isNotNull)
      .select(Tables.tsNative(e).as("tsn"))
      .groupBy(date_trunc("day", col("tsn")).cast("date").as("aday"))
      .agg(count(lit(1)).as("n_events"))
    ship.join(act, col("sday") === col("aday"), "full_outer")
      .select(coalesce(col("sday"), col("aday")).as("day"),
        coalesce(col("n_ship"), lit(0L)).as("n_ship"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        when(col("sday").isNull, "events_only")
          .when(col("aday").isNull, "ship_only")
          .otherwise("both").as("presence"))
      .orderBy("day")
  }

  // ---- q47: mergeable HLL sketch partials (re-aggregable rollup) -----
  /** the 100 TB pre-aggregation pattern q27's one-shot
    * approx_count_distinct can't express: per-group DataSketches HLL
    * PARTIALS (hll_sketch_agg) that RE-AGGREGATE — the ALL row is
    * hll_union_agg over the per-type sketch column, never a second
    * scan of the raw events. At 100 TB the sketch table is |groups| ×
    * a few KB and answers ANY coarser rollup (type→all, day→month)
    * by sketch union alone; raw data is scanned exactly once, and
    * the partials are map-side-mergeable fixed-size state end to
    * end. Rows-only (sketch estimates are engine-specific by design
    * — q27's pattern); QueriesSpec pins every per-type estimate
    * within 5% of exact and the ALL row within 5% of the exact
    * global distinct. */
  val q47 = Q("q47_hll_rollup", None) { (s, d) =>
    val e = t(s, d, "events").filter(col("user_id").isNotNull)
    val sk = e.groupBy(col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"),
        count(lit(1)).as("n_events"))
    sk.select(col("event_type").as("grain"),
        hll_sketch_estimate(col("sk")).as("users_est"), col("n_events"))
      .unionByName(sk.agg(
          hll_sketch_estimate(hll_union_agg(col("sk"))).as("users_est"),
          sum(col("n_events")).as("n_events"))
        .select(lit("ALL").as("grain"), col("users_est"), col("n_events")))
      .orderBy("grain")
  }

  // ---- q48: bounded per-group top-k via a typed Aggregator ----------
  /** top-3 orders per customer through
    * [[graft.functions.TopKAgg]] — the AGGREGATION answer to
    * per-group top-k: ≤ k (score, id) pairs of merge-associative
    * state per group, partial-aggregated map-side, so the shuffle
    * carries bounded candidate sets instead of every order row and
    * no sort ever sees a full group (the window form shuffles+sorts
    * everything to keep 3). Ties break (score DESC, id ASC) —
    * identical to the oracle's row_number order, so the custom
    * aggregate is hash-checked against the standard window form. */
  val q48 = Q("q48_topk_group", Some("""
    WITH r AS (SELECT o_custkey, o_orderkey,
        row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders)
    SELECT o_custkey, CAST(rnk AS BIGINT) AS rnk, o_orderkey
    FROM r WHERE rnk <= 3
    ORDER BY o_custkey, rnk""")) { (s, d) =>
    t(s, d, "orders").groupBy(col("o_custkey"))
      .agg(graft.functions.TopKAgg.top_k(3)(
        col("o_totalprice"), col("o_orderkey")).as("ids"))
      .select(col("o_custkey"),
        posexplode(col("ids")).as(Seq("pos", "o_orderkey")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("o_orderkey"))
      .orderBy("o_custkey", "rnk")
  }

  // ---- q49: runtime Bloom join filter (semi-join reduction) ---------
  /** a selective dim filter cuts the fact side BEFORE the join
    * exchange through [[graft.operators.RuntimeFilter.bloomReduce]]
    * — the dynamic-filtering pattern for the dim that is too big to
    * broadcast but whose KEY SET compresses to a fixed-size bitmap.
    * The join here is deliberately planned as a shuffle join (merge
    * hint — the at-scale shape this operator exists for); the bloom
    * pass is exchange-free (RuntimeFilterSpec pins it), so the
    * exchange carries only probable matches (~3.7% of lineitem under
    * this brand filter). False positives are removed by the real
    * join — the output IS the plain join, which is exactly what the
    * oracle checks. */
  val q49 = Q("q49_bloom_semijoin", Some("""
    SELECT p_brand,
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#23', 'Brand#34')
    GROUP BY p_brand ORDER BY p_brand""")) { (s, d) =>
    val dimF = t(s, d, "part")
      .filter(col("p_brand").isin("Brand#23", "Brand#34"))
      .select(col("p_partkey"), col("p_brand"))
    val reduced = graft.operators.RuntimeFilter.bloomReduce(
      t(s, d, "lineitem").select(col("l_partkey"), col("l_quantity")),
      "l_partkey", dimF.select(col("p_partkey")), "p_partkey")
    reduced.join(dimF.hint("merge"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_quantity")).as("sum_qty"))
      .orderBy("p_brand")
  }

  // ---- q50: join-cardinality estimation by CMS inner product --------
  /** |A ⋈ₖ B| estimated from two Count-Min sketches WITHOUT running
    * the join ([[graft.operators.RuntimeFilter.cmsOfKeys]] /
    * [[RuntimeFilter.innerProductEst]] — Cormode & Muthukrishnan
    * 2005 §4.2; the self-join case is AMS 1996's F₂): the planner
    * statistic that detects an explosive join or a skewed key from
    * one linear counting pass per side into fixed d×width state,
    * with the sides never co-shuffled. Both cases ship with their
    * exact twin computed from the per-key COUNT tables (key-
    * cardinality-sized — still never the row-level join), so the
    * one-sided overestimate is visible in the output; positions are
    * the deterministic salted-md5 fold, so the ESTIMATE itself —
    * collisions included — is reproduced by the oracle and
    * hash-checked (t19's property). */
  val q50 = {
    import graft.operators.TextAnalysis.cmsPosDuck
    val (m, dep) = (65536, 4)
    def cmsSql(src: String): String = s"""
      (WITH tf AS (SELECT CAST(k AS VARCHAR) AS w, count(*) AS n
                   FROM $src GROUP BY 1),
        pos AS (SELECT w, n, ${(0 until dep).map(j =>
          s"${cmsPosDuck(j, m)} AS p$j").mkString(", ")} FROM tf),
        pl AS (${(0 until dep).map(j =>
          s"SELECT n, $j AS rw, p$j AS pos FROM pos")
          .mkString("\n          UNION ALL ")})
       SELECT rw, pos, CAST(sum(n) AS BIGINT) AS c
       FROM pl GROUP BY rw, pos)"""
    Q("q50_join_card", Some(s"""
    WITH ce AS ${cmsSql(
        "(SELECT user_id AS k FROM events WHERE user_id IS NOT NULL)")},
      co AS ${cmsSql(
        "(SELECT o_custkey AS k FROM orders WHERE o_custkey IS NOT NULL)")},
      ne AS (SELECT user_id, count(*) AS n FROM events
             WHERE user_id IS NOT NULL GROUP BY 1),
      no AS (SELECT o_custkey, count(*) AS n FROM orders
             WHERE o_custkey IS NOT NULL GROUP BY 1),
      est_self AS (SELECT min(CAST(COALESCE(ip, 0) AS BIGINT)) AS est
        FROM (SELECT DISTINCT rw FROM ce) r LEFT JOIN
        (SELECT a.rw, CAST(sum(a.c * b.c) AS BIGINT) AS ip FROM ce a
         JOIN ce b USING (rw, pos) GROUP BY a.rw) p USING (rw)),
      est_cross AS (SELECT min(CAST(COALESCE(ip, 0) AS BIGINT)) AS est
        FROM (SELECT DISTINCT rw FROM ce) r LEFT JOIN
        (SELECT a.rw, CAST(sum(a.c * b.c) AS BIGINT) AS ip FROM ce a
         JOIN co b ON a.rw = b.rw AND a.pos = b.pos GROUP BY a.rw) p
        USING (rw)),
      ex_self AS (SELECT CAST(sum(n * n) AS BIGINT) AS exact FROM ne),
      ex_cross AS (SELECT CAST(sum(ne.n * no.n) AS BIGINT) AS exact
        FROM ne JOIN no ON ne.user_id = no.o_custkey)
    SELECT jcase, exact_pairs, est_pairs,
      floor((est_pairs - exact_pairs) * 100.0 / exact_pairs * 10000.0
        + 0.5) / 10000.0 AS err_pct
    FROM (
      SELECT 'cross_events_orders' AS jcase, exact AS exact_pairs,
        est AS est_pairs FROM ex_cross, est_cross
      UNION ALL
      SELECT 'self_events_user' AS jcase, exact AS exact_pairs,
        est AS est_pairs FROM ex_self, est_self)
    ORDER BY jcase""")) { (s, d) =>
      import graft.operators.RuntimeFilter.{cmsOfKeyCounts, innerProductEst}
      // NULL keys match nothing in any equi-join — excluded from the
      // counts AND the sketches, identically in the oracle (engines
      // disagree on concat-with-NULL, so a NULL must never reach the
      // position hash). Each side is scanned ONCE: the per-key count
      // table (key-cardinality-sized, checkpointed) feeds the exact
      // terms AND the sketch build.
      val ne = t(s, d, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val no = t(s, d, "orders").filter(col("o_custkey").isNotNull)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .localCheckpoint()
      val ce = cmsOfKeyCounts(ne, "user_id", "n", m, dep)
        .localCheckpoint()
      val co = cmsOfKeyCounts(no, "o_custkey", "n", m, dep)
      val exSelf = ne.agg(sum(col("n") * col("n")).as("exact_pairs"))
      val exCross = ne.join(no, col("user_id") === col("o_custkey"))
        .agg(sum(ne("n") * no("n")).as("exact_pairs"))
      def row(name: String, exact: DataFrame, est: DataFrame) =
        exact.crossJoin(broadcast(est))
          .select(lit(name).as("jcase"), col("exact_pairs"),
            col("est_pairs"),
            roundA((col("est_pairs") - col("exact_pairs")) * 100.0 /
              col("exact_pairs"), 4).as("err_pct"))
      row("cross_events_orders", exCross, innerProductEst(ce, co))
        .unionByName(row("self_events_user", exSelf,
          innerProductEst(ce, ce)))
        .orderBy("jcase")
    }
  }

  // ---- q51: skew-salted join (hot-key mitigation) -------------------
  /** the join-planning tier's MITIGATION: logged-out traffic maps
    * every 'view' event to the sentinel user 0 — a key holding ~20%
    * of the fact, the classic straggler that parks 20% of a 100 TB
    * shuffle on one reducer. [[graft.operators.RuntimeFilter
    * .heavyKeys]] detects the hot keys from one partial-agg count
    * pass (>5% of rows), [[RuntimeFilter.saltedEquiJoin]] splits
    * them across 8 salts (fact rows salt deterministically by
    * event_id, hot DIM rows replicate 8×, cold keys untouched), and
    * the join runs as the merge join the mitigation exists for. The
    * salt never reaches the output: every fact row meets every
    * matching dim row exactly once, so the result IS the plain join
    * — which is what the oracle hash-checks. */
  val q51 = Q("q51_skew_join", Some("""
    WITH f AS (SELECT CASE WHEN event_type = 'view' THEN 0
                           ELSE user_id END AS uid, value
               FROM events WHERE user_id IS NOT NULL),
      d AS (SELECT o_custkey, count(*) AS n_orders FROM orders
            WHERE o_custkey IS NOT NULL GROUP BY o_custkey)
    SELECT uid % 8 AS band,
      CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(n_orders) AS BIGINT) AS sum_orders,
      CAST(sum(CAST(floor((value) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_value
    FROM f JOIN d ON uid = o_custkey
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    import graft.operators.RuntimeFilter.{heavyKeys, saltedEquiJoin}
    val ev = t(s, d, "events").filter(col("user_id").isNotNull)
      .select(when(col("event_type") === "view", 0L)
          .otherwise(col("user_id")).as("uid"),
        col("value"), col("event_id"))
    val dim = t(s, d, "orders").filter(col("o_custkey").isNotNull)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val hot = heavyKeys(ev.select(col("uid")), "uid", 0.05)
    saltedEquiJoin(ev, "uid", "event_id", dim, "o_custkey", hot,
        p = 8, factHint = Some("merge"))
      .groupBy((col("uid") % 8).as("band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_orders")).as("sum_orders"),
        termSum4(col("value")).as("sum_value"))
      .orderBy("band")
  }

  // ---- q53: the join ADVISOR end to end ------------------------------
  /** the r11 planning tier COMPOSED ([[graft.operators.RuntimeFilter
    * .adviseJoin]]): lineitem ⋈ brand-filtered part, but the strategy
    * — broadcast / salted / bloom-reduced / plain — is CHOSEN by the
    * advisor from one per-key counting pass per side + the CMS
    * match estimate + hot-key detection, not hard-coded in the
    * query. At the gate SFs the statistics read "dim above the
    * (deliberately small) broadcast cap, keys uniform, ~8% of the
    * fact matching" → the bloom branch; at sf0.001 the filtered dim
    * fits the cap and the SAME query runs broadcast — the output is
    * hash-identical either way, which is the advisor's whole
    * contract (the plan changes, the answer never does; the oracle
    * is the plain join). RuntimeFilterSpec pins each branch's
    * decision and output equality separately. */
  val q53 = Q("q53_advised_join", Some("""
    SELECT p_brand,
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#12', 'Brand#45')
    GROUP BY p_brand ORDER BY p_brand""")) { (s, d) =>
    val dimF = t(s, d, "part")
      .filter(col("p_brand").isin("Brand#12", "Brand#45"))
      .select(col("p_partkey"), col("p_brand"))
    val (joined, advice) = graft.operators.RuntimeFilter.adviseJoin(
      t(s, d, "lineitem").select(col("l_partkey"), col("l_orderkey"),
        col("l_extendedprice")),
      "l_partkey", "l_orderkey", dimF, "p_partkey",
      broadcastMaxRows = 100L)
    assert(advice.strategy == "bloom" || advice.strategy == "broadcast",
      s"uniform selective dim must advise bloom (or broadcast under " +
        s"the cap at tiny SF), got $advice")
    joined.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  /** q58: the SKEW-SALTED partitioned interval join
    * ([[graft.plans.IntervalJoin.pointInIntervalSalted]] — q51's
    * mitigation composed with q52's operator): logged-out traffic
    * maps every 'view' event to sentinel user 0, a key holding ~20%
    * of BOTH the interval build and the probes — under the plain
    * shuffled exec that key's whole share lands on ONE partition's
    * segment tree and stab loop (the straggler that parks 20% of a
    * 100 TB enrichment on one task). `heavyKeys` detects the hot key
    * from one count pass; hot probes salt deterministically by
    * event_id across 8 partitions, hot intervals replicate 8× (each
    * salt holds the key's FULL interval set, so every stab answers
    * identically wherever it lands), cold keys untouched. The salt
    * never reaches the output — the result IS the unsalted join,
    * which is what the oracle hash-checks. */
  val q58 = Q("q58_interval_skew", Some("""
    WITH e AS (SELECT CASE WHEN event_type = 'view' THEN 0
                           ELSE user_id END AS uid,
                 event_id, event_type, value,
                 CAST(floor(epoch(ts)) AS BIGINT) AS sec
               FROM events WHERE user_id IS NOT NULL),
    w AS (SELECT event_id AS win_id, uid AS w_uid, sec AS lo,
            sec + 30 + CAST(floor(value * 300.0) AS BIGINT) AS hi
          FROM e),
    p AS (SELECT event_id AS purchase_id, uid AS p_uid,
            sec AS psec FROM e WHERE event_type = 'purchase')
    SELECT p.purchase_id, count(*) AS n_win, min(w.win_id) AS first_win,
      max(p.psec - w.lo) AS max_into_s
    FROM p JOIN w ON p.p_uid = w.w_uid AND p.psec BETWEEN w.lo AND w.hi
    WHERE w.win_id <> p.purchase_id
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val e = ev(s, d).filter(col("user_id").isNotNull)
      .withColumn("uid", when(col("event_type") === "view", 0L)
        .otherwise(col("user_id")))
    val w = e.select(col("event_id").as("win_id"),
      col("uid").as("w_uid"), col("sec").as("lo"),
      (col("sec") + lit(30L) +
        floor(col("value") * 300.0).cast("long")).as("hi"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("uid").as("p_uid"), col("sec").as("psec"))
    val hot = graft.operators.RuntimeFilter.heavyKeys(
      w.select(col("w_uid")), "w_uid", 0.05)
    graft.plans.IntervalJoin.pointInIntervalSalted(p, w, "psec", "lo",
        "hi", "p_uid" -> "w_uid", saltBy = "purchase_id", hotKeys = hot,
        p = 8)
      .filter(col("win_id") =!= col("purchase_id"))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_win"), min(col("win_id")).as("first_win"),
        max(col("psec") - col("lo")).as("max_into_s"))
      .orderBy("purchase_id")
  }

  // ---- q57: the advisor from COMMITTED statistics (ANALYZE-once) ----
  // stamped fact/dim copies with `_keystats` manifests committed once
  // per corpus (ensureSortedOrders' build-privately/rename-atomically
  // discipline); the tables re-register per session (catalog is
  // session-scoped, the directories are not)
  private def ensureAdvisedTables(s: SparkSession, d: String)
      : (String, String) = {
    val dir = Fixture.stamped("keystats", Fixture.stamp(s, d, "lineitem"),
      Fixture.has(_, "fact/_SUCCESS", "fact/_keystats_l_partkey/_files/_SUCCESS",
        "dim/_SUCCESS", "dim/_keystats_p_partkey/_files/_SUCCESS")) { build =>
      // file count sized to the machine, not the tiny-SF default: a
      // 60M-row fact behind 4 files throttles every scan of it
      t(s, d, "lineitem")
        .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice"))
        .repartition(32).write.mode("overwrite")
        .parquet(new java.io.File(build, "fact").getPath)
      t(s, d, "part")
        .filter(col("p_brand").isin("Brand#12", "Brand#45"))
        .select(col("p_partkey"), col("p_brand"))
        .repartition(2).write.mode("overwrite")
        .parquet(new java.io.File(build, "dim").getPath)
      // ANALYZE once: the manifests are committed WITH the copies
      graft.operators.RuntimeFilter.attachKeyStats(s,
        new java.io.File(build, "fact").getPath, "l_partkey")
      graft.operators.RuntimeFilter.attachKeyStats(s,
        new java.io.File(build, "dim").getPath, "p_partkey")
    }
    (s"$dir/fact", s"$dir/dim")
  }

  /** q57: q53's advised join decided from COMMITTED statistics —
    * `ANALYZE TABLE` for the join tier ([[graft.operators
    * .RuntimeFilter.attachKeyStats]] / `readKeyStats` /
    * `adviseJoinTables`): both sides' per-key count tables were
    * landed ONCE as `_keystats_<key>` manifests (with a file-name
    * sidecar — a post-ANALYZE write makes the advisor REFUSE by
    * name, never advise from stale counts), and the advisor's whole
    * decision — totals, cardinality, hot keys, CMS sketch, the EXACT
    * matched-fact count — now comes from manifest reads: the fact is
    * scanned ZERO times for statistics, by this query or any later
    * advised join over the same tables (RuntimeFilterSpec
    * plan-counts it). The decision and the output are identical to
    * q53's per-call counting pass — same oracle, hash-proved. */
  val q57 = Q("q57_advised_stats", Some("""
    SELECT p_brand,
      CAST(count(*) AS BIGINT) AS n_items,
      CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand IN ('Brand#12', 'Brand#45')
    GROUP BY p_brand ORDER BY p_brand""")) { (s, d) =>
    val (factDir, dimDir) = ensureAdvisedTables(s, d)
    s.sql("DROP TABLE IF EXISTS q57_fact")
    s.sql("DROP TABLE IF EXISTS q57_dim")
    graft.sources.LakeSink.registerExternal(s, "q57_fact", factDir)
    graft.sources.LakeSink.registerExternal(s, "q57_dim", dimDir)
    val (joined, advice) = graft.operators.RuntimeFilter.adviseJoinTables(
      s, "q57_fact", "l_partkey", "l_orderkey", "q57_dim", "p_partkey",
      broadcastMaxRows = 100L)
    assert(advice.strategy == "bloom" || advice.strategy == "broadcast",
      s"uniform selective dim must advise bloom (or broadcast under " +
        s"the cap at tiny SF), got $advice")
    joined.groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("p_brand")
  }

  // ORDERKEY-CLUSTERED lineitem copy with a committed
  // `_blooms_l_orderkey` manifest — the dynamic-file-pruning fixture:
  // a key-clustered fact is the layout where a small key set owns few
  // files (same stamped-build/rename discipline as the others).
  // mBits 2^18 ≈ 13 bits/key headroom for ~20k distinct orderkeys per
  // file at sf1; an under-sized bloom at larger SF only raises the FP
  // rate (more files read), never loses a match.
  private def ensureKeyedLineitem(s: SparkSession, d: String): String =
    Fixture.stamped("keyedli", Fixture.stamp(s, d, "lineitem"),
      Fixture.has(_, "_SUCCESS", "_blooms_l_orderkey/_SUCCESS")) { build =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"))
        .repartitionByRange(16, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(build.getPath)
      graft.sources.Manifest.attachBlooms(s, build.getPath,
        "l_orderkey", mBits = 1 << 18)
    }

  /** q59: DYNAMIC FILE PRUNING from the join side
    * ([[graft.operators.RuntimeFilter.dynamicFilePrune]] — Delta's
    * move, composed from the tier's committed manifests): the
    * reference's keyset PAGE of orders (50 consecutive PKs,
    * order_rdbms_blob.js:520) joins back to its line items, and the
    * page's keys probe the fact's `_blooms_l_orderkey` manifest
    * BEFORE the join plans — on the orderkey-clustered copy the 50
    * keys own 1–2 of 16 files (RuntimeFilterSpec plan-counts it), so
    * the join scans ~1/16th of the fact with zero data bytes spent
    * deciding. q49's bloomReduce cuts ROWS map-side but still opens
    * every file; this cuts the FILES — at 100 TB that is the
    * difference between touching 6 GB and touching the table.
    * Oracle = the page join in SQL, hash-proving no-false-negatives
    * end to end. */
  val q59 = Q("q59_dyn_file_prune", Some("""
    WITH page AS (SELECT o_orderkey FROM orders
                  ORDER BY o_orderkey LIMIT 50)
    SELECT page.o_orderkey, count(*) AS n_items,
      CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
        AS BIGINT) AS sum_cents
    FROM lineitem JOIN page ON l_orderkey = page.o_orderkey
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val factDir = ensureKeyedLineitem(s, d)
    val page = t(s, d, "orders").orderBy("o_orderkey").limit(50)
      .select(col("o_orderkey")).localCheckpoint()
    val fact = graft.operators.RuntimeFilter.dynamicFilePrune(
        s, factDir, "l_orderkey", page, maxKeys = 100000L)
      .getOrElse(s.read.parquet(factDir))
    fact.join(broadcast(page), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(floor(col("l_extendedprice") * 100.0 + 0.5).cast("long"))
          .as("sum_cents"))
      .orderBy("o_orderkey")
  }

  /** q60: DYNAMIC FILE PRUNING AS A PLANNER RULE
    * ([[graft.plans.DynamicFilePruneRule]] — q59's move with the
    * caller removed): the SAME keyset-page join issued as plain
    * `spark.sql` join syntax — no dynamicFilePrune call, no pruned
    * read API — and the optimizer itself evaluates the
    * broadcast-small page at plan time, probes the fact's committed
    * `_blooms_l_orderkey`, and swaps the fact's file index for the
    * 1–2 surviving files (CatalystRuleSpec plan-counts it; the
    * explicit q59 and this rule-fired form share one oracle —
    * hash-proving the rewrite changes files read, never rows
    * returned). This is where the decision architecturally belongs:
    * Delta fires dynamic file pruning inside the optimizer exactly
    * like this. */
  val q60 = Q("q60_dyn_prune_rule", Some("""
    WITH page AS (SELECT o_orderkey FROM orders
                  ORDER BY o_orderkey LIMIT 50)
    SELECT page.o_orderkey, count(*) AS n_items,
      CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
        AS BIGINT) AS sum_cents
    FROM lineitem JOIN page ON l_orderkey = page.o_orderkey
    GROUP BY 1 ORDER BY 1""")) { (s, d) =>
    val factDir = ensureKeyedLineitem(s, d)
    // the page lands as a (tiny) parquet dir so the build side's
    // size statistics are real file sizes — the rule's
    // broadcast-eligibility guard reads the same stats the join
    // strategy does
    val pageDir = Fixture.stamped("q60_page", Fixture.stamp(s, d, "orders"),
        Fixture.has(_, "_SUCCESS")) { build =>
      t(s, d, "orders").orderBy("o_orderkey").limit(50)
        .select(col("o_orderkey"))
        .coalesce(1).write.parquet(build.getPath)
    }
    s.read.parquet(factDir).createOrReplaceTempView("q60_fact")
    s.read.parquet(pageDir).createOrReplaceTempView("q60_page")
    s.sql("""
      SELECT o_orderkey, count(*) AS n_items,
        CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT))
          AS sum_cents
      FROM q60_fact JOIN q60_page ON l_orderkey = o_orderkey
      GROUP BY o_orderkey ORDER BY o_orderkey""")
  }

  val qs: Seq[Q] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23,
    q24, q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36,
    q37, q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49,
    q50, q51, q52, q53, q54, q55, q56, q57, q58, q59, q60)
}
