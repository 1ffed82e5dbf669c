package graft.relational

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Typed row for the Dataset[T] pipeline key (top-level so the case-class
  * Encoder derives cleanly). */
final case class OrderRow(
    o_orderkey: Long, o_custkey: Long, o_orderstatus: String, o_totalprice: Double)

/** Relational breadth (SURVEY.md §2B X1–X13): the general-purpose query
  * surface over the star schema. All built-in Catalyst operators — filters
  * and projections push to the parquet scan, dimension joins broadcast, fact
  * aggregations run partial+final, windows sort within partitions only.
  *
  * Determinism rules (SURVEY §7.4): every query ends in an ORDER BY over a
  * unique key; double aggregates round to fixed scale; window orderings
  * carry unique tiebreakers.
  */
object CoreQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // X1: filter + project — predicate and 4-column projection reach the scan.
    "x_filter_project" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        // raw double arithmetic: bit-exact in both engines per-row, so no
        // rounding (round() half-way semantics differ Spark vs DuckDB)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("revenue"))),

    // X2: star join — facts shuffle on join keys, all four dims broadcast.
    "x_join_star" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    }),

    // X3a: left-semi (EXISTS) — orders having a heavy line item.
    "x_join_semi" -> ((s, dir) => {
      val heavy = Tables.lineitem(s, dir).where(col("l_quantity") >= 49)
      Tables.orders(s, dir)
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice")
        .orderBy("o_orderkey")
    }),

    // X3b: left-anti (NOT EXISTS) — customers who never ordered.
    "x_join_anti" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // X4: TPC-H Q1 shape — multi-key hash aggregation with partial combine.
    "x_agg_q1" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // X5: exact distinct aggregation (expand-based multi-distinct).
    "x_agg_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")),

    // X5c: exact distinct via a Roaring64 TypedImperativeAggregate —
    // partial bitmaps merge at the shuffle instead of streaming every
    // distinct value; full long key domain (see BitmapDistinctCount).
    "x_agg_bitmap_distinct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(graft.functions.BitmapDistinct.bitmapDistinct(
          col("l_partkey")).as("n_parts"))
        .orderBy("l_returnflag")),

    // X5b: approximate distinct (HLL++) — the 100 TB path where exact
    // distinct would shuffle every key. HLL estimates aren't
    // SQL-reproducible, so the checked claim is the estimator's contract
    // itself: |approx − exact| / exact within 2.5× the configured rsd
    // (0.02 → 0.05, a ~2.5σ bound) per group (exact side from the bitmap
    // aggregate, same single pass); oracle = `true` per group. tol_excess
    // = floor(rel_err / tol) makes a future excursion attributable: 0 when
    // in-contract (so the oracle can pin it), and on failure its value IS
    // the magnitude in tolerance units.
    "x_agg_approx_distinct" -> ((s, dir) => {
      val tol = 2.5 * 0.02
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          graft.functions.BitmapDistinct.bitmapDistinct(col("l_partkey")).as("exact"))
        .select(col("l_returnflag"),
          (abs(col("approx") - col("exact")).cast("double") / col("exact") <= tol)
            .as("within_tol"),
          floor(abs(col("approx") - col("exact")).cast("double") / col("exact") / tol)
            .cast("long").as("tol_excess"))
        .orderBy("l_returnflag")
    }),

    // X6: rollup — group keys coalesced to a sentinel so both engines agree
    // on NULL-marker ordering.
    "x_agg_rollup" -> ((s, dir) =>
      Tables.orders(s, dir)
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")),

    // X6b: cube.
    "x_agg_cube" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"))
        .orderBy("status", "priority")),

    // X7: ranking window — top-3 orders per customer; unique tiebreak keeps
    // rank() and row_number() deterministic.
    "x_win_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("rk", rank().over(w))
        .withColumn("drk", dense_rank().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn", "rk", "drk")
        .orderBy("o_custkey", "rn")
    }),

    // X8: analytic window with frames — lag/lead + running sum per customer
    // over their order history (o_orderkey is unique ⇒ deterministic frames;
    // lineitem's synthetic (orderkey, linenumber) is NOT unique).
    "x_win_frame" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          round(sum("o_totalprice").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_total"),
          round(avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).as("ma3_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // X9: top-k — TakeOrderedAndProject, no global sort of the full table.
    "x_topk" -> ((s, dir) =>
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)),

    // X10: set ops — INTERSECT / EXCEPT / UNION distinct semantics in one
    // labeled result.
    "x_setops" -> ((s, dir) => {
      val f = Tables.orders(s, dir).where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      val o = Tables.orders(s, dir).where(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("k"))
      f.intersect(o).withColumn("op", lit("both"))
        .unionByName(f.except(o).withColumn("op", lit("f_only")))
        .unionByName(o.except(f).withColumn("op", lit("o_only")))
        .select("op", "k")
        .orderBy("op", "k")
    }),

    // X10b: multiset set ops — EXCEPT ALL / INTERSECT ALL keep
    // MULTIPLICITY (a customer with 3 F-orders and 1 O-order survives
    // EXCEPT ALL twice), the semantics dedup audits need when row counts
    // matter; output re-aggregated per key so the result is order-free.
    "x_setops_all" -> ((s, dir) => {
      val f = Tables.orders(s, dir).where(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("k"))
      val o = Tables.orders(s, dir).where(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("k"))
      f.exceptAll(o).groupBy("k").agg(count(lit(1)).as("cnt"))
        .withColumn("op", lit("f_minus_o_all"))
        .unionByName(f.intersectAll(o).groupBy("k")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("op", lit("f_intersect_o_all")))
        .select("op", "k", "cnt")
        .orderBy("op", "k")
    }),

    // X10c: total-order presentation — ORDER BY with explicit NULLS FIRST
    // + OFFSET/LIMIT pagination. A global sort is inherent to the
    // semantics, but LIMIT+OFFSET push a TakeOrdered(offset+limit) into
    // the shuffle — no full-result materialization.
    "x_order_offset" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          nullif(col("o_orderpriority"), lit("1-URGENT")).as("pri"),
          col("o_totalprice"))
        .orderBy(col("pri").asc_nulls_first, col("o_orderkey").asc)
        .offset(10).limit(10)),

    // X3f: theta join — equality conjunct + inequality RESIDUAL. The
    // planner must keep the equi-hash join and evaluate the inequality as
    // a post-join filter (asserted in EngineSpec): only the equality key
    // shuffles, so the join stays hash-partitioned at any scale — the
    // trap is writing it as pure inequality and silently getting a
    // nested-loop cross product (the X60/X60b territory).
    "x_join_theta" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, col("c_custkey") === col("o_custkey") &&
          col("o_totalprice") > col("c_acctbal") * lit(20.0))
        .groupBy(col("c_mktsegment").as("segment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"))
            .as("sum_cents"))
        .orderBy("segment")
    }),

    // X13c: higher-order array functions — transform / filter / aggregate
    // / zip_with / exists / forall, all evaluated INSIDE codegen per row
    // (no explode-regroup round trip, no UDF): the per-order line arrays
    // are built once with a deterministic (l_linenumber) order, then every
    // derived column is a lambda over them.
    "x_hof" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").as("cents"),
          col("l_quantity").cast("long").as("qty"))
      li.groupBy("l_orderkey")
        .agg(array_sort(collect_list(struct(col("l_linenumber"),
          col("cents"), col("qty")))).as("ls"))
        .select(col("l_orderkey"),
          expr("transform(ls, x -> x.cents)").as("prices"),
          expr("transform(ls, x -> x.qty)").as("qtys"))
        .select(col("l_orderkey"),
          size(col("prices")).cast("long").as("n_items"),
          expr("aggregate(prices, 0L, (acc, x) -> acc + x)").as("total_cents"),
          expr("CAST(size(filter(prices, x -> x > 5000000)) AS BIGINT)").as("n_big"),
          expr("exists(prices, x -> x > 5000000)").as("any_big"),
          expr("forall(prices, x -> x > 0)").as("all_pos"),
          // serialized, not a top-level array: the differential gate hashes
          // rows through pandas, which cannot sort list-typed columns
          expr("array_join(transform(zip_with(prices, qtys, (p, q) -> p * q), " +
            "x -> CAST(x AS STRING)), ',')").as("amounts_csv"))
        .where(col("l_orderkey") <= 3000)
        .orderBy("l_orderkey")
    }),

    // X11d: try_* error-safe functions — NULL instead of job-killing
    // exceptions for division by zero, integer overflow, and bad casts:
    // the ANSI-safe posture a 100 TB batch needs (one corrupt row must not
    // kill a 6-hour job; the NULLs are then countable as a DQ metric, X80).
    "x_try_fns" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          expr("try_divide(o_totalprice, CAST(o_orderkey % 10 AS DOUBLE))")
            .as("div_or_null"),
          expr("try_add(o_orderkey, 9223372036854775797L)").as("add_or_null"),
          expr("try_cast(o_orderpriority AS INT)").as("cast_or_null"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)")
            .as("pri_digit"))
        .where(col("o_orderkey") <= 1000)
        .orderBy("o_orderkey")),

    // X6d: grouping_id — disambiguates "NULL because rolled up" from "NULL
    // in the data" in cube/rollup outputs; the bitmask is the standard BI
    // contract for super-aggregate rows.
    "x_grouping_id" -> ((s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("o_orderpriority"),
          col("gid"), col("n"))
        .orderBy(col("gid"), col("o_orderstatus").asc_nulls_last,
          col("o_orderpriority").asc_nulls_last)),

    // X11c: regex extraction — regexp_extract_all into arrays + per-row
    // match counts. Explicit character classes ONLY (the X44 lesson: Java
    // regex and RE2 agree on explicit classes; shorthand like \w diverges
    // on unicode defaults).
    "x_regex_extract" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        // space-joined, not top-level arrays (same gate constraint as x_hof)
        expr("array_join(regexp_extract_all(p_name, '[a-z]+', 0), ' ')").as("words"),
        expr("array_join(regexp_extract_all(p_type, '[A-Z]+', 0), ' ')").as("upper_runs"),
        expr("CAST(size(regexp_extract_all(p_brand, '[0-9]', 0)) AS BIGINT)")
          .as("n_digits"),
        regexp_extract(col("p_type"), "([A-Z]+)", 1).as("first_upper"))
        .orderBy("p_partkey")),

    // X11: scalar string/math functions (all codegen'd builtins).
    "x_scalar_fns" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        lower(col("p_name")).as("name_lower"),
        upper(col("p_brand")).as("brand_upper"),
        substring(col("p_type"), 1, 5).as("type_pfx"),
        concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
        length(col("p_name")).as("name_len"),
        regexp_extract(col("p_name"), "([a-z]+)", 1).as("first_word"),
        round(col("p_retailprice") * 1.1, 2).as("marked_up"),
        abs(col("p_size") - 25).as("size_dev"),
        round(sqrt(col("p_retailprice")), 4).as("sqrt_price"),
        pmod(col("p_partkey"), lit(7)).as("key_mod"))
        .orderBy("p_partkey")),

    // X12: JSON extraction from the events props payload.
    "x_json" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k_val"))
        .orderBy("event_id")),

    // X12c: from_json with explicit schema — typed struct access (vs the
    // stringly get_json_object path).
    "x_json_struct" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k_val"))
        .where(col("k_val") > 50)
        .orderBy("event_id")),

    // Salted two-phase aggregation (skew pattern): same answer as a plain
    // groupBy, heavy shuffle spread 16-ways.
    "x_agg_salted" -> ((s, dir) => {
      val out = Skew.saltedSumCount(
        Tables.events(s, dir), "event_type", "value", buckets = 16,
        saltCols = Seq(col("event_id")))
      out.select(col("event_type"),
        round(col("value_sum"), 2).as("value_sum"), col("n"))
        .orderBy("event_type")
    }),

    // Typed Aggregator[IN,BUF,OUT]: quantity-weighted mean price per flag.
    "x_agg_typed" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(round(graft.functions.TypedAggregators.weightedMeanCol(
          col("l_extendedprice"), col("l_quantity")), 4).as("w_mean_price"))
        .orderBy("l_returnflag")),

    // X12b: JSON agg — sum of extracted values per event type.
    "x_json_agg" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // X13: array ops over embeddings — size, element access, ordered fold.
    "x_array" -> ((s, dir) =>
      Tables.embeddings(s, dir).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_val"),
        round(aggregate(col("embedding"), lit(0.0),
          (acc, x) => acc + x.cast("double")), 4).as("vec_sum"))
        .orderBy("vec_id")),

    // Range (non-equi) join: orders banded into price tiers — a 3-row
    // broadcast side makes the nested-loop join effectively a map-side
    // banding; at scale prefer a computed band key + equi join.
    "x_join_range" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val tiers = Seq(("low", 0.0, 50000.0), ("mid", 50000.0, 150000.0),
        ("high", 150000.0, 1e9)).toDF("tier", "lo", "hi")
      Tables.orders(s, dir)
        .join(broadcast(tiers),
          col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("tier")
    }),

    // X53: re-aggregatable sketches — per-group HLL sketches (DataSketches)
    // UNIONED into a global estimate without rescanning the data: the
    // lakehouse incremental-stats pattern (persist per-partition/per-day
    // sketches, merge on demand). Checked like X5b: the union's estimate
    // must honor the error contract vs the exact bitmap count (lgK=12 →
    // rsd ≈ 1.6%, tolerance 5% ≈ 3σ); tol_excess reports excursion
    // magnitude on failure.
    "x_sketch_union" -> ((s, dir) => {
      val orders = Tables.orders(s, dir)
      val perGroup = orders.groupBy("o_orderstatus")
        .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
      val approx = perGroup
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").cast("double").as("approx"))
      val exact = orders
        .agg(graft.functions.BitmapDistinct.bitmapDistinct(col("o_custkey"))
          .cast("double").as("exact"))
      approx.crossJoin(exact).select(
        (abs(col("approx") - col("exact")) / col("exact") <= 0.05).as("within_tol"),
        floor(abs(col("approx") - col("exact")) / col("exact") / 0.05)
          .cast("long").as("tol_excess"))
    }),

    // X53b: EXACT re-aggregatable distinct — the bitmap counterpart of the
    // HLL union: per-group serialized Roaring64 bitmaps persisted to
    // parquet (incremental per-day/per-partition stats), read back, and
    // UNIONED for the exact global distinct without rescanning the facts.
    "x_bitmap_incremental" -> ((s, dir) => {
      val path = graft.ingest.Sinks.tempDir("bitmap_incr")
      Tables.orders(s, dir).groupBy("o_orderstatus")
        .agg(
          graft.functions.BitmapDistinct.bitmapAgg(col("o_custkey")).as("bm"),
          graft.functions.BitmapDistinct.bitmapDistinct(col("o_custkey")).as("n_grp"))
        .write.mode("overwrite").parquet(path)
      graft.sources.ParquetDirect.read(s, path).agg(
        count(lit(1)).as("n_groups"),
        sum("n_grp").as("sum_per_group"), // > global_distinct ⇔ cross-group overlap
        graft.functions.BitmapDistinct.bitmapUnionCount(col("bm")).as("global_distinct"))
    }),

    // X177: cumulative distinct users per day from per-day BITMAPS — the
    // incremental form of the expanding count(DISTINCT): each day
    // contributes one serialized Roaring64 bitmap (X53b state), and day
    // d's cumulative uniques is the RUNNING union over the calendar-ordered
    // bitmap column (UNBOUNDED PRECEDING .. CURRENT ROW). Spark's
    // running-frame processor feeds each bitmap into the aggregate buffer
    // exactly once, so the whole curve costs O(D) bitmap unions and the
    // shuffle moves each day's bitmap once — vs the naive prefix
    // self-join's D²/2 bitmap copies. The un-partitioned window is a
    // deliberate SinglePartition over the ≤D-row calendar-bounded bitmap
    // relation (metadata, not facts); the fact scan itself aggregates in
    // parallel. Compare x_vocab_growth's first-occurrence trick, which
    // answers the same question but cannot be maintained incrementally.
    "x_cumulative_uniques" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .select(datediff(col("ts").cast("date"), lit("2024-01-01")).as("d"),
          col("user_id"))
      val bm = daily.groupBy("d")
        .agg(graft.functions.BitmapDistinct.bitmapAgg(col("user_id")).as("bm"))
      bm.select(col("d"),
          graft.functions.BitmapDistinct.bitmapUnionCount(col("bm"))
            .over(Window.orderBy("d")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("cum_uniques"))
        .orderBy("d")
    }),

    // X178: federated union with source precedence — two systems publish
    // the same keys; conflicts resolve by (source priority, then latest
    // order date): the master-data-management survivorship rule. One
    // union + one per-key window over ≤ #sources rows per key — never a
    // join of system A against system B.
    "x_union_precedence" -> ((s, dir) => {
      val base = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"),
          expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)").as("cents"))
      val sysA = base.where(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), lit("A").as("src"), lit(1).as("pri"),
          col("o_orderdate"), col("cents"))
      val sysB = base.where(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), lit("B").as("src"), lit(2).as("pri"),
          col("o_orderdate"), (col("cents") + 5).as("cents"))
      sysA.unionByName(sysB)
        .withColumn("rk", row_number().over(
          Window.partitionBy("o_orderkey")
            .orderBy(col("pri"), col("o_orderdate").desc)))
        .where(col("rk") === 1 && col("o_orderkey") <= 600)
        .select(col("o_orderkey"), col("src"), col("cents"))
        .orderBy("o_orderkey")
    }),

    // X52: bounded per-group top-k via the custom TypedImperativeAggregate
    // (TopKPairs) — at most k rows per group per partition reach the
    // shuffle, vs the window row_number() pattern's full per-group sort.
    // Exact and deterministic (score desc, id asc tie-break), so the
    // oracle is the window formulation.
    "x_topk_group" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(graft.functions.TopKAggregate.topK(
          col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("o_orderstatus"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast("int").as("rk"),
          col("e.score").as("price"), col("e.id").as("okey"))
        .orderBy("o_orderstatus", "rk")),

    // X49: typed cogroup — KeyValueGroupedDataset.cogroup aligns two keyed
    // datasets and hands BOTH iterables to arbitrary per-key merge logic
    // (the surface joins can't express when the merge isn't relational).
    // Demo merge: per-user click/purchase engagement. All arithmetic is
    // order-independent integer cents (the group iterables arrive in
    // arbitrary order, so a double sum would be partitioning-dependent).
    "x_cogroup" -> ((s, dir) => {
      import s.implicits._
      def cents(v: Double): Long = math.floor(v * 100.0 + 0.5).toLong
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("value"))
      def keyed(t: String) = ev.where(col("event_type") === t)
        .select(col("user_id"), col("value")).as[(Long, Double)]
        .groupByKey(_._1)
      keyed("click").cogroup(keyed("purchase")) { (uid, cs, ps) =>
        var nc = 0L; var cc = 0L
        cs.foreach { c => nc += 1; cc += cents(c._2) }
        var np = 0L; var pc = 0L
        ps.foreach { p => np += 1; pc += cents(p._2) }
        Iterator((uid, nc, cc, np, pc, nc > 0 && np > 0))
      }.toDF("user_id", "n_clicks", "click_cents", "n_purchases", "purchase_cents", "engaged")
        .orderBy("user_id")
    }),

    // X45: salted skew join — o_orderstatus has 3 distinct values, the
    // textbook hot-key shape; each fact row salts on its stable unique key,
    // the 3-row dim replicates 8 ways, and the join runs on (key, salt).
    // Result provably equals the plain join (the oracle IS the plain join).
    "x_join_salted" -> ((s, dir) => {
      val spark = s
      import spark.implicits._
      val statusDim = Seq(("F", "fulfilled"), ("O", "open"), ("P", "pending"))
        .toDF("o_orderstatus", "status_desc")
      Skew.saltedJoin(Tables.orders(s, dir), statusDim, "o_orderstatus",
          buckets = 8, saltCols = Seq(col("o_orderkey")))
        .groupBy("status_desc")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("status_desc")
    }),

    // As-of join: each click matched with the user's latest purchase at or
    // before the click (null when none) — see AsOfJoin for the composition.
    "x_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_s")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts_s").agg(max("value").as("p_value"))
      AsOfJoin.asof(clicks, purchases, "user_id", "ts_s", "p_value",
          "purchase_ts", "purchase_value")
        .orderBy("event_id")
    }),

    // X23d: NATIVE as-of join — the same query as x_asof_join, answered by
    // the custom whole-plan operator (logical node → planner strategy →
    // merge-scan exec; graft/plans/AsOfJoinNative.scala): one declared
    // hash exchange + sort per side, then a streaming linear merge with
    // two rows of state — no union, no window buffer. The differential
    // gate proves the physical operator agrees with DuckDB's ASOF JOIN;
    // AsOfJoinNativeSpec pins the plan shape and the composed-vs-native
    // equivalence.
    "x_asof_native" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_s")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts_s").agg(max("value").as("p_value"))
        .select(col("user_id").as("r_user_id"),
          col("ts_s").as("purchase_ts"), col("p_value").as("purchase_value"))
      graft.plans.AsOfJoinNative.asof(clicks, purchases,
          "user_id", "r_user_id", "ts_s", "purchase_ts")
        .drop("r_user_id")
        .orderBy("event_id")
    }),

    // X23c: as-of join with tolerance (pandas merge_asof's `tolerance`) —
    // matches staler than 1 hour are nulled while the left row survives;
    // a pure post-projection over the same one-shuffle composition, so the
    // scale shape is unchanged.
    "x_asof_tolerance" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_s")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts_s").agg(max("value").as("p_value"))
      val within = col("purchase_ts") >= col("ts_s") - expr("INTERVAL 1 HOUR")
      AsOfJoin.asof(clicks, purchases, "user_id", "ts_s", "p_value",
          "purchase_ts", "purchase_value")
        .select(col("event_id"), col("user_id"), col("ts_s"),
          when(within, col("purchase_ts")).as("purchase_ts"),
          when(within, col("purchase_value")).as("purchase_value"))
        .orderBy("event_id")
    }),

    // X238: single-pass pipeline metrics via `Dataset.observe` — data-
    // quality counters collected ON the same job that runs the real
    // pipeline (a `CollectMetrics` node inside the plan), not a second
    // scan: at 100 TB the difference between "audit for free" and "pay
    // the corpus read twice". The key materializes a downstream aggregate
    // once, then surfaces the observed counters; the oracle recomputes
    // them directly, so the hash match proves the piggybacked metrics
    // equal the ground truth.
    "x_observe_metrics" -> ((s, dir) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val gated = Tables.events(s, dir)
        .where(col("value").isNotNull)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          sum(expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).as("cents_sum"),
          max("user_id").as("max_user"))
      // the pipeline's own action — metrics ride along on this single pass
      gated.groupBy("event_type").agg(count(lit(1))).count()
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long],
        m("cents_sum").asInstanceOf[Long],
        m("max_user").asInstanceOf[Long]))
        .toDF("n_rows", "cents_sum", "max_user")
    }),

    // X233: join-strategy matrix — the SAME equi-join forced through all
    // three physical strategies (broadcast hash / sort-merge / shuffled
    // hash) via join hints; the key's three rows must be identical except
    // the label, proving strategy choice never changes answers, and
    // JoinHintSpec pins that each hint actually produced its operator.
    // This is the knob a 100 TB planner turns: broadcast when the build
    // side fits, shuffled-hash when one side is much smaller but too big
    // to broadcast, sort-merge for the balanced giant case.
    "x_join_strategies" -> ((s, dir) => {
      def one(hint: String) = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).hint(hint),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(l_quantity AS BIGINT)")).as("qty"),
          sum(expr("CAST(o_custkey AS BIGINT)")).as("cust_sum"))
        .withColumn("strategy", lit(hint))
      Seq("broadcast", "merge", "shuffle_hash").map(one)
        .reduce(_ unionByName _)
        .select("strategy", "n", "qty", "cust_sum")
        .orderBy("strategy")
    }),

    // X3d: full outer join — both unmatched sides preserved (reconciliation
    // shape: every customer and every order bucket accounted for).
    "x_join_full" -> ((s, dir) => {
      val perCust = Tables.orders(s, dir)
        .where(col("o_totalprice") > 300000.0)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_big"), round(sum("o_totalprice"), 2).as("big_total"))
      Tables.customer(s, dir)
        .where(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_mktsegment"))
        .join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_big"), col("big_total"))
        .orderBy("custkey")
    }),

    // X13c: explode_outer — rows whose array is empty SURVIVE with a NULL
    // element (plain explode silently drops them: a row-count bug when the
    // exploded side is optional).
    "x_explode_outer" -> ((s, dir) => {
      val tags = filter(array(
        when(col("o_totalprice") > 400000.0, "jumbo"),
        when(col("o_orderpriority") === "1-URGENT", "urgent")), t => t.isNotNull)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), explode_outer(tags).as("tag"))
        .orderBy("o_orderkey", "tag")
    }),

    // X55: one-pass data profiling (the ANALYZE-TABLE shape): per-column
    // null count, distinct count, min, max from a SINGLE aggregation over
    // one scan, then `stack` unpivots the wide row into one row per
    // column. At 100 TB this is the difference between one pass and one
    // pass per column.
    "x_profile" -> ((s, dir) => {
      val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap { c => Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max")) }
      val stackArgs = cols.map(c =>
        s"'$c', n_rows - ${c}__nn, ${c}__nd, ${c}__min, ${c}__max").mkString(", ")
      // spread the triple-countDistinct expand ONLY when the scan plans
      // fewer splits than the session width (the single-row-group
      // fixture): at scale the scan parallelism already carries the
      // partial aggregate and an unconditional exchange would be a full
      // extra pass of the table — contradicting this key's own point
      Skew.spreadIfNarrow(Tables.orders(s, dir), col("o_orderkey"))
        .agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${cols.length}, $stackArgs) AS " +
          "(column_name, n_nulls, n_distinct, min_v, max_v)"))
        .orderBy("column_name")
    }),

    // X54: time-series gap-fill + forward fill — generate the full per-key
    // day grid (sequence + explode: a generator, not a join against a
    // calendar table), left-join the observed points, and forward-fill
    // with last(ignoreNulls) over a running frame. Day ordinals are exact
    // integers so the grid is engine-identical. The month-level grain
    // keeps the demo grid small; the shape is grain-agnostic.
    "x_gapfill" -> ((s, dir) => {
      val day = datediff(to_date(col("o_orderdate")), lit("1990-01-01"))
      val base = Tables.orders(s, dir)
        .where(col("o_orderdate") < lit("1995-07-01")) // induce sparsity window
        .groupBy(col("o_orderstatus"), (day - day % 7).as("wk"))
        .agg(round(sum("o_totalprice"), 2).as("total"))
      val grid = base.groupBy("o_orderstatus")
        .agg(min("wk").as("wk_min"), max("wk").as("wk_max"))
        .select(col("o_orderstatus"),
          explode(sequence(col("wk_min"), col("wk_max"), lit(7))).as("wk"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus").orderBy("wk")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      grid.join(base, Seq("o_orderstatus", "wk"), "left")
        .select(col("o_orderstatus"), col("wk"),
          col("total").isNotNull.as("observed"),
          last(col("total"), ignoreNulls = true).over(w).as("total_ff"))
        .orderBy("o_orderstatus", "wk")
    }),

    // X23b: forward as-of — each click matched with the user's EARLIEST
    // purchase at or after it ("what happened next" enrichment).
    "x_asof_forward" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_s")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts_s").agg(max("value").as("p_value"))
      AsOfJoin.asofForward(clicks, purchases, "user_id", "ts_s", "p_value",
          "next_purchase_ts", "next_purchase_value")
        .orderBy("event_id")
    }),

    // X23e: NEAREST as-of — pandas merge_asof(direction='nearest')
    // semantics: each click matches its closest purchase in EITHER
    // direction, ties to the earlier (backward) side. Composed from the
    // existing backward + forward as-of operators (two bounded
    // enrichments, no new join shape) with a pure-projection arbiter:
    // chosen side, matched ts/value, and the |Δt| in integer seconds.
    "x_asof_nearest" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        col("event_id"), col("user_id"),
        date_trunc("second", col("ts")).as("ts_s"),
        col("event_type"), col("value"))
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts_s")
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy("user_id", "ts_s").agg(max("value").as("p_value"))
      val bwd = AsOfJoin.asof(clicks, purchases, "user_id", "ts_s",
        "p_value", "prev_ts", "prev_value")
      val both = AsOfJoin.asofForward(bwd, purchases, "user_id", "ts_s",
        "p_value", "next_ts", "next_value")
      val db = expr("CAST(ts_s AS LONG) - CAST(prev_ts AS LONG)")
      val df = expr("CAST(next_ts AS LONG) - CAST(ts_s AS LONG)")
      val chosePrev = col("prev_ts").isNotNull &&
        (col("next_ts").isNull || db <= df)
      both.select(col("event_id"), col("user_id"), col("ts_s"),
          when(chosePrev, col("prev_ts")).otherwise(col("next_ts"))
            .as("near_ts"),
          when(chosePrev, col("prev_value")).otherwise(col("next_value"))
            .as("near_value"),
          when(col("prev_ts").isNull && col("next_ts").isNull, lit(null))
            .otherwise(when(chosePrev, lit("backward")).otherwise(lit("forward")))
            .cast("string").as("direction"),
          when(chosePrev, db).otherwise(df).as("delta_s"))
        .orderBy("event_id")
    }),

    // Pivot: orderstatus columns per priority (missing combos → 0).
    "x_pivot" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f_cnt"),
          coalesce(col("O"), lit(0L)).as("o_cnt"),
          coalesce(col("P"), lit(0L)).as("p_cnt"))
        .orderBy("o_orderpriority")),

    // Pivot with MULTIPLE aggregates per cell: one pass produces
    // (count, sum) per pivot value — still a single partial-first hash
    // aggregation; column names are <value>_<agg alias>.
    "x_pivot_multi" -> ((s, dir) =>
      Tables.documents(s, dir)
        .groupBy("source")
        .pivot("lang", Seq("de", "en", "es"))
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
        .select(col("source"),
          coalesce(col("de_cnt"), lit(0L)).as("de_cnt"),
          coalesce(col("de_chars"), lit(0L)).as("de_chars"),
          coalesce(col("en_cnt"), lit(0L)).as("en_cnt"),
          coalesce(col("en_chars"), lit(0L)).as("en_chars"),
          coalesce(col("es_cnt"), lit(0L)).as("es_cnt"),
          coalesce(col("es_chars"), lit(0L)).as("es_chars"))
        .orderBy("source")),

    // Distribution windows: ntile / percent_rank / cume_dist.
    "x_win_dist" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderstatus"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // Statistical aggregates: stddev/variance/correlation/covariance.
    "x_agg_stats" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covar_qty_price"))
        .orderBy("l_returnflag")),

    // Collect aggregation: sorted distinct set rendered to a string.
    "x_agg_collect" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(concat_ws(",", array_sort(collect_set(col("o_orderstatus"))))
          .as("statuses"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // Exact interpolated percentiles (median + p90).
    "x_agg_percentile" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
        .orderBy("l_returnflag")),

    // X13b: posexplode — lateral expansion with positions.
    "x_array_explode" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .where(col("vec_id") < 20)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"),
          round(col("v").cast("double"), 6).as("val"))
        .orderBy("vec_id", "pos")),

    // X7b: value-positional windows — first/last/nth order values per
    // customer (frame pinned to the full partition so last/nth are stable).
    "x_win_first_last" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        first("o_orderkey").over(w).as("first_order"),
        last("o_orderkey").over(w).as("last_order"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_order"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // X4b: argmax/argmin aggregates — the key of the extreme row, not the
    // extreme value (max_by/min_by ≙ DuckDB arg_max/arg_min). Tie-safe:
    // o_totalprice ties are broken by aggregating the min orderkey among
    // the tied rows on both engines via the (price, -orderkey) pair trick.
    "x_agg_minmax_by" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          max_by(col("o_orderkey"),
            struct(col("o_totalprice"), (-col("o_orderkey")).as("nk"))).as("priciest_order"),
          min_by(col("o_orderkey"),
            struct(col("o_totalprice"), col("o_orderkey"))).as("cheapest_order"),
          round(max("o_totalprice"), 2).as("max_price"))
        .orderBy("o_orderstatus")),

    // X4c: boolean + conditional aggregates — data-quality assertion shape
    // ("all rows in this partition satisfy the invariant").
    "x_agg_bool" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(
          bool_and(col("o_totalprice") > 1000.0).as("all_over_1k"),
          bool_or(col("o_totalprice") > 400000.0).as("any_over_400k"),
          count_if(col("o_totalprice") > 200000.0).as("n_over_200k"))
        .orderBy("o_orderstatus")),

    // X24: native MapType — build a map from the event payload, filter its
    // entries (map_filter), introspect keys (map_keys / size / element_at).
    // The reference's type fallback coerces MAP columns to STRING
    // (spark_ingest_slmandicprd.py:81); this engine keeps them first-class.
    "x_map_ops" -> ((s, dir) => {
      val m = eventMap(Tables.events(s, dir))
      m.select(col("event_id"),
          size(col("m")).as("m_size"),
          concat_ws(",", array_sort(map_keys(col("m")))).as("keys_csv"),
          element_at(col("m"), "et").as("et_val"))
        .orderBy("event_id")
    }),

    // X24b: map explode — one row per surviving map entry.
    "x_map_explode" -> ((s, dir) =>
      eventMap(Tables.events(s, dir))
        .select(col("event_id"), explode(col("m")).as(Seq("mkey", "mval")))
        .orderBy("event_id", "mkey")),

    // X26: deterministic hash sampling — reproducible across engines,
    // partitionings, and retries (Spark's native sample is none of those).
    "x_sample_hash" -> ((s, dir) =>
      Sampling.hashSample(Tables.orders(s, dir), col("o_orderkey"), pct = 20)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")),

    // X26b: stratified variant — per-class rates (training-mix rebalance).
    "x_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.events(s, dir),
          col("event_id"), col("event_type"),
          rates = Map("click" -> 10, "purchase" -> 100), defaultPct = 50)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("user_id").as("user_sum"))
        .orderBy("event_type")),

    // X26e: fixed-size per-group sample as a bounded-memory AGGREGATE —
    // exactly k rows per group by md5-hash order (deterministic "reservoir":
    // the X52 k-heap over hash scores), so at most k rows per group per
    // partition move map-side, where the window formulation sorts each
    // whole group on a reducer. Hash reduced mod 2^50 so the heap's double
    // score is integer-EXACT (53-bit mantissa); ties broken by id in both
    // the aggregate and the oracle.
    "x_sample_fixed_k" -> ((s, dir) => {
      val h = graft.functions.StableHash
        .md5Prefix60(col("o_orderkey").cast("string")) % 1125899906842624L
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_orderkey"), h.as("hm"))
        .groupBy("o_orderstatus")
        .agg(graft.functions.TopKAggregate.topK(
          -col("hm").cast("double"), col("o_orderkey"), 5).as("tk"))
        .select(col("o_orderstatus"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("o_orderstatus"), (col("pos") + 1).cast("long").as("rk"),
          (-col("e.score")).cast("long").as("hm"), col("e.id").as("okey"))
        .orderBy("o_orderstatus", "rk")
    }),

    // X5d: approximate percentile checked the same way as approx distinct —
    // the estimator's error contract vs the exact interpolated percentile.
    // accuracy=10000 bounds RANK error at 1/accuracy; the 5% VALUE tolerance
    // is the empirical bound for this data shape (documented, not derived).
    // tol_excess as in X5b: oracle pins 0; a failure's value is its magnitude.
    "x_agg_approx_percentile" -> ((s, dir) => {
      val tol = 0.05
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          expr("approx_percentile(l_extendedprice, 0.5, 10000)").as("approx"),
          expr("percentile(l_extendedprice, 0.5)").as("exact"))
        .select(col("l_returnflag"),
          (abs(col("approx") - col("exact")) / col("exact") <= tol).as("within_tol"),
          floor(abs(col("approx") - col("exact")) / col("exact") / tol)
            .cast("long").as("tol_excess"))
        .orderBy("l_returnflag")
    }),

    // X40: equal-width histogram — the data-profiling primitive (one hash
    // aggregation on a computed bin key; floor of an IEEE division is
    // engine-exact, so bins agree without tolerance).
    "x_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / 50000.0).cast("long").as("bin"))
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("bin_min"),
          round(max("o_totalprice"), 2).as("bin_max"))
        .orderBy("bin")),

    // X40b: equi-depth histogram — per-status deciles from a PARTITIONED
    // ntile (integer cut, per-group sort only; the global-sort ntile would
    // be a single-partition funnel at scale).
    "x_histogram_eqdepth" -> ((s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("decile", ntile(10).over(Window
          .partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))))
        .groupBy("o_orderstatus", "decile")
        .agg(count(lit(1)).as("n"),
          round(min("o_totalprice"), 2).as("lo"),
          round(max("o_totalprice"), 2).as("hi"))
        .orderBy("o_orderstatus", "decile")),

    // X13b: Dataset.unpivot (wide→long melt) — the API path, not a stack()
    // expression; generator-expanded per row, no shuffle before the
    // aggregation.
    "x_unpivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .unpivot(Array.empty,
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "val")
        .groupBy("metric").agg(round(sum("val"), 2).as("total"))
        .orderBy("metric")),

    // X3d: null-safe equality join (<=>) — NULL hashes as a regular key so
    // the join stays a hash join (plain equality would drop NULL rows and a
    // coalesce-to-sentinel workaround risks collisions). NULL is kept RARE
    // on the dim side (one row): the null bucket is semantically a cross
    // product, so bounding one side keeps the key linear in the fact size.
    "x_join_nullsafe" -> ((s, dir) => {
      val a = Tables.orders(s, dir)
        .select(expr("if(o_orderkey % 20 = 0, NULL, o_custkey)").as("k1"))
      val b = Tables.customer(s, dir)
        .select(expr("nullif(c_custkey, 20)").as("k2"))
      a.join(b, col("k1") <=> col("k2"))
        .groupBy(col("k1").isNull.as("null_key"))
        .agg(count(lit(1)).as("n"), countDistinct(col("k1")).as("n_keys"))
        .orderBy("null_key")
    }),

    // X3e: lateral join — per-order top-2 line items via a correlated
    // LATERAL subquery with ORDER BY + LIMIT (Catalyst decorrelates to a
    // per-group window filter, so the "top-N per key" stays distributed).
    "x_join_lateral" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o_orderkey, l_linenumber, round(price, 2) AS price
          |FROM v_orders o,
          |  LATERAL (SELECT l_linenumber, l_extendedprice AS price
          |           FROM v_lineitem WHERE l_orderkey = o.o_orderkey
          |           ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
          |WHERE o.o_orderpriority = '1-URGENT'
          |ORDER BY o_orderkey, l_linenumber""".stripMargin)
    }),

    // X6c: explicit grouping sets (beyond rollup/cube's fixed lattices).
    "x_grouping_sets" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
          coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")),

    // X34: spark.sql surface + correlated scalar subquery (Catalyst
    // decorrelates it into a left outer aggregate join — the plan a user
    // writing SQL against this engine actually gets).
    // X34g: SQL pipe syntax (Spark 4) — the linear FROM |> op |> op form;
    // each |> stage maps to the same logical operator as its clause
    // twin, so the optimized plan is identical to the classic query the
    // oracle runs
    "x_sql_pipe" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql(
        """FROM v_lineitem
          ||> WHERE l_quantity <= 25
          ||> EXTEND CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
          ||> AGGREGATE count(*) AS n, sum(cents) AS cents_sum
          |   GROUP BY l_returnflag
          ||> ORDER BY l_returnflag""".stripMargin)
    }),

    // X34h: SQL session variables (Spark 4 DECLARE/SET VARIABLE) — the
    // parameterized-query surface: the predicate threshold lives in
    // session state, constant-folded into the plan at analysis
    "x_sql_variables" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("DECLARE OR REPLACE VARIABLE qty_cap DOUBLE DEFAULT 25.0")
      s.sql("SET VARIABLE qty_cap = 30.0")
      s.sql(
        """SELECT l_returnflag, count(*) AS n,
          |  round(sum(l_quantity), 2) AS sum_qty
          |FROM v_lineitem WHERE l_quantity <= qty_cap
          |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
    }),

    "x_sql_subquery" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o_orderkey, o_totalprice,
          |  (SELECT round(max(l_quantity), 2) FROM v_lineitem
          |   WHERE l_orderkey = o_orderkey) AS max_qty
          |FROM v_orders
          |WHERE o_orderkey < 3000
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // X34c: recursive CTE (Spark 4) — hierarchical rollup over the implicit
    // keyspace tree (k → k div 10 → …): each order contributes a row to
    // every ancestor; the recursion is ACYCLIC with a monotone guard, which
    // is exactly the shape Spark 4 supports (UNION ALL; UNION-distinct
    // reachability stays on the iterative X30 path — pinned in
    // RecursiveCteProbe). Integer-exact in both engines.
    "x_recursive_cte" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      s.sql(
        """WITH RECURSIVE anc (k, a) AS (
          |  SELECT o_orderkey AS k, o_orderkey div 10 AS a
          |  FROM v_orders WHERE o_orderkey >= 10
          |  UNION ALL
          |  SELECT k, a div 10 FROM anc WHERE a >= 10
          |)
          |SELECT a, count(*) AS n_desc
          |FROM anc WHERE a BETWEEN 1 AND 99
          |GROUP BY a ORDER BY a""".stripMargin)
    }),

    // X12b: VARIANT semi-structured type (Spark 4) — `parse_json` once into
    // the binary variant encoding, then typed `variant_get` path access;
    // unlike stringly get_json_object (X12), repeated field access doesn't
    // re-parse the document, the shredded-at-scale path for JSON columns.
    "x_variant" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"),
          expr("variant_get(parse_json(props), '$.k', 'long')").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"), max("k").as("k_max"),
          count(when(col("k") > 50, 1)).as("n_over_50"))
        .orderBy("event_type")),

    // X11b: timezone conversion — UTC event times viewed in the operational
    // system's zone (the reference's clinics run on America/Sao_Paulo and
    // its CDC compares cross-system timestamps, F2). Both engines resolve
    // the SAME IANA zone; 2024 Brazil has no DST, but the lookup is a real
    // tz-db conversion, not a fixed offset.
    "x_timezone" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(hour(from_utc_timestamp(col("ts"), "America/Sao_Paulo"))
          .as("local_hour"))
        .agg(count(lit(1)).as("n"))
        .orderBy("local_hour")),

    // X40c: quantile normalization — map each value to its per-group
    // empirical percentile in exact ×10⁶ integers (row_number over a TOTAL
    // order / group size; percent_rank doubles could diverge). The ML
    // feature-prep step; per-group window sort only, output bounded by a
    // key filter (the percentile is still computed over the FULL group).
    // Scale caveat (also X40b): a per-group window sorts each group on one
    // reducer, so the PARTITION BY column must have cardinality ≥ cluster
    // parallelism at 100 TB; for a handful of huge groups use the X5d
    // approx-percentile path (one pass, mergeable sketches) instead.
    "x_quantile_norm" -> ((s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val wc = Window.partitionBy("o_orderstatus")
      Tables.orders(s, dir)
        .select(col("o_orderstatus"), col("o_totalprice"), col("o_orderkey"))
        .withColumn("rk", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wc))
        .where(col("o_orderkey") < 3000)
        .select(col("o_orderstatus"), col("o_orderkey"),
          expr("CAST(rk - 1 AS BIGINT) * 1000000 div greatest(cnt - 1, 1)")
            .as("pct_e6"))
        .orderBy("o_orderstatus", "o_orderkey")
    }),

    // X34b: correlated EXISTS / NOT EXISTS — Catalyst decorrelates into a
    // left-semi and a left-anti join on the same fact (the SQL spelling of
    // the X3 semi/anti family).
    // Ordered string aggregation: collect_set is UNORDERED (and
    // collect_list partition-order-dependent) — array_sort before join is
    // what makes the result deterministic and engine-identical.
    "x_string_agg" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderpriority")
        .agg(array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // ANSI NOT IN vs NOT EXISTS with a NULL in the subquery: tri-valued
    // logic makes `x NOT IN (…, NULL)` UNKNOWN for every non-member row,
    // so the NOT IN count is 0 while NOT EXISTS counts real non-members —
    // pinned cross-engine because silently "fixing" this divergence is a
    // classic migration bug.
    "x_sql_not_in" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      s.sql(
        """WITH sub AS (SELECT c_custkey AS x FROM v_customer
          |             WHERE c_custkey % 100 = 0
          |             UNION ALL SELECT CAST(NULL AS BIGINT))
          |SELECT
          |  (SELECT count(*) FROM v_orders
          |   WHERE o_custkey NOT IN (SELECT x FROM sub)) AS n_not_in,
          |  (SELECT count(*) FROM v_orders o WHERE NOT EXISTS (
          |     SELECT 1 FROM sub s WHERE s.x = o.o_custkey)) AS n_not_exists""".stripMargin)
    }),

    "x_sql_exists" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders
          |FROM v_orders o
          |WHERE EXISTS (SELECT 1 FROM v_lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          |  AND NOT EXISTS (SELECT 1 FROM v_lineitem l
          |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
          |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // X135: GROUP BY ALL / ORDER BY ALL (Spark 4 + DuckDB share the
    // feature) — grouping keys inferred as every non-aggregate select item.
    // Worth pinning cross-engine because the inference rule, not the user,
    // picks the keys: an engine that classified a select item differently
    // (e.g. a deterministic scalar over a grouped column) would silently
    // change the grouping. The ORDER BY ALL total order makes the result
    // row-stable for the hash compare.
    "x_group_by_all" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem_gba")
      s.sql(
        """SELECT l_returnflag AS flag, l_linestatus AS status,
          |  count(*) AS n, sum(CAST(l_quantity AS BIGINT)) AS qty
          |FROM v_lineitem_gba GROUP BY ALL ORDER BY ALL""".stripMargin)
    }),

    // X136: declarative recursion — WITH RECURSIVE (Spark 4, SPARK-24497)
    // over the event-type transition graph: depth-bounded reachability from
    // a seed node, the SQL-native twin of the iterative BFS at x_khop.
    // UNION ALL recursion with a monotone depth guard terminates
    // unconditionally (the UNION-distinct cyclic form is pinned unsupported
    // in RecursiveCteProbe — cyclic closure stays on the iterative path).
    // The recursion runs over the TRANSITION GRAPH (bounded: event-type
    // vocabulary², metadata scale), never over the event stream — the
    // stream is reduced to distinct edges first.
    "x_sql_recursive" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("v_events_rec")
      s.sql(
        """WITH RECURSIVE trans AS (
          |  SELECT event_type,
          |    lag(event_type) OVER (PARTITION BY user_id
          |                          ORDER BY ts, event_id) AS prev
          |  FROM v_events_rec),
          |edges AS (SELECT DISTINCT prev AS src, event_type AS dst
          |  FROM trans WHERE prev IS NOT NULL AND prev <> event_type),
          |reach(node, depth) AS (
          |  SELECT 'click' AS node, 0 AS depth
          |  UNION ALL
          |  SELECT e.dst, r.depth + 1
          |  FROM reach r JOIN edges e ON e.src = r.node
          |  WHERE r.depth < 3)
          |SELECT node, CAST(min(depth) AS BIGINT) AS hops,
          |  CAST(count(*) AS BIGINT) AS n_paths
          |FROM reach GROUP BY node ORDER BY node""".stripMargin)
    }),

    // X145: DISTINCT ON semantics (latest-row-per-key) — DuckDB/Postgres
    // spell it DISTINCT ON; Spark's equivalent is one hash aggregation of
    // a lexicographic struct max (NO window sort: max(struct) has map-side
    // partials, so top-1-per-key costs one shuffle of 16-byte rows where
    // the row_number formulation sorts every group). Pinned cross-engine
    // with a deterministic (date, key) order.
    "x_distinct_on" -> ((s, dir) =>
      Tables.orders(s, dir)
        .where(col("o_custkey") <= 200)
        .groupBy("o_custkey")
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"), col("m.o_orderkey").as("o_orderkey"),
          col("m.o_orderdate").as("o_orderdate"))
        .orderBy("o_custkey")),

    // X146: window navigation matrix — lag/lead with explicit defaults and
    // nth_value / last_value IGNORE NULLS over explicit frames, in one
    // windowed projection (ONE sort per partition serves all five
    // functions). The frame is spelled out because nth_value's DEFAULT
    // frame (unbounded preceding..current row) silently yields NULL for
    // rows before the nth — the classic migration surprise, pinned here.
    "x_window_nav" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_nav")
      s.sql(
        """SELECT o_custkey, o_orderkey,
          |  lag(cents, 2, -1) OVER w AS lag2,
          |  lead(cents, 1, -1) OVER w AS lead1,
          |  nth_value(cents, 3) OVER (PARTITION BY o_custkey
          |    ORDER BY o_orderdate, o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth3,
          |  last_value(maybe_cents) IGNORE NULLS OVER (PARTITION BY o_custkey
          |    ORDER BY o_orderdate, o_orderkey
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_seen
          |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
          |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
          |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
          |      ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END
          |      AS maybe_cents
          |  FROM v_orders_nav WHERE o_custkey <= 150)
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
    }),

    // X147: percentile_disc vs percentile_cont (WITHIN GROUP ordered-set
    // aggregates, Spark 4 + DuckDB): disc returns a MEMBER of the set
    // (value engine-exact on integer cents; REPRESENTATION differs — Spark
    // returns DOUBLE, DuckDB the element type, so the oracle casts its disc
    // result to DOUBLE; cents < 2^53 makes the double exact), cont
    // interpolates between the two
    // straddling members — the two are routinely confused and differ on
    // every even-count group. p = 0.25 exercises a non-trivial
    // interpolation fraction; the cont result is rounded at 6dp (the
    // interpolation is two IEEE ops on exact integers; association order
    // can differ across engines by 1 ulp — far below 6dp at these
    // magnitudes).
    "x_percentile_kinds" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem_pk")
      s.sql(
        """SELECT l_returnflag AS flag,
          |  percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS p25_disc,
          |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents), 6)
          |    AS p25_cont
          |FROM (SELECT l_returnflag,
          |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
          |  FROM v_lineitem_pk)
          |GROUP BY l_returnflag ORDER BY flag""".stripMargin)
    }),

    // X173: data-level Bloom-filter membership — build a filter over one
    // side's keys with `bloom_filter_agg`, probe the other side with
    // `might_contain`: the pre-filter that skips shuffle rows before an
    // expensive join (the data-plane twin of X66's runtime bloom). The
    // filter itself is engine-internal, so the oracle pins the CONTRACT:
    // zero false negatives (every true member must probe positive — the
    // structural guarantee), exact member counts, and the observed
    // false-positive rate under 5% at these sizing parameters (40k bits /
    // ~1.5k items ⇒ expected fpp ≪ 1%).
    "x_bloom_filter" -> ((s, dir) => {
      // bloom_filter_agg / might_contain are not SQL-registered in Spark 4
      // (InjectRuntimeFilter builds them directly) — construct the same
      // Catalyst expressions through the package bridge
      import org.apache.spark.sql.graftshim.ColumnBridge.{column, expression}
      val bfAgg = column(new org.apache.spark.sql.catalyst.expressions
        .aggregate.BloomFilterAggregate(
          expression(xxhash64(col("c_custkey"))),
          org.apache.spark.sql.catalyst.expressions.Literal(5000L),
          org.apache.spark.sql.catalyst.expressions.Literal(40000L))
        .toAggregateExpression())
      // might_contain requires a CONSTANT filter: collect the one bloom
      // binary to the driver (a scalar broadcast — the same legitimate
      // 1-row collect class as the JDBC bounds query)
      val bfBytes = Tables.customer(s, dir)
        .where(col("c_custkey") % 10 === 0)
        .agg(bfAgg.as("bf"))
        .head().getAs[Array[Byte]](0)
      Tables.orders(s, dir)
        .select((col("o_custkey") % 10 === 0).as("actual"),
          column(org.apache.spark.sql.catalyst.expressions
            .BloomFilterMightContain(
              org.apache.spark.sql.catalyst.expressions.Literal(bfBytes,
                org.apache.spark.sql.types.BinaryType),
              expression(xxhash64(col("o_custkey"))))).as("maybe"))
        .agg(count(lit(1)).as("n_probed"),
          sum(when(col("actual"), 1L).otherwise(0L)).as("n_members"),
          sum(when(col("actual") && !col("maybe"), 1L).otherwise(0L))
            .as("false_negatives"),
          sum(when(!col("actual") && col("maybe"), 1L).otherwise(0L))
            .as("fp"))
        .select(col("n_probed"), col("n_members"), col("false_negatives"),
          (col("fp") * 1000000 <= (col("n_probed") - col("n_members")) * 50000)
            .as("fp_within_contract"))
    }),

    // X186: aggregate FILTER clause — the ANSI `agg(x) FILTER (WHERE p)`
    // syntax both engines share, pinned as the PORTABLE spelling of
    // conditional aggregation: count_if diverges in type (DuckDB HUGEINT —
    // the r02 x_agg_bool lesson) and CASE-in-sum diverges in null
    // handling for non-count aggregates; FILTER has neither problem.
    "x_sql_filter_clause" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_fc")
      s.sql(
        """SELECT o_orderstatus,
          |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
          |  sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
          |    FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_cents,
          |  min(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0) AS min_even_key
          |FROM v_orders_fc GROUP BY o_orderstatus
          |ORDER BY o_orderstatus""".stripMargin)
    }),

    // X187: regex dialect-safe subset — Spark regexes are Java
    // (backtracking: lookarounds, backreferences) while DuckDB's are RE2
    // (linear-time: NEITHER supported), so any migrated pattern must stay
    // inside the shared subset. This matrix pins that subset working
    // identically: explicit character classes, anchors, bounded
    // quantifiers, alternation, greedy/lazy-free extraction — the
    // features every engine-portable pipeline (X44's PII scrub) is
    // restricted to.
    "x_regex_dialect" -> ((s, dir) =>
      s.sql(
        """SELECT
          |  'a1b22c333' RLIKE '^[a-z][0-9]' AS anchored_class,
          |  'a1b22c333' RLIKE '[0-9]{3}' AS bounded_quant,
          |  'foo-bar' RLIKE 'foo|baz' AS alternation,
          |  regexp_extract('key=val;k2=v2', '([a-z0-9]+)=([a-z0-9]+)', 2) AS group_2,
          |  regexp_replace('a  b   c', ' +', '_') AS collapse_ws,
          |  regexp_extract('x=17,y=42', 'y=([0-9]+)', 1) AS y_val
          |""".stripMargin)),

    // X176: cast-semantics matrix — the silent numeric/boolean conversion
    // divergences, pinned through their PORTABLE spellings. The headline
    // trap: Spark CAST(double AS INT) TRUNCATES while DuckDB CAST ROUNDS
    // (3.99 → 3 vs 4) — so the matrix never casts a fractional double
    // directly; it goes through floor/round first (this key's Spark side
    // uses bare CAST where Spark truncates, and the oracle writes
    // trunc() explicitly — pinning that the normalized forms agree).
    // TRY_CAST null-on-failure, whitespace trimming, exponent literals,
    // and the shared 'true'/'1' boolean spellings round out the matrix
    // ('yes' diverges: Spark true, DuckDB NULL — excluded by design).
    "x_cast_matrix" -> ((s, dir) =>
      s.sql(
        """SELECT
          |  TRY_CAST('12abc' AS INT) AS bad_int,
          |  TRY_CAST(' 42 ' AS INT) AS trimmed_int,
          |  TRY_CAST('1e3' AS DOUBLE) AS exp_double,
          |  CAST(3.99D AS BIGINT) AS trunc_pos,
          |  CAST(-3.99D AS BIGINT) AS trunc_neg,
          |  CAST(floor(-3.01D) AS BIGINT) AS floor_neg,
          |  CAST(round(2.5D) AS BIGINT) AS round_half,
          |  CAST(round(-2.5D) AS BIGINT) AS round_neg_half,
          |  TRY_CAST('true' AS BOOLEAN) AS bool_true,
          |  TRY_CAST('1' AS BOOLEAN) AS bool_one""".stripMargin)),

    // X164: NULL sort-order semantics — the engines' DEFAULTS disagree
    // (Spark ASC puts NULLS FIRST, DuckDB ASC puts NULLS LAST), so any
    // ordering consumed downstream (ranks, pagination keys, top-k
    // boundaries) silently shifts in a migration unless the modifier is
    // explicit. This key ranks planted NULLs under all three explicit
    // spellings — the only portable form — and hash-pins the result.
    "x_null_ordering" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_no")
      s.sql(
        """WITH d AS (SELECT o_orderkey,
          |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
          |      ELSE CAST(floor(o_totalprice) AS BIGINT) END AS v
          |  FROM v_orders_no WHERE o_orderkey <= 200)
          |SELECT o_orderkey, v,
          |  CAST(row_number() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey) AS BIGINT) AS rn_nf,
          |  CAST(row_number() OVER (ORDER BY v ASC NULLS LAST, o_orderkey) AS BIGINT) AS rn_nl,
          |  CAST(row_number() OVER (ORDER BY v DESC NULLS LAST, o_orderkey) AS BIGINT) AS rn_dnl
          |FROM d ORDER BY o_orderkey""".stripMargin)
    }),

    // X151: string scalar-function parity matrix — the migration surface
    // where engines silently disagree (1-based positions, out-of-range
    // split_part, pad/translate semantics), pinned in one projection.
    // Every function here is codegen'd in Spark; a UDF rewrite of any of
    // them would leave whole-stage codegen for no reason.
    "x_string_fns" -> ((s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("v_docs_sf")
      s.sql(
        """SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS len,
          |  upper(left(text, 10)) AS up10,
          |  right(text, 3) AS r3,
          |  reverse(left(text, 5)) AS rev5,
          |  split_part(text, ' ', 3) AS w3,
          |  CAST(instr(text, 'e') AS BIGINT) AS pos_e,
          |  translate(left(text, 10), 'aeiou', '_____') AS tr10,
          |  lpad(CAST(doc_id AS STRING), 6, '0') AS id_pad
          |FROM v_docs_sf WHERE doc_id <= 50 ORDER BY doc_id""".stripMargin)
    }),

    // X152: datetime scalar-function parity matrix — calendar semantics
    // pinned cross-engine: ISO week numbering, day-of-week convention
    // (Spark's dayofweek is 1=Sunday, DuckDB's dow 0=Sunday — both sides
    // emit the ISO 1=Monday form instead), end-of-month clamping of
    // month arithmetic (Jan 31 + 1 month = Feb 29), quarter truncation,
    // and day arithmetic. All pure projections over the scan.
    "x_datetime_fns" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_dt")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(o_orderdate AS DATE) AS d,
          |  CAST(year(o_orderdate) AS INT) AS yr,
          |  CAST(quarter(o_orderdate) AS INT) AS q,
          |  CAST(month(o_orderdate) AS INT) AS mo,
          |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
          |  CAST(weekday(o_orderdate) + 1 AS INT) AS iso_dow,
          |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
          |  last_day(CAST(o_orderdate AS DATE)) AS eom,
          |  add_months(CAST(o_orderdate AS DATE), 1) AS plus_1m,
          |  CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS BIGINT)
          |    AS days_since_95,
          |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start
          |FROM v_orders_dt WHERE o_orderkey <= 100
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // X34f: SQL UDF DDL (Spark 4 SQL scalar functions, SPARK-44837) — a
    // function DEFINED in SQL is inlined by the analyzer into the plan, so
    // unlike a Scala/Python UDF it stays inside codegen and pushdown: the
    // right way to share business logic (the canonical cents rendering)
    // across SQL users with zero execution cost. The oracle computes the
    // same expression inline.
    "x_sql_udf" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_udf")
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_cents(x DOUBLE)
          |RETURNS BIGINT RETURN CAST(floor(x * 100.0 + 0.5) AS BIGINT)"""
          .stripMargin)
      s.sql(
        """SELECT o_orderstatus, sum(graft_cents(o_totalprice)) AS cents
          |FROM v_orders_udf GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)
    }),

    // X249: column-level lineage / pruning introspection — walk the
    // flagship star join's PHYSICAL plan and emit exactly which columns
    // each parquet scan reads (`FileSourceScanExec.requiredSchema`, the
    // post-pruning read set). This is the engine feature twice over: the
    // lineage answer a governance tool asks for, AND a correctness-GATED
    // column-pruning assertion — the oracle pins the literal expected
    // (table, column) set, so a regression that drags extra columns into
    // any scan (a pruning break) fails the driver hash, not just a spec.
    // Driver-side plan walk; output is plan-bounded metadata rows.
    "x_lineage" -> ((s, dir) => {
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case f: FileSourceScanExec => Seq(f)
        case other =>
          (other.children ++ other.subqueries).flatMap(scans)
      }
      val star = queries("x_join_star")(s, dir)
      val rows = scans(star.queryExecution.executedPlan).flatMap { f =>
        val table = f.relation.location.rootPaths.head.getName
          .stripSuffix(".parquet")
        f.requiredSchema.fieldNames.map(c => (table, c))
      }.distinct.sorted
      import s.implicits._
      rows.toDF("table_name", "col_name").orderBy("table_name", "col_name")
    }),

    // X34e: SQL PIVOT clause — the DECLARATIVE pivot surface (vs X6's
    // DataFrame .pivot): named value columns, multiple aliased aggregates
    // per value, resolved at analysis into the same conditional-aggregate
    // plan a hand-written CASE rollup produces (one hash aggregation, no
    // extra shuffle vs GROUP BY). Measures are pre-quantized to integer
    // cents (floor(x·100+0.5) — correctly-rounded IEEE ops both engines
    // share) so the pivoted sums are exact. The oracle IS that CASE
    // rollup — proving the sugar changes nothing.
    "x_sql_pivot" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_pv")
      s.sql(
        """SELECT * FROM (
          |  SELECT o_orderstatus AS status, o_orderpriority,
          |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
          |  FROM v_orders_pv)
          |PIVOT (count(*) AS n, sum(cents) AS cents
          |       FOR o_orderpriority IN ('1-URGENT' AS urgent, '5-LOW' AS low))
          |ORDER BY status""".stripMargin)
    }),

    // X34d: lateral column aliases (Spark 4, SPARK-27561) — a SELECT item
    // can reference an alias defined earlier in the same list; the
    // analyzer expands the chain, so the plan is one Project (no
    // subquery nesting). DuckDB shares the feature, so the oracle is the
    // same text modulo casts.
    "x_sql_lateral_alias" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders_la")
      s.sql(
        """SELECT o_orderkey,
          |  CAST(floor(o_totalprice) AS BIGINT) AS dollars,
          |  dollars * 2 AS doubled,
          |  doubled + o_orderkey AS mixed
          |FROM v_orders_la WHERE o_orderkey <= 100
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // X35: typed Dataset[T] pipeline — case-class Encoder, typed filter +
    // map + groupByKey aggregation (the compile-time-checked API path).
    "x_typed_ds" -> ((s, dir) => {
      import s.implicits._
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .as[OrderRow]
        .filter(_.o_totalprice > 100000.0)
        .map(o => (o.o_orderstatus, o.o_totalprice))
        .groupByKey(_._1)
        .agg(
          count(lit(1)).as[Long],
          round(sum(col("_2")), 2).as[Double])
        .toDF("o_orderstatus", "n", "total")
        .orderBy("o_orderstatus")
    }),

    // X8b: RANGE window frame — value-based (31-day) trailing sum per
    // customer; peers by day value, not row position.
    "x_win_range" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("days"))
        .rangeBetween(-30, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("days",
          datediff(col("o_orderdate"), to_date(lit("1990-01-01"))))
        .select(col("o_custkey"), col("o_orderkey"), col("days"),
          round(sum("o_totalprice").over(w), 2).as("sum_31d"))
        .orderBy("o_orderkey")
    })
  )

  /** Bounded event slice with a filtered MapType column: {et → event_type,
    * k → props.k}, keeping the k entry only when its value exceeds 50. */
  private def eventMap(events: DataFrame): DataFrame =
    events
      .where(col("event_id") < 2000)
      .select(col("event_id"),
        map_filter(
          map_from_arrays(
            array(lit("et"), lit("k")),
            array(col("event_type"), get_json_object(col("props"), "$.k"))),
          (k, v) => k === "et" || v.cast("int") > 50).as("m"))

  val oracles: Map[String, String] = Map(
    "x_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_extendedprice * (1 - l_discount) AS revenue
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |ORDER BY l_orderkey, l_linenumber, revenue""".stripMargin,
    "x_join_star" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "x_join_semi" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
        |ORDER BY o_orderkey""".stripMargin,
    "x_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "x_agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "x_agg_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_agg_bitmap_distinct" ->
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_agg_approx_distinct" ->
      """SELECT l_returnflag, true AS within_tol, CAST(0 AS BIGINT) AS tol_excess
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_agg_rollup" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "x_agg_cube" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority, count(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "x_win_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn, rk, drk FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER w AS INTEGER) AS rn,
        |    CAST(rank() OVER w AS INTEGER) AS rk,
        |    CAST(dense_rank() OVER w AS INTEGER) AS drk
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "x_win_frame" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        |  round(avg(o_totalprice) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "x_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "x_setops" ->
      """WITH f AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'both' AS op, k FROM (SELECT k FROM f INTERSECT SELECT k FROM o)
        |UNION ALL
        |SELECT 'f_only' AS op, k FROM (SELECT k FROM f EXCEPT SELECT k FROM o)
        |UNION ALL
        |SELECT 'o_only' AS op, k FROM (SELECT k FROM o EXCEPT SELECT k FROM f)
        |ORDER BY op, k""".stripMargin,
    "x_sample_fixed_k" ->
      s"""WITH h AS (SELECT o_orderstatus, o_orderkey,
         |    ${graft.functions.StableHash.md5Prefix60Sql("CAST(o_orderkey AS VARCHAR)")}
         |      % 1125899906842624 AS hm
         |  FROM orders),
         |r AS (SELECT o_orderstatus, o_orderkey, hm,
         |    CAST(row_number() OVER (PARTITION BY o_orderstatus
         |      ORDER BY hm, o_orderkey) AS BIGINT) AS rk
         |  FROM h)
         |SELECT o_orderstatus, rk, hm, o_orderkey AS okey
         |FROM r WHERE rk <= 5 ORDER BY o_orderstatus, rk""".stripMargin,
    "x_try_fns" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 0 THEN NULL
        |       ELSE o_totalprice / CAST(o_orderkey % 10 AS DOUBLE) END
        |    AS div_or_null,
        |  CASE WHEN o_orderkey > 10 THEN NULL
        |       ELSE o_orderkey + 9223372036854775797 END AS add_or_null,
        |  try_cast(o_orderpriority AS INT) AS cast_or_null,
        |  try_cast(substring(o_orderpriority, 1, 1) AS INT) AS pri_digit
        |FROM orders WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "x_grouping_id" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus ASC NULLS LAST,
        |  o_orderpriority ASC NULLS LAST""".stripMargin,
    "x_regex_extract" ->
      """SELECT p_partkey,
        |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), ' ') AS words,
        |  array_to_string(regexp_extract_all(p_type, '[A-Z]+'), ' ') AS upper_runs,
        |  CAST(len(regexp_extract_all(p_brand, '[0-9]')) AS BIGINT) AS n_digits,
        |  coalesce(regexp_extract(p_type, '([A-Z]+)', 1), '') AS first_upper
        |FROM part ORDER BY p_partkey""".stripMargin,
    "x_setops_all" ->
      """WITH f AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
        |     o AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
        |SELECT 'f_minus_o_all' AS op, k, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT k FROM f EXCEPT ALL SELECT k FROM o) GROUP BY k
        |UNION ALL
        |SELECT 'f_intersect_o_all' AS op, k, CAST(count(*) AS BIGINT) AS cnt
        |FROM (SELECT k FROM f INTERSECT ALL SELECT k FROM o) GROUP BY k
        |ORDER BY op, k""".stripMargin,
    "x_order_offset" ->
      """SELECT o_orderkey, nullif(o_orderpriority, '1-URGENT') AS pri,
        |  o_totalprice
        |FROM orders
        |ORDER BY pri ASC NULLS FIRST, o_orderkey ASC
        |LIMIT 10 OFFSET 10""".stripMargin,
    "x_join_theta" ->
      """SELECT c_mktsegment AS segment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM customer JOIN orders
        |  ON c_custkey = o_custkey AND o_totalprice > c_acctbal * 20.0
        |GROUP BY c_mktsegment ORDER BY segment""".stripMargin,
    "x_hof" ->
      """WITH li AS (SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
        |    CAST(l_quantity AS BIGINT) AS qty
        |  FROM lineitem),
        |arrs AS (SELECT l_orderkey,
        |    list(cents ORDER BY l_linenumber, cents, qty) AS prices,
        |    list(qty ORDER BY l_linenumber, cents, qty) AS qtys
        |  FROM li GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  CAST(len(prices) AS BIGINT) AS n_items,
        |  CAST(list_reduce(prices, (acc, x) -> acc + x) AS BIGINT) AS total_cents,
        |  CAST(len(list_filter(prices, x -> x > 5000000)) AS BIGINT) AS n_big,
        |  len(list_filter(prices, x -> x > 5000000)) > 0 AS any_big,
        |  len(list_filter(prices, x -> x > 0)) = len(prices) AS all_pos,
        |  array_to_string(list_transform(generate_series(1, CAST(len(prices) AS INT)),
        |    i -> prices[i] * qtys[i]), ',') AS amounts_csv
        |FROM arrs WHERE l_orderkey <= 3000
        |ORDER BY l_orderkey""".stripMargin,
    "x_scalar_fns" ->
      """SELECT p_partkey,
        |  lower(p_name) AS name_lower,
        |  upper(p_brand) AS brand_upper,
        |  substring(p_type, 1, 5) AS type_pfx,
        |  concat_ws('-', p_brand, p_type) AS brand_type,
        |  CAST(length(p_name) AS INTEGER) AS name_len,
        |  coalesce(regexp_extract(p_name, '([a-z]+)', 1), '') AS first_word,
        |  round(p_retailprice * 1.1, 2) AS marked_up,
        |  CAST(abs(p_size - 25) AS INTEGER) AS size_dev,
        |  round(sqrt(p_retailprice), 4) AS sqrt_price,
        |  CAST(p_partkey % 7 AS BIGINT) AS key_mod
        |FROM part ORDER BY p_partkey""".stripMargin,
    "x_json" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events ORDER BY event_id""".stripMargin,
    "x_json_struct" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 50
        |ORDER BY event_id""".stripMargin,
    "x_agg_salted" ->
      """SELECT event_type, round(sum(value), 2) AS value_sum, count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_agg_typed" ->
      """SELECT l_returnflag,
        |  round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS w_mean_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_json_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS first_val,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) AS vec_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "x_join_range" ->
      """SELECT tier, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN (VALUES ('low', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
        |  ('high', 150000.0, 1e9)) t(tier, lo, hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY tier ORDER BY tier""".stripMargin,
    "x_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_s, max(value) AS p_value FROM ev
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts_s)
        |SELECT c.event_id, c.user_id, c.ts_s,
        |  p.ts_s AS purchase_ts, p.p_value AS purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_s >= p.ts_s
        |ORDER BY c.event_id""".stripMargin,
    "x_asof_native" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_s, max(value) AS p_value FROM ev
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts_s)
        |SELECT c.event_id, c.user_id, c.ts_s,
        |  p.ts_s AS purchase_ts, p.p_value AS purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_s >= p.ts_s
        |ORDER BY c.event_id""".stripMargin,
    "x_asof_tolerance" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_s, max(value) AS p_value FROM ev
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts_s),
        |j AS (SELECT c.event_id, c.user_id, c.ts_s,
        |    p.ts_s AS p_ts, p.p_value
        |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_s >= p.ts_s)
        |SELECT event_id, user_id, ts_s,
        |  CASE WHEN p_ts >= ts_s - INTERVAL 1 HOUR THEN p_ts END AS purchase_ts,
        |  CASE WHEN p_ts >= ts_s - INTERVAL 1 HOUR THEN p_value END AS purchase_value
        |FROM j ORDER BY event_id""".stripMargin,
    // ground truth recomputed directly — the observed counters must match
    "x_observe_metrics" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS cents_sum,
        |  CAST(max(user_id) AS BIGINT) AS max_user
        |FROM events WHERE value IS NOT NULL""".stripMargin,
    // one physical answer, three labels: the engine-side strategies must
    // all hash to this
    "x_join_strategies" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    CAST(sum(CAST(o_custkey AS BIGINT)) AS BIGINT) AS cust_sum
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |s AS (SELECT unnest(['broadcast', 'merge', 'shuffle_hash']) AS strategy)
        |SELECT strategy, n, qty, cust_sum FROM s, a ORDER BY strategy""".stripMargin,
    "x_join_full" ->
      """WITH pc AS (SELECT o_custkey, count(*) AS n_big,
        |    round(sum(o_totalprice), 2) AS big_total
        |  FROM orders WHERE o_totalprice > 300000.0 GROUP BY 1),
        |cu AS (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 9000.0)
        |SELECT coalesce(c_custkey, o_custkey) AS custkey, c_mktsegment, n_big, big_total
        |FROM cu FULL JOIN pc ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,
    "x_explode_outer" ->
      """WITH t AS (SELECT o_orderkey, list_filter([
        |    CASE WHEN o_totalprice > 400000.0 THEN 'jumbo' END,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'urgent' END],
        |    x -> x IS NOT NULL) AS tags
        |  FROM orders)
        |SELECT o_orderkey,
        |  unnest(CASE WHEN len(tags) = 0 THEN [CAST(NULL AS VARCHAR)] ELSE tags END) AS tag
        |FROM t ORDER BY o_orderkey, tag NULLS FIRST""".stripMargin,
    "x_profile" ->
      """WITH t AS (SELECT count(*) AS n_rows,
        |    count(o_orderkey) AS k_nn, count(DISTINCT o_orderkey) AS k_nd,
        |    CAST(min(o_orderkey) AS DOUBLE) AS k_min, CAST(max(o_orderkey) AS DOUBLE) AS k_max,
        |    count(o_custkey) AS c_nn, count(DISTINCT o_custkey) AS c_nd,
        |    CAST(min(o_custkey) AS DOUBLE) AS c_min, CAST(max(o_custkey) AS DOUBLE) AS c_max,
        |    count(o_totalprice) AS p_nn, count(DISTINCT o_totalprice) AS p_nd,
        |    CAST(min(o_totalprice) AS DOUBLE) AS p_min, CAST(max(o_totalprice) AS DOUBLE) AS p_max
        |  FROM orders)
        |SELECT * FROM (
        |  SELECT 'o_orderkey' AS column_name, n_rows - k_nn AS n_nulls,
        |    k_nd AS n_distinct, k_min AS min_v, k_max AS max_v FROM t
        |  UNION ALL
        |  SELECT 'o_custkey', n_rows - c_nn, c_nd, c_min, c_max FROM t
        |  UNION ALL
        |  SELECT 'o_totalprice', n_rows - p_nn, p_nd, p_min, p_max FROM t)
        |ORDER BY column_name""".stripMargin,
    "x_gapfill" ->
      """WITH base AS (SELECT o_orderstatus, d - d % 7 AS wk,
        |    round(sum(o_totalprice), 2) AS total
        |  FROM (SELECT o_orderstatus, o_totalprice,
        |      datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS d
        |    FROM orders WHERE o_orderdate < TIMESTAMP '1995-07-01')
        |  GROUP BY 1, 2),
        |bounds AS (SELECT o_orderstatus, min(wk) AS wk_min, max(wk) AS wk_max
        |  FROM base GROUP BY 1),
        |grid AS (SELECT o_orderstatus, unnest(range(wk_min, wk_max + 1, 7)) AS wk
        |  FROM bounds),
        |j AS (SELECT g.o_orderstatus, g.wk, b.total
        |  FROM grid g LEFT JOIN base b USING (o_orderstatus, wk))
        |SELECT o_orderstatus, CAST(wk AS INTEGER) AS wk,
        |  total IS NOT NULL AS observed,
        |  last_value(total IGNORE NULLS) OVER (PARTITION BY o_orderstatus ORDER BY wk
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_ff
        |FROM j ORDER BY o_orderstatus, wk""".stripMargin,
    "x_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_s, max(value) AS p_value FROM ev
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts_s),
        |b AS (SELECT c.event_id, c.user_id, c.ts_s,
        |    p.ts_s AS prev_ts, p.p_value AS prev_value
        |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_s >= p.ts_s),
        |bf AS (SELECT b.event_id, b.user_id, b.ts_s, b.prev_ts, b.prev_value,
        |    p.ts_s AS next_ts, p.p_value AS next_value
        |  FROM b ASOF LEFT JOIN p ON b.user_id = p.user_id AND b.ts_s <= p.ts_s),
        |a AS (SELECT *,
        |    prev_ts IS NOT NULL AND (next_ts IS NULL OR
        |      epoch(ts_s) - epoch(prev_ts) <= epoch(next_ts) - epoch(ts_s))
        |      AS chose_prev
        |  FROM bf)
        |SELECT event_id, user_id, ts_s,
        |  CASE WHEN chose_prev THEN prev_ts ELSE next_ts END AS near_ts,
        |  CASE WHEN chose_prev THEN prev_value ELSE next_value END AS near_value,
        |  CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
        |       WHEN chose_prev THEN 'backward' ELSE 'forward' END AS direction,
        |  CAST(CASE WHEN chose_prev THEN epoch(ts_s) - epoch(prev_ts)
        |       ELSE epoch(next_ts) - epoch(ts_s) END AS BIGINT) AS delta_s
        |FROM a ORDER BY event_id""".stripMargin,
    "x_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id,
        |    CAST(date_trunc('second', ts) AS TIMESTAMP) AS ts_s, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_s FROM ev WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_s, max(value) AS p_value FROM ev
        |  WHERE event_type = 'purchase' GROUP BY user_id, ts_s)
        |SELECT c.event_id, c.user_id, c.ts_s,
        |  p.ts_s AS next_purchase_ts, p.p_value AS next_purchase_value
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_s <= p.ts_s
        |ORDER BY c.event_id""".stripMargin,
    "x_pivot" ->
      """SELECT o_orderpriority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS f_cnt,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS o_cnt,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS p_cnt
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_pivot_multi" ->
      """SELECT source,
        |  CAST(count(*) FILTER (WHERE lang = 'de') AS BIGINT) AS de_cnt,
        |  CAST(coalesce(sum(n_chars) FILTER (WHERE lang = 'de'), 0) AS BIGINT) AS de_chars,
        |  CAST(count(*) FILTER (WHERE lang = 'en') AS BIGINT) AS en_cnt,
        |  CAST(coalesce(sum(n_chars) FILTER (WHERE lang = 'en'), 0) AS BIGINT) AS en_chars,
        |  CAST(count(*) FILTER (WHERE lang = 'es') AS BIGINT) AS es_cnt,
        |  CAST(coalesce(sum(n_chars) FILTER (WHERE lang = 'es'), 0) AS BIGINT) AS es_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "x_win_dist" ->
      """SELECT o_orderstatus, o_orderkey, o_totalprice,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "x_agg_stats" ->
      """SELECT l_returnflag,
        |  round(stddev_samp(l_quantity), 4) AS sd_qty,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_agg_collect" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "x_agg_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_array_explode" ->
      """SELECT vec_id, CAST(i AS INTEGER) AS pos,
        |  round(CAST(embedding[i + 1] AS DOUBLE), 6) AS val
        |FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS i
        |      FROM embeddings WHERE vec_id < 20)
        |ORDER BY vec_id, pos""".stripMargin,
    "x_map_ops" ->
      """SELECT event_id,
        |  CAST(CASE WHEN k > 50 THEN 2 ELSE 1 END AS INTEGER) AS m_size,
        |  CASE WHEN k > 50 THEN 'et,k' ELSE 'et' END AS keys_csv,
        |  event_type AS et_val
        |FROM (SELECT event_id, event_type,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events WHERE event_id < 2000)
        |ORDER BY event_id""".stripMargin,
    "x_sample_hash" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE ${graft.functions.StableHash.md5Prefix60Sql("CAST(o_orderkey AS VARCHAR)")} % 100 < 20
         |ORDER BY o_orderkey""".stripMargin,
    "x_sample_stratified" ->
      s"""SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS user_sum
         |FROM events
         |WHERE ${graft.functions.StableHash.md5Prefix60Sql("CAST(event_id AS VARCHAR)")} % 100 <
         |  CASE event_type WHEN 'click' THEN 10 WHEN 'purchase' THEN 100 ELSE 50 END
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_agg_approx_percentile" ->
      """SELECT l_returnflag, true AS within_tol, CAST(0 AS BIGINT) AS tol_excess
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_sketch_union" ->
      "SELECT true AS within_tol, CAST(0 AS BIGINT) AS tol_excess",
    "x_bitmap_incremental" ->
      """WITH g AS (SELECT o_orderstatus, count(DISTINCT o_custkey) AS c
        |  FROM orders GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(c) AS BIGINT) AS sum_per_group,
        |  (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders) AS global_distinct
        |FROM g""".stripMargin,
    "x_topk_group" ->
      """SELECT o_orderstatus, rk, o_totalprice AS price, o_orderkey AS okey
        |FROM (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
        |  FROM orders)
        |WHERE rk <= 3 ORDER BY o_orderstatus, rk""".stripMargin,
    "x_cogroup" ->
      """WITH c AS (SELECT user_id, count(*) AS nc,
        |    sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS cc
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (SELECT user_id, count(*) AS np,
        |    sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS pc
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT user_id,
        |  CAST(coalesce(nc, 0) AS BIGINT) AS n_clicks,
        |  CAST(coalesce(cc, 0) AS BIGINT) AS click_cents,
        |  CAST(coalesce(np, 0) AS BIGINT) AS n_purchases,
        |  CAST(coalesce(pc, 0) AS BIGINT) AS purchase_cents,
        |  coalesce(nc, 0) > 0 AND coalesce(np, 0) > 0 AS engaged
        |FROM c FULL JOIN p USING (user_id)
        |ORDER BY user_id""".stripMargin,
    "x_join_salted" ->
      """WITH dim(o_orderstatus, status_desc) AS (VALUES
        |    ('F', 'fulfilled'), ('O', 'open'), ('P', 'pending'))
        |SELECT status_desc, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders JOIN dim USING (o_orderstatus)
        |GROUP BY status_desc ORDER BY status_desc""".stripMargin,
    "x_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bin,
        |  count(*) AS n,
        |  round(min(o_totalprice), 2) AS bin_min,
        |  round(max(o_totalprice), 2) AS bin_max
        |FROM orders GROUP BY 1 ORDER BY bin""".stripMargin,
    "x_grouping_sets" ->
      """SELECT coalesce(o_orderstatus, '(all)') AS status,
        |  coalesce(o_orderpriority, '(all)') AS priority,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin,
    "x_agg_bool" ->
      """SELECT o_orderstatus,
        |  bool_and(o_totalprice > 1000.0) AS all_over_1k,
        |  bool_or(o_totalprice > 400000.0) AS any_over_400k,
        |  CAST(count_if(o_totalprice > 200000.0) AS BIGINT) AS n_over_200k
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x_win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_order,
        |  last_value(o_orderkey) OVER w AS last_order,
        |  nth_value(o_orderkey, 2) OVER w AS second_order
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // arg_max in this DuckDB build lacks struct order keys; the window
    // formulation encodes the same (price, orderkey) tie-break
    "x_agg_minmax_by" ->
      """WITH r AS (SELECT o_orderstatus, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rmax,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice ASC, o_orderkey) AS rmin
        |  FROM orders)
        |SELECT o_orderstatus,
        |  max(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
        |  max(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM r GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x_histogram_eqdepth" ->
      """SELECT o_orderstatus, CAST(decile AS INTEGER) AS decile,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
        |FROM (SELECT o_orderstatus, o_totalprice,
        |    ntile(10) OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS decile
        |  FROM orders)
        |GROUP BY 1, 2 ORDER BY o_orderstatus, decile""".stripMargin,
    "x_unpivot" ->
      """SELECT 'l_discount' AS metric, round(sum(l_discount), 2) AS total FROM lineitem
        |UNION ALL SELECT 'l_extendedprice', round(sum(l_extendedprice), 2) FROM lineitem
        |UNION ALL SELECT 'l_quantity', round(sum(l_quantity), 2) FROM lineitem
        |ORDER BY metric""".stripMargin,
    "x_join_nullsafe" ->
      """SELECT k1 IS NULL AS null_key, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT k1) AS BIGINT) AS n_keys
        |FROM (SELECT CASE WHEN o_orderkey % 20 = 0 THEN NULL
        |    ELSE o_custkey END AS k1 FROM orders) a
        |JOIN (SELECT nullif(c_custkey, 20) AS k2 FROM customer) b
        |  ON k1 IS NOT DISTINCT FROM k2
        |GROUP BY 1 ORDER BY null_key""".stripMargin,
    "x_join_lateral" ->
      """SELECT o_orderkey, l_linenumber, round(price, 2) AS price
        |FROM orders o,
        |  LATERAL (SELECT l_linenumber, l_extendedprice AS price
        |           FROM lineitem WHERE l_orderkey = o.o_orderkey
        |           ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) l
        |WHERE o.o_orderpriority = '1-URGENT'
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,
    "x_string_agg" ->
      """WITH d AS (SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders),
        |ag AS (SELECT o_orderpriority,
        |    string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |  FROM d GROUP BY 1),
        |n AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, statuses, n
        |FROM ag JOIN n USING (o_orderpriority)
        |ORDER BY o_orderpriority""".stripMargin,
    "x_sql_not_in" ->
      """WITH sub AS (SELECT c_custkey AS x FROM customer
        |             WHERE c_custkey % 100 = 0
        |             UNION ALL SELECT CAST(NULL AS BIGINT))
        |SELECT
        |  (SELECT count(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT x FROM sub)) AS n_not_in,
        |  (SELECT count(*) FROM orders o WHERE NOT EXISTS (
        |     SELECT 1 FROM sub s WHERE s.x = o.o_custkey)) AS n_not_exists""".stripMargin,
    "x_sql_pipe" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents_sum
        |FROM lineitem WHERE l_quantity <= 25
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_sql_variables" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem WHERE l_quantity <= 30.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "x_sql_subquery" ->
      """SELECT o_orderkey, o_totalprice,
        |  (SELECT round(max(l_quantity), 2) FROM lineitem
        |   WHERE l_orderkey = o_orderkey) AS max_qty
        |FROM orders WHERE o_orderkey < 3000 ORDER BY o_orderkey""".stripMargin,
    "x_recursive_cte" ->
      """WITH RECURSIVE anc (k, a) AS (
        |  SELECT o_orderkey AS k, o_orderkey // 10 AS a
        |  FROM orders WHERE o_orderkey >= 10
        |  UNION ALL
        |  SELECT k, a // 10 FROM anc WHERE a >= 10
        |)
        |SELECT a, CAST(count(*) AS BIGINT) AS n_desc
        |FROM anc WHERE a BETWEEN 1 AND 99
        |GROUP BY a ORDER BY a""".stripMargin,
    "x_variant" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(k) AS BIGINT) AS k_sum, max(k) AS k_max,
        |  CAST(count(CASE WHEN k > 50 THEN 1 END) AS BIGINT) AS n_over_50
        |FROM (SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "x_timezone" ->
      """SELECT CAST(hour(timezone('America/Sao_Paulo', CAST(ts AS TIMESTAMPTZ))) AS INTEGER) AS local_hour,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY local_hour""".stripMargin,
    "x_quantile_norm" ->
      """SELECT o_orderstatus, o_orderkey,
        |  CAST(CAST(rk - 1 AS BIGINT) * 1000000 // greatest(cnt - 1, 1) AS BIGINT) AS pct_e6
        |FROM (SELECT o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY o_totalprice, o_orderkey) AS rk,
        |    count(*) OVER (PARTITION BY o_orderstatus) AS cnt
        |  FROM orders)
        |WHERE o_orderkey < 3000
        |ORDER BY o_orderstatus, o_orderkey""".stripMargin,
    "x_cumulative_uniques" ->
      """WITH ad AS (SELECT DISTINCT
        |    date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS d,
        |    user_id
        |  FROM events),
        |days AS (SELECT DISTINCT d FROM ad)
        |SELECT CAST(days.d AS INTEGER) AS d,
        |  CAST(count(DISTINCT ad.user_id) AS BIGINT) AS cum_uniques
        |FROM days JOIN ad ON ad.d <= days.d
        |GROUP BY days.d ORDER BY d""".stripMargin,
    "x_union_precedence" ->
      """WITH base AS (SELECT o_orderkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |u AS (SELECT o_orderkey, 'A' AS src, 1 AS pri, o_orderdate, cents
        |    FROM base WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey, 'B' AS src, 2 AS pri, o_orderdate, cents + 5
        |    FROM base WHERE o_orderkey % 2 = 0),
        |r AS (SELECT o_orderkey, src, cents,
        |    row_number() OVER (PARTITION BY o_orderkey
        |      ORDER BY pri, o_orderdate DESC) AS rk
        |  FROM u)
        |SELECT o_orderkey, src, cents FROM r
        |WHERE rk = 1 AND o_orderkey <= 600
        |ORDER BY o_orderkey""".stripMargin,
    "x_sql_filter_clause" ->
      """SELECT o_orderstatus,
        |  count(*) FILTER (WHERE o_totalprice > 200000.0) AS n_big,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_cents,
        |  min(o_orderkey) FILTER (WHERE o_orderkey % 2 = 0) AS min_even_key
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    "x_regex_dialect" ->
      """SELECT
        |  regexp_matches('a1b22c333', '^[a-z][0-9]') AS anchored_class,
        |  regexp_matches('a1b22c333', '[0-9]{3}') AS bounded_quant,
        |  regexp_matches('foo-bar', 'foo|baz') AS alternation,
        |  regexp_extract('key=val;k2=v2', '([a-z0-9]+)=([a-z0-9]+)', 2) AS group_2,
        |  regexp_replace('a  b   c', ' +', '_', 'g') AS collapse_ws,
        |  regexp_extract('x=17,y=42', 'y=([0-9]+)', 1) AS y_val""".stripMargin,
    "x_cast_matrix" ->
      """SELECT
        |  TRY_CAST('12abc' AS INTEGER) AS bad_int,
        |  TRY_CAST(' 42 ' AS INTEGER) AS trimmed_int,
        |  TRY_CAST('1e3' AS DOUBLE) AS exp_double,
        |  CAST(trunc(CAST(3.99 AS DOUBLE)) AS BIGINT) AS trunc_pos,
        |  CAST(trunc(CAST(-3.99 AS DOUBLE)) AS BIGINT) AS trunc_neg,
        |  CAST(floor(CAST(-3.01 AS DOUBLE)) AS BIGINT) AS floor_neg,
        |  CAST(round(CAST(2.5 AS DOUBLE)) AS BIGINT) AS round_half,
        |  CAST(round(CAST(-2.5 AS DOUBLE)) AS BIGINT) AS round_neg_half,
        |  TRY_CAST('true' AS BOOLEAN) AS bool_true,
        |  TRY_CAST('1' AS BOOLEAN) AS bool_one""".stripMargin,
    "x_bloom_filter" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_probed,
        |  CAST(sum(CASE WHEN o_custkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_members,
        |  CAST(0 AS BIGINT) AS false_negatives,
        |  true AS fp_within_contract
        |FROM orders""".stripMargin,
    "x_null_ordering" ->
      """WITH d AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 5 = 0 THEN NULL
        |      ELSE CAST(floor(o_totalprice) AS BIGINT) END AS v
        |  FROM orders WHERE o_orderkey <= 200)
        |SELECT o_orderkey, v,
        |  CAST(row_number() OVER (ORDER BY v ASC NULLS FIRST, o_orderkey) AS BIGINT) AS rn_nf,
        |  CAST(row_number() OVER (ORDER BY v ASC NULLS LAST, o_orderkey) AS BIGINT) AS rn_nl,
        |  CAST(row_number() OVER (ORDER BY v DESC NULLS LAST, o_orderkey) AS BIGINT) AS rn_dnl
        |FROM d ORDER BY o_orderkey""".stripMargin,
    "x_string_fns" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS len,
        |  upper(left(text, 10)) AS up10,
        |  right(text, 3) AS r3,
        |  reverse(left(text, 5)) AS rev5,
        |  split_part(text, ' ', 3) AS w3,
        |  CAST(strpos(text, 'e') AS BIGINT) AS pos_e,
        |  translate(left(text, 10), 'aeiou', '_____') AS tr10,
        |  lpad(CAST(doc_id AS VARCHAR), 6, '0') AS id_pad
        |FROM documents WHERE doc_id <= 50 ORDER BY doc_id""".stripMargin,
    "x_datetime_fns" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(year(o_orderdate) AS INTEGER) AS yr,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS mo,
        |  CAST(week(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  last_day(CAST(o_orderdate AS DATE)) AS eom,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 1 MONTH AS DATE) AS plus_1m,
        |  date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    AS days_since_95,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start
        |FROM orders WHERE o_orderkey <= 100
        |ORDER BY o_orderkey""".stripMargin,
    "x_distinct_on" ->
      """SELECT * FROM (
        |  SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_orderdate
        |  FROM orders WHERE o_custkey <= 200
        |  ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC)
        |ORDER BY o_custkey""".stripMargin,
    "x_window_nav" ->
      """SELECT o_custkey, o_orderkey,
        |  lag(cents, 2, -1) OVER w AS lag2,
        |  lead(cents, 1, -1) OVER w AS lead1,
        |  nth_value(cents, 3) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS nth3,
        |  last_value(maybe_cents IGNORE NULLS) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_seen
        |FROM (SELECT o_custkey, o_orderkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL
        |      ELSE CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END
        |      AS maybe_cents
        |  FROM orders WHERE o_custkey <= 150)
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "x_percentile_kinds" ->
      """SELECT l_returnflag AS flag,
        |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS DOUBLE)
        |    AS p25_disc,
        |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY cents), 6)
        |    AS p25_cont
        |FROM (SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem)
        |GROUP BY l_returnflag ORDER BY flag""".stripMargin,
    "x_group_by_all" ->
      """SELECT l_returnflag AS flag, l_linestatus AS status,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,
    "x_sql_recursive" ->
      """WITH RECURSIVE trans AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS prev
        |  FROM events),
        |edges AS (SELECT DISTINCT prev AS src, event_type AS dst
        |  FROM trans WHERE prev IS NOT NULL AND prev <> event_type),
        |reach(node, depth) AS (
        |  SELECT 'click' AS node, 0 AS depth
        |  UNION ALL
        |  SELECT e.dst, r.depth + 1
        |  FROM reach r JOIN edges e ON e.src = r.node
        |  WHERE r.depth < 3)
        |SELECT node, CAST(min(depth) AS BIGINT) AS hops,
        |  CAST(count(*) AS BIGINT) AS n_paths
        |FROM reach GROUP BY node ORDER BY node""".stripMargin,
    "x_sql_udf" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    // the literal expected read set: the minimal columns the star join
    // references — any extra row here means a scan stopped pruning
    "x_lineage" ->
      """SELECT * FROM (VALUES
        |  ('customer', 'c_custkey'), ('customer', 'c_nationkey'),
        |  ('lineitem', 'l_discount'), ('lineitem', 'l_extendedprice'),
        |  ('lineitem', 'l_orderkey'),
        |  ('nation', 'n_name'), ('nation', 'n_nationkey'),
        |  ('nation', 'n_regionkey'),
        |  ('orders', 'o_custkey'), ('orders', 'o_orderkey'),
        |  ('region', 'r_name'), ('region', 'r_regionkey'))
        |  AS t(table_name, col_name)
        |ORDER BY table_name, col_name""".stripMargin,
    // the de-sugared pivot: one conditional-CASE hash aggregation
    "x_sql_pivot" ->
      """SELECT o_orderstatus AS status,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS urgent_n,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END)
        |    AS BIGINT) AS urgent_cents,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS low_n,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW'
        |    THEN CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) END)
        |    AS BIGINT) AS low_cents
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "x_sql_lateral_alias" ->
      """SELECT o_orderkey,
        |  CAST(floor(o_totalprice) AS BIGINT) AS dollars,
        |  dollars * 2 AS doubled,
        |  doubled + o_orderkey AS mixed
        |FROM orders WHERE o_orderkey <= 100
        |ORDER BY o_orderkey""".stripMargin,
    "x_sql_exists" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x_typed_ds" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
        |FROM orders WHERE o_totalprice > 100000.0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "x_win_range" ->
      """SELECT o_custkey, o_orderkey, days,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY days
        |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS sum_31d
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(datediff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "x_map_explode" ->
      """WITH e AS (SELECT event_id, event_type,
        |    json_extract_string(props, '$.k') AS kstr,
        |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events WHERE event_id < 2000)
        |SELECT event_id, mkey, mval FROM (
        |  SELECT event_id, 'et' AS mkey, event_type AS mval FROM e
        |  UNION ALL
        |  SELECT event_id, 'k' AS mkey, kstr AS mval FROM e WHERE k > 50)
        |ORDER BY event_id, mkey""".stripMargin
  )
}
