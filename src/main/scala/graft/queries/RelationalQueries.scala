package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Relational coverage beyond the reference's surface (which has no
  * joins, distinct, rollup, sort/limit, or set operations —
  * SURVEY.md §2 coverage notes). These exercise the TPC-H-ish star
  * schema and are written scale-first:
  *
  *  - dimension sides of joins are `broadcast()` (region/nation/
  *    part/supplier/customer stay small relative to the fact tables
  *    even at 100 TB — they scale with catalog size, not event volume);
  *  - aggregates are plain `groupBy` so Catalyst plans partial+final
  *    hash aggregation (map-side combine before the shuffle);
  *  - filters and projections sit directly on the scan so they reach
  *    parquet (`PushedFilters`/`ReadSchema` — see PlanSpec);
  *  - top-k is `ORDER BY ... LIMIT k`, which Spark executes as
  *    TakeOrderedAndProject (per-partition heap + driver merge), never
  *    a global sort.
  *
  * Doubles that cross the DuckDB-oracle hash are rounded to 2 decimals
  * on both sides; ordering ties are broken by a unique key so row sets
  * are deterministic.
  */
object RelationalQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The derived partsupp CATALOG frame — (l_partkey, l_suppkey) →
    * (min unit price, total shipped qty) over the whole fact table —
    * materialized ONCE per (session, sf) and shared by q2/q9/q11/q16
    * (round 14). Each of those queries previously re-ran the same
    * 60M-row fact shuffle at sf10; like the shingle index and the
    * MinHash signature frame, the derivation is a one-time catalog
    * cost the family amortizes (the 320-partition A/B proved the
    * per-query cost was the repeated WORK, not spill). The frame is
    * |part|×|supplier|-bounded — catalog², never event volume — so
    * persisting it is cheap at any scale. Registered with
    * [[graft.model.Caches]]; Tables.clearCaches drops it with the
    * rest. */
  private val psMemo =
    new java.util.concurrent.ConcurrentHashMap[(Int, String), DataFrame]()
  graft.model.Caches.register(() => psMemo.clear())
  private def derivedPartsupp(s: SparkSession, dir: String): DataFrame =
    psMemo.computeIfAbsent((System.identityHashCode(s), dir), _ =>
      t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
        .agg(min(col("l_extendedprice") / col("l_quantity")).as("ps_supplycost"),
          sum(col("l_quantity")).as("ps_availqty"))
        .persist())

  /** Row-level integer-cents monetary term: `round(expr · 100)` per
    * ROW. The rounded value is a pure IEEE product chain over one
    * row's columns — no summation is involved, so it is bit-identical
    * in Spark and DuckDB — and everything summed afterwards is exact
    * BIGINT arithmetic, immune to partition fold order. This is the
    * q11_important_parts discipline, generalized after that query was
    * CAUGHT flipping on a half-cent boundary (306042.955) between two
    * verify sweeps: `round(sum(double))` is only probabilistically
    * safe whenever the summed terms carry cent fractions (binary-
    * inexact), because the final rounding can sit one ulp from a
    * .xx5 boundary that Spark's own fold order crosses run-to-run.
    * Monetary columns (l_extendedprice, c_acctbal, o_totalprice,
    * events.value) are cent-valued in this schema, so ·100 recovers
    * exact integers FOR BARE COLUMNS ONLY — a product of two 2-dp
    * terms carries four decimal digits and must use [[cents4]] or the
    * per-row rounding quantizes half a cent. l_quantity is
    * INTEGER-valued, so plain double sums of it are exact (integers
    * are closed under double addition up to 2^53) and stay in the
    * direct form. */
  private[queries] def cents(e: Column): Column = round(e * 100).cast("long")

  /** Exact integer cents back to the 2-dp double the result schema
    * declares — a single final division+round, no summed doubles. */
  private[queries] def money(sumCents: Column): Column =
    round(sumCents.cast("double") / 100.0, 2)

  /** Row-level EXACT scaling for a product of two 2-dp monetary terms
    * (price · (1±discount), or price·(1−disc) − supplycost·qty): the
    * exact value carries FOUR decimal digits, so [[cents]]' ·100 would
    * quantize up to half a cent per row and the aggregate drifts
    * ~√n·0.29 cents from the exact decimal sum. ·10000 keeps every row
    * exact in BIGINT (≈3·10⁸ per row, sums ≲2·10¹⁶ at sf10 — far
    * inside long range; the one final cast-to-double before the
    * display division rounds to nearest identically in both engines,
    * and 2-dp display rounding is exact at these magnitudes). Same
    * bit-determinism argument as [[cents]]: the rounded value is a
    * pure per-row IEEE product chain, everything summed afterwards is
    * integer arithmetic immune to fold order. */
  private[queries] def cents4(e: Column): Column = round(e * 10000).cast("long")

  /** Exact 4-dp integer units back to the 2-dp display double. */
  private[queries] def money4(sum4: Column): Column =
    round(sum4.cast("double") / 10000.0, 2)

  /** [[money4]] with the 2-dp HALF-UP decision made in EXACT integer
    * arithmetic instead of `round(double, 2)`. The double path is
    * engine-divergent at a narrow edge: Spark rounds the exact binary
    * value of sum/10⁴ (BigDecimal HALF_UP) while DuckDB rounds
    * x·10² — when the product rounds up to exactly .5 but the exact
    * value sits just below it, the two engines disagree by one cent
    * (caught at sf0.001: q9_product_profit row at …5645.0/10⁴, the
    * r16 inherited-state fix). Here the half-up happens on the BIGINT
    * sum itself — cents = (|s|+50) div 100, computed in BIGINT floor
    * division exactly like the oracle's (|s|+50)//100 (r17, advice
    * fix: the old form divided the multiple-of-100 long as
    * double(n)/100.0, which matches the oracle's exact quotient only
    * while n ≤ 2⁵³; `div` keeps the whole chain integer until the one
    * final ≤2⁵³-ranged value converts to double, so Spark and DuckDB
    * run the same IEEE ops on identical operands at any magnitude the
    * BIGINT sum can reach). The matching oracle text uses the same
    * integer form. */
  private[queries] def money4Exact(sum4: Column): Column = {
    val mag = abs(sum4) + lit(50L)
    val cents = call_function("div", mag, lit(100L))
    (when(sum4 < 0, lit(-1.0)).otherwise(lit(1.0)) * cents) / lit(100.0)
  }

  /** Write `src` as an EXTERNAL bucketed table (16 buckets on `key`,
    * bucket-sorted) with a per-sf name and path, and return the table
    * name. External + DROP-IF-EXISTS because a fresh session's empty
    * in-memory catalog must always be able to re-create it — a
    * managed table trips LOCATION_ALREADY_EXISTS on the leftover
    * directory. Shared by q_bucketed_join / q_bucketed_agg, and
    * written ONCE PER JVM per (sf, src): "pay the layout at write
    * time, then every join and aggregate on the bucket key rides it"
    * is the operator's entire cost model, so repeat invocations in
    * the same session (the bench's warm passes, the agg after the
    * join) must reuse the layout, not silently pay the write again.
    * The source parquet under an sf dir never changes within a run,
    * so the cache key (sf tag, src) is sound.
    */
  private val bucketedWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  /** Per-layout write locks: the write-once check is check-then-act on
    * JVM-global state, so two sessions racing the same table would both
    * see "not written yet" and DROP+overwrite a path the other is mid-
    * write on (q_bucketed_join and q_bucketed_agg share the lineitem
    * layout). The per-key monitor serializes writers; losers re-check
    * under the lock and ride the winner's layout. */
  private val layoutLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def layoutLock(key: String): Object =
    layoutLocks.computeIfAbsent(key, _ => new Object)
  private def bucketedTable(
      s: SparkSession, dir: String, src: String, key: String): String = {
    val sfTag = new java.io.File(dir).getName.replace('.', '_')
    val tbl = s"b_${src}_$sfTag"
    layoutLock(tbl).synchronized {
      val freshJvm = bucketedWritten.add(tbl) // false → this JVM wrote it already
      if (freshJvm || !s.catalog.tableExists(tbl)) {
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        t(s, dir, src)
          // repartition on the bucket key to the bucket count (r16,
          // guide §6 output layout): Spark's bucket id uses the same
          // Murmur3 hash as HashPartitioning, so each of the 16 write
          // tasks holds exactly one bucket's rows — the write
          // parallelizes 16-way (measured 3.1 s as a 3-task write on
          // the raw scan splits) and each bucket lands in ONE file
          // instead of one per input split. Table contents unchanged.
          .repartition(16, col(key))
          .write.mode("overwrite")
          .option("path", new java.io.File(s"target/layout/$tbl").getAbsolutePath)
          .bucketBy(16, key).sortBy(key)
          .saveAsTable(tbl)
      }
    }
    tbl
  }

  /** Hive-partitioned events layout for q_partition_prune, written once
    * per JVM per sf (same memo discipline as [[bucketedTable]]): the
    * query's cost model is "pay the partitioned write once, then every
    * pruned read rides the directory structure" — rewriting inside the
    * query lambda made warm/bench timings measure the WRITE, and a
    * concurrent invocation could overwrite a layout another reader is
    * scanning. */
  private val pruneWritten =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def prunedEventsLayout(s: SparkSession, dir: String): String = {
    val path = s"target/layout/prune_${new java.io.File(dir).getName}"
    layoutLock(path).synchronized {
      if (pruneWritten.add(path)) {
        Tables.load(s, dir, "events")
          .withColumn("etype", col("event_type"))
          .write.mode("overwrite").partitionBy("etype").parquet(path)
      }
    }
    path
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan-heavy grouped aggregate with arithmetic
    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          // l_quantity is integer-valued → the double sum is exact
          // (integers close under double addition to 2^53); the
          // monetary sums carry cent fractions → integer cents (see
          // [[cents]] — the q11 ulp-lottery discipline)
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          money(sum(cents(col("l_extendedprice")))).as("sum_base_price"),
          money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))))
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q3 shape: fact-fact join + broadcast dim, grouped revenue, top-10
    "q3_top_revenue" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),

    // TPC-H Q5 shape: 6-table join, dims broadcast, revenue per
    // nation. JOIN ORDER is the lever (round-14 verdict: 17× at sf10
    // with dims broadcast but applied ABOVE the fact-fact shuffle):
    // the region→nation→supplier chain and the region→nation→customer
    // chain are each folded into their fact side FIRST, so only the
    // ~1/5 of lineitem with an ASIA supplier and the ~1/5 of orders
    // with an ASIA customer reach the one unavoidable fact-fact
    // shuffle — a 5× reduction on both shuffle inputs that Catalyst
    // cannot derive itself (it would need the r_name selectivity to
    // reorder a broadcast below a shuffle join). The residual
    // c_nationkey = s_nationkey equality stays a post-join filter,
    // exactly as in the oracle.
    "q5_region_revenue" -> ((s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val asiaSupp = t(s, dir, "supplier")
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(asiaNations.select("n_nationkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
      val li = t(s, dir, "lineitem")
        .join(broadcast(asiaSupp), col("l_suppkey") === col("s_suppkey"))
      val ord = t(s, dir, "orders")
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .filter(col("c_nationkey") === col("s_nationkey"))
        .groupBy("n_name")
        .agg(money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"))
    }),

    // broadcast-dim join + grouped agg
    "q_brand_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // anti join: customers that never ordered, per segment
    "q_anti_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
    }),

    // semi join: customers with at least one open order, per segment
    "q_semi_join" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      cust.join(open, cust("c_custkey") === open("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"))
    }),

    // distinct aggregation
    "q_distinct_counts" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("cnt"))),

    // KMV distinct-count sketch: unlike countDistinct (whose partial
    // state is the full distinct set, shuffled in its entirety), the
    // sketch shuffles at most k=64 longs per (partition × group) — the
    // 100 TB approximate-distinct path. The key hash is plain column
    // arithmetic so the oracle replicates it; the estimator's integer
    // arithmetic is in the query for the same reason.
    "q_distinct_kmv" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(
          col("l_returnflag"),
          ((col("l_orderkey") * lit(2654435761L) + lit(104729L)) % lit(2147483647L)).as("h"))
        .groupBy("l_returnflag")
        .agg(graft.functions.Sketches.kmvMinima(col("h"), 64).as("minima"))
        .select(
          col("l_returnflag"),
          size(col("minima")).cast("long").as("n_minima"),
          element_at(col("minima"), size(col("minima"))).as("kth_min"))
        .select(
          col("l_returnflag"),
          col("n_minima"),
          col("kth_min"),
          when(col("n_minima") < 64, col("n_minima"))
            // (k-1)·M as one pre-folded BIGINT literal: 63·(2^31−1) —
            // the int×int form overflows under ANSI mode
            .otherwise(expr("135291469761 div kth_min"))
            .as("est_distinct"))),

    // HyperLogLog distinct-count sketch (p=8 → 256 1-byte registers):
    // the industry-standard approximate-distinct — where KMV shuffles
    // its k minima, HLL shuffles a fixed 256-byte register array per
    // (partition × group) and merges by elementwise max (idempotent,
    // so replayed/duplicated inputs cannot skew it). Same key hash as
    // KMV; the raw estimator α_m·m²/Σ2^(−M_j) is derived IN the query:
    // the harmonic sum is a sum of dyadic rationals — exact in a
    // double in any order — and α's defining expression is evaluated
    // identically by both engines, so even this "floating-point"
    // estimate is deterministic. (The small-range ln-correction is
    // deliberately omitted: it would be the one transcendental step;
    // n_zero_regs is emitted so a consumer can apply it.)
    "q_distinct_hll" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(
          col("l_returnflag"), col("l_orderkey"),
          ((col("l_orderkey") * lit(2654435761L) + lit(104729L)) % lit(2147483647L)).as("h"))
        .groupBy("l_returnflag")
        .agg(
          graft.functions.Sketches.hllRegisters(col("h"), p = 8).as("regs"),
          countDistinct(col("l_orderkey")).as("exact_distinct"))
        .select(
          col("l_returnflag"),
          col("exact_distinct"),
          expr("size(filter(regs, r -> r = 0L))").cast("long").as("n_zero_regs"),
          expr("round((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / " +
            "aggregate(regs, cast(0.0 as double), " +
            "(acc, r) -> acc + 1.0 / cast(shiftleft(1L, cast(r as int)) as double)), 2)")
            .as("hll_estimate"))),

    // grouping sets via ROLLUP (subtotals + grand total)
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))),

    // CUBE — all 2^n grouping combinations, completing the multi-
    // dimensional aggregate family (rollup / grouping sets / cube).
    // Same single Expand + hash-aggregate plan as the other two: the
    // shuffle carries one pre-aggregated row per (grouping id, keys),
    // never the fact table times 2^n.
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"))),

    // SCD2 / temporal-table build: a keyed changelog becomes validity
    // intervals — each version is valid from its own date until the
    // next version's date (NULL = still current). One per-key window
    // (lead), shuffle keyed on the entity — parallelism is #keys, no
    // global sort anywhere; ties inside a key are broken by orderkey so
    // the intervals are deterministic. This is the batch construction
    // of the temporal table a stream-side as-of join probes
    // (q_asof_join consumes exactly this shape).
    "q_scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("valid_from"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_orderdate").as("valid_from"))
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull.cast("long"))
    }),

    // salted skew join: a hot probe-side key floods one reducer in a
    // plain shuffle join; salting splits each key's rows across S=8
    // shards (stable row-derived salt, never random()) and replicates
    // the build side ×S so every shard can still match — the join is
    // EXACT, which is what the oracle (the unsalted join) proves. The
    // shuffle_hash hint keeps the demo on the shuffled path (Catalyst
    // would otherwise broadcast this small build side and the salt
    // would be dead weight); at 100 TB with a dim too big to broadcast
    // and AQE's skew threshold exceeded, this is the manual fix.
    "q_salted_join" -> ((s, dir) => {
      val S = 8
      val li = t(s, dir, "lineitem").withColumn("_salt", pmod(col("l_orderkey"), lit(S)))
      val p = t(s, dir, "part")
        .withColumn("_salt", explode(array((0 until S).map(lit(_)): _*)))
      li.join(p.hint("shuffle_hash"),
          li("l_partkey") === p("p_partkey") && li("_salt") === p("_salt"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // GROUPING SETS beyond the rollup hierarchy: two NON-nested
    // aggregation grains — per return flag AND per line status — in one
    // pass over the fact table (ROLLUP/CUBE can't express an arbitrary
    // grain list). Catalyst plans one Expand (×2 rows) feeding a single
    // partial+final hash aggregate, i.e. one shuffle for both grains,
    // where two separate groupBys would scan and shuffle twice. The
    // per-column grouping() indicator disambiguates a genuine NULL key
    // from a rolled-up one — emitted as two 0/1 columns rather than the
    // packed grouping_id bitmask so the oracle is convention-proof.
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"), count(lit(1)).as("cnt"),
          grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"))),

    // set operations: INTERSECT / EXCEPT / UNION ALL in one result
    "q_set_ops" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val o = ord.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("custkey")).distinct()
      val f = ord.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey")).distinct()
      o.intersect(f).withColumn("tag", lit("both"))
        .unionByName(o.except(f).withColumn("tag", lit("only_open")))
        .select("tag", "custkey")
    }),

    // analytic ranking window over a broadcast join
    "q_rank_suppliers" -> ((s, dir) => {
      val supp = t(s, dir, "supplier")
      val nation = t(s, dir, "nation")
      val w = Window.partitionBy(col("n_regionkey"))
        .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      supp.join(broadcast(nation), supp("s_nationkey") === nation("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"), col("n_regionkey"), col("s_acctbal"))
        .withColumn("rn", row_number().over(w))
        .select("s_suppkey", "n_name", "rn")
    }),

    // top-k: TakeOrderedAndProject, not a global sort
    "q_topk_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // fact-fact join + broadcast dim + grouped revenue + top-k
    "q10_returned_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q17 shape: correlated scalar subquery (per-part average
    // quantity) — Catalyst decorrelates into an aggregate + join, no
    // per-row subquery execution
    "q17_small_quantity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val avgQty = li.groupBy(col("l_partkey").as("p_key"))
        .agg((avg(col("l_quantity")) * 0.5).as("half_avg"))
      li.join(avgQty, li("l_partkey") === avgQty("p_key"))
        .filter(col("l_quantity") < col("half_avg"))
        .agg(round(sum(cents(col("l_extendedprice"))).cast("double") / 700.0, 2)
          .as("avg_yearly"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    // zero-order customers. Written scale-first: orders pre-aggregate
    // to one (custkey, count) row BEFORE the outer join — the shuffle
    // carries map-side-combined partials, never raw order rows — and
    // the orderless bucket comes from coalescing the unmatched side.
    // The naive outer-join-then-count formulation shuffles the whole
    // fact table; at 100 TB that difference is the whole game.
    "q13_customer_orders_dist" -> ((s, dir) => {
      val perCust = t(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      t(s, dir, "customer")
        .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(coalesce(col("n"), lit(0L)).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }),

    // TPC-H Q14 shape: conditional aggregation (promo revenue share)
    // over a month of shipments — CASE inside the sum, one broadcast
    // dim join, scalar output. The month predicate sits on the scan
    // (timestamp pushdown); the part side broadcasts, so the fact
    // table streams once with no shuffle at all (global agg = one
    // partial per task + driver-side final).
    "q14_promo_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-09-01").cast("timestamp") &&
          col("l_shipdate") < lit("1995-10-01").cast("timestamp"))
      val part = t(s, dir, "part")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .agg(
          // both operands of the share are EXACT integer cent sums;
          // the single division + round is then bit-deterministic
          round(coalesce(
            lit(100.0) * sum(when(col("p_type") === "PROMO", cents4(rev))).cast("double")
              / sum(cents4(rev)).cast("double"),
            lit(0.0)), 2).as("promo_pct"),
          count(lit(1)).as("n_lines"))
    }),

    // TPC-H Q18 shape: large-volume orders — aggregate lineitem per
    // order, threshold on the SUM (a HAVING subquery), then join the
    // survivors back to orders + customer. The quantity aggregate is
    // map-side combined on the natural join key, so the threshold
    // prunes to a tiny survivor set BEFORE any wide row moves; the
    // customer dim broadcasts onto it; top-k is TakeOrderedAndProject.
    "q18_large_volume" -> ((s, dir) => {
      val big = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey").as("k"))
        .agg(sum(col("l_quantity")).as("tq"))
        .filter(col("tq") > 150)
      val ord = t(s, dir, "orders")
      t(s, dir, "customer").join(ord, col("c_custkey") === ord("o_custkey"))
        .join(big, ord("o_orderkey") === col("k"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"), round(col("tq"), 2).as("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    // TPC-H Q19 shape: disjunctive (OR-of-ANDs) brand/size/quantity
    // predicate blocks as the join condition. Catalyst extracts the
    // common l_partkey = p_partkey equi-conjunct, so this plans as a
    // broadcast HASH join with the disjunction as a post-join filter —
    // never a nested-loop over the fact table — and the per-side
    // conjuncts (quantity bounds on lineitem) are pushed to the scans.
    // Sum coalesced so the empty-match corpus still yields the one
    // deterministic scalar row.
    "q19_discounted_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val part = t(s, dir, "part")
      val blocks =
        (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#34" && col("p_size").between(1, 15) &&
          col("l_quantity").between(20, 30))
      li.join(broadcast(part), li("l_partkey") === part("p_partkey") && blocks)
        .agg(
          money4(coalesce(
            sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))), lit(0L)
          )).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // lead/lag analytics: average inter-event gap per type (event-time
    // sequence analysis over the stream table). Uses the chunked lag
    // operator — a plain per-key OVER serializes each of the 5 event
    // types into one sorted task (Windows.lagUsChunked scaladoc).
    "q_lag_gap" -> ((s, dir) =>
      graft.ops.Windows
        .lagUsChunked(Tables.load(s, dir, "events"), col("ts"), col("event_type"), 300L)
        .filter(col("prev_us").isNotNull)
        // gaps stay EXACT integer microseconds through the aggregate
        // (avg(double) is the same partition-fold-order ulp lottery as
        // round(sum(double)) — see [[cents]]); the single division
        // chain at the end is bit-deterministic
        .withColumn("gap_us", col("_us") - col("prev_us"))
        .groupBy("event_type")
        .agg(round(sum(col("gap_us")).cast("double")
            / count(lit(1)).cast("double") / 1e6, 3).as("avg_gap_s"),
          round(max(col("gap_us")).cast("double") / 1e6, 3).as("max_gap_s"),
          count(lit(1)).as("n_gaps"))),

    // pushdown showcase: selective filter + narrow projection on the scan
    "q_filter_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity") > 45 && col("l_discount") < 0.02)
        .groupBy("l_linestatus")
        .agg(count(lit(1)).as("cnt"), money(sum(cents(col("l_extendedprice")))).as("sum_price"))),

    // AS-OF join — for each event, the user's most recent order as of
    // the event time (ties on date broken by max order key). Spark has
    // no ASOF operator; the scalable composition is the union-merge:
    // tag both sides, sort per key by (ts, tag, key), and carry the
    // last order key forward with last(ignoreNulls) — one shuffle on
    // the join key, no range explosion, O(n log n) per key like a
    // sort-merge join. (Key cardinality here is users — high — so the
    // per-key window parallelizes; contrast q_lag_gap's chunking for
    // low-cardinality keys.)
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id").as("k"), col("ts"), lit(1).as("tag"),
          col("event_id"), lit(null).cast("long").as("okey"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("k"), col("o_orderdate").as("ts"), lit(0).as("tag"),
          lit(null).cast("long").as("event_id"), col("o_orderkey").as("okey"))
      val w = Window.partitionBy("k")
        .orderBy(col("ts"), col("tag"), col("okey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.unionByName(ord)
        .withColumn("asof_orderkey", last(col("okey"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1)
        .select(col("event_id"), col("k").as("user_id"), col("asof_orderkey"))
    }),

    // exact distributed median — histogram formulation: counts per
    // (group, value) first (map-side partial + one shuffle of DISTINCT
    // values, not rows), then a cumulative window over the per-group
    // value histogram (orders of magnitude smaller than the data) to
    // locate the middle positions. A naive per-group sort would
    // serialize each of the 3 return flags into one task; this plan's
    // heavy lifting is a plain hash aggregate.
    "q_median_price" -> ((s, dir) => {
      // RANGE-BUCKET RANK SELECTION (r17) — the q_value_ntile pattern
      // applied to the median: the old histogram form
      // (groupBy(flag, price) → two flag-partitioned windows) barely
      // compressed (594 330 distinct (flag, price) of 600 000 rows at
      // sf0.1), so it shuffled virtually the whole table into THREE
      // window tasks and sorted it there — measured 1.14 s warm, the
      // 3-task serialization the r16 chunked-cumsum experiment tried
      // (and failed) to fix by parallelizing the SAME full-size
      // window input. This form never materializes the value
      // histogram at all (guide §2.3 — shuffle fewer bytes):
      //   1. per flag: (min, max, n) — one map-side-combined pass;
      //   2. per (flag, range-bucket of v): counts — second pass,
      //      ≤ flags×64 rows out;
      //   3. running offsets over those ≤192 aggregate rows locate
      //      the bucket(s) holding ranks lo=(n+1)/2, hi=(n+2)/2;
      //   4. only rows of the ≤2 boundary buckets per flag (~n/64)
      //      are shuffled and rank-numbered; v at global rank
      //      off+row_number = the exact order statistic (equal
      //      values share a bucket, so any within-bucket tie order
      //      yields the same VALUE at a given rank).
      // Identical output by construction: the same lo/hi arithmetic
      // on the same n, picking the same lo-th/hi-th smallest v from
      // the same multiset (oracle-proven at both decades). Worst
      // case (all mass in one bucket) degrades to exactly the old
      // plan's window size; typical case shuffles 1/64 of it.
      val nB = 64
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      val stats = li.groupBy("l_returnflag").agg(
        min(col("v")).as("vmin"), max(col("v")).as("vmax"),
        count(lit(1)).as("n"))
      val bkt = when(col("vmax") === col("vmin"), lit(0))
        .otherwise(least(
          floor((col("v") - col("vmin")) /
            ((col("vmax") - col("vmin")) / nB)).cast("int"),
          lit(nB - 1)))
      val bucketed = li.join(broadcast(stats), "l_returnflag")
        .withColumn("bkt", bkt)
      val bcnt = bucketed.groupBy(col("l_returnflag"), col("bkt"))
        .agg(count(lit(1)).as("c"), max(col("n")).as("n"))
      val wOff = Window.partitionBy("l_returnflag").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val lo = ((col("n") + 1) / 2).cast("long") // (n+1)/2 exact in double for n << 2^52
      val hi = ((col("n") + 2) / 2).cast("long")
      val marked = bcnt
        .withColumn("off", coalesce(sum(col("c")).over(wOff), lit(0L)))
        .withColumn("lo", lo).withColumn("hi", hi)
        .filter((col("off") < col("lo") && col("off") + col("c") >= col("lo")) ||
                (col("off") < col("hi") && col("off") + col("c") >= col("hi")))
        .select(col("l_returnflag"), col("bkt"), col("off"),
          col("lo"), col("hi"))
      val wRn = Window.partitionBy(col("l_returnflag"), col("bkt"))
        .orderBy(col("v"))
      bucketed.join(broadcast(marked), Seq("l_returnflag", "bkt"))
        .withColumn("r", col("off") + row_number().over(wRn))
        .filter(col("r") === col("lo") || col("r") === col("hi"))
        .groupBy("l_returnflag")
        // prices are exact 2-decimal values, so the lo/hi midpoint has
        // at most 3 decimals: round(…, 3) is tie-free on both engines,
        // where round(…, 2) would hit a genuine .xx5 half-tie whenever
        // lo+hi lands on an odd cent (seen at sf0.001)
        .agg(round(
          (max(when(col("r") === col("lo"), col("v"))) +
           max(when(col("r") === col("hi"), col("v")))) / 2.0,
          3).as("median_price"))
    }),

    // exact quantile VECTOR (p25/p50/p75/p90/p99) per group — the
    // histogram-median pattern generalized: one hash aggregate builds
    // the (group, value) histogram, windows run over the histogram
    // ONLY (≤ distinct-values rows per group, never the raw table),
    // and each quantile is "the value at rank ⌈p·n/100⌉" picked by a
    // cumulative-count range test. No per-group row sort exists at any
    // scale; rank arithmetic is integer-exact ((n·p+99) floor-div 100,
    // exact in double for n·p ≪ 2⁵²) so the result is engine-identical
    // with no interpolation to reconcile.
    "q_quantiles_exact" -> ((s, dir) => {
      val counts = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").as("v"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy("l_returnflag").orderBy("v")
      val wAll = Window.partitionBy("l_returnflag")
      val d = counts
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(wAll))
      def at(p: Int, name: String) = {
        val rp = ((col("n") * p + 99) / 100).cast("long")
        max(when(col("cum") >= rp && col("cum") - col("c") < rp, col("v"))).as(name)
      }
      val aggs = Seq(at(25, "p25"), at(50, "p50"), at(75, "p75"),
        at(90, "p90"), at(99, "p99"), max(col("n")).as("n_rows"))
      d.groupBy("l_returnflag").agg(aggs.head, aggs.tail: _*)
    }),

    // QUANTILE SKETCH (bottom-k hash sample): q_quantiles_exact's
    // histogram is the right plan while |distinct values| is bounded;
    // when the value domain is unbounded (latencies, prices) the
    // histogram IS the data and the 100 TB path is a mergeable
    // fixed-size sample. Sampling by k smallest row-hashes is the
    // deterministic, merge-order-free form (bottom-k of a union =
    // merge of bottom-k's — the same property KMV exploits), so the
    // same TypedImperativeAggregate carries it: pack (hash, value)
    // into one long (value ∈ [0,64) rides the low 6 bits; ordering is
    // by hash first, so the sample stays uniform), keep the 256
    // smallest per group, unpack and read ranks ⌈p·m/100⌉ from the
    // sorted sample. Per (partition × group) the shuffle carries ≤
    // 256 longs regardless of input size or value cardinality.
    "q_quantiles_sketch" -> ((s, dir) => {
      val packed = t(s, dir, "lineitem")
        .select(
          col("l_returnflag"),
          // row id folds in l_partkey: (orderkey, linenumber) is not
          // unique in the harness data; residual full-row collisions
          // just merge sample entries and replay in the oracle. The
          // id is mod-reduced BEFORE the multiplier so the product
          // stays under 2^63 (ANSI overflow; DuckDB BIGINT likewise)
          (((((col("l_orderkey") * 8 + col("l_linenumber")) * lit(200001L)
            + col("l_partkey")) % lit(2147483647L))
            * lit(2654435761L) + lit(104729L))
            % lit(2147483647L)).as("h"),
          col("l_quantity").cast("long").as("q"))
        .select(col("l_returnflag"), (col("h") * 64 + col("q")).as("key"))
      val ranks = Seq(25, 50, 75, 90, 99)
      val est = ranks.map(p => element_at(col("vals"),
        ((col("m") * p + 99) / 100).cast("int")).as(s"p$p"))
      packed
        .groupBy("l_returnflag")
        .agg(graft.functions.Sketches.kmvMinima(col("key"), 256).as("ks"))
        .select(col("l_returnflag"),
          array_sort(transform(col("ks"), x => x % 64)).as("vals"),
          size(col("ks")).cast("long").as("m"))
        .select(col("l_returnflag") +: est :+ col("m").as("n_sample"): _*)
    }),

    // changelog → snapshot compaction: latest order per customer, via
    // the native argmax aggregate (graft.functions.ArgMax). The window
    // formulation (row_number ... = 1) would sort every customer's
    // full history, and max(struct)/max_by are DeclarativeAggregates
    // whose struct buffer forces a SortAggregate fallback — ArgMax is
    // a TypedImperativeAggregate, so the plan is ObjectHashAggregate:
    // map-side partial combine, ONE shuffle of one (ordering, payload)
    // pair per (partition × customer), no sort (PlanSpec pins this).
    // Tie-break on (o_orderdate, o_orderkey) is total: keys are unique.
    "q_latest_snapshot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(graft.functions.ArgMax.argMax(
          struct(col("o_orderkey"), col("o_orderdate"),
            col("o_orderstatus"), col("o_totalprice")),
          struct(col("o_orderdate"), col("o_orderkey"))).as("m"))
        .select(col("o_custkey"),
          col("m.o_orderkey").as("last_orderkey"),
          col("m.o_orderdate").as("last_orderdate"),
          col("m.o_orderstatus").as("last_status"),
          round(col("m.o_totalprice"), 2).as("last_totalprice"))),

    // per-group statistical MODE — most frequent quantity per return
    // flag — as TWO stacked aggregates: value-frequency counts (hash
    // agg, map-side combined), then the native ArgMax over (freq,
    // ¬value) per flag. No per-group sort, no window: the second
    // aggregate's input is already one row per (flag, value), so at
    // 100 TB the heavy shuffle is the first (bounded by the value
    // domain) and the argmax reduces #distinct-values rows per flag to
    // one. Tie-break: highest freq, then SMALLEST value (negated in
    // the ordering struct), total and engine-independent.
    "q_mode_quantity" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity").as("q"))
        .agg(count(lit(1)).as("freq"))
        .groupBy(col("l_returnflag"))
        .agg(graft.functions.ArgMax.argMax(
          struct(col("q"), col("freq")),
          struct(col("freq"), (-col("q")).as("nq"))).as("m"))
        .select(col("l_returnflag"),
          col("m.q").as("mode_quantity"),
          col("m.freq").as("mode_freq"))),

    // FULL OUTER join: the reconciliation shape — every supplier and
    // every nation key present on either side survives, unmatched
    // sides padded with NULLs. Aggregated to per-nation counts with a
    // has-suppliers flag so the null-padding is observable in the
    // oracle. Catalyst plans a shuffled sort-merge join (full outer
    // can't broadcast); both sides shuffle once on the key.
    "q_full_outer_join" -> ((s, dir) => {
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      nat.join(sup, nat("n_nationkey") === sup("s_nationkey"), "full_outer")
        .groupBy(col("n_name"))
        .agg(count(col("s_suppkey")).as("n_suppliers"),
          max(col("n_regionkey")).as("regionkey"))
    }),

    // interval (time-range) join: clicks attributed to each purchase of
    // the same user within the trailing 30 minutes. A naive range join
    // is a BroadcastNestedLoopJoin (all pairs per user); the scalable
    // formulation BUCKETIZES time by the frame width so the range
    // condition becomes an equi-join: a click lives in one bucket, a
    // purchase probes its own bucket and the previous one (a trailing
    // frame equal to the bucket width can only span two), and the exact
    // range predicate filters the candidates. Shuffle is ∝ rows × 2,
    // never users², and PlanSpec asserts the BNLJ shape never returns.
    "q_interval_join" -> ((s, dir) => {
      val frameUs = 30L * 60 * 1000000 // 30 min, also the bucket width
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("c_us"))
        .withColumn("bkt", floor(col("c_us") / frameUs))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("p_us"))
        .withColumn("bkt", explode(array(
          floor(col("p_us") / frameUs), floor(col("p_us") / frameUs) - 1)))
      purchases.join(clicks, Seq("user_id", "bkt"), "left")
        .groupBy("event_id", "user_id")
        .agg(sum(when(col("c_us").isNotNull &&
            col("c_us") >= col("p_us") - frameUs && col("c_us") < col("p_us"), 1L)
          .otherwise(0L)).as("n_clicks_30m"))
    }),

    // as-of join, DE-SKEWED: each purchase matched to the LATEST click
    // at-or-before it for the same user. q_asof_join is the union-merge
    // form — one window per join key, which serializes a hot key into
    // a single sorted task. This variant is the low-key-cardinality /
    // hot-key scale shape (the lagUsChunked idea applied to as-of):
    // union both sides, partition by (user, 30-min time chunk) so
    // parallelism scales with the time span, take the running max
    // click time inside the chunk (clicks sort before purchases at
    // equal timestamps, making the match at-or-before inclusive), and
    // carry the latest earlier-chunk click in via a chunk-level frame
    // (one row per non-empty (user, chunk), joined back broadcast —
    // rows ∝ active chunks, never events). DuckDB's native ASOF JOIN
    // is the oracle.
    "q_asof_join_chunked" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("key"), unix_micros(col("ts")).as("us"),
          col("event_id").as("id"))
      graft.ops.Windows.asofUsChunked(purchases, clicks, chunkUs = 30L * 60 * 1000000)
        .select(col("id").as("event_id"), col("key").as("user_id"),
          col("us").as("purchase_us"),
          col("asof_us").as("click_us"),
          (col("us") - col("asof_us")).as("gap_us"))
    }),

    // Z-ORDER layout audit: would interleaved-bit clustering beat the
    // default time-sorted file layout for point queries on a second
    // dimension? The data-layout decision behind Delta/Iceberg
    // OPTIMIZE ZORDER, measured instead of assumed: quantize
    // (user_id, hour) to 8 bits each (min/max scalars broadcast),
    // interleave the bits into a 16-bit z-value, split the corpus into
    // 32 files by z-range (vs 32 files by time-range), collect per-file
    // min/max of the user dimension — the stats a scan planner prunes
    // with — and count, over 16 evenly-spread probe users, how many
    // files a `user_id = ?` query must touch under each layout. Pure
    // map + two tiny aggregates; at 100 TB this is the audit you run
    // BEFORE rewriting petabytes into a new layout. The time-sorted
    // layout spreads every user across all files (each probe touches
    // ~32); z-order bounds each user to the files sharing its high
    // bits — the measured gap is the operator's output.
    "q_zorder_layout" -> ((s, dir) => {
      import graft.functions.KernelExpressions.longDiv
      val ev = Tables.load(s, dir, "events")
        // integer `div`, not `/`+floor: the double path matches DuckDB's
        // `//` only while the numerator stays under 2^53 — a future id
        // range could silently diverge the engines
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .withColumn("hr", longDiv(col("us"), lit(3600000000L)))
      val bounds = ev.agg(
        min(col("user_id")).as("umin"), max(col("user_id")).as("umax"),
        min(col("hr")).as("hmin"), max(col("hr")).as("hmax"))
      def q8(c: Column, lo: Column, hi: Column): Column =
        longDiv((c - lo) * 256L, hi - lo + 1L)
      def interleave16(a: Column, b: Column): Column =
        (0 until 8).foldLeft(lit(0L): Column)((acc, i) =>
          acc + (shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)) +
            (shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)))
      // both layouts' file assignments ride ONE scan: explode each row
      // into its (layout, file) pair — a union of two groupBys would
      // scan the fact table twice, which is the difference between one
      // and two passes over 100 TB
      val stats = ev.crossJoin(broadcast(bounds)) // 1-row scalar bounds
        .withColumn("aq", q8(col("user_id"), col("umin"), col("umax")))
        .withColumn("bq", q8(col("hr"), col("hmin"), col("hmax")))
        .select(col("aq"), explode(array(
          struct(lit("zorder").as("layout"),
            shiftright(interleave16(col("aq"), col("bq")), 11).as("file")),
          struct(lit("time_sorted").as("layout"),
            shiftright(col("bq"), 3).as("file")))).as("lf")) // 256 quanta → 32 files
        .groupBy(col("lf.layout").as("layout"), col("lf.file").as("file"))
        .agg(min(col("aq")).as("amin"), max(col("aq")).as("amax"))
      // 16 evenly-spread probe points in the quantized user space; the
      // range join is a broadcast nested loop over the FILE-STATS frame
      // (≤ 64 rows × 16 probes) — index-parameter-sized, never data
      val probes = s.range(16).select((col("id") * 16L).as("p"))
      stats.join(broadcast(probes),
          col("p") >= col("amin") && col("p") <= col("amax"), "left")
        .groupBy("layout")
        .agg(countDistinct(col("file")).as("n_files"),
          count(col("p")).as("files_touched"))
    }),

    // bloom-pruned big-big join: revenue of lineitems belonging to
    // URGENT orders. The orders side is too large to broadcast at
    // scale, so the join is shuffle-hash/sort-merge — and a Bloom
    // filter of the filtered order keys, built in one bounded
    // aggregate, prunes lineitem AT THE SCAN, before its shuffle.
    // False positives are removed by the exact join, so the result is
    // identical to the unpruned plan (the oracle is the plain join).
    "q_bloom_join" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val bloom = graft.ops.BloomPrune.bloomOf(
        ord, col("o_orderkey"), expectedItems = 200000L, numBits = 1600000L)
      t(s, dir, "lineitem")
        .filter(graft.ops.BloomPrune.mightContain(bloom, col("l_orderkey")))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount"))))).as("revenue"))
    }),

    // RFM SEGMENTATION (recency / frequency / monetary quintiles per
    // customer — the classic CRM cut): scores come from the SORT-FREE
    // histogram-quantile pattern curriculum_deciles uses — per
    // dimension, a distinct-VALUE histogram, a running below-count,
    // and bucket = (below·5) div total — never a single-partition
    // ntile over customers. The histograms are value-bounded by
    // construction: r_days by the date range, n_orders small, and
    // monetary is pre-bucketed to $100 (integer CENTS sum first, so
    // the bucket is exact — no float-fold-order edge can move a
    // customer across a quintile boundary). Customer frame joins each
    // broadcast histogram on its value.
    "q_rfm_segments" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val ref = o.agg(max(col("d")).as("ref"))
      val cust = o.groupBy("o_custkey").agg(
          max(col("d")).as("last_d"), count(lit(1)).as("n_orders"),
          sum(col("cents")).as("cents"))
        .crossJoin(broadcast(ref))
        .select(col("o_custkey"),
          datediff(col("ref"), col("last_d")).cast("long").as("r_days"),
          col("n_orders"), col("cents"))
        .withColumn("m_bucket", expr("cents div 10000"))
      def hist(dim: String): DataFrame = {
        val w = Window.orderBy(dim)
          .rowsBetween(Window.unboundedPreceding, -1)
        val all = Window.partitionBy()
        cust.groupBy(dim).agg(count(lit(1)).as("c"))
          .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
          .withColumn("total", sum(col("c")).over(all))
          .select(col(dim), least(lit(4L), expr("(below * 5) div total")).as("q"))
      }
      cust
        .join(broadcast(hist("r_days").withColumnRenamed("q", "rq")), "r_days")
        .join(broadcast(hist("n_orders").withColumnRenamed("q", "fq")), "n_orders")
        .join(broadcast(hist("m_bucket").withColumnRenamed("q", "mq")), "m_bucket")
        .select(col("o_custkey"), col("r_days"), col("n_orders"), col("cents"),
          (lit(5L) - col("rq")).as("r_score"),
          (col("fq") + lit(1L)).as("f_score"),
          (col("mq") + lit(1L)).as("m_score"))
        .withColumn("segment", concat(col("r_score").cast("string"),
          col("f_score").cast("string"), col("m_score").cast("string")))
    }),

    // ENTITY-RESOLUTION fuzzy join (the Ed-Join shape, Xiao et al.
    // 2008): distinct part names within Levenshtein distance ≤ 2,
    // WITHOUT an all-pairs scan. Candidate generation is gram-prefix
    // filtered: one edit destroys ≤ q of a name's q-grams, so
    // lev(a,b) ≤ k ⇒ |Ga ∩ Gb| ≥ max(|Ga|,|Gb|) − k·q — under one
    // global (df, gram) total order two qualifying names must share a
    // gram among their k·q+1 = 5 RAREST (the PPJoin prefix lemma at
    // string granularity; rarest-first keeps blocks cold by
    // construction). Names too short for the bound to bite
    // (≤ k·q grams, i.e. ≤ 5 chars) pair inside one dedicated block,
    // so recall is lossless for every length (PropertySpec pins it
    // against brute force). The name frame scales with the entity
    // catalog, not row count; the final broadcast joins restore
    // row-level linkage counts.
    "q_fuzzy_join" -> ((s, dir) => {
      val names = t(s, dir, "part")
        .groupBy(col("p_name").as("name")).agg(count(lit(1)).as("n_rows"))
      fuzzyNameMatches(names)
        .join(broadcast(names.select(col("name").as("name_a"), col("n_rows").as("n_rows_a"))), "name_a")
        .join(broadcast(names.select(col("name").as("name_b"), col("n_rows").as("n_rows_b"))), "name_b")
        .select("name_a", "name_b", "lev", "n_rows_a", "n_rows_b")
    }),

    // TPC-H Q6 shape: pure scan + pushed predicates + global agg.
    // The whole query is one parquet scan whose filters all reach the
    // reader (PushedFilters on shipdate/discount/quantity) followed by
    // a partial+final aggregate — zero shuffle rows beyond 32 partial
    // states. At 100 TB this is the I/O-bound floor: wall-clock is
    // bytes-after-pruning / scan bandwidth.
    "q6_revenue_delta" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(money4(sum(cents4(col("l_extendedprice") * col("l_discount")))).as("revenue"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    // year. The two nation dims are pre-filtered to the pair BEFORE
    // broadcasting, so the supplier/customer broadcast-hash probes
    // discard non-pair rows early; only the surviving fact rows reach
    // the (supp_nation, cust_nation, year) aggregate. The one shuffle
    // is lineitem⋈orders on orderkey.
    "q7_volume_shipping" -> ((s, dir) => {
      val pair = Seq("NATION_9", "NATION_11")
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      val ord = t(s, dir, "orders")
      val n1 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      val supp = t(s, dir, "supplier")
      val cust = t(s, dir, "customer")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(n1), supp("s_nationkey") === col("sn_key"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(n2), cust("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))))
          .as("revenue"))
    }),

    // TPC-H Q8 shape: a nation's market share of PROMO-part revenue
    // sold to ASIA customers, by order year. share = conditional-sum /
    // total-sum inside ONE aggregate (no second pass); the ratio is
    // computed over the already-rounded components so the oracle's
    // division sees bit-identical inputs.
    "q8_market_share" -> ((s, dir) => {
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      val nationC = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val nationS = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val part = t(s, dir, "part").filter(col("p_type") === "PROMO")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, dir, "lineitem")
      val cust = t(s, dir, "customer")
      val supp = t(s, dir, "supplier")
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(nationC), cust("c_nationkey") === col("cn_key"))
        .join(broadcast(region), col("n_regionkey") === region("r_regionkey"))
        .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
        .join(broadcast(nationS), supp("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          money4(sum(when(col("supp_nation") === "NATION_9", cents4(vol))
            .otherwise(lit(0L)))).as("nation_rev"),
          money4(sum(cents4(vol))).as("total_rev"))
        .withColumn("mkt_share", round(col("nation_rev") / col("total_rev"), 4))
    }),

    // TPC-H Q15 shape: top supplier(s) by quarterly revenue. The
    // per-supplier revenue frame is supplier-catalog-sized, so the
    // argmax is a 1-row broadcast aggregate probed by an equi-join on
    // the ROUNDED revenue (exact 4-dp integer units on both sides — no double-ulp
    // tie ambiguity); ties all surface, as in the spec's VIEW form.
    "q15_top_supplier" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("rev_1e4"))
      // the argmax equi-join keys on the revenue — EXACT integer
      // cents, so the max-probe can never straddle an ulp boundary
      val mx = rev.agg(max(col("rev_1e4")).as("mx"))
      rev.join(broadcast(mx), rev("rev_1e4") === mx("mx"))
        .join(broadcast(t(s, dir, "supplier")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          money4(col("rev_1e4")).as("total_revenue"))
    }),

    // TPC-H Q4 shape (adapted): priority mix of orders in a quarter
    // that had at least one RETURNED line (this schema carries no
    // commit/receipt dates, so the EXISTS predicate is l_returnflag =
    // 'R' instead of late delivery — the plan shape is identical: a
    // date-pruned orders scan left-semi-joined to a filtered lineitem
    // scan on orderkey, then a tiny grouped count).
    "q4_priority_returns" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-07-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-10-01").cast("timestamp"))
      val ret = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      ord.join(ret, ord("o_orderkey") === ret("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    // TPC-H Q22 shape (adapted): per-nation count + balance of
    // wealthy lapsed customers — above-average positive balance and
    // no order since 1998-01-01 (the spec's "no orders for 7 years"
    // reading; this generator gives every customer at least one
    // lifetime order, so the literal never-ordered form is vacuous,
    // and the schema has no phone column so the country filter is the
    // nation dim itself). The average-balance threshold is
    // evaluated in INTEGER cents — c_cents * n_pos > total_cents ⟺
    // c_acctbal > avg — so the boundary is exact in both engines
    // (doubles would make `> avg` an ulp-lottery for a customer
    // sitting on the mean). The 1-row threshold frame is a benign
    // scalar broadcast; the anti-join on orders is the only shuffle.
    "q22_idle_balance" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
        .withColumn("c_cents", round(col("c_acctbal") * 100).cast("long"))
      val thr = cust.filter(col("c_cents") > 0L)
        .agg(count(lit(1)).as("n_pos"), sum(col("c_cents")).as("total_cents"))
      val recent = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
      cust.crossJoin(broadcast(thr)) // rows × 1 scalar row
        .filter(col("c_cents") * col("n_pos") > col("total_cents"))
        .join(recent, cust("c_custkey") === recent("o_custkey"), "left_anti")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"),
          money(sum(col("c_cents"))).as("totacctbal"))
    }),

    // ---- The remaining TPC-H shapes (Q2/Q9/Q11/Q16/Q20 need the
    // partsupp table this schema doesn't ship; it is DERIVED from
    // lineitem as the distinct (l_partkey, l_suppkey) observations
    // with ps_supplycost := min observed unit price and
    // ps_availqty := total shipped quantity. The derived frame is
    // bounded by |part| × |supplier| (catalog², not event volume), so
    // at 100 TB it is an aggregate over the fact scan that then
    // behaves exactly like the catalog-sized partsupp it stands in
    // for — and like a catalog table it is MATERIALIZED ONCE
    // ([[derivedPartsupp]], round 14): q2/q9/q11/q16 each re-derived
    // it with their own 60M-row (partkey, suppkey) fact shuffle, the
    // single dominant cost of the family at sf10 (q11 11.4 s, q2
    // 11.4 s — and the 320-partition window proved it is work, not
    // spill: more partitions made it SLOWER). One shared persisted
    // pass is exactly what a production deployment does with a
    // catalog derivation. min() over identical doubles is
    // order-independent, so the cost is bit-deterministic in both
    // engines; quantities are integral-valued doubles, so their sums
    // are exact. ----

    // TPC-H Q2 shape: min-cost supplier per size-15 part with the
    // supplier in EUROPE; argmin via an equality join against the
    // per-part min (same pattern as q15's argmax), top-20 by supplier
    // balance with a unique (acctbal, s_name, p_partkey) tie-break.
    "q2_min_cost_supplier" -> ((s, dir) => {
      val ps = derivedPartsupp(s, dir)
      val part = t(s, dir, "part").filter(col("p_size") === 15)
      val region = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      val eligible = ps
        .join(broadcast(part), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(t(s, dir, "supplier")), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      // per-part argmin as a KEYED window over eligible (r17): the old
      // groupBy + broadcast self-join re-derived `eligible` twice (two
      // full scans of the partsupp cache, each through the four
      // broadcast probes) plus an agg-broadcast sub-job; the window
      // form scans it once and shuffles only the eligible rows by
      // ps_partkey — a high-cardinality key, so the window
      // parallelizes at any scale (contrast q15, whose GLOBAL argmax
      // stays the documented 1-row broadcast probe). cost == min is
      // the identical exact-double equality the join keyed on.
      eligible
        .withColumn("min_cost", min(col("ps_supplycost")).over(
          Window.partitionBy(col("ps_partkey"))))
        .filter(col("ps_supplycost") === col("min_cost"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"), col("p_partkey"),
          col("p_name"),
          // floor(x·10⁴ + 0.5)/10⁴, not round(x, 4): both engines then
          // run the IDENTICAL per-row IEEE chain on the same double
          // (supply costs are positive, so floor(+0.5) == half-up).
          // round(double, 4) is engine-divergent when x·10⁴ rounds up
          // to exactly .5 while the exact binary value sits below it
          // (Spark rounds the exact value, DuckDB the product —
          // caught at sf0.001, the r16 inherited-state fix)
          (floor(col("ps_supplycost") * 10000 + 0.5) / 10000.0).as("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("s_name"), col("p_partkey"))
        .limit(20)
    }),

    // TPC-H Q9 shape: product-line profit by supplier nation and
    // order year, parts chosen by a name LIKE filter. profit =
    // revenue − derived-cost × qty; the derived partsupp side is
    // pre-pruned by the broadcast part filter BEFORE the fact join so
    // the (partkey, suppkey) shuffle carries only matching parts.
    "q9_product_profit" -> ((s, dir) => {
      val part = t(s, dir, "part").filter(col("p_name").like("%bolt%"))
      // the shared catalog frame filtered to matching parts — the
      // filter moves from the fact scan to the (catalog-sized) derived
      // frame, and the 60M-row derivation shuffle is paid once per
      // session instead of once per query
      val ps = derivedPartsupp(s, dir)
        .join(broadcast(part.select(col("p_partkey").as("fpk"))),
          col("ps_partkey") === col("fpk"))
        .select("ps_partkey", "ps_suppkey", "ps_supplycost")
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      li.join(broadcast(part.select(col("p_partkey").as("pk"))), li("l_partkey") === col("pk"))
        .join(ps, li("l_partkey") === col("ps_partkey") && li("l_suppkey") === col("ps_suppkey"))
        .join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(t(s, dir, "supplier")), li("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        // money4Exact, not money4: profit sums land on 2-dp half-cent
        // edges at sf0.001 where round(double, 2) is engine-divergent
        .agg(money4Exact(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("ps_supplycost") * col("l_quantity")))).as("profit"))
    }),

    // TPC-H Q11 shape: parts whose derived inventory value held by
    // NATION_9 suppliers exceeds 0.1% of that nation's total. Each
    // (part, supplier) value is fixed-pointed to INTEGER cents at the
    // row level — the product chain min·qty·100 is identical IEEE
    // arithmetic in both engines with NO summation involved, so the
    // per-row rounding is bit-deterministic — and everything after
    // (per-part sums, the grand total, the 0.1% threshold
    // fp·1000 > total_fp) is exact integer arithmetic. A first cut
    // summed raw doubles and rounded after: Spark's own partition
    // fold order then flipped a part sitting on a half-cent boundary
    // between runs (306042.955 — caught by a repeat verify), which is
    // precisely the ulp lottery this formulation removes.
    "q11_important_parts" -> ((s, dir) => {
      val ps = derivedPartsupp(s, dir)
      val supp = t(s, dir, "supplier")
      val nation = t(s, dir, "nation").filter(col("n_name") === "NATION_9")
      val held = ps
        .join(broadcast(supp), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .select(col("ps_partkey"),
          round(col("ps_supplycost") * col("ps_availqty") * 100).cast("long")
            .as("v_fp"))
      val perPart = held.groupBy(col("ps_partkey").as("p_partkey"))
        .agg(sum(col("v_fp")).as("fp"))
      // grand total rides the per-part sums (r17, §1.2): summing
      // `held` directly re-derived the whole held lineage (partsupp
      // cache scan + two broadcast probes) a second time; Σ_part fp is
      // the same exact-integer total, and the plan now reuses
      // perPart's exchange instead of re-scanning
      val total = perPart.agg(sum(col("fp")).as("total_fp"))
      perPart.crossJoin(broadcast(total)) // rows × 1 scalar row
        .filter(col("fp") * 1000L > col("total_fp"))
        .select(col("p_partkey"),
          round(col("fp").cast("double") / 100.0, 2).as("part_value"))
    }),

    // TPC-H Q12 shape (adapted): priority mix of 1996-shipped lines
    // by return flag (no l_shipmode column — the flag plays the mode's
    // role; the CASE-conditional dual count inside one aggregate is
    // the shape being exercised).
    "q12_priority_lines" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      val ord = t(s, dir, "orders")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L)
            .otherwise(1L)).as("low_line_count"))
    }),

    // TPC-H Q16 shape: distinct supplier count per (brand, type,
    // size) bucket over the derived part-supplier pairs, excluding
    // one brand, a size list, and "complaint" suppliers (negative
    // balance — this schema has no comment text); the exclusion list
    // is a broadcast anti-join, the count a partial-aggregated
    // count(DISTINCT).
    "q16_supplier_variety" -> ((s, dir) => {
      // the derived frame's group keys ARE the distinct pairs
      val pairs = derivedPartsupp(s, dir)
        .select("ps_partkey", "ps_suppkey")
      val part = t(s, dir, "part")
        .filter(col("p_brand") =!= "BRAND_1" &&
          col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35))
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("bad_key"))
      pairs
        .join(broadcast(part), col("ps_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("ps_suppkey") === col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("ps_suppkey")).as("supplier_cnt"))
    }),

    // TPC-H Q20 shape (adapted): ASIA suppliers who DOMINATE the
    // supply of a 'small %' part — shipped more than 1/8 of that
    // part's total quantity, an order of magnitude above the ~1% fair
    // share across this catalog's ~100 suppliers (the spec's
    // excess-stock predicate recast on the derived availqty; no
    // supplier crosses 50% in this generator, so the literal half
    // bound is vacuous). Quantities are integral doubles, so qty·8 >
    // total is exact; the per-part totals frame is catalog-sized and
    // broadcast.
    "q20_dominant_suppliers" -> ((s, dir) => {
      val part = t(s, dir, "part").filter(col("p_name").like("small %"))
      val shipped = t(s, dir, "lineitem")
        .join(broadcast(part.select("p_partkey")), col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey").as("k"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("qty"))
      val totals = shipped.groupBy(col("k").as("tk")).agg(sum(col("qty")).as("total_qty"))
      val nation = t(s, dir, "nation")
      val region = t(s, dir, "region").filter(col("r_name") === "ASIA")
      shipped.join(broadcast(totals), col("k") === col("tk"))
        .filter(col("qty") * 8 > col("total_qty"))
        .join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === region("r_regionkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("n_parts"))
    }),

    // TPC-H Q21 shape (adapted): suppliers SOLELY to blame in
    // multi-supplier finished orders — their line came back 'R' while
    // every co-supplier's lines stayed clean (no receipt/commit dates
    // in this schema, so the returned flag plays the late-delivery
    // role). The oracle keeps the famous EXISTS / NOT-EXISTS pair; the
    // engine folds it into per-order aggregation (round-14 verdict:
    // 9.7× at sf10 — the semi/anti formulation shuffled lineitem-sized
    // frames five times). An order blames supplier x iff x has a
    // returned line, the order has ≥ 2 distinct suppliers (EXISTS a
    // co-supplier), and x is the ONLY supplier with a returned line
    // (NOT EXISTS another) — all aggregates of the order's own lines,
    // and the blamed supplier is then the returned suppkey of a group
    // known to have exactly one. Two STACKED plain aggregates, not
    // countDistinct: distinct aggregation plans an Expand that
    // triples the lineitem-sized input (measured 13.9 s vs 8.5 at
    // sf10/320); instead groupBy(orderkey, suppkey) then
    // groupBy(orderkey) — BOTH satisfy ClusteredDistribution under
    // the semi-join's hash(l_orderkey) output partitioning, so the
    // orderkey semi-join stays the ONE fact-fact exchange and
    // everything after is order-cardinality rows into a broadcast dim
    // join and a top-10.
    "q21_sole_blame" -> ((s, dir) => {
      val fin = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      val li = t(s, dir, "lineitem")
        .join(fin, col("l_orderkey") === col("o_orderkey"), "left_semi")
      val perSupp = li
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
      val blamed = perSupp
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum(col("r")).as("n_ret"),
          max(when(col("r") === 1L, col("l_suppkey"))).as("l_suppkey"))
        .filter(col("n_supp") >= 2 && col("n_ret") === 1)
      blamed.join(broadcast(t(s, dir, "supplier")), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_suppkey"), col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    }),

    // BUCKETED co-located join — the big-big join technique the rest
    // of the suite only talks about, executed for real: both fact
    // tables are WRITTEN bucketed by the join key (16 buckets,
    // bucket-sorted), then joined via a merge join that needs NO
    // shuffle on either side — the scan's bucket layout already
    // satisfies the join's partitioning requirement, so the only
    // exchange in the whole plan is the final tiny groupBy. At 100 TB
    // this is the difference between re-shuffling both fact tables on
    // every join and paying the layout cost once at write time; the
    // `merge` hint keeps the demonstration honest at test scale (where
    // the optimizer would otherwise just broadcast the small side).
    // PlanSpec pins the bucketed-scan + single-exchange shape; the
    // oracle is the identical join over the raw tables — layout must
    // never change results.
    "q_bucketed_join" -> ((s, dir) => {
      val ordersTbl = bucketedTable(s, dir, "orders", "o_orderkey")
      val lineitemTbl = bucketedTable(s, dir, "lineitem", "l_orderkey")
      s.table(lineitemTbl).hint("merge")
        .join(s.table(ordersTbl).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          money4(sum(cents4(col("l_extendedprice") * (lit(1) - col("l_discount")))))
            .as("revenue"))
    }),

    // PARTITION-PRUNED layout — the other physical-layout lever:
    // events are WRITTEN hive-partitioned by event type, and a
    // point-query on one type then never opens the other partitions'
    // files at all (PartitionFilters in the scan, pinned in PlanSpec —
    // distinct from q_filter_pushdown's row-group pruning, which still
    // lists every file). At 100 TB partition pruning is the first
    // 10–100× any query sees; the layout write is per-sf so Verify,
    // Bench, and the sf1 run never share a directory. The oracle runs
    // the same filter over the raw table — layout must never change
    // results.
    // BUCKETED pre-aggregation — the layout's second dividend beyond
    // q_bucketed_join: a groupBy on the bucket key needs NO exchange
    // either (the bucketed scan's output partitioning already
    // satisfies the aggregate's ClusteredDistribution). Lines-per-
    // order histogram: the per-orderkey count — the expensive,
    // fact-sized aggregate — runs exchange-free; only the tiny
    // histogram re-aggregation shuffles. PlanSpec pins exactly one
    // exchange in the whole plan.
    "q_bucketed_agg" -> ((s, dir) => {
      val tbl = bucketedTable(s, dir, "lineitem", "l_orderkey")
      s.table(tbl)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"))
        .groupBy(col("n_lines"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // REFERENTIAL-INTEGRITY AUDIT — the dbt-test / data-contract
    // staple, one row per FK relation: row count, orphan count (child
    // keys with no parent), and null-key count. Parents are
    // dimension-sized, so every probe is a broadcast hash join — and
    // because the probe side is a DEDUPLICATED parent key set, a
    // broadcast LEFT join cannot fan the child out, which lets every
    // audit that shares a child table ride ONE scan: the child's FK
    // columns chain through the parent-key joins (match miss ⇒ joined
    // key NULL ⇒ orphan row) and a single aggregate emits every
    // relation's (n_rows, n_null, n_orphans) at once, reshaped to one
    // row per relation. The r1–r16 form ran one LEFT ANTI plus a
    // crossJoin(broadcast(1-row count)) PER relation: lineitem was
    // scanned three times and the five scalar broadcasts were five
    // sequential sub-jobs of pure driver latency — measured, that
    // launch chain WAS the query (~1 s warm for ~0.1 s of scan work).
    // At 100 TB this is the nightly contract check that gates a
    // snapshot promotion; one pass per child table, no exchange on
    // any child. (This generator is referentially intact, so orphans
    // are 0 — the operator proves it rather than assumes it, which is
    // the point of a contract.)
    "q_referential_integrity" -> ((s, dir) => {
      def audits(child: DataFrame,
          fks: Seq[(String, String, DataFrame, String)]): DataFrame = {
        val probed = fks.foldLeft(
          child.select(fks.map(f => col(f._2)): _*)) {
          case (df, (_, key, parent, pkey)) =>
            // dropDuplicates guarantees no fanout even if a parent key
            // repeated — keeps the fused form value-identical to the
            // per-relation LEFT ANTI under ANY input, not just this
            // generator's unique PKs (dim-key-sized exchange, trivial)
            df.join(broadcast(parent.select(col(pkey).as(s"__p_$key"))
              .dropDuplicates(s"__p_$key")),
              col(key) === col(s"__p_$key"), "left")
        }
        val aggs = Seq(count(lit(1)).as("n_rows")) ++ fks.flatMap {
          case (_, key, _, _) => Seq(
            sum(when(col(key).isNull, 1L).otherwise(0L)).as(s"__null_$key"),
            sum(when(col(key).isNotNull && col(s"__p_$key").isNull, 1L)
              .otherwise(0L)).as(s"__orph_$key"))
        }
        probed.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(fks.map { case (rel, key, _, _) =>
            struct(lit(rel).as("relation"), col("n_rows"),
              col(s"__null_$key").as("n_null"),
              col(s"__orph_$key").as("n_orphans"))
          }: _*)).as("r"))
          .select(col("r.relation"), col("r.n_rows"), col("r.n_null"),
            col("r.n_orphans"))
      }
      audits(t(s, dir, "lineitem"), Seq(
        ("lineitem.l_orderkey->orders", "l_orderkey",
          t(s, dir, "orders"), "o_orderkey"),
        ("lineitem.l_partkey->part", "l_partkey",
          t(s, dir, "part"), "p_partkey"),
        ("lineitem.l_suppkey->supplier", "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey")))
        .unionByName(audits(t(s, dir, "orders"), Seq(
          ("orders.o_custkey->customer", "o_custkey",
            t(s, dir, "customer"), "c_custkey"))))
        .unionByName(audits(t(s, dir, "customer"), Seq(
          ("customer.c_nationkey->nation", "c_nationkey",
            t(s, dir, "nation"), "n_nationkey"))))
    }),

    // JOIN-KEY SKEW REPORT — the audit you run BEFORE deciding to
    // salt (q_salted_join) or broadcast: for each candidate join key
    // of the fact table, its cardinality, the hottest key's share,
    // and a hot-key census (keys whose count exceeds 10× the mean —
    // the integer-exact predicate cnt·n_keys > 10·total, no doubles
    // at the boundary) with the row mass those hot keys carry. ONE
    // scan feeds all three key columns via the explode trick
    // (q_zorder_layout's pattern); everything after is key-cardinality
    // frames + 1-row scalar broadcasts. No ranking window anywhere —
    // a per-key-column top-N rank would single-thread the billion-key
    // frame at 100 TB, while max/census aggregates stay partial+final.
    "q_skew_report" -> ((s, dir) => skewReport(t(s, dir, "lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey"))),

    "q_partition_prune" -> ((s, dir) => {
      val path = prunedEventsLayout(s, dir)
      s.read.parquet(path)
        .filter(col("etype") === "purchase")
        .groupBy(date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"),
          money(sum(cents(col("value")))).as("sum_value"))
    })
  )

  /** Skew-report core over any fact frame and key-column list — see
    * the registered query's scaladoc; factored out so PropertySpec
    * can replay it against a brute-force census on random key draws.
    */
  private[graft] def skewReport(fact: DataFrame, keyCols: Seq[String]): DataFrame = {
    val counts = fact
      .select(explode(array(keyCols.map(kc =>
        struct(lit(kc).as("key_col"), col(kc).as("key"))): _*)).as("kk"))
      .groupBy(col("kk.key_col").as("key_col"), col("kk.key").as("key"))
      .agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("key_col")
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("max_cnt"))
    counts.join(broadcast(totals), "key_col") // |keyCols|-row totals frame
      .groupBy(col("key_col"))
      .agg(
        first(col("n_keys")).as("n_keys"),
        first(col("total")).as("total"),
        first(col("max_cnt")).as("max_cnt"),
        sum(when(col("cnt") * col("n_keys") > col("total") * 10L, 1L)
          .otherwise(0L)).as("n_hot"),
        sum(when(col("cnt") * col("n_keys") > col("total") * 10L, col("cnt"))
          .otherwise(0L)).as("hot_mass"))
      .select(col("key_col"), col("n_keys"), col("total"), col("max_cnt"),
        round(col("max_cnt").cast("double") / col("total").cast("double"), 6)
          .as("top1_share"),
        col("n_hot"),
        round(col("hot_mass").cast("double") / col("total").cast("double"), 6)
          .as("hot_share"))
  }

  /** Gram-prefix-filtered Levenshtein self-match over a `name` frame:
    * all unordered distinct-name pairs with lev ≤ 2, found without an
    * all-pairs scan (see q_fuzzy_join's scaladoc for the lemma). The
    * short-name block (≤ 5 chars, where |grams| ≤ k·q and the overlap
    * bound degenerates to 0) keeps recall lossless for every length —
    * PropertySpec pins output == brute force on random corpora. */
  /** Distinct character 2-grams of a string column, first-occurrence
    * order — the one gram definition of the batch fuzzy join, so both
    * sides of its self-join hit the same index rows.
    * The length guard matters: Spark's sequence(1, 0) DESCENDS instead
    * of being empty, so a 1-char name would fabricate a gram (DuckDB's
    * range(1, 1) is empty); such names are caught by the short block.
    */
  private[graft] def gramsOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(length(c) >= 2,
        array_distinct(transform(
          sequence(lit(1), length(c) - lit(1)),
          i => c.substr(i, lit(2)))))
      .otherwise(array().cast("array<string>"))

  private[graft] def fuzzyNameMatches(names: DataFrame): DataFrame = {
    val grams = names.select(col("name"),
      explode(gramsOf(col("name"))).as("gr"))
    // gram dimension is alphabet²-bounded → broadcast df lookup
    val gdf = grams.groupBy("gr").agg(count(lit(1)).as("gdf"))
    val prefix = grams.join(broadcast(gdf), "gr")
      .withColumn("rn", row_number().over(
        Window.partitionBy("name").orderBy(col("gdf"), col("gr"))))
      .filter(col("rn") <= 5)
      .select("name", "gr")
    val viaPrefix = prefix.as("a").join(prefix.as("b"),
        col("a.gr") === col("b.gr") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    // block key must be column-DERIVED: a literal would constant-fold
    // out of the join condition and leave a nested-loop inequality join
    val short = names.filter(length(col("name")) <= 5)
      .select(col("name"), col("name").substr(lit(1), lit(0)).as("blk"))
    val viaShort = short.as("a").join(short.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
    viaPrefix.unionByName(viaShort).distinct()
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
      .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
      .select(col("name_a"), col("name_b"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("lev"))
  }

  val oracles: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_base_price,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS sum_disc_price,
        |       CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin,

    "q3_top_revenue" ->
      """SELECT o_orderkey, o_orderdate,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "q5_region_revenue" ->
      """SELECT n_name,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY 1""".stripMargin,

    "q_brand_stats" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt
        |FROM customer WHERE EXISTS (
        |  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
        |GROUP BY 1""".stripMargin,

    "q_distinct_counts" ->
      """SELECT l_returnflag,
        |       CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY 1""".stripMargin,

    // same hash, k smallest DISTINCT values per group via row_number,
    // same integer estimator arithmetic
    "q_distinct_kmv" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |         (l_orderkey*2654435761+104729)%2147483647 AS h
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, h,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        |  FROM h)
        |SELECT l_returnflag,
        |       CAST(count(*) AS BIGINT) AS n_minima,
        |       CAST(max(h) AS BIGINT) AS kth_min,
        |       CAST(CASE WHEN count(*) < 64 THEN count(*)
        |                 ELSE 135291469761//max(h) END AS BIGINT) AS est_distinct
        |FROM r WHERE rn <= 64
        |GROUP BY l_returnflag""".stripMargin,

    // register-exact HLL replica: DISTINCT h (max-ρ is duplicate-
    // insensitive), reg = top 8 bits, ρ = 1 + leading zeros of the
    // 23-bit remainder via printf('%b') bit length; the harmonic sum
    // is exact-dyadic so summation order cannot matter
    "q_distinct_hll" ->
      """WITH h AS (
        |  SELECT DISTINCT l_returnflag,
        |         (l_orderkey*2654435761+104729)%2147483647 AS h
        |  FROM lineitem),
        |hr AS (
        |  SELECT l_returnflag, h // 8388608 AS reg,
        |         CASE WHEN h % 8388608 = 0 THEN 24
        |              ELSE 24 - length(printf('%b', h % 8388608)) END AS rho
        |  FROM h),
        |mx AS (SELECT l_returnflag, reg, max(rho) AS mr FROM hr GROUP BY 1, 2),
        |regs AS (
        |  SELECT f.l_returnflag, r.reg, coalesce(mx.mr, 0) AS mr
        |  FROM (SELECT DISTINCT l_returnflag FROM lineitem) f
        |  CROSS JOIN (SELECT unnest(range(0, 256)) AS reg) r
        |  LEFT JOIN mx ON mx.l_returnflag = f.l_returnflag AND mx.reg = r.reg),
        |z AS (
        |  SELECT l_returnflag,
        |         sum(1.0 / CAST((1::BIGINT << mr) AS DOUBLE)) AS zsum,
        |         CAST(sum(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_regs
        |  FROM regs GROUP BY 1),
        |ex AS (
        |  SELECT l_returnflag, CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct
        |  FROM lineitem GROUP BY 1)
        |SELECT ex.l_returnflag, ex.exact_distinct, z.n_zero_regs,
        |       round((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 / z.zsum, 2) AS hll_estimate
        |FROM ex JOIN z ON ex.l_returnflag = z.l_returnflag""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,

    "q_mode_quantity" ->
      """WITH f AS (
        |  SELECT l_returnflag, l_quantity AS q, CAST(count(*) AS BIGINT) AS freq
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, q AS mode_quantity, freq AS mode_freq
        |FROM f
        |QUALIFY row_number() OVER (PARTITION BY l_returnflag
        |                           ORDER BY freq DESC, q ASC) = 1""".stripMargin,

    "q_full_outer_join" ->
      """SELECT n_name, CAST(count(s_suppkey) AS BIGINT) AS n_suppliers,
        |       CAST(max(n_regionkey) AS BIGINT) AS regionkey
        |FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
        |GROUP BY 1""".stripMargin,

    "q_scd2_intervals" ->
      """SELECT o_custkey, o_orderkey, o_orderdate AS valid_from,
        |       lead(o_orderdate) OVER w AS valid_to,
        |       CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin,

    // the UNSALTED join: salting must be invisible in the result
    "q_salted_join" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
        |       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""".stripMargin,

    "q_set_ops" ->
      """WITH o AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'),
        |     f AS (SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT 'both' AS tag, custkey FROM (SELECT custkey FROM o INTERSECT SELECT custkey FROM f)
        |UNION ALL
        |SELECT 'only_open' AS tag, custkey FROM (SELECT custkey FROM o EXCEPT SELECT custkey FROM f)""".stripMargin,

    "q_rank_suppliers" ->
      """SELECT s_suppkey, n_name,
        |       CAST(row_number() OVER (PARTITION BY n_regionkey
        |         ORDER BY s_acctbal DESC, s_suppkey) AS INTEGER) AS rn
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q10_returned_revenue" ->
      """SELECT c_custkey, c_name, c_mktsegment,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q17_small_quantity" ->
      """SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 700.0, 2) AS avg_yearly,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem l1
        |WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
        |                    WHERE l2.l_partkey = l1.l_partkey)""".stripMargin,

    "q13_customer_orders_dist" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "q14_promo_revenue" ->
      """SELECT round(CAST(coalesce(
        |         100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |                          THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT) END) AS DOUBLE)
        |         / CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE), 0.0) AS DOUBLE), 2) AS promo_pct,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate <  TIMESTAMP '1995-10-01'""".stripMargin,

    "q18_large_volume" ->
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |       round(CAST(total_qty AS DOUBLE), 2) AS total_qty
        |FROM (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150)
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q19_discounted_revenue" ->
      """SELECT round(CAST(coalesce(
        |         sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)), 0) AS DOUBLE) / 10000.0, 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "q_lag_gap" ->
      """WITH g AS (
        |  SELECT event_type,
        |         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY event_type ORDER BY ts)) AS gap_us
        |  FROM events)
        |SELECT event_type,
        |       round(CAST(sum(gap_us) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6, 3) AS avg_gap_s,
        |       round(CAST(max(gap_us) AS DOUBLE) / 1e6, 3) AS max_gap_s,
        |       CAST(count(*) AS BIGINT) AS n_gaps
        |FROM g WHERE gap_us IS NOT NULL GROUP BY 1""".stripMargin,

    "q_filter_pushdown" ->
      """SELECT l_linestatus, CAST(count(*) AS BIGINT) AS cnt,
        |       round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_price
        |FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.02 GROUP BY 1""".stripMargin,

    // the oracle mirrors the union-merge formulation (DuckDB's native
    // ASOF JOIN breaks date ties arbitrarily; the window form pins the
    // max-key tie-break on both engines)
    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id AS k, ts, 1 AS tag, event_id, CAST(NULL AS BIGINT) AS okey FROM events
        |  UNION ALL
        |  SELECT o_custkey, o_orderdate, 0, CAST(NULL AS BIGINT), o_orderkey FROM orders),
        |w AS (
        |  SELECT k, tag, event_id,
        |         last_value(okey IGNORE NULLS) OVER (
        |           PARTITION BY k ORDER BY ts, tag, okey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_orderkey
        |  FROM u)
        |SELECT event_id, k AS user_id, asof_orderkey FROM w WHERE tag = 1""".stripMargin,

    // same histogram-median formulation as the Spark plan (quantile_cont
    // would interpolate with a different expression tree; (lo+hi)/2 on
    // exact values is engine-independent)
    "q_median_price" ->
      """WITH counts AS (
        |  SELECT l_returnflag, l_extendedprice AS v, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, v, c,
        |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM counts),
        |pos AS (
        |  SELECT *, CAST((n + 1) // 2 AS BIGINT) AS lo, CAST((n + 2) // 2 AS BIGINT) AS hi FROM cum)
        |SELECT l_returnflag,
        |       round((max(CASE WHEN cum >= lo AND cum - c < lo THEN v END) +
        |              max(CASE WHEN cum >= hi AND cum - c < hi THEN v END)) / 2.0, 3) AS median_price
        |FROM pos
        |WHERE (cum >= lo AND cum - c < lo) OR (cum >= hi AND cum - c < hi)
        |GROUP BY 1""".stripMargin,

    // rank ⌈p·n/100⌉ as (n·p+99)//100 — same floor-division arithmetic
    // as the engine; cum/n stay in predicates so HUGEINT sums never
    // reach the output schema
    "q_quantiles_exact" ->
      """WITH counts AS (
        |  SELECT l_returnflag, l_quantity AS v, CAST(count(*) AS BIGINT) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |cum AS (
        |  SELECT l_returnflag, v, c,
        |         sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         sum(c) OVER (PARTITION BY l_returnflag) AS n
        |  FROM counts)
        |SELECT l_returnflag,
        |       max(CASE WHEN cum >= (n*25+99)//100 AND cum - c < (n*25+99)//100 THEN v END) AS p25,
        |       max(CASE WHEN cum >= (n*50+99)//100 AND cum - c < (n*50+99)//100 THEN v END) AS p50,
        |       max(CASE WHEN cum >= (n*75+99)//100 AND cum - c < (n*75+99)//100 THEN v END) AS p75,
        |       max(CASE WHEN cum >= (n*90+99)//100 AND cum - c < (n*90+99)//100 THEN v END) AS p90,
        |       max(CASE WHEN cum >= (n*99+99)//100 AND cum - c < (n*99+99)//100 THEN v END) AS p99,
        |       CAST(max(n) AS BIGINT) AS n_rows
        |FROM cum GROUP BY 1""".stripMargin,

    // same packed (hash, value) key, bottom-256 DISTINCT keys per
    // group via row_number, same ⌈p·m/100⌉ rank reads; ties in v share
    // the value, so any stable tie order yields the same rank-r value
    "q_quantiles_sketch" ->
      """WITH k AS (
        |  SELECT DISTINCT l_returnflag,
        |         (((((l_orderkey*8 + l_linenumber)*200001
        |            + l_partkey) % 2147483647)*2654435761 + 104729)
        |          % 2147483647) * 64
        |           + CAST(l_quantity AS BIGINT) AS key
        |  FROM lineitem),
        |r AS (
        |  SELECT l_returnflag, key,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY key) AS rn
        |  FROM k),
        |s AS (SELECT l_returnflag, key % 64 AS v FROM r WHERE rn <= 256),
        |o AS (
        |  SELECT l_returnflag, v,
        |         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS vr,
        |         count(*) OVER (PARTITION BY l_returnflag) AS m
        |  FROM s)
        |SELECT l_returnflag,
        |       max(CASE WHEN vr = (m*25+99)//100 THEN v END) AS p25,
        |       max(CASE WHEN vr = (m*50+99)//100 THEN v END) AS p50,
        |       max(CASE WHEN vr = (m*75+99)//100 THEN v END) AS p75,
        |       max(CASE WHEN vr = (m*90+99)//100 THEN v END) AS p90,
        |       max(CASE WHEN vr = (m*99+99)//100 THEN v END) AS p99,
        |       CAST(max(m) AS BIGINT) AS n_sample
        |FROM o GROUP BY 1""".stripMargin,

    "q_latest_snapshot" ->
      """SELECT o_custkey, o_orderkey AS last_orderkey, o_orderdate AS last_orderdate,
        |       o_orderstatus AS last_status, round(o_totalprice, 2) AS last_totalprice
        |FROM orders
        |QUALIFY row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderdate DESC, o_orderkey DESC) = 1""".stripMargin,

    // the oracle is the naive non-equi formulation the bucketed
    // equi-join replaces — same answer, different plan
    "q_interval_join" ->
      """SELECT p.event_id, p.user_id, CAST(count(c.ts) AS BIGINT) AS n_clicks_30m
        |FROM events p LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        | AND epoch_us(c.ts) < epoch_us(p.ts)
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin,

    // DuckDB's native ASOF JOIN picks the greatest c.ts <= p.ts —
    // the exact semantics the chunked formulation reimplements
    "q_asof_join_chunked" ->
      """WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS cus FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS pus
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.pus AS purchase_us,
        |       c.cus AS click_us, p.pus - c.cus AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.pus >= c.cus""".stripMargin,

    // same quantization, bit interleave (disjoint-bit adds), file
    // split, and probe membership — integer-exact end to end
    "q_zorder_layout" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
        |bd AS (SELECT min(user_id) umin, max(user_id) umax,
        |              min(hr) hmin, max(hr) hmax FROM ev),
        |qt AS (
        |  SELECT (user_id - umin) * 256 // (umax - umin + 1) AS aq,
        |         (hr - hmin) * 256 // (hmax - hmin + 1) AS bq
        |  FROM ev CROSS JOIN bd),
        |z AS (
        |  SELECT aq, bq,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 8),
        |           i -> (((aq >> i) & 1) << (2 * i)) + (((bq >> i) & 1) << (2 * i + 1)))),
        |           (x, y) -> x + y) AS zv
        |  FROM qt),
        |f AS (SELECT zv >> 11 AS zfile, bq >> 3 AS tfile, aq FROM z),
        |st AS (
        |  SELECT 'zorder' AS layout, zfile AS file, min(aq) amin, max(aq) amax
        |  FROM f GROUP BY zfile
        |  UNION ALL
        |  SELECT 'time_sorted', tfile, min(aq), max(aq) FROM f GROUP BY tfile),
        |pr AS (SELECT CAST(unnest(range(0, 16)) * 16 AS BIGINT) AS p)
        |SELECT layout, CAST(count(DISTINCT file) AS BIGINT) AS n_files,
        |       CAST(count(p) AS BIGINT) AS files_touched
        |FROM st LEFT JOIN pr ON pr.p >= st.amin AND pr.p <= st.amax
        |GROUP BY layout""".stripMargin,

    // plain join: the bloom prune must not change the result
    "q_bloom_join" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1""".stripMargin,

    // same integer-cents monetary, same $100 bucket, same sort-free
    // (below·5) div total histogram quantiles per dimension
    "q_rfm_segments" ->
      """WITH o AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |ref AS (SELECT max(d) AS ref FROM o),
        |cust AS (
        |  SELECT o_custkey,
        |         CAST(date_diff('day', max(d), (SELECT ref FROM ref)) AS BIGINT) AS r_days,
        |         CAST(count(*) AS BIGINT) AS n_orders,
        |         CAST(sum(cents) AS BIGINT) AS cents
        |  FROM o GROUP BY 1),
        |c2 AS (SELECT *, cents // 10000 AS m_bucket FROM cust),
        |hr AS (
        |  SELECT r_days, least(4, (below * 5) // total) AS rq FROM (
        |    SELECT r_days,
        |           coalesce(sum(c) OVER (ORDER BY r_days
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |           sum(c) OVER () AS total
        |    FROM (SELECT r_days, count(*) AS c FROM c2 GROUP BY 1))),
        |hf AS (
        |  SELECT n_orders, least(4, (below * 5) // total) AS fq FROM (
        |    SELECT n_orders,
        |           coalesce(sum(c) OVER (ORDER BY n_orders
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |           sum(c) OVER () AS total
        |    FROM (SELECT n_orders, count(*) AS c FROM c2 GROUP BY 1))),
        |hm AS (
        |  SELECT m_bucket, least(4, (below * 5) // total) AS mq FROM (
        |    SELECT m_bucket,
        |           coalesce(sum(c) OVER (ORDER BY m_bucket
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |           sum(c) OVER () AS total
        |    FROM (SELECT m_bucket, count(*) AS c FROM c2 GROUP BY 1)))
        |SELECT c2.o_custkey, c2.r_days, c2.n_orders, c2.cents,
        |       CAST(5 - rq AS BIGINT) AS r_score,
        |       CAST(fq + 1 AS BIGINT) AS f_score,
        |       CAST(mq + 1 AS BIGINT) AS m_score,
        |       CAST(5 - rq AS VARCHAR) || CAST(fq + 1 AS VARCHAR)
        |         || CAST(mq + 1 AS VARCHAR) AS segment
        |FROM c2
        |JOIN hr USING (r_days) JOIN hf USING (n_orders) JOIN hm USING (m_bucket)""".stripMargin,

    // same (df, gram)-ordered 5-gram prefix + short-name block + the
    // same length filter and levenshtein verify (DuckDB's levenshtein
    // is the same unit-cost edit distance as Spark's)
    "q_fuzzy_join" ->
      """WITH names AS (
        |  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS n_rows
        |  FROM part GROUP BY 1),
        |g AS (
        |  SELECT name, unnest(list_distinct(list_transform(
        |    range(1, len(name)), i -> substring(name, CAST(i AS INTEGER), 2)))) AS gr
        |  FROM names),
        |gdf AS (SELECT gr, count(*) AS gdf FROM g GROUP BY 1),
        |pf AS (
        |  SELECT name, gr FROM (
        |    SELECT g.name, g.gr,
        |           row_number() OVER (PARTITION BY g.name ORDER BY gdf.gdf, g.gr) AS rn
        |    FROM g JOIN gdf ON g.gr = gdf.gr)
        |  WHERE rn <= 5),
        |c AS (
        |  SELECT DISTINCT name_a, name_b FROM (
        |    SELECT a.name AS name_a, b.name AS name_b
        |    FROM pf a JOIN pf b ON a.gr = b.gr AND a.name < b.name
        |    UNION ALL
        |    SELECT a.name, b.name
        |    FROM names a JOIN names b
        |      ON len(a.name) <= 5 AND len(b.name) <= 5 AND a.name < b.name)
        |  WHERE abs(len(name_a) - len(name_b)) <= 2),
        |v AS (
        |  SELECT name_a, name_b,
        |         CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev
        |  FROM c WHERE levenshtein(name_a, name_b) <= 2)
        |SELECT v.name_a, v.name_b, v.lev, na.n_rows AS n_rows_a, nb.n_rows AS n_rows_b
        |FROM v
        |JOIN names na ON na.name = v.name_a
        |JOIN names nb ON nb.name = v.name_b""".stripMargin,

    "q6_revenue_delta" ->
      """SELECT round(CAST(sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount >= CAST(0.05 AS DOUBLE)
        |  AND l_discount <= CAST(0.07 AS DOUBLE)
        |  AND l_quantity < 24""".stripMargin,

    "q7_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND n1.n_name IN ('NATION_9', 'NATION_11')
        |  AND n2.n_name IN ('NATION_9', 'NATION_11')
        |  AND n1.n_name <> n2.n_name
        |GROUP BY 1, 2, 3""".stripMargin,

    "q8_market_share" ->
      """WITH yr AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         round(CAST(sum(CASE WHEN ns.n_name = 'NATION_9'
        |                 THEN CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)
        |                 ELSE CAST(0 AS BIGINT) END) AS DOUBLE) / 10000.0, 2) AS nation_rev,
        |         round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS total_rev
        |  FROM lineitem
        |  JOIN part     ON l_partkey = p_partkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region   ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate <  TIMESTAMP '1998-01-01'
        |  GROUP BY 1)
        |SELECT o_year, nation_rev, total_rev,
        |       round(nation_rev / total_rev, 4) AS mkt_share
        |FROM yr""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS supplier_no,
        |         CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT) AS rev_1e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate <  TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name,
        |       round(CAST(rev_1e4 AS DOUBLE) / 10000.0, 2) AS total_revenue
        |FROM rev JOIN supplier ON supplier_no = s_suppkey
        |WHERE rev_1e4 = (SELECT max(rev_1e4) FROM rev)""".stripMargin,

    "q4_priority_returns" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate <  TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin,

    "q22_idle_balance" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         CAST(round(c_acctbal * 100) AS BIGINT) AS c_cents
        |  FROM customer),
        |thr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pos,
        |         CAST(sum(c_cents) AS BIGINT) AS total_cents
        |  FROM c WHERE c_cents > 0)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
        |       round(CAST(sum(c_cents) AS DOUBLE) / 100.0, 2) AS totacctbal
        |FROM c
        |CROSS JOIN thr
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_cents * n_pos > total_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1998-01-01')
        |GROUP BY 1""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem GROUP BY 1, 2),
        |elig AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |         ps_supplycost, ps_partkey
        |  FROM ps
        |  JOIN part ON ps_partkey = p_partkey
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size = 15 AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |       floor(ps_supplycost * 10000 + 0.5) / 10000.0 AS supply_cost
        |FROM elig e
        |WHERE ps_supplycost = (SELECT min(ps_supplycost) FROM elig x
        |                       WHERE x.ps_partkey = e.ps_partkey)
        |ORDER BY s_acctbal DESC, s_name, p_partkey LIMIT 20""".stripMargin,

    "q9_product_profit" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
        |  GROUP BY 1, 2)
        |SELECT n_name,
        |       CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       (CASE WHEN sum(CAST(round((l_extendedprice * (1 - l_discount)
        |              - ps_supplycost * l_quantity) * 10000) AS BIGINT)) < 0
        |             THEN -1.0 ELSE 1.0 END
        |        * ((abs(sum(CAST(round((l_extendedprice * (1 - l_discount)
        |              - ps_supplycost * l_quantity) * 10000) AS BIGINT))) + 50) // 100)
        |       ) / 100.0 AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2""".stripMargin,

    "q11_important_parts" ->
      """WITH ps AS (
        |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
        |         min(l_extendedprice / l_quantity) AS ps_supplycost,
        |         sum(l_quantity) AS ps_availqty
        |  FROM lineitem GROUP BY 1, 2),
        |held AS (
        |  SELECT ps_partkey,
        |         CAST(round(ps_supplycost * ps_availqty * 100) AS BIGINT) AS v_fp
        |  FROM ps
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_9'),
        |per_part AS (
        |  SELECT ps_partkey AS p_partkey, CAST(sum(v_fp) AS BIGINT) AS fp
        |  FROM held GROUP BY 1),
        |total AS (
        |  SELECT CAST(sum(v_fp) AS BIGINT) AS total_fp FROM held)
        |SELECT p_partkey, round(CAST(fp AS DOUBLE) / 100.0, 2) AS part_value
        |FROM per_part CROSS JOIN total
        |WHERE fp * 1000 > total_fp""".stripMargin,

    "q12_priority_lines" ->
      """SELECT l_returnflag,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |GROUP BY 1""".stripMargin,

    "q16_supplier_variety" ->
      """SELECT p_brand, p_type, p_size,
        |       CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey
        |      FROM lineitem) pairs
        |JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'BRAND_1'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q20_dominant_suppliers" ->
      """WITH shipped AS (
        |  SELECT l_partkey AS k, l_suppkey, sum(l_quantity) AS qty
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small %')
        |  GROUP BY 1, 2),
        |totals AS (SELECT k AS tk, sum(qty) AS total_qty FROM shipped GROUP BY 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS n_parts
        |FROM shipped
        |JOIN totals ON k = tk
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE qty * 8 > total_qty AND r_name = 'ASIA'
        |GROUP BY 1, 2""".stripMargin,

    "q21_sole_blame" ->
      """WITH fin AS (
        |  SELECT l_orderkey, l_suppkey, l_returnflag FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')),
        |ret AS (SELECT DISTINCT l_orderkey, l_suppkey FROM fin WHERE l_returnflag = 'R'),
        |alls AS (SELECT DISTINCT l_orderkey AS a_ok, l_suppkey AS a_sk FROM fin)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM ret r
        |JOIN supplier ON r.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM alls
        |              WHERE a_ok = r.l_orderkey AND a_sk <> r.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM ret x
        |                  WHERE x.l_orderkey = r.l_orderkey
        |                    AND x.l_suppkey <> r.l_suppkey)
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_name LIMIT 10""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
        |       round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_bucketed_agg" ->
      """SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
        |FROM (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
        |      FROM lineitem GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "q_referential_integrity" ->
      """SELECT 'lineitem.l_orderkey->orders' AS relation,
        |       CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |       CAST(sum(CASE WHEN l_orderkey IS NOT NULL AND NOT EXISTS (
        |              SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN l_partkey IS NOT NULL AND NOT EXISTS (
        |              SELECT 1 FROM part WHERE p_partkey = l_partkey)
        |            THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN l_suppkey IS NOT NULL AND NOT EXISTS (
        |              SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
        |            THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN o_custkey IS NOT NULL AND NOT EXISTS (
        |              SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |            THEN 1 ELSE 0 END) AS BIGINT)
        |FROM orders
        |UNION ALL
        |SELECT 'customer.c_nationkey->nation',
        |       CAST(count(*) AS BIGINT),
        |       CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |       CAST(sum(CASE WHEN c_nationkey IS NOT NULL AND NOT EXISTS (
        |              SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        |            THEN 1 ELSE 0 END) AS BIGINT)
        |FROM customer""".stripMargin,

    "q_skew_report" ->
      """WITH k AS (
        |  SELECT 'l_orderkey' AS key_col, l_orderkey AS key FROM lineitem
        |  UNION ALL SELECT 'l_partkey', l_partkey FROM lineitem
        |  UNION ALL SELECT 'l_suppkey', l_suppkey FROM lineitem),
        |c AS (SELECT key_col, key, CAST(count(*) AS BIGINT) AS cnt
        |      FROM k GROUP BY 1, 2),
        |t AS (SELECT key_col, CAST(sum(cnt) AS BIGINT) AS total,
        |             CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(max(cnt) AS BIGINT) AS max_cnt
        |      FROM c GROUP BY 1)
        |SELECT c.key_col, t.n_keys, t.total, t.max_cnt,
        |       round(CAST(t.max_cnt AS DOUBLE) / CAST(t.total AS DOUBLE), 6) AS top1_share,
        |       CAST(sum(CASE WHEN c.cnt * t.n_keys > t.total * 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_hot,
        |       round(CAST(sum(CASE WHEN c.cnt * t.n_keys > t.total * 10 THEN c.cnt ELSE 0 END) AS DOUBLE)
        |             / CAST(t.total AS DOUBLE), 6) AS hot_share
        |FROM c JOIN t USING (key_col)
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "q_partition_prune" ->
      """SELECT date_trunc('hour', ts) AS hour,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       round(CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin
  )
}
