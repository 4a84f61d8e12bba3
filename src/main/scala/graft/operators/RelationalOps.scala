package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loader for the driver's parquet testdata (TESTDATA.md). */
object Tables {
  // One relation per (session, dir, table), built once: spark.read.parquet
  // re-lists the path and re-reads footers for schema inference on EVERY
  // call, a fixed per-query tax that a real deployment pays once at catalog
  // registration. A DataFrame is an immutable logical plan, so reuse across
  // queries is safe; session-scoped in OpCache so test suites with their own
  // sessions never share plans across stopped contexts.
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    OpCache.perSession(spark, "table/" + name, dir)(build(spark, dir, name))

  private def build(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) in some testdata
      // generations and TIMESTAMP(MICROS, isAdjustedToUTC=false) in others.
      // Normalize both to a microsecond TimestampType (session TZ is pinned
      // to UTC in every entry point, so NTZ wall-clock == LTZ instant) so
      // downstream code always sees one type. For the NANOS generation the
      // legacy flag is needed only while the relation's schema resolves
      // (spark.read.parquet is eager about footers), so scope it: flip,
      // build the DataFrame, restore — other TIMESTAMP(NANOS) reads in the
      // session keep their configured behavior. The critical section is
      // LOCKED: session conf is session-global, so two threads building
      // events readers concurrently could interleave set/unset (one thread
      // reads with the flag off -> PARQUET_TYPE_ILLEGAL, or the flag leaks
      // set). A process-wide lock is coarse but the section is milliseconds
      // (footer read), and library callers may share one session.
      Tables.synchronized {
        val key = "spark.sql.legacy.parquet.nanosAsLong"
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, "true")
        try {
          val raw = spark.read.parquet(s"$dir/$name.parquet")
          raw.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType => // nanos-as-long generation
              raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
            case org.apache.spark.sql.types.TimestampNTZType =>
              raw.withColumn("ts", col("ts").cast("timestamp"))
            case _ => raw // already TimestampType
          }
        } finally prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}

/**
 * Core relational operator inventory (SURVEY.md §2.2, §2.4, §2.5) expressed
 * over the driver's TPC-H-ish tables. Each query has a DuckDB oracle in
 * `SparkEntry.oracleSql` with identical column names/types; declarative
 * DataFrame code so Catalyst handles pushdown, pruning, join strategy, AQE.
 *
 * Determinism rules used throughout (the oracle hash-compares values):
 *  - every result has a total ORDER BY on output keys;
 *  - float aggregates are rounded (sum/avg order is engine-dependent in the
 *    last ulp); raw column values are emitted unrounded (bit-exact both sides);
 *  - integer aggregates are cast to BIGINT on the DuckDB side (it widens sums
 *    to HUGEINT, Spark stays at LongType);
 *  - timestamps are emitted as strings or epoch seconds, never raw (parquet
 *    ns-vs-us truncation would differ).
 */
object RelationalOps {
  import Tables.t

  /** P1/P5/P7: filter + projection (`whisper_pandas.py:214-215,229`). */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(col("event_type") === "purchase" && col("value") > 50)
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy("event_id")

  /** P3: epoch seconds <-> datetime conversion (`whisper_pandas.py:222-223`). */
  def datetimeConvert(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(
        col("event_id"),
        unix_timestamp(col("ts")).as("ts_sec"),
        date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour_bucket")
      )
      .orderBy("event_id")

  /** P6 + limit: global sort + deterministic top-k (`whisper_pandas.py:231-232`). */
  def sortTopK(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .orderBy(col("value").desc, col("event_id"))
      .limit(100)

  /** W2/W3: constant-column tag + union (`whisper_pandas.ipynb:1199-1205`). */
  def unionTag(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    val hi = e.filter(col("value") >= 100).select(lit("high").as("tag"), col("event_id"), col("value"))
    val lo = e.filter(col("value") < 100).select(lit("low").as("tag"), col("event_id"), col("value"))
    hi.unionByName(lo).orderBy("event_id", "tag")
  }

  /**
   * The 8 Whisper aggregation methods (`whisper_pandas.py:33-42`) as a
   * time-bucketed downsample — the reference only *decodes* this enum; we
   * execute it. absmax/absmin here use magnitude semantics (deterministic
   * under ties); signed Graphite semantics live in [[TimeSeriesOps]].
   */
  def downsample8(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(
        col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:00").as("hour_bucket")
      )
      .agg(
        count(lit(1)).as("n"),
        // averages are sums/n off the decimal grid — emit the exact
        // integer-cents sum instead (average = sum_cents / 100 / n)
        round(sum(col("value")) * 100.0, 0).cast("bigint").as("agg_sum_cents"),
        round(sum(coalesce(col("value"), lit(0.0))) * 100.0, 0).cast("bigint").as("agg_sum_zero_cents"),
        max_by(col("value"), col("event_id")).as("agg_last"),
        max(col("value")).as("agg_max"),
        min(col("value")).as("agg_min"),
        max(abs(col("value"))).as("agg_absmax"),
        min(abs(col("value"))).as("agg_absmin")
      )
      .orderBy("event_type", "hour_bucket")

  /** Star join over broadcast-able dims (customer x nation x region). */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy("r_name", "n_name")

  /** Fact-fact shuffle join (lineitem x orders) + aggregation. */
  def joinShuffle(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) / 100.0, 0).cast("bigint").as("revenue_h")
      )
      .orderBy("o_orderpriority")

  /** Anti join: customers with no orders in the last generated year. */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(
        t(spark, dir, "orders").filter(col("o_orderdate") >= to_timestamp(lit("2001-01-01"))),
        col("c_custkey") === col("o_custkey"),
        "left_anti"
      )
      .select(col("c_custkey"), col("c_name"))
      .orderBy("c_custkey")

  /** Semi join: customers with >=1 urgent order. */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(
        t(spark, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"),
        "left_semi"
      )
      .select(col("c_custkey"), col("c_acctbal"))
      .orderBy("c_custkey")

  /**
   * TPC-H Q5 through the SQL entry point (`spark.sql` over registered
   * views): the relational surface is reachable as ANSI text, not just the
   * DataFrame DSL, and lands in the identical Catalyst plan. The statement
   * below is written in the Spark∩DuckDB dialect subset and is shared
   * VERBATIM with the oracle — one string, two engines, hash-equal result.
   * Revenue uses q12's convention (rounded hundreds as bigint) so the float
   * product sum quantizes identically. Plan shape: lineitem⋈orders is the
   * one big co-keyed join; customer/supplier/nation/region are
   * broadcast-eligible dimensions, and the c_nationkey = s_nationkey
   * condition rides the supplier join.
   */
  val TpchQ5Sql: String =
    """SELECT n_name, CAST(round(sum(l_extendedprice*(1-l_discount))/100.0, 0) AS BIGINT) AS revenue_h
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY n_name ORDER BY revenue_h DESC, n_name""".stripMargin

  def tpchQ5Sql(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region")
      .foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
    spark.sql(TpchQ5Sql)
  }

  /** TPC-H Q1 shape: scan-heavy grouped aggregate over lineitem. */
  def tpchQ1(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        // sums of 2-decimal data sit ON the 0.01 grid, so round(.,2) is
        // target-aligned and engine-stable; 4-decimal product sums and
        // averages land on/off rounding boundaries unpredictably between
        // engines (accumulation-order fp error), so those are emitted as
        // coarse scaled integers instead — hash-exact by construction.
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) / 100.0, 0).cast("bigint").as("sum_disc_price_h"),
        round(sum(col("l_discount")), 2).as("sum_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q6 shape: pure filter + scalar aggregate (pushdown showcase). */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24
      )
      .agg(round(sum(col("l_extendedprice") * col("l_discount")) / 100.0, 0).cast("bigint").as("revenue_h"))

  /** TPC-H Q3 shape: 3-way join, grouped revenue, top-10. */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(t(spark, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(spark, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") < to_timestamp(lit("1997-01-01")) && col("l_shipdate") > to_timestamp(lit("1997-01-01")))
      // group on the native timestamp and format AFTER aggregation: the
      // grouping expression is evaluated per input row, so formatting there
      // costs a string render per lineitem instead of per output group
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))) / 100.0, 0).cast("bigint").as("revenue_h"))
      .select(col("o_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"), col("revenue_h"))
      .orderBy(col("revenue_h").desc, col("o_orderkey"))
      .limit(10)

  /** Window: rank within group (top-3 orders by price per priority).
   *
   * NOT a row_number window: partitioned by a 5-value key, that plan
   * serializes into at most 5 sort tasks no matter the cluster size and
   * shuffles every row. TopKAgg partial-reduces each map task's slice to
   * <=3 (price, key) pairs before the shuffle, so the exchange carries
   * O(tasks x 3) rows and every executor contributes — the per-group
   * top-k shape that survives 100 TB. Order inside the aggregator is
   * (price DESC, key ASC), identical to the window spec, so rn == the
   * row_number the oracle computes. */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(3))
    t(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderpriority"), posexplode(col("top")))
      .select(
        col("o_orderpriority"),
        col("col._2").as("o_orderkey"),
        col("col._1").as("o_totalprice"),
        (col("pos") + 1).cast("int").as("rn"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** Window: running sum per user (accumulation order fixed by event_id, so
   * the double result is bit-identical across engines before rounding). */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), round(sum(col("value")).over(w), 2).as("running"))
      .orderBy("event_id")
  }

  /** Set op: EXCEPT (users who errored but never made a big purchase). */
  def setExcept(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    e.filter(col("event_type") === "error").select(col("user_id"))
      .except(e.filter(col("event_type") === "purchase" && col("value") > 250).select(col("user_id")))
      .orderBy("user_id")
  }

  /** Set op: INTERSECT (users who both clicked and purchased). */
  def setIntersect(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "events")
    e.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy("user_id")
  }

  /** Scalar string/date function surface (SURVEY §2.5). */
  def scalarFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        upper(substring(col("text"), 1, 10)).as("head10"),
        length(col("text")).cast("bigint").as("len"),
        col("n_chars"),
        concat_ws("_", col("lang"), col("source")).as("tag")
      )
      .orderBy("doc_id")

  /** Grouping sets: region/nation rollup with subtotal rows (SURVEY §2.5
   * "aggregations / grouping sets"). */
  def rollupRegion(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), round(sum(col("c_acctbal")), 2).as("total_bal"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        coalesce(col("n_name"), lit("ALL")).as("nation"),
        col("n_cust"), col("total_bal")
      )
      .orderBy("region", "nation")

  /** Correlated scalar subquery (TPC-H Q17 shape): small-quantity orders vs
   * each part's own average. Expressed via SQL so Catalyst's subquery
   * decorrelation rewrites it into an aggregate + join. */
  def correlatedSubquery(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, dir, "part").createOrReplaceTempView("part")
    spark.sql(
      """SELECT cast(round(sum(l_extendedprice) / 7.0 / 100.0, 0) as bigint) AS avg_yearly_h
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = (SELECT min(p_brand) FROM part)
        |AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
        |""".stripMargin
    )
  }

  /** Exact interpolated percentiles per group (median + p90). */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 4).as("med"),
        round(expr("percentile(value, 0.9)"), 4).as("p90")
      )
      .orderBy("event_type")

  /** Range-frame window: trailing 1-hour moving average per user, frame
   * bounded by event-time VALUE (rangeBetween), not row count. */
  def windowRangeFrame(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("us").rangeBetween(-hourUs, 0)
    t(spark, dir, "events")
      .withColumn("us", unix_micros(col("ts")))
      .select(
        col("event_id"), col("user_id"),
        round(avg(col("value")).over(w), 4).as("trail_1h_avg"),
        count(lit(1)).over(w).as("trail_1h_n")
      )
      .orderBy("event_id")
  }

  /** Sketch-based approximate aggregates (HLL distinct count, t-digest-style
   * quantiles). Rows-only check: sketch algorithms are engine-specific, so
   * no DuckDB hash parity — the spec bounds their error vs exact instead. */
  def approxAggs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        // the sketches: HLL++ distinct count and GK percentile summary. Both
        // are order/partition-independent enough to validate deterministically
        // (HLL registers are max-merged; GK error is bounded by n/accuracy).
        approx_count_distinct(col("user_id"), rsd = 0.02).as("au"),
        countDistinct(col("user_id")).as("exact_users"),
        expr("approx_percentile(value, array(0.5, 0.99), 10000)").as("ap"),
        // exact bracketing quantiles, computed Spark-side only and folded
        // into the validation booleans below
        expr("percentile(value, array(0.40, 0.60, 0.97))").as("ep"),
        max(col("value")).as("vmax")
      )
      // Hash-checkable contract: the oracle can't reproduce Spark's sketch
      // values (different HLL/quantile implementations), but it CAN assert
      // the same accuracy contract — so emit the exact count plus booleans
      // verifying each sketch lands inside its band (DuckDB side: literal
      // TRUE). The sketches still run end to end; a broken sketch flips a
      // boolean and fails the hash check. The HLL band is 15% against the
      // rsd=0.02 STANDARD DEVIATION — ~7.5 sigma, so it never flips on a
      // healthy sketch over any fixture, while a broken one (orders of
      // magnitude off) still trips it; a 5% band would be only ~2.5 sigma,
      // a legitimate few-per-thousand flip risk per group on new data.
      .select(
        col("event_type"),
        col("exact_users"),
        (abs(col("au") - col("exact_users")) * 20 <= col("exact_users") * 3).as("approx_users_ok"),
        (col("ap")(0) >= col("ep")(0) && col("ap")(0) <= col("ep")(1)).as("approx_med_ok"),
        (col("ap")(1) >= col("ep")(2) && col("ap")(1) <= col("vmax")).as("approx_p99_ok")
      )
      .orderBy("event_type")

  /** Semi-structured: JSON field extraction from the events props column.
   *
   * PARSE-AFTER-AGGREGATE (r14, from the 100x crossover probe): the naive
   * shape runs `get_json_object` once per ROW — at 10M rows that one
   * Jackson parse per row was 90%+ of the query and the one slope in the
   * worst-ratio table that did not amortize (DuckDB's vectorized JSON
   * parser is ~4x faster per row). A grouping query only needs the parse
   * per DISTINCT props string, so aggregate on the raw `props` first
   * (map-side combine: tracking-event props columns are dictionary-shaped,
   * ~100 distinct here) and parse the survivors, then re-aggregate on the
   * extracted key (different raw strings can encode the same k). Trade at
   * adversarial all-distinct cardinality: the first agg shuffles distinct
   * props rows instead of distinct k rows — parse count stays <= rows
   * (never worse than the naive shape), and the dictionary case pays 1e5x
   * fewer parses. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("props"))
      .agg(count(lit(1)).as("n0"), sum(col("value")).as("t0"))
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"),
        col("n0"), col("t0"))
      .groupBy(col("k"))
      .agg(sum("n0").as("n"), round(sum(col("t0")), 2).as("total"))
      .orderBy("k")

  /** Statistical aggregates (stddev/variance/correlation), emitted as scaled
   * integers per the float-stability rule (engines use different one-pass
   * algorithms; error ~1e-12 relative, quanta chosen far above it). */
  def statsAggs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(stddev_samp(col("value")) * 1000.0, 0).cast("bigint").as("sd_k"),
        round(var_samp(col("value")) * 100.0, 0).cast("bigint").as("var_c"),
        round(corr(col("value"), col("user_id").cast("double")) * 10000.0, 0).cast("bigint").as("corr_e4")
      )
      .orderBy("event_type")

  /** Array functions over the embedding column (raw float values — bit
   * identical in both engines, no rounding needed). */
  def arrayFuncs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(
        col("vec_id"),
        array_max(col("embedding")).as("mx"),
        array_min(col("embedding")).as("mn"),
        size(col("embedding")).cast("bigint").as("dim"),
        element_at(col("embedding"), 1).as("first_dim"),
        col("label")
      )
      .orderBy("vec_id")

  /** Pivot via conditional aggregation (engine-portable, unlike PIVOT
   * syntax): order revenue per year, one column per market segment. */
  def pivotSegments(spark: SparkSession, dir: String): DataFrame = {
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val o = t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
    val aggCols = segs.map(s =>
      round(sum(when(col("c_mktsegment") === s, col("o_totalprice")).otherwise(0.0)), 2).as(s.toLowerCase))
    o.groupBy(year(col("o_orderdate")).cast("int").as("oyear"))
      .agg(aggCols.head, aggCols.tail: _*)
      .orderBy("oyear")
  }

  /** Date part extraction (year/month/quarter over orders). */
  def dateParts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).cast("int").as("oyear"),
        quarter(col("o_orderdate")).cast("int").as("oquarter")
      )
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy("oyear", "oquarter")

  /** UNPIVOT (wide -> long): the four lineitem measures melted into
   * (measure, value) rows via the `stack` generator — one codegen'd pass, 4x
   * row amplification, then a 4-group aggregate. The inverse of
   * [[pivotSegments]]; together they round-trip between layouts. Sums are
   * rounded at 2 only because every measure sits on the cent grid (sums of
   * on-grid data stay on-grid — engine-stable). */
  def unpivotMeasures(spark: SparkSession, dir: String): DataFrame = {
    // Aggregate-first, THEN unpivot. The naive shape (stack each row into 4
    // (measure, val) pairs, then groupBy) runs the generator over every input
    // row — 4x the aggregation input and a non-codegen Generate in the hot
    // path. All 16 aggregates are instead computed in ONE partial-agg pass
    // over the unexpanded table, and the stack generator runs on the single
    // result row (r8 rewrite; bit-identical output, same plan at any scale:
    // one scan + one 1-row exchange, no row expansion).
    val m = Seq("discount", "extendedprice", "quantity", "tax")
    val a = t(spark, dir, "lineitem").agg(
      count(lit(1)).as("n"),
      m.flatMap(c => Seq(
        min(s"l_$c").as(s"mn_$c"),
        max(s"l_$c").as(s"mx_$c"),
        round(sum(s"l_$c"), 2).as(s"total_$c"))): _*
    )
    a.selectExpr(
      s"""stack(4, ${m.map(c => s"'$c', n, mn_$c, mx_$c, total_$c").mkString(",\n  ")}
         |) AS (measure, n, mn, mx, total)""".stripMargin)
      .orderBy("measure")
  }

  /** Daily active users: per-day exact distinct-user count plus event
   * volume. COUNT(DISTINCT) plans as a two-phase expand/aggregate — the
   * per-day partials deduplicate map-side, so the shuffle carries at most
   * (days x distinct users) rows, not events. */
  def dailyActiveUsers(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(to_date(col("ts")).cast("string").as("day"))
      .agg(
        countDistinct("user_id").as("dau"),
        count(lit(1)).as("n_events"),
        round(sum("value"), 2).as("total_value")
      )
      .orderBy("day")

  /** Fixed-width value histogram: 50 width-10 buckets over [0, 500). Pure
   * map-side bucketing + one tiny aggregate — the profiling query shape that
   * replaces exact percentiles when only the distribution's shape is needed
   * at scale. Bucket math is spelled out (floor(value/10)+1, the
   * width_bucket formula) so both engines evaluate the IDENTICAL double
   * expression — DuckDB has no width_bucket, and a differently-factored
   * formula could floor-flip on boundary values. */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(expr("cast(floor(value / 10.0D) as int) + 1").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        round(min("value"), 2).as("lo"),
        round(max("value"), 2).as("hi")
      )
      .orderBy("bucket")

  /** Ordered string aggregation (LISTAGG shape): region -> CSV of its
   * nations, sorted for determinism. The sort happens INSIDE the collected
   * array (sort_array, per-group), not as a global sort. */
  def stringAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "nation")
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        concat_ws(",", sort_array(collect_list(col("n_name")))).as("nations"),
        count(lit(1)).as("n_nations")
      )
      .orderBy("r_name")

  /** CUBE over (year, priority): all four grouping-set combinations in one
   * pass (map-side partial agg expands the sets; one shuffle total). NULL
   * grouping keys are coalesced to sentinels — Spark sorts NULLS FIRST,
   * DuckDB NULLS LAST, so raw NULL keys would break oracle row order. */
  def cubeOrders(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .cube(year(col("o_orderdate")).cast("int").as("yr"), col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("yr"), lit(-1)).as("oyear"),
        coalesce(col("pri"), lit("ALL")).as("pri"),
        col("n"), col("total")
      )
      .orderBy("oyear", "pri")

  /** Rank bucketing: EXACT ntile deciles of order value, computed scalably.
   * `ntile(10).over(Window.orderBy(...))` funnels every row through ONE
   * task (WindowExec warns "moving all data to a single partition" — the
   * lone scale-killer plan the round-4 census carried); instead this runs
   * [[graft.operators.SamplingOps.sequencePack]]'s two-pass discipline:
   * range-repartition on the sort key (total order ACROSS partitions),
   * per-partition `row_number` (fully parallel window keyed by partition
   * id), per-partition counts collected driver-side (O(partitions), never
   * O(rows)) as rank offsets, then SQL-standard ntile arithmetic on the
   * global rank — the first N mod k tiles take ceil(N/k) rows — in exact
   * integer math. Bit-identical to the window ntile (same total order,
   * same tile-size rule, both engines agree), with no single-partition
   * stage anywhere. */
  def decileHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // localCheckpoint pins partition identity between the offsets job and
    // the main job (sequencePack's correctness note: range boundaries are
    // sampled, so a recompute may re-draw pids).
    val orders = t(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .repartitionByRange(col("o_totalprice"), col("o_orderkey"))
      .withColumn("pid", spark_partition_id())
      .transform(OpCache.pinPartitions)
    val counts = orders.groupBy("pid").agg(count(lit(1)).as("pc"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets = counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _))
    val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF("pid", "offset")
    val localW = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    val tq = n / 10
    val tr = n % 10
    // rank rn (1-based) -> tile: first tr tiles hold tq+1 rows each
    val decExpr =
      if (tq == 0L) "cast(rn as int)"
      else s"cast(if(rn <= ${(tq + 1) * tr}, (rn - 1) div ${tq + 1} + 1, " +
        s"$tr + (rn - ${(tq + 1) * tr} - 1) div $tq + 1) as int)"
    orders
      .join(broadcast(offsetsDf), "pid")
      .withColumn("rn", col("offset") + row_number().over(localW))
      .withColumn("decile", expr(decExpr))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"),
        round(sum(col("o_totalprice")), 2).as("total")
      )
      .orderBy("decile")
  }

  /** lag() deltas: per-user consecutive-event value change and time gap,
   * aggregated per event type. One shuffle (the window partition); the
   * groupBy reuses nothing but is tiny after aggregation. Deltas of
   * 2-decimal values stay on the cent grid, so round(,2) is engine-stable;
   * the gap sum is integer-exact. */
  def lagDeltas(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    t(spark, dir, "events")
      .select(
        col("event_type"),
        (col("value") - lag("value", 1).over(w)).as("delta"),
        (unix_timestamp(col("ts")) - lag(unix_timestamp(col("ts")), 1).over(w)).as("gap_sec")
      )
      .where(col("delta").isNotNull)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_deltas"),
        round(max(col("delta")), 2).as("max_delta"),
        round(min(col("delta")), 2).as("min_delta"),
        sum(col("gap_sec")).as("sum_gap_sec")
      )
      .orderBy("event_type")
  }

  /** TPC-H Q4 shape: orders with any line shipped >60 days after the order
   * date, counted per priority. The EXISTS becomes a left-semi hash join on
   * the order key; the correlated interval condition rides along as the
   * join's extra predicate (no second pass over lineitem). */
  def existsLateShip(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    // EXISTS(l: l_orderkey = o_orderkey AND l_shipdate > o_orderdate + 60d)
    // <=> max(l_shipdate) per order > o_orderdate + 60d, because o_orderdate
    // is constant per order. Pre-aggregating lineitem turns the semi join
    // with a residual non-equi conjunct (which must evaluate per matching
    // row) into a partial-agg (map-side combine, ~4x fewer shuffled rows)
    // plus a pure equi join and a scalar filter.
    val maxShip = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(max(col("l_shipdate")).as("max_ship"))
    o.join(maxShip, col("l_orderkey") === col("o_orderkey"))
      .filter(col("max_ship") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_late"))
      .orderBy("o_orderpriority")
  }

  /**
   * Distributed global row numbering (1-based) under a deterministic total
   * order — `row_number() OVER (ORDER BY ...)` WITHOUT the single-task
   * global window that serializes the whole relation through one executor.
   * The scalable shape is the q113/sequencePack two-pass prefix pattern,
   * generalized to any order key: range-partition on the key (a total order
   * ACROSS partitions), rank locally under a pid-keyed window (fully
   * parallel), and add per-partition row-count offsets collected
   * driver-side — O(partitions), never O(rows). Partition identity is
   * pinned ([[OpCache.pinPartitions]]) because the offsets job and the main
   * job must agree on `repartitionByRange`'s SAMPLED boundaries.
   *
   * The order must be TOTAL (include a unique tie-break column such as the
   * primary key); under ties the assignment would be nondeterministic
   * across runs, exactly like the builtin window.
   */
  def globalRank(df: DataFrame, rankName: String, order: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    val parted = df.repartitionByRange(order: _*)
      .withColumn("__grank_pid", spark_partition_id())
      .transform(OpCache.pinPartitions)
    val counts = parted.groupBy("__grank_pid").agg(count(lit(1)).as("pc"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _))
    val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF("__grank_pid", "__grank_off")
    val localW = Window.partitionBy("__grank_pid").orderBy(order: _*)
    parted.join(broadcast(offsetsDf), "__grank_pid")
      .withColumn(rankName, col("__grank_off") + row_number().over(localW))
      .drop("__grank_pid", "__grank_off")
  }
}
