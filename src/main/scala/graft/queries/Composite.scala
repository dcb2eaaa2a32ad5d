package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables

/** Composite analytic queries — realistic multi-join/agg plans in the
  * shape of TPC-H Q3/Q5/Q10, exercising join reorder, broadcast
  * selection, partial aggregation and top-k together. */
object Composite {

  type Q = (SparkSession, String) => DataFrame

  private def sumDec(c: org.apache.spark.sql.Column, scale: Int) =
    sum(c.cast(DecimalType(18, scale))).cast("double")

  val defs: Map[String, Q] = Map(
    // Q3 shape: shipping-priority — filter both sides, join, aggregate,
    // top-10 by revenue. Revenue is pre-aggregated per l_orderkey BEFORE
    // the join: o_orderdate/o_orderpriority are functionally dependent
    // on the (unique) order key, so the result is row-identical while
    // the heavy aggregate runs on a single bigint key ahead of the join
    // and only one compact row per order crosses the join exchange — the
    // post-join formulation aggregated every joined lineitem row on a
    // 3-part string-bearing key (the worst grower on a 10× scaled copy).
    "q3_shipping_priority" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") < lit("2001-06-01").cast("timestamp"))
      val liAgg = Tables.lineitem(s, d)
        .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
        .groupBy(col("l_orderkey").as("orderkey"))
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
      liAgg.join(o, col("orderkey") === o("o_orderkey"))
        .select(col("orderkey"),
          date_format(o("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          o("o_orderpriority").as("priority"), col("revenue"))
        .orderBy(col("revenue").desc, col("orderkey").asc)
        .limit(10)
    }),
    // Q5 shape: revenue per supplier nation within one region.
    "q5_region_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val su = Tables.supplier(s, d)
      val n = Tables.nation(s, d)
      val r = Tables.region(s, d).filter(col("r_name") === "ASIA")
      li.join(su, li("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(n("n_name").as("nation"))
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"),
          count(lit(1)).as("n_lines"))
    }),
    // Q10 shape: top customers by returned-item revenue. Same
    // pre-aggregation argument as Q3: c_name/n_name are functionally
    // dependent on the unique c_custkey, so revenue is reduced per
    // bigint custkey first and the name strings are attached to the
    // (tiny) aggregated result — instead of carrying them through the
    // full joined fact stream into a string-keyed aggregate. A custkey
    // without a customer row drops at the post-agg join exactly as it
    // dropped pre-agg before: row-identical.
    "q10_returned_revenue" -> ((s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      val rev = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_custkey").as("custkey"))
        .agg(sumDec(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
          .as("revenue"))
      rev.join(c, col("custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .select(col("custkey"), c("c_name").as("name"),
          n("n_name").as("nation"), col("revenue"))
        .orderBy(col("revenue").desc, col("custkey").asc)
        .limit(20)
    }),
    // array/map/struct scalar battery over tokenized documents
    "q_array_fns" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("t", split(col("text"), " "))
        .select(col("doc_id"),
          size(col("t")).as("n"),
          element_at(col("t"), 1).as("first_w"),
          element_at(col("t"), -1).as("last_w"),
          array_contains(col("t"), "the").as("has_the"),
          concat_ws("-", slice(col("t"), 1, 3)).as("first3"),
          size(array_remove(col("t"), "the")).as("n_no_the"),
          array_position(col("t"), "data").cast("int").as("pos_data"),
          reverse(col("t")).getItem(0).as("rev_first"))),
    "q_map_fns" -> ((s, d) =>
      // build a map from aggregated pairs, then read it back — the
      // map_from_entries/element_at round trip
      Tables.orders(s, d)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(map_from_entries(collect_list(struct(
          col("o_orderkey"), col("o_orderpriority")))).as("m"),
          max(col("o_orderkey")).as("max_ok"))
        .select(col("custkey"), size(col("m")).as("n_orders"),
          element_at(col("m"), col("max_ok")).as("last_priority")))
  )

  val oracles: Map[String, String] = Map(
    "q3_shipping_priority" -> """
      SELECT l_orderkey AS orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             o_orderpriority AS priority,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate < TIMESTAMP '2001-06-01'
        AND l_shipdate > TIMESTAMP '1995-06-01'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, orderkey ASC LIMIT 10""",
    "q5_region_revenue" -> """
      SELECT n_name AS nation,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
             COUNT(1) AS n_lines
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name""",
    "q10_returned_revenue" -> """
      SELECT c_custkey AS custkey, c_name AS name, n_name AS nation,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
      GROUP BY 1, 2, 3
      ORDER BY revenue DESC, custkey ASC LIMIT 20""",
    "q_array_fns" -> """
      SELECT doc_id,
             CAST(len(t) AS INTEGER) AS n,
             t[1] AS first_w,
             t[-1] AS last_w,
             list_contains(t, 'the') AS has_the,
             array_to_string(t[1:3], '-') AS first3,
             CAST(len(list_filter(t, x -> x <> 'the')) AS INTEGER) AS n_no_the,
             CAST(COALESCE(list_position(t, 'data'), 0) AS INTEGER) AS pos_data,
             list_reverse(t)[1] AS rev_first
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) x""",
    "q_map_fns" -> """
      SELECT o_custkey AS custkey,
             CAST(COUNT(1) AS INTEGER) AS n_orders,
             MAX_BY(o_orderpriority, o_orderkey) AS last_priority
      FROM orders GROUP BY o_custkey"""
  )
}
