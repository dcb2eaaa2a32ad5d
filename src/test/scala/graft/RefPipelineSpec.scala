package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.RefPipeline
import graft.sources.Tables

/** Reference-parity tests over reference-shaped fixtures (FIXTURES.md §A):
  * the invariants verified against the shipped sample data in SURVEY §1.3
  * — inner-join drops, pandas `_x` collision naming, gender
  * normalization, ISO-date truncation. */
class RefPipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  def orders: DataFrame = Seq(
    ("2024-04-01", 1L, 10L), // product 1 missing → dropped (J2)
    ("2024-04-02", 2L, 10L),
    ("2024-04-03", 2L, 11L),
    ("2024-04-04", 3L, 12L),
    ("2024-04-05", 9L, 11L), // product 9 missing → dropped
    ("2024-04-06", 4L, 13L))
    .toDF("Fecha", "Product_ID", "User_ID")

  def products: DataFrame = Seq(
    (2L, "Widget", "Tools", 1500L),
    (3L, "Gadget", "Toys", 2500L),
    (4L, "Sprocket", "Tools", 3500L))
    .toDF("Id", "Name", "Category", "Price")

  def users: DataFrame = Seq(
    (10L, 300000L), (11L, 300001L), (12L, 300002L), (13L, 300003L))
    .toDF("Id", "Document")

  def userInfo: DataFrame = Seq(
    (300000L, "Ana Lopez", "1990-01-02T00:00:00", "f", "a@x.com", "1"),
    (300001L, "Bo Chen", "1985-06-15T12:30:00", "Male", "b@x.com", "2"),
    (300002L, "Cy Doe", "1999-12-31T23:59:59", "Other", "c@x.com", "3"),
    (300003L, "Di Ray", "2001-03-04T00:00:00", "F", "d@x.com", "4"),
    (300499L, "No User", "1970-01-01T00:00:00", "M", "e@x.com", "5")) // unmatched
    .toDF("document", "name", "birthday", "gender", "email", "phone")

  test("users pipeline: join drop, gender normalization, date truncation") {
    val out = RefPipeline.usersEnriched(users, userInfo)
    assert(out.columns.toSeq ==
      Seq("Id", "Document", "Name", "BirthDay", "Gender", "Email", "Phone"))
    val rows = out.sort("Id").collect()
    assert(rows.length == 4) // 300499 has no users row (inner join)
    assert(rows.map(_.getAs[String]("Gender")).toSeq == Seq("F", "M", "Other", "F"))
    assert(rows.map(_.getAs[String]("BirthDay")).toSeq ==
      Seq("1990-01-02", "1985-06-15", "1999-12-31", "2001-03-04"))
  }

  test("orders pipeline: product inner-join drops, _x collision naming") {
    val usersFinal = RefPipeline.usersEnriched(users, userInfo)
    val out = RefPipeline.ordersEnriched(orders, products, usersFinal)
    assert(out.columns.toSeq ==
      Seq("Fecha", "User_ID", "Product_ID", "Product_Name", "Category", "Price"))
    val rows = out.sort("Fecha").collect()
    assert(rows.length == 4) // 2 of 6 dropped (products 1, 9 missing)
    // Product_Name is the PRODUCT's name (pandas Name_x), never the user's
    assert(rows.map(_.getAs[String]("Product_Name")).toSeq ==
      Seq("Widget", "Widget", "Gadget", "Sprocket"))
  }

  /** Sort nodes in `df`'s optimized plan. */
  private def sorts(df: DataFrame): Int = {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    df.queryExecution.optimizedPlan.collect { case s: Sort => s }.size
  }

  /** Whether every partition of `df` is non-decreasing in `key`. */
  private def partitionsSortedBy(df: DataFrame, key: Seq[String]): Boolean =
    df.select(key.map(org.apache.spark.sql.functions.col): _*).rdd
      .glom().collect().forall(p => nonDecreasing(p.toSeq))

  test("orders pipeline: each task's rows clustered by Product_ID, no exchange added") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def exchanges(p: SparkPlan): Int = (p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case _: Exchange => 1
      case _ => 0
    }) + p.children.map(exchanges).sum
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    // broadcast joins, then shuffled joins
    for (threshold <- Seq(prev, "-1")) try {
      spark.conf.set(key, threshold)
      val usersFinal = RefPipeline.usersEnriched(users, userInfo)
      val out = RefPipeline.ordersEnriched(orders.repartition(3), products, usersFinal)
      assert(out.queryExecution.analyzed match {
        case s: Sort => !s.global
        case _ => false
      }, s"ordersEnriched does not end in a per-task sort:\n${out.queryExecution.analyzed}")
      // the plan without the clustering sorts (the orders' and the
      // users side's): the orders pipeline before either
      val unsorted = out.queryExecution.analyzed.transform {
        case s: Sort if !s.global => s.child
      }
      assert(unsorted.collect { case s: Sort => s }.isEmpty)
      // the users side's sort drops out under J3: the plan sorts once
      assert(sorts(out) == 1,
        s"threshold $threshold:\n${out.queryExecution.optimizedPlan}")
      val unsortedPlan = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.executePlan(unsorted).executedPlan
      assert(exchanges(out.queryExecution.executedPlan) == exchanges(unsortedPlan),
        s"threshold $threshold: the sort added an exchange:\n" +
          out.queryExecution.executedPlan)
      val parts = out.select("Product_ID").rdd
        .glom().collect().map(_.map(_.getLong(0)).toSeq)
      assert(parts.forall(p => p == p.sorted) && parts.flatten.length == 4,
        s"threshold $threshold: ${parts.toSeq}")
    } finally spark.conf.set(key, prev)
  }

  test("orders pipeline: each task's rows sorted by Product_ID, Fecha, User_ID") {
    assert(RefPipeline.ordersKey == Seq("Product_ID", "Fecha", "User_ID"))
    // several orders per product, days and users out of order
    val many = Seq(
      ("2024-04-03", 2L, 12L), ("2024-04-01", 2L, 13L), ("2024-04-01", 2L, 11L),
      ("2024-04-02", 3L, 10L), ("2024-04-03", 2L, 10L), ("2024-04-01", 3L, 12L),
      ("2024-04-02", 4L, 11L), ("2024-04-01", 2L, 12L), ("2024-04-02", 3L, 13L))
      .toDF("Fecha", "Product_ID", "User_ID")
    val out = RefPipeline.ordersEnriched(many.repartition(2), products,
      RefPipeline.usersEnriched(users, userInfo))
    assert(partitionsSortedBy(out, RefPipeline.ordersKey))
    assert(out.count() == 9)
  }

  test("users pipeline: each task's rows sorted by Email, one sort; " +
    "every part file a sink write leaves is too") {
    assert(RefPipeline.usersKey == Seq("Email"))
    // user_info in an order that is not Email order, users split 2 ways
    val info = userInfo.union(Seq(
      (300004L, "Al Zed", "1980-01-01T00:00:00", "m", "z@x.com", "6"),
      (300005L, "Al Zed", "1981-01-01T00:00:00", "m", "y@x.com", "7"))
      .toDF("document", "name", "birthday", "gender", "email", "phone"))
    val moreUsers = users.union(Seq((14L, 300004L), (15L, 300005L))
      .toDF("Id", "Document")).repartition(2)
    val out = RefPipeline.usersEnriched(moreUsers, info)
    assert(sorts(out) == 1, out.queryExecution.optimizedPlan.toString)
    assert(partitionsSortedBy(out, RefPipeline.usersKey))
    val dir = java.nio.file.Files.createTempDirectory("graft-users").resolve("users")
    graft.sources.Sinks.overwriteParquet(out, dir.toString)
    val files = java.nio.file.Files.list(dir).toArray.map(_.toString)
      .filter(_.split('/').last.startsWith("part-")).toSeq
    assert(files.nonEmpty)
    for (f <- files) assert(nonDecreasing(spark.read.parquet(f)
      .select(RefPipeline.usersKey.map(org.apache.spark.sql.functions.col): _*)
      .collect().toSeq), f)
    assert(files.map(spark.read.parquet(_).count()).sum == 6)
  }

  test("products pass-through is unmodified") {
    val out = RefPipeline.productsPassthrough(products)
    assert(out.collect().toSet == products.collect().toSet)
  }

  test("S2: nested JSON extract via multiLine reader") {
    val dir = java.nio.file.Files.createTempDirectory("graft-json")
    val f = dir.resolve("user_info.json")
    java.nio.file.Files.writeString(f,
      """{"status": 200, "data": [
        |{"document": 300000, "name": "Ana", "birthday": "1990-01-02T00:00:00",
        | "gender": "f", "email": "a@x.com", "phone": "1"},
        |{"document": 300001, "name": "Bo", "birthday": "1985-06-15T12:30:00",
        | "gender": "Male", "email": "b@x.com", "phone": "2"}]}""".stripMargin)
    val df = Tables.userInfoJson(spark, f.toString)
    assert(df.columns.toSeq ==
      Seq("document", "name", "birthday", "gender", "email", "phone"))
    assert(df.count() == 2)
    val enriched = RefPipeline.transformUserInfo(df).sort("Document").collect()
    assert(enriched.map(_.getAs[String]("Gender")).toSeq == Seq("F", "M"))
  }
}
