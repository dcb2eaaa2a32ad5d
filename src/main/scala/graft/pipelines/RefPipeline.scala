package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.RefOps._

/** The reference's three output pipelines (SURVEY §3.2/§3.3) as lazy
  * Catalyst plans over explicit-schema inputs. Where the reference runs
  * 13 Airflow tasks with XCom materialization between each pair, each
  * pipeline here is ONE logical plan: Catalyst prunes columns into the
  * scans and (at scale) broadcast-joins the dimension sides.
  */
object RefPipeline {

  /** transform_user_info (reference `dags/etl.py:48-66`):
    * json-normalized fields → canonical names (P1), gender
    * normalization (P5), birthday ISO-timestamp → date-string (P6). */
  def transformUserInfo(userInfo: DataFrame): DataFrame = {
    val renamed = renameAll(userInfo,
      Seq("Document", "Name", "BirthDay", "Gender", "Email", "Phone"))
    renamed
      .withColumn("Gender", normalizeGender(col("Gender")))
      .withColumn("BirthDay", truncateIsoDate(col("BirthDay")))
  }

  /** Clustering key of the users dimension sink. `Name` and `Email`
    * arrive in `user_info` document order, one random dictionary index
    * per row; sorted by `Email`, neighbouring emails share their
    * prefixes, which zstd folds away, and where emails spell the name
    * (`first.last…@`) `Name` stores as runs too: one string key gives
    * the bytes `Name, Email` gives. */
  val usersKey: Seq[String] = Seq("Email")

  /** Clustering key of the orders fact sink. `Product_Name`, `Category`
    * and `Price` are functions of `Product_ID`, so the four store as
    * dictionary/RLE runs; inside a product, `Fecha` then stores as runs
    * too, and `User_ID` ascends within each (product, day). */
  val ordersKey: Seq[String] = Seq("Product_ID", "Fecha", "User_ID")

  /** Clustering key of the products sink: its primary key. */
  val productsKey: Seq[String] = Seq("Id")

  /** transform_user (reference `dags/etl.py:69-86`): users ⋈ user_info
    * on Document (J1). 300-row output on reference-shaped data; columns
    * `(Id, Document, Name, BirthDay, Gender, Email, Phone)`.
    *
    * Each task's rows come out sorted by [[usersKey]]: a per-task sort,
    * no exchange. Catalyst drops it where the order cannot matter (under
    * [[ordersEnriched]]'s J3 join, under a one-file sink sort), so a
    * plan that consumes this frame still sorts once. */
  def usersEnriched(users: DataFrame, userInfo: DataFrame): DataFrame =
    joinPandasOn(users, transformUserInfo(userInfo), "Document")
      .select("Id", "Document", "Name", "BirthDay", "Gender", "Email", "Phone")
      .sortWithinPartitions(usersKey.map(col): _*)

  /** transform_orders (reference `dags/etl.py:89-124`): orders ⋈ products
    * (J2, drops unmatched product ids) ⋈ users-enriched (J3, `_x`/`_y`
    * collision naming), then project + rename `Name_x`→`Product_Name`
    * (P2/P3). Columns
    * `(Fecha, User_ID, Product_ID, Product_Name, Category, Price)`.
    *
    * Each task's rows come out sorted by [[ordersKey]]: a per-task
    * sort, no exchange, so a parquet sink stores the product-derived
    * columns and `Fecha` as runs instead of one random dictionary index
    * per row. The users side's own sort drops out under J3, so the plan
    * sorts once. */
  def ordersEnriched(orders: DataFrame, products: DataFrame,
                     usersFinal: DataFrame): DataFrame = {
    val op = joinPandas(orders, products, "Product_ID", "Id")
    val opu = joinPandas(op, usersFinal, "User_ID", "Id")
    opu.select(col("Fecha"), col("User_ID"), col("Product_ID"),
      col("Name_x").as("Product_Name"), col("Category"), col("Price"))
      .sortWithinPartitions(ordersKey.map(col): _*)
  }

  /** products pass-through load (reference `dags/etl.py:242` pulls the
    * RAW extract for the products sink while the orders join consumes
    * the same extract — one scan, two consumers). */
  def productsPassthrough(products: DataFrame): DataFrame =
    products.select("Id", "Name", "Category", "Price")
}
