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

  /** transform_user (reference `dags/etl.py:69-86`): users ⋈ user_info
    * on Document (J1). 300-row output on reference-shaped data; columns
    * `(Id, Document, Name, BirthDay, Gender, Email, Phone)`. */
  def usersEnriched(users: DataFrame, userInfo: DataFrame): DataFrame =
    joinPandasOn(users, transformUserInfo(userInfo), "Document")
      .select("Id", "Document", "Name", "BirthDay", "Gender", "Email", "Phone")

  /** transform_orders (reference `dags/etl.py:89-124`): orders ⋈ products
    * (J2, drops unmatched product ids) ⋈ users-enriched (J3, `_x`/`_y`
    * collision naming), then project + rename `Name_x`→`Product_Name`
    * (P2/P3). Columns
    * `(Fecha, User_ID, Product_ID, Product_Name, Category, Price)`.
    *
    * Each task's rows come out clustered by `Product_ID`: a per-task
    * sort, no exchange. `Product_Name`, `Category` and `Price` are
    * functions of `Product_ID`, so a parquet sink stores all four as
    * long dictionary/RLE runs instead of one random dictionary index
    * per row (the orders sink shrinks by more than half). */
  def ordersEnriched(orders: DataFrame, products: DataFrame,
                     usersFinal: DataFrame): DataFrame = {
    val op = joinPandas(orders, products, "Product_ID", "Id")
    val opu = joinPandas(op, usersFinal, "User_ID", "Id")
    opu.select(col("Fecha"), col("User_ID"), col("Product_ID"),
      col("Name_x").as("Product_Name"), col("Category"), col("Price"))
      .sortWithinPartitions(col("Product_ID"))
  }

  /** products pass-through load (reference `dags/etl.py:242` pulls the
    * RAW extract for the products sink while the orders join consumes
    * the same extract — one scan, two consumers). */
  def productsPassthrough(products: DataFrame): DataFrame =
    products.select("Id", "Name", "Category", "Price")
}
