package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Input fixtures for the `ref_pipeline_incremental` gate and
  * `RefOrchestrationSpec`: files laid out as
  * [[graft.pipelines.RefOrchestration.runIncremental]] expects them to
  * arrive. Gate apparatus only — a deployment's files arrive, it never
  * writes its own inputs. */
private[graft] object RefFixtures {

  /** Derives reference-SHAPED inputs deterministically from the testdata
    * star schema (the gate convention: every lifecycle gate's inputs come
    * from the sf tables so the DuckDB oracle can replay them): facts from
    * lineitem (Fecha = shipdate day, Product_ID = partkey, User_ID =
    * suppkey), products from part, users + user_info from supplier with
    * gender/birthday variants that exercise P5/P6 normalization. Facts
    * are split by `l_orderkey % chunks` so tests stage multi-run
    * arrivals. All files land via a Spark writer + rename (the
    * distributed arrival pattern), never a driver collect. */
  private[graft] def stageDims(spark: SparkSession, sfDir: String,
                               inDir: String): Unit = {
    stageCsv(Tables.part(spark, sfDir)
      .select(col("p_partkey").as("Id"), col("p_name").as("Name"),
        col("p_brand").as("Category"),
        col("p_size").cast("long").as("Price")),
      s"$inDir/products.csv")
    stageCsv(Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("Id"),
        (col("s_suppkey") + 100000L).as("Document")),
      s"$inDir/users.csv")
    // one multiLine JSON document {status, data:[...]} — the S2 shape
    val doc = Tables.supplier(spark, sfDir)
      .select(struct(
        (col("s_suppkey") + 100000L).as("document"),
        col("s_name").as("name"),
        concat(lit("199"), (col("s_suppkey") % 10).cast("string"),
          lit("-01-02T00:00:00")).as("birthday"),
        when(col("s_suppkey") % 3 === 0, "Male")
          .when(col("s_suppkey") % 3 === 1, "f")
          .otherwise("F").as("gender"),
        concat(col("s_name"), lit("@x.com")).as("email"),
        col("s_suppkey").cast("string").as("phone")).as("r"))
      .agg(to_json(struct(lit(200L).as("status"),
        collect_list(col("r")).as("data"))).as("j"))
    stageText(doc.select(col("j")), s"$inDir/user_info.json")
  }

  /** Stages fact chunk `k` of `chunks` as one arriving CSV file under
    * `inDir/orders/` — call once per simulated scheduled interval. */
  private[graft] def stageFactChunk(spark: SparkSession, sfDir: String,
                                    inDir: String, k: Int,
                                    chunks: Int = 2): Unit =
    stageCsv(Tables.lineitem(spark, sfDir)
      .filter(pmod(col("l_orderkey"), lit(chunks)) === k)
      .select(date_format(col("l_shipdate"), "yyyy-MM-dd").as("Fecha"),
        col("l_partkey").as("Product_ID"),
        col("l_suppkey").as("User_ID")),
      s"$inDir/orders/chunk$k.csv")

  private def stageCsv(df: DataFrame, dest: String): Unit =
    stageMove(dest, tmp => df.coalesce(1).write.mode("overwrite")
      .option("header", "true").csv(tmp), ".csv")

  private def stageText(df: DataFrame, dest: String): Unit =
    stageMove(dest, tmp => df.coalesce(1).write.mode("overwrite").text(tmp),
      ".txt")

  /** Write through a scratch dir, then rename the single part file to
    * `dest` — the atomic-arrival idiom (a half-written file is never
    * visible under the watched directory). */
  private def stageMove(dest: String, write: String => Unit,
                        ext: String): Unit = {
    val tmp = graft.sources.Scratch.dir(
      s"stage_${java.util.UUID.randomUUID.toString.take(8)}")
    write(tmp)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(ext))
      .findFirst.orElseThrow(() =>
        new IllegalStateException(s"no part file in $tmp"))
    val destPath = java.nio.file.Paths.get(dest)
    java.nio.file.Files.createDirectories(destPath.getParent)
    java.nio.file.Files.move(part, destPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
