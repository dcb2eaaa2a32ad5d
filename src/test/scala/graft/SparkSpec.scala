package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM, built by the
  * shipped factory so every suite runs graft's extensions and rule. */
object SparkSpec {
  lazy val session: SparkSession = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-test").toString
    val s = GraftSession.builder("local[4]", 4)
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$tmp/metastore_db;create=true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** The CURRENT version root of an index home — resolve at USE time
    * (maintenance ops bump the version, so a cached root goes stale).
    * Specs peeking at index internals must go through this. */
  def idxRoot(dir: String): String =
    graft.operators.Dedup.indexRoot(spark, dir)
}
