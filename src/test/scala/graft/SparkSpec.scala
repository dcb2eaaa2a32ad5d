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

  /** Whether `rows` are non-decreasing in their (long or string)
    * columns, compared left to right as an ascending Spark sort compares
    * them: nulls first, strings by their UTF-8 bytes. */
  def nonDecreasing(rows: Seq[org.apache.spark.sql.Row]): Boolean = {
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Long, y: Long) => java.lang.Long.compare(x, y)
      case (x: String, y: String) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
      case _ => throw new IllegalArgumentException(s"cannot compare $a and $b")
    }
    rows.sliding(2).forall {
      case Seq(a, b) => (0 until a.length).iterator.map(i => cmp(a.get(i), b.get(i)))
        .find(_ != 0).forall(_ < 0)
      case _ => true
    }
  }
}
