package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scaled copies' replication must preserve what makes growth
  * ratios meaningful: N× fact rows, unchanged dims, foreign keys still inside
  * the dim ranges, and the scaled dir readable through the same Tables
  * accessors the queries use. */
class ScaleProbeSpec extends AnyFunSuite with SparkSpec {

  test("buildScaled: 2x facts, unchanged dims, FKs stay joinable") {
    val base = "/root/testdata/sf0.001"
    val out = graft.sources.Scratch.dir("scale-spec")
    ScaledCopies.buildScaled(spark, base, out, 2)
    def n(d: String, t: String): Long = spark.read.parquet(s"$d/$t.parquet").count()
    assert(n(out, "orders") == 2 * n(base, "orders"))
    assert(n(out, "lineitem") == 2 * n(base, "lineitem"))
    assert(n(out, "customer") == n(base, "customer"))
    // primary keys stay distinct across copies...
    val o = spark.read.parquet(s"$out/orders.parquet")
    assert(o.select("o_orderkey").distinct().count() == o.count())
    // ...while every foreign key still matches the unscaled dimension
    val c = spark.read.parquet(s"$out/customer.parquet")
      .select(col("c_custkey"))
    assert(o.join(c, o("o_custkey") === c("c_custkey"), "left_anti")
      .count() == 0, "scaled orders reference custkeys outside the dims")
    // events round-trip through the unit-sniffing reader used by the battery
    assert(graft.sources.Tables.events(spark, out).count() ==
      2 * graft.sources.Tables.events(spark, base).count())
    // and a probed query runs on the scaled dir
    assert(SparkEntry.queries("q3_shipping_priority")(spark, out).count() == 10)
  }

  test("buildScaled: doc/embedding copies are content-disjoint but structure-preserving") {
    val base = "/root/testdata/sf0.001"
    val out = graft.sources.Scratch.dir("scale-spec-docs")
    ScaledCopies.buildScaled(spark, base, out, 2)
    val OFF = 1000000000L

    val d0 = spark.read.parquet(s"$base/documents.parquet")
      .select(col("doc_id"), col("text").as("t0"))
    val dOut = spark.read.parquet(s"$out/documents.parquet")
    assert(dOut.count() == 2 * d0.count())
    assert(dOut.select("doc_id").distinct().count() == dOut.count())
    // copy texts must be DISJOINT from the originals: exact copies would
    // near-dup with each other and quadratic-ify the probe's measurement
    // purely through the data's duplicate multiplicity
    val d1 = dOut.filter(col("doc_id") >= OFF)
      .select((col("doc_id") - OFF).as("doc_id"), col("text").as("t1"))
    assert(d0.join(d1, "doc_id").filter(col("t0") === col("t1")).count() == 0,
      "caesar perturbation left copy-1 texts identical to the originals")
    // stronger than non-identical texts: the copies' SHINGLE sets must
    // be disjoint — any shared shingle is a cross-copy candidate edge
    // the dedup probes would count as growth that isn't in the real
    // data (the full 62-char alphanumeric ring rotates, so a surviving
    // shingle would need 3 consecutive symbol-only tokens)
    def shingles(copy: Int): org.apache.spark.sql.DataFrame =
      graft.operators.Dedup.shingleHashesFlat(
        dOut.filter(col("doc_id") >= copy.toLong * OFF &&
          col("doc_id") < (copy + 1).toLong * OFF), "doc_id", "text")
        .select(explode(col("hs")).as("h")).distinct()
    assert(shingles(0).join(shingles(1), "h").count() == 0,
      "copies share shingles — cross-copy near-dup leakage")

    val e0 = spark.read.parquet(s"$base/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("em0"))
    val eOut = spark.read.parquet(s"$out/embeddings.parquet")
    assert(eOut.count() == 2 * e0.count())
    val e1 = eOut.filter(col("vec_id") >= OFF)
      .select((col("vec_id") - OFF).as("vec_id"), col("embedding").as("em1"))
    assert(e0.join(e1, "vec_id").filter(col("em0") === col("em1")).count() == 0,
      "rotation left copy-1 vectors identical to the originals")
    // within-copy cosine is rotation-invariant, so copy 1 keeps the
    // original's near-dup structure (tolerance: accumulation order
    // shifts with the rotation, so the doubles differ in the last bits)
    def pairCos(lo: Long): Double = {
      val a = eOut.filter(col("vec_id") === lo).select(col("embedding").as("a"))
      val b = eOut.filter(col("vec_id") === lo + 1).select(col("embedding").as("b"))
      a.crossJoin(b)
        .select(graft.functions.exprs.cosine_sim(col("a"), col("b")).as("c"))
        .head().getDouble(0)
    }
    assert(math.abs(pairCos(0L) - pairCos(OFF)) < 1e-9,
      "rotation changed a within-copy cosine")
  }

  test("shingle disjointness holds PAIRWISE across all copies at the 62-copy cap") {
    // the 62-character ring rotation has period 62, so the supported
    // maximum is where any wrap-around sharing would first appear: at
    // 62 copies, no shingle may appear in two different copies — one
    // aggregation over every pair at once (copy = doc_id / OFF)
    val base = "/root/testdata/sf0.001"
    val out = graft.sources.Scratch.dir("scale-spec-pairwise")
    ScaledCopies.buildScaled(spark, base, out, 62)
    val OFF = 1000000000L
    // STRING shingles, not the 32-bit hashes the operators use: at
    // tens of copies of the corpus the hash space measurably
    // birthday-collides between DIFFERENT strings, and this assertion
    // is about the data's content, not the hash's width
    val leaked = spark.read.parquet(s"$out/documents.parquet")
      .withColumn("toks", split(col("text"), "\\s+"))
      .filter(size(col("toks")) >= 3)
      .select((col("doc_id") / OFF).cast("long").as("copy"),
        explode(expr("transform(sequence(0, size(toks)-3), " +
          "k -> concat_ws(' ', toks[k], toks[k+1], toks[k+2]))")).as("sh"))
      .groupBy("sh").agg(countDistinct("copy").as("nc"))
      .filter(col("nc") > 1)
    assert(leaked.count() == 0,
      s"shingles shared across copies: ${leaked.take(3).mkString(",")}")
    // and 63 copies is refused outright — the ring period makes it
    // unsound, not merely untested
    val ex = intercept[IllegalArgumentException] {
      ScaledCopies.buildScaled(spark, base,
        graft.sources.Scratch.dir("scale-spec-63"), 63)
    }
    assert(ex.getMessage.contains("1..62"))
  }
}
