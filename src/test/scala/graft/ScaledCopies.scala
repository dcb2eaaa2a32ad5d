package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** N×-replicated copies of a testdata directory for the growth laws
  * (`ScaleProbeSpec`, `CandidateBoundSpec`): the sf-derived construction
  * `docs/SCALING.md` measures at. Facts are shifted by a per-copy key
  * offset far above any sf key range; documents and embeddings are also
  * perturbed into a content namespace per copy. */
object ScaledCopies {

  /** Copy-i embedding perturbation: cyclic rotation by i positions.
    * Rotation is orthogonal, so norms and within-copy cosines are
    * exactly preserved (both sides of a pair rotate identically) while
    * rotated copies land in unrelated LSH buckets. Shared by
    * [[buildScaled]] and [[buildEmbeddings]], so both replicate
    * embeddings with byte-identical transforms. */
  private[graft] def perturbEmbeddings(d: DataFrame, i: Int): DataFrame = {
    val k = i % 64 // testdata dim; rotation by 0 is the identity
    if (k == 0) d
    else d.withColumn("embedding", expr(
      s"concat(slice(embedding, ${k + 1}, 1000000), slice(embedding, 1, $k))"))
  }

  /** Writes the N×-replicated fact tables + untouched dims into `out`.
    * Facts shift only their PRIMARY keys (orderkey / event_id) by a
    * per-copy offset far above the real key range; customer/supplier/
    * part keys are left alone so each copy joins the shared dims exactly
    * as the original does. lineitem shifts l_orderkey by the same offset
    * as orders so the order⋈lineitem join multiplies copy-by-copy.
    *
    * Documents and embeddings need more than a key shift: EXACT copies
    * would be near-dups OF EACH OTHER, so a perfectly linear dedup
    * would still measure quadratic growth purely from the data's
    * replicated duplicate multiplicity (each original spawns C(N, 2)
    * cross-copy pairs). Each copy is therefore deterministically
    * perturbed into its own content namespace, preserving within-copy
    * duplicate structure:
    *  - documents: Caesar-rotate letters by the copy index — token
    *    boundaries and doc shape survive, but copies share no shingles,
    *    so document frequencies don't inflate across copies;
    *  - embeddings: rotate the vector by copy-index positions — norms
    *    and within-copy cosines are exactly preserved (both sides of a
    *    pair rotate identically), while rotated copies land in
    *    unrelated LSH buckets. */
  private[graft] def buildScaled(spark: SparkSession, base: String, out: String,
                                 copies: Int): Unit = {
    // the text perturbation rotates ONE combined 62-character ring
    // (lower + upper + digits): two copies whose rotation offsets
    // differ disagree on EVERY alphanumeric character, so the period —
    // and the copy cap — is 62, not the 10 separate digit rotation
    // allowed (copies 10 apart used to share the digit mapping, and a
    // shingle of consecutive digit-only tokens would silently
    // reintroduce cross-copy duplicate multiplicity). Character CLASS
    // is not preserved (a letter may become a digit in a given copy) —
    // irrelevant to the probed plans, which tokenize on whitespace;
    // only punctuation-and-space-only shingles could ever survive, and
    // the pairwise spec law measures zero leaked shingles on the real
    // corpus. Refuse rather than corrupt the measurement past the cap.
    require(copies >= 1 && copies <= 62,
      s"buildScaled supports 1..62 content-disjoint copies, got $copies")
    val OFF = 1000000000L // > any sf key range
    def rep(df: DataFrame, shifted: Seq[String],
            perturb: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { i =>
        perturb(shifted.foldLeft(df)(
          (d, c) => d.withColumn(c, col(c) + lit(i * OFF))), i)
      }.reduce(_ union _)

    rep(spark.read.parquet(s"$base/orders.parquet"), Seq("o_orderkey"))
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    rep(spark.read.parquet(s"$base/lineitem.parquet"), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // events read through the unit-sniffing reader (Tables.events), so the
    // scaled copy is written as native timestamp[us] whatever the source
    // unit — and round-trips through Tables.events on the scaled dir
    rep(graft.sources.Tables.events(spark, base), Seq("event_id"))
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val ring = alpha + alpha.toUpperCase + "0123456789"
    def rot(s: String, k: Int): String = s.drop(k % s.length) + s.take(k % s.length)
    rep(spark.read.parquet(s"$base/documents.parquet"), Seq("doc_id"),
      (d, i) => d.withColumn("text",
        translate(col("text"), ring, rot(ring, i))))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    rep(spark.read.parquet(s"$base/embeddings.parquet"), Seq("vec_id"),
      perturbEmbeddings)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  /** Replicates ONLY the embeddings table with [[buildScaled]]'s exact
    * embedding perturbation — same OFF, same per-copy transform — so a
    * law measured here holds for the full scaled copy. */
  private[graft] def buildEmbeddings(spark: SparkSession, base: String,
                                     out: String, copies: Int): Unit = {
    val OFF = 1000000000L
    (0 until copies).map { i =>
      perturbEmbeddings(
        spark.read.parquet(s"$base/embeddings.parquet")
          .withColumn("vec_id", col("vec_id") + lit(i * OFF)), i)
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
  }
}
