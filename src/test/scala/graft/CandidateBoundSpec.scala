package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}
import graft.functions.VectorOps
import graft.sources.Tables

/** Ties the `docs/SCALING.md` df-cap candidate-count derivation to a
  * MEASURED candidate count at sf0.1 (the scale the bench gate runs):
  * the rare-shingle inverted index must generate no more distinct pairs
  * than Σ C(df, 2) over the surviving shingles, which in turn is bounded
  * by postings · (maxDf − 1) / 2 — the closed form the doc tells
  * operators to budget shuffle bytes with. If candidate generation ever
  * regresses to something super-linear in the posting list (a lost df
  * cap, a broken distinct), this fails before it becomes a 100 TB
  * shuffle explosion. */
class CandidateBoundSpec extends AnyFunSuite with SparkSpec {

  test("rare-shingle candidates obey the SCALING.md df-cap bound at sf0.1") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.1")
    val maxDf = 20
    val measured = Dedup.rareShingleCandidates(docs, "doc_id", "text", maxDf)
      .select("doc_a", "doc_b").count()
    // independent df histogram over the same shingle expression
    val stats = Dedup.shingleHashesFlat(docs, "doc_id", "text")
      .select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .agg(sum(col("df") * (col("df") - 1)).as("pair_bound2"),
        sum(col("df")).as("postings"))
      .head()
    val pairBound = stats.getLong(0) / 2
    val postings = stats.getLong(1)
    assert(measured > 0, "candidate stage produced nothing at sf0.1")
    // each unordered pair is counted once even when it shares many
    // shingles, so the per-shingle sum is a true upper bound
    assert(measured <= pairBound,
      s"measured $measured candidates exceed the Σ C(df,2) bound $pairBound")
    // and the closed form from the doc dominates the exact sum
    assert(pairBound <= postings * (maxDf - 1) / 2,
      s"Σ C(df,2)=$pairBound exceeds postings·(maxDf−1)/2=" +
        s"${postings * (maxDf - 1) / 2}")
  }

  // --- banded sign-LSH (Similarity.embeddingPairs blocking) -----------

  test("autoRowBits: least rowBits holding occupancy, clamped to [8, 32]") {
    // least-r law: 8·2^r ≥ n, and r−1 would not have sufficed
    for (n <- Seq(0L, 1L, 7L, 2048L, 2049L, 100000L, 1L << 40)) {
      val r = Similarity.autoRowBits(n)
      assert(r >= 8 && r <= 32)
      if (r < 32) assert((8L << r) >= n, s"n=$n r=$r under-sized")
      if (r > 8) assert((8L << (r - 1)) < n, s"n=$n r=$r not minimal")
    }
    // the exact clamp points the gate coupling relies on
    assert(Similarity.autoRowBits(2048) == 8)
    assert(Similarity.autoRowBits(2049) == 9)
    assert(Similarity.autoRowBits(Long.MaxValue) == 32)
    // monotone in n
    val rs = Seq(1L, 10L, 1000L, 10000L, 1000000L, 1L << 50)
      .map(Similarity.autoRowBits(_))
    assert(rs == rs.sorted, s"autoRowBits not monotone: $rs")
  }

  test("bandWeight: hyperplanes stay distinct across the full band span") {
    // the signLshBucket lattice had period 7 in j — useless for banding.
    // This family must keep every plane of a bands×rowBits signature
    // distinct at the max parameters (4 bands × 32 rowBits = 128 planes)
    // over the gate embedding dim (64).
    val planes = (0 until 128).map(j =>
      (0 until 64).map(i => VectorOps.bandWeight(i, j)).toVector)
    assert(planes.distinct.size == planes.size,
      "bandWeight produced duplicate hyperplanes within a band span")
    // and weights genuinely span the residue range, not a tiny orbit
    assert(planes.flatten.distinct.size > 500,
      "bandWeight range collapsed — lattice constants changed?")
  }

  test("banded embedding candidates obey the bands·n·B/2 bound at sf0.1") {
    val e = Tables.embeddings(spark, "/root/testdata/sf0.1")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val bands = 4
    val targetOccupancy = 8L
    val rb = Similarity.autoRowBits(n, targetOccupancy)
    val banded = Similarity.withBandKeys(e, bands, rb)
    val measured = Similarity.embeddingCandidates(banded).count()
    // exact pair inventory: Σ_bands Σ_buckets C(occ, 2) — what the join
    // generates before distinct; distinct only shrinks it
    val exactBound = banded.groupBy(col("band_idx"), col("band_key"))
      .agg(count(lit(1)).as("occ"))
      .agg(sum(col("occ") * (col("occ") - 1) / 2).as("pairs"))
      .head().getDouble(0).toLong
    assert(measured > 0, "banded candidate stage produced nothing at sf0.1")
    assert(measured <= exactBound,
      s"measured $measured exceeds the exact Σ C(occ,2) inventory $exactBound")
    // the linear-in-n budget from the Similarity doc comment and
    // SCALING.md: bands·n·B·κ/2 with bucket-skew factor κ ≤ 4. Real
    // embeddings cluster, so κ > 1 (measured ≈ 1.9 on this corpus) —
    // but a degenerate lattice (everything in few buckets) would send
    // candidates toward the quadratic bands·n²/2 ≈ 8M here and trip
    // this long before it became a 100 TB shuffle explosion.
    val maxSkew = 4L
    val budget = bands * n * targetOccupancy * maxSkew / 2
    assert(measured <= budget,
      s"measured $measured exceeds the bands·n·B·κ/2 budget $budget " +
        s"(n=$n rowBits=$rb κ=$maxSkew) — bucket skew broke the linearity claim")
    info(f"n=$n rowBits=$rb measured=$measured exact=$exactBound " +
      f"skew=${measured.toDouble / (bands * n * targetOccupancy / 2)}%.2f")
  }

  test("banded candidates: κ-budget holds on a 16×-grown corpus (PROBE_EMBED_r13 law)") {
    // The r13 embedding probe (PROBE_EMBED_r13.json, in git history)
    // measured the growth law at up to 62 copies of the
    // sf0.1 embeddings: autoRowBits holds mean occupancy flat (8.72 →
    // 8.79) while the bucket-skew factor κ = E[occ²]/E[occ]² grows
    // ≈ +0.08 per corpus doubling (1.91 at 2k vectors → 2.38 at 124k),
    // so per-vector candidates = bands·B·κ/2 (measured 39.8 vs predicted
    // 41.8 at 62×). This test re-derives the law's two asserted
    // invariants at a grown corpus inside the suite, so a lattice or
    // autoRowBits regression that bends the curve fails HERE, not at a
    // 1000-executor shuffle: (1) mean occupancy stays within 2× of
    // target; (2) candidates stay under the bands·n·B·κmax/2 budget with
    // the κmax = 4 ceiling the 100 TB extrapolation lands at (~10¹¹
    // vectors). Past the ceiling the occ > 1000 hub-star divert caps
    // enumeration at bands·999/2 per vector — linear absolutely.
    val dir = graft.sources.Scratch.dir("candbound-16x")
    ScaledCopies.buildEmbeddings(spark, "/root/testdata/sf0.1", dir, 16)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = e.count()
    val bands = Similarity.DefaultBands
    val targetOccupancy = 8L
    val rb = Similarity.autoRowBits(n, targetOccupancy)
    val banded = Similarity.withBandKeys(e, bands, rb)
    val occ = banded.groupBy("band_idx", "band_key")
      .agg(count(lit(1)).as("occ"))
      .agg(avg("occ").as("meanOcc"),
        (avg(col("occ") * col("occ")) / (avg("occ") * avg("occ"))).as("kappa"))
      .head()
    val (meanOcc, kappa) = (occ.getDouble(0), occ.getDouble(1))
    assert(meanOcc >= targetOccupancy / 2.0 && meanOcc <= targetOccupancy * 2.0,
      f"autoRowBits stopped holding occupancy: mean $meanOcc%.2f at n=$n rb=$rb")
    val kappaMax = 4.0
    assert(kappa <= kappaMax,
      f"bucket skew κ=$kappa%.3f broke the ceiling $kappaMax at n=$n — " +
        "the measured growth law (≈ +0.08/doubling from 1.91) has bent upward")
    val measured = Similarity.embeddingCandidates(banded).count()
    val budget = (bands * n * targetOccupancy * kappaMax / 2).toLong
    assert(measured <= budget,
      s"grown-corpus candidates $measured exceed the bands·n·B·κmax/2 budget $budget")
    info(f"n=$n rb=$rb meanOcc=$meanOcc%.2f κ=$kappa%.3f " +
      f"candPerVec=${measured.toDouble / n}%.1f budgetPerVec=${budget.toDouble / n}%.1f")
  }

  test("embeddingPairs recovers planted near-duplicates (recall side)") {
    // The bound tests above pin the COST side of the banding trade; this
    // pins the QUALITY side. The gate corpora contain no true near-dups
    // (zero pairs at cos ≥ 0.7 on sf0.01 — measured), so recall must be
    // tested on planted ones: each vector gets a companion nudged by 5%
    // of its own rotation, cos(v, v') ≈ 0.999 — the "same document,
    // slightly re-embedded" case the operator exists to catch. Banding
    // theory: at cos ≥ 0.99 a pair collides per 8-plane band w.p.
    // ≈ 0.95^8 ≈ 0.67, across 4 bands ≈ 0.99 — and the planes are a
    // FIXED lattice, so the measured recall is deterministic, not flaky.
    val base = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val nBase = base.count()
    val planted = base.select((col("vec_id") + 100000L).as("vec_id"),
      expr("""transform(embedding,
               (x, i) -> cast(x + 0.05f * embedding[int((i + 1) % size(embedding))]
                 as float))""").as("embedding"))
    val pairs = Similarity.embeddingPairs(base.union(planted), cosMin = 0.9)
    val recovered = pairs
      .filter(col("id_b") === col("id_a") + 100000L).count()
    val recall = recovered.toDouble / nBase
    assert(recall >= 0.9,
      f"banded blocking recovered $recovered of $nBase planted " +
        f"near-dup pairs (recall $recall%.3f < 0.9)")
    // and the verify stage keeps its contract: nothing below cosMin
    assert(pairs.filter(col("cos") < 0.9).count() == 0)
    info(f"planted-pair recall: $recall%.3f ($recovered/$nBase)")
  }

  test("crossEmbeddingPairs == mixed-parity slice of embeddingPairs") {
    // bipartite/self-join consistency law, embedding side (text side in
    // DedupSpec): with rowBits pinned equal, the incremental result must
    // be exactly the cross-parity slice of the self-join result — same
    // band keys, same verify. 53 such pairs at sf0.001, so non-vacuous.
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val self = Similarity.embeddingPairs(e, rowBits = 8)
      .filter(col("id_a") % 2 =!= col("id_b") % 2)
      .select(
        when(col("id_a") % 2 === 1, col("id_a")).otherwise(col("id_b"))
          .as("new_id"),
        when(col("id_a") % 2 === 1, col("id_b")).otherwise(col("id_a"))
          .as("matched_id"),
        col("cos"))
    val cross = Similarity.crossEmbeddingPairs(
      e.filter(col("vec_id") % 2 === 1),
      e.filter(col("vec_id") % 2 === 0), rowBits = 8)
    assert(self.count() > 0, "mixed-parity slice is empty — vacuous law")
    assert(cross.exceptAll(self).count() == 0 &&
      self.exceptAll(cross).count() == 0,
      "bipartite embedding result diverges from the self-join slice")
  }

  test("text dedup family recovers planted near-duplicate documents") {
    // Same treatment for the four text paths: each document gets a
    // companion with one appended token — all original shingles survive,
    // so Jaccard ≈ S/(S+1), containment = 1, SimHash flips few bits.
    // Every path is deterministic (fixed hash constants), so measured
    // recalls are exact, not flaky. The banding/blocking designs differ,
    // and so do their floors: the rare-shingle inverted index has
    // DETERMINISTIC recall for pairs sharing a rare shingle (≥ 0.95);
    // MinHash banding and SimHash pigeonhole are probabilistic in the
    // hash geometry and get a 0.8 floor.
    val base = Tables.documents(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), col("text"))
    val n = base.count()
    val planted = base.select((col("doc_id") + 100000L).as("doc_id"),
      concat(col("text"), lit(" plantedneardup")).as("text"))
    val corpus = base.union(planted)
    def recall(pairs: org.apache.spark.sql.DataFrame): Double =
      pairs.filter(col("doc_b") === col("doc_a") + 100000L)
        .count().toDouble / n
    val rNgram = recall(Dedup.ngramJaccardPairs(corpus, "doc_id", "text"))
    val rContain = recall(Dedup.containmentPairs(corpus, "doc_id", "text"))
    val rMinhash = recall(Dedup.minhashPairs(corpus, "doc_id", "text"))
    val rSimhash = recall(Dedup.simhashPairs(corpus, "doc_id", "text"))
    info(f"planted-doc recall: ngram=$rNgram%.3f containment=$rContain%.3f " +
      f"minhash=$rMinhash%.3f simhash=$rSimhash%.3f (n=$n)")
    assert(rNgram >= 0.95, f"ngram-Jaccard recall $rNgram%.3f < 0.95")
    assert(rContain >= 0.95, f"containment recall $rContain%.3f < 0.95")
    assert(rMinhash >= 0.8, f"MinHash-LSH recall $rMinhash%.3f < 0.8")
    assert(rSimhash >= 0.8, f"SimHash recall $rSimhash%.3f < 0.8")
    // exact-substring: every planted copy shares its whole interior run
    // verbatim, so recall over window-bearing documents is deterministic
    // (a miss is only possible where the df cap drops boilerplate
    // windows a document consists of entirely)
    val nLong = base.filter(
      size(split(trim(col("text")), "\\s+")) >= 8).count()
    val rSub = Dedup.substringPairs(corpus, "doc_id", "text")
      .filter(col("doc_b") === col("doc_a") + 100000L)
      .count().toDouble / nLong
    info(f"planted-doc substring recall: $rSub%.3f (nLong=$nLong)")
    assert(rSub >= 0.9, f"exact-substring recall $rSub%.3f < 0.9")
  }

  test("mega-duplicate cluster: banded candidates stay linear, cluster fully resolved") {
    // The adversarial input the occupancy cap exists for: one template
    // duplicated 3000× shares ONE band key per band, so the uncapped
    // pairwise self-join would plan C(3000, 2) ≈ 4.5M candidates — at
    // web scale (10⁶ copies) that is 5·10¹¹. With maxBucket = 50 the
    // over-cap buckets must divert to the linear hub-star span: pairs
    // among the planted ids are EXACTLY the 2999 star edges (hub = min
    // id, Jaccard 1.0 to every member), and duplicateClusters still
    // resolves the whole cluster from them.
    import spark.implicits._
    val template = "the same boilerplate template text repeated verbatim " +
      "across the whole crawl again and again"
    val mega = (0L until 3000L).map(i => (i, template))
    val bg = (100000L until 100050L).map(i =>
      (i, s"unique background document number $i carrying tokens " +
        s"alpha$i beta${i % 7} gamma${i % 13} delta${i % 29}"))
    val docs = (mega ++ bg).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", maxBucket = 50)
    val planted = pairs.filter(col("doc_b") < 100000L)
    assert(planted.count() == 2999L,
      "diverted mega-bucket must span the cluster with exactly occ-1 " +
        "star edges, not enumerate C(occ,2) pairs")
    assert(planted.filter(col("doc_a") =!= 0L).count() == 0,
      "every star edge must anchor at the cluster minimum (the hub)")
    assert(pairs.filter(col("jaccard") < 0.5).count() == 0)
    val clusters = Dedup.duplicateClusters(planted)
    assert(clusters.filter(col("cluster") === 0L).count() == 3000L,
      "the planted mega-cluster must resolve completely via the star")

    // SimHash path: identical docs share one simhash, so the same four
    // byte-buckets hold the whole cluster — star edges at Hamming 0
    val sPairs = Dedup.simhashPairs(docs, "doc_id", "text", maxBucket = 50)
      .filter(col("doc_b") < 100000L)
    assert(sPairs.count() == 2999L && sPairs.filter(col("hamming") =!= 0).count() == 0,
      "simhash mega-bucket must divert to distance-0 star edges")

    // Embedding path: vector 0 cloned 3000× over the sf0.001 corpus.
    // Vector 0 shares every band bucket with its clones, so the hub of
    // each diverted bucket is vec 0 itself: every clone must get
    // exactly the (0, clone) star edge at cos 1.0 and nothing pairwise.
    val base = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val one = base.filter(col("vec_id") === 0L).head().getSeq[Float](1)
    val megaVecs = spark.range(200000L, 203000L)
      .select(col("id").as("vec_id"), typedLit(one).as("embedding"))
    val ePairs = Similarity.embeddingPairs(base.union(megaVecs),
      rowBits = 8, maxBucket = 50)
    val eStar = ePairs.filter(col("id_b") >= 200000L)
    assert(eStar.count() == 3000L,
      s"embedding mega-bucket must span via the hub (got ${eStar.count()})")
    assert(eStar.filter(col("id_a") =!= 0L).count() == 0,
      "every clone edge must anchor at the bucket-minimum hub (vec 0)")
    assert(ePairs.filter(col("cos") < 0.3).count() == 0)

    // Bipartite ingestion form: the held corpus IS the mega-cluster;
    // an incoming copy must probe it through ONE representative, not
    // fan out to all 3000 members
    val incoming = (500000L until 500020L).map(i => (i, template))
      .toDF("doc_id", "text")
    val cross = Dedup.crossMinhashPairs(incoming,
      mega.toDF("doc_id", "text"), "doc_id", "text", maxBucket = 50)
    assert(cross.count() == 20L,
      "each incoming copy must match exactly the bucket representative")
    assert(cross.filter(col("matched_id") =!= 0L).count() == 0,
      "the diverted corpus bucket must be probed via its minimum id")
  }

  test("simhash cap rides the corpus mean: heterogeneous buckets never divert") {
    // byte banding has only 256 buckets per band, so MEAN occupancy is
    // n/256 regardless of duplication — a FIXED cap below that would
    // silently drop Hamming <= 3 pairs from perfectly ordinary buckets.
    // The effective cap is max(maxBucket, 8 * n/256): on 500 distinct
    // docs an absurd maxBucket=2 (below the mean of ~2) must behave
    // IDENTICALLY to an uncapped run, because only a bucket standing
    // 8x above the mean is a divertable mega-cluster.
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val capped = Dedup.simhashPairs(docs, "doc_id", "text", maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val open = Dedup.simhashPairs(docs, "doc_id", "text",
        maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(capped == open,
      s"relative cap diverted ordinary buckets: ${(open -- capped).size} " +
        "pairs lost vs the uncapped run")
  }

  test("substringPairs: shared 8-token run found across contexts; sub-window runs are not") {
    import spark.implicits._
    val run = (1 to 8).map(i => s"runtok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon"),
      // same 8-token run embedded in entirely different context
      (2L, s"zeta eta $run theta iota kappa"),
      (3L, "completely unrelated words with no overlap at all here"),
      // carries only a 7-token sub-run — must NOT pair with 1 or 2
      (4L, "prefix only seven of " +
        (1 to 7).map(i => s"runtok$i").mkString(" ") + " suffix"))
      .toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L)),
      s"exact-substring pairs wrong: $pairs — expected exactly " +
        "(1, 2, n_shared=1)")
  }
}
