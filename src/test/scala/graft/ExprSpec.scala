package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.exprs
import graft.operators.Dedup

/** Custom-expression semantics pinned against independent computations
  * (the DuckDB oracle equivalence is covered by tools/oracle_check.py). */
class ExprSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("MinHashSig equals the (a*h+b) mod P formula") {
    val hs = Seq(7L, 123456789L, 42L)
    val got = Seq(Tuple1(hs)).toDF("hs")
      .select(exprs.minhash_sig(col("hs"), 16, 999983L, 424243L, 12345L, 7L,
        Dedup.P).as("sig"))
      .as[Seq[Long]].head()
    val expect = (0 until 16).map { j =>
      val a = 999983L * j + 12345L; val b = 424243L * j + 7L
      hs.map(h => (a * h + b) % Dedup.P).min
    }
    assert(got == expect)
  }

  test("SimHash32 sign rule: majority bit set, tie → 0") {
    // two features: bits where they agree dominate; disagreement → tie → 0
    val hs = Seq(0x3L, 0x1L) // bit0: ++ → set; bit1: +- → tie → clear
    val got = Seq(Tuple1(hs)).toDF("hs")
      .select(exprs.simhash32(col("hs"))).as[Long].head()
    assert((got & 1L) == 1L && (got & 2L) == 0L)
  }

  test("CosineSim on known vectors") {
    val got = Seq((Array(3f, 4f), Array(4f, 3f))).toDF("a", "b")
      .select(exprs.cosine_sim(col("a"), col("b"))).as[Double].head()
    assert(math.abs(got - 24.0 / 25.0) < 1e-12)
  }

  test("JaccardSim equals size(array_intersect)/size(union) composition") {
    val rows = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L)),     // 2/5
      (Seq(7L), Seq(8L)),                          // 0/2
      (Seq(9L, 10L), Seq(10L, 9L)))                // 1.0, order-insensitive
    val got = rows.toDF("a", "b")
      .select(exprs.jaccard_sim(col("a"), col("b"))).as[Double].collect()
    assert(got(0) == 2.0 / 5.0 && got(1) == 0.0 && got(2) == 1.0)
    val composed = rows.toDF("a", "b")
      .select((size(array_intersect(col("a"), col("b"))).cast("double") /
        (size(col("a")) + size(col("b")) -
          size(array_intersect(col("a"), col("b"))))).as("j"))
      .as[Double].collect()
    assert(got.toSeq == composed.toSeq)
  }

  test("ShingleHashes handles degenerate whitespace like split+filter") {
    val got = Seq(Tuple1("  a   b  c ")).toDF("t")
      .select(exprs.shingle_hashes(col("t"), 3)).as[Seq[Long]].head()
    assert(got.length == 1) // exactly one 3-gram: "a b c"
  }
}

/** Property-style laws evaluated in bulk (one Spark job per law, driven
  * by ScalaCheck generators). */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._
  import graft.operators.RefOps
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  private def samples(g: Gen[String], n: Int): Seq[String] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: gender normalization is idempotent over random strings") {
    val gen = Gen.oneOf(Gen.alphaNumStr,
      Gen.oneOf("Male", "f", "M", "F", "Other"))
    val in = samples(gen, 200)
    val once = in.toDF("g")
      .select(RefOps.normalizeGender(col("g")).as("g"))
    val twice = once.select(RefOps.normalizeGender(col("g")).as("g"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("property: truncateIsoDate == prefix before first T") {
    val gen = for {
      a <- Gen.alphaNumStr.map(_.replace("T", ""))
      b <- Gen.alphaNumStr
      t <- Gen.oneOf(true, false)
    } yield if (t) s"${a}T$b" else a
    val in = samples(gen, 200)
    val got = in.toDF("s")
      .select(RefOps.truncateIsoDate(col("s"))).as[String].collect()
    assert(got.toSeq == in.map(_.takeWhile(_ != 'T')))
  }

  test("property: bloom membership never false-negative over random hashes and sizings") {
    import graft.functions.BloomOps
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val hashGen = Gen.oneOf(
      Gen.long,
      Gen.oneOf(0L, -1L, 1L, Long.MaxValue, Long.MinValue, 63L, 64L))
    val rnd = new scala.util.Random(11)
    // sweep the parameter grid, not just the defaults: every (k, mBits)
    // must satisfy insert => contains for every hash
    for (k <- Seq(1, 2, 5, 8); mBits <- Seq(64, 1 << 10, 1 << 16)) {
      val hashes = (0 until 300).flatMap(i =>
        hashGen.apply(Gen.Parameters.default, Seed(i.toLong + k * 1000L + mBits)))
      val words = new Array[Long](mBits / 64)
      hashes.foreach { h =>
        val ps = BloomOps.positions(h, k, mBits).toIntArray()
        assert(ps.length == k && ps.forall(p => p >= 0 && p < mBits),
          s"position out of range for h=$h k=$k mBits=$mBits: ${ps.toSeq}")
        ps.foreach(p => words(p >>> 6) |= (1L << (p & 63)))
      }
      val ad = new GenericArrayData(words)
      hashes.foreach(h => assert(BloomOps.mightContain(h, ad, k),
        s"false negative: h=$h k=$k mBits=$mBits"))
      // saturation sanity: random probes on the small table are allowed
      // to hit (that IS a bloom filter); on the large sparse table a
      // disjoint probe set must mostly miss
      if (mBits == (1 << 16)) {
        val probes = (1 to 500).map(_ => rnd.nextLong())
          .filterNot(hashes.toSet)
        val fp = probes.count(BloomOps.mightContain(_, ad, k))
        assert(fp <= probes.size / 4,
          s"degenerate positions: $fp/${probes.size} false positives at " +
            s"k=$k mBits=$mBits with only ${hashes.size} inserts")
      }
    }
  }

  test("property: JaccardSim == composed array_intersect form, dups included") {
    import graft.functions.exprs
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      val a = Seq.fill(rnd.nextInt(20))(rnd.nextInt(10).toLong)
      val b = Seq.fill(rnd.nextInt(20))(rnd.nextInt(10).toLong)
      (a, b)
    }
    val df = rows.toDF("a", "b")
      .filter(size(col("a")) + size(col("b")) > 0) // skip NaN == NaN rows
    val jac = df.select(exprs.jaccard_sim(col("a"), col("b")))
      .as[Double].collect()
    val composed = df.select(
      (size(array_intersect(col("a"), col("b"))).cast("double") /
        (size(col("a")) + size(col("b")) -
          size(array_intersect(col("a"), col("b"))))).as("j"))
      .as[Double].collect()
    assert(jac.toSeq == composed.toSeq)
  }

  test("property: maxElementCount == naive max-of-group-counts") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(25))(s"w${rnd.nextInt(8)}")
    }
    val got = rows.toDF("a")
      .select(graft.operators.TextOps.maxElementCount(col("a")))
      .as[Long].collect().toSeq
    val want = rows.map(a =>
      if (a.isEmpty) 0L else a.groupBy(identity).values.map(_.size).max.toLong)
    assert(got == want)
  }

  test("property: TopKAgg fold/merge == global sort.take(k)") {
    import graft.operators.TopK
    val ord: Ordering[TopK.Scored] =
      Ordering.by((s: TopK.Scored) => (-s.score, s.id))
    val agg = new TopK.TopKAgg(5)
    val rnd = new scala.util.Random(11)
    (1 to 50).foreach { _ =>
      val items = Seq.fill(rnd.nextInt(30))(
        TopK.Scored(rnd.nextInt(8).toDouble, rnd.nextInt(1000).toLong))
      val folded = items.foldLeft(agg.zero)(agg.reduce)
      assert(folded == items.sorted(ord).take(5))
      val more = Seq.fill(rnd.nextInt(30))(
        TopK.Scored(rnd.nextInt(8).toDouble, rnd.nextInt(1000).toLong))
      val merged = agg.merge(folded, more.foldLeft(agg.zero)(agg.reduce))
      assert(merged == (items.sorted(ord).take(5) ++ more.sorted(ord).take(5))
        .sorted(ord).take(5))
    }
  }

  test("property: IntersectCount == size(array_intersect) on random arrays") {
    import graft.functions.exprs
    val rnd = new scala.util.Random(31)
    val rows = (1 to 300).map { _ =>
      (Seq.fill(rnd.nextInt(20))(rnd.nextInt(12).toLong),
        Seq.fill(rnd.nextInt(20))(rnd.nextInt(12).toLong))
    }
    val df = rows.toDF("a", "b")
    val got = df.select(exprs.intersect_count(col("a"), col("b")))
      .as[Int].collect()
    val want = df.select(size(array_intersect(col("a"), col("b"))))
      .as[Int].collect()
    assert(got.toSeq == want.toSeq)
  }

  test("property: sorted_last_le == linear count of elements <= t") {
    import graft.functions.exprs
    val rnd = new scala.util.Random(23)
    val rows = (1 to 300).map { _ =>
      val arr = Seq.fill(rnd.nextInt(15))(rnd.nextInt(40).toLong).sorted
      val t = rnd.nextInt(50).toLong - 5
      (arr, t)
    }
    val got = rows.toDF("arr", "t")
      .select(exprs.sorted_last_le(col("arr"), col("t")))
      .as[Int].collect()
    // the expression returns the 1-based index of the last element <= t
    // (0 when none), which equals the count of elements <= t
    assert(got.toSeq == rows.map { case (arr, t) => arr.count(_ <= t) })
  }

  test("property: |A ⋈ B| <= |A| * max key multiplicity in B") {
    val a = (1 to 100).map(i => (i.toLong % 10, i)).toDF("k", "va")
    val b = (1 to 30).map(i => (i.toLong % 5, i)).toDF("k", "vb")
    val joined = a.join(b, Seq("k")).count()
    val maxMult = b.groupBy("k").count().agg(max("count")).head().getLong(0)
    assert(joined <= a.count() * maxMult)
  }
}

class SqlFunctionSpec extends AnyFunSuite with SparkSpec {
  test("custom expressions are callable from SQL after registration") {
    val sim = spark.sql(
      "SELECT cosine_sim(array(3.0F, 4.0F), array(4.0F, 3.0F)) AS s")
      .head().getDouble(0)
    assert(math.abs(sim - 0.96) < 1e-12)
    val cs = spark.sql("SELECT char_sum('ab') AS c").head().getInt(0)
    assert(cs == 'a'.toInt + 'b'.toInt)
    val sh = spark.sql("SELECT size(shingle_hashes('a b c d')) AS n")
      .head().getInt(0)
    assert(sh == 2)
  }

  test("SQL builders honor optional literal params (no silent defaults)") {
    // shingle_hashes(t, 2): 'a b c d' has three 2-grams
    val n2 = spark.sql("SELECT size(shingle_hashes('a b c d', 2)) AS n")
      .head().getInt(0)
    assert(n2 == 3)
    // sign_lsh_bucket(v, 4): bucket must fit in 4 bits
    val b4 = spark.sql(
      "SELECT sign_lsh_bucket(array(1.0F, -2.0F, 0.5F), 4) AS b")
      .head().getLong(0)
    assert(b4 >= 0L && b4 < 16L)
    // minhash_sig(h, 8): 8 signature slots
    val m8 = spark.sql("SELECT size(minhash_sig(array(7L, 42L), 8)) AS n")
      .head().getInt(0)
    assert(m8 == 8)
  }

  test("bloom functions are callable from SQL and agree with the Scala side") {
    val mBits = 128
    val k = 5
    // build the 2-word bitmap for hash 42 on the Scala side…
    val pos = graft.functions.BloomOps.positions(42L, k, mBits).toIntArray()
    val words = new Array[Long](mBits / 64)
    pos.foreach(p => words(p >>> 6) |= (1L << (p & 63)))
    val lit = words.map(w => s"${w}L").mkString("array(", ", ", ")")
    // …and probe it from SQL: the inserted hash must hit, and SQL must
    // agree with the Scala probe on an arbitrary non-inserted hash
    assert(spark.sql(s"SELECT bloom_might_contain(42L, $lit, $k) AS m")
      .head().getBoolean(0), "inserted hash reported absent via SQL")
    val expect43 = graft.functions.BloomOps.mightContain(43L,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(words), k)
    assert(spark.sql(s"SELECT bloom_might_contain(43L, $lit, $k) AS m")
      .head().getBoolean(0) == expect43, "SQL and Scala probes disagree")
    // positions from SQL match the Scala build side
    val sqlPos = spark.sql(s"SELECT bloom_positions(42L, $k, $mBits) AS p")
      .head().getSeq[Int](0)
    assert(sqlPos == pos.toSeq, "SQL probe positions diverge from build side")
  }

  test("SQL builders reject wrong arity and non-literal params") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0F))").collect()
    }
    assert(e1.getMessage.contains("cosine_sim"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT shingle_hashes('a b', length('xx'))").collect()
    }
    assert(e2.getMessage.contains("integer literal"))
  }

  test("jaccard_sim rejects non-bigint arrays at analysis time") {
    // array<int> elements would be reinterpreted as 8-byte longs by
    // toLongArray — must fail analysis, not return wrong similarities
    val e = intercept[Exception] {
      spark.sql("SELECT jaccard_sim(array(1, 2), array(1, 2))").collect()
    }
    assert(e.getMessage.contains("array<bigint>"))
    // the valid type still analyzes and evaluates
    val ok = spark.sql("SELECT jaccard_sim(array(1L, 2L), array(1L, 2L)) AS j")
      .head().getDouble(0)
    assert(ok == 1.0)
  }

  test("int-literal params reject Long overflow instead of wrapping") {
    // 4294967304 wraps to 8 under toInt — must throw, not train 8 hashes
    val e = intercept[Exception] {
      spark.sql("SELECT minhash_sig(array(7L), 4294967304)").collect()
    }
    assert(e.getMessage.contains("out of Int range"))
  }

  test("newer expressions are callable from SQL too") {
    assert(spark.sql(
      "SELECT intersect_count(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS n")
      .head().getInt(0) == 2)
    assert(spark.sql(
      "SELECT sorted_last_le(array(1L, 3L, 5L), 4L) AS i")
      .head().getInt(0) == 2)
    assert(spark.sql(
      "SELECT octet_length(binary_sample_bytes(CAST('abcdefgh' AS BINARY), 4)) AS n")
      .head().getInt(0) == 4)
    assert(spark.sql(
      "SELECT rolling_min_hash('abcdefgh', 8) IS NOT NULL AS ok")
      .head().getBoolean(0))
  }

  test("cosine_sim fails loudly on mismatched dimensions") {
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0F, 2.0F), array(1.0F))").collect()
    }
    assert(e.getMessage.contains("dimensions differ"))
  }
}

class RewriteRuleSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // range-based source: a local Seq would be evaluated away by
  // ConvertToLocalRelation before user rules run
  private def arrays = spark.range(2).select(
    when(col("id") === 0, array(lit(1L), lit(2L), lit(3L)))
      .otherwise(array(lit(1L), lit(1L), lit(2L))).as("a"),
    when(col("id") === 0, array(lit(2L), lit(3L), lit(4L)))
      .otherwise(array(lit(1L), lit(3L))).as("b"))

  test("composed size(array_intersect) Jaccard is rewritten to JaccardSim") {
    // the rule comes from GraftExtensions alone, not a runtime fallback
    assert(spark.experimental.extraOptimizations.isEmpty)
    val df = arrays
      .select((size(array_intersect(col("a"), col("b"))).cast("double") /
        (size(col("a")) + size(col("b")) -
          size(array_intersect(col("a"), col("b"))))).as("j"))
    val rewritten = df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[graft.functions.JaccardSim]))
    assert(rewritten, "optimizer did not substitute JaccardSim")
    // values identical to the composed form — including duplicate
    // elements, where intersect counts distinct values but sizes do not
    assert(df.as[Double].collect().sorted.toSeq == Seq(1.0 / 4.0, 2.0 / 4.0))
  }

  test("rewrite declines when the size legs reference other arrays") {
    val df = arrays
      .select((size(array_intersect(col("a"), col("b"))).cast("double") /
        (size(col("a")) + size(col("a")) - // b's size leg replaced by a
          size(array_intersect(col("a"), col("b"))))).as("j"))
    val rewritten = df.queryExecution.optimizedPlan.expressions
      .exists(_.exists(_.isInstanceOf[graft.functions.JaccardSim]))
    assert(!rewritten)
  }
}

class GraftSessionSpec extends AnyFunSuite with SparkSpec {
  test("GraftSession reuses the active session and registers SQL functions") {
    // touch the shared session first, so this suite never creates it
    // with the factory's defaults instead of SparkSpec's settings
    val shared = spark
    val s = GraftSession.getOrCreate("local[4]")
    assert(s eq shared)
    assert(s.sql("SELECT simhash32(shingle_hashes('a b c d e'))").count() == 1)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    // every test session runs the shipped configuration
    assert(shared.catalog.functionExists("jaccard_sim"))
    assert(shared.experimental.extraOptimizations.isEmpty)
    assert(shared.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
