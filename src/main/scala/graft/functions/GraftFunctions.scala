package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.operators.Dedup

/** SQL-surface builders for graft's custom expressions, so
  * `spark.sql("SELECT cosine_sim(a, b) ...")` works alongside the
  * Column API. They are installed only through [[GraftExtensions]], at
  * session build: `graft.GraftSession.builder` adds it, and a session
  * built elsewhere sets
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
object GraftFunctions {

  /** Integer-literal extraction for optional SQL parameters — anything
    * else (a column, an expression) fails analysis loudly so SQL calls
    * can never silently diverge from the Column API. */
  private def intLit(fn: String, what: String)(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) =>
      // no silent truncation: minhash_sig(h, 4294967304) must fail, not
      // wrap to numHashes=8
      if (v.isValidInt) v.toInt
      else throw new IllegalArgumentException(
        s"$fn: $what is out of Int range: $v")
    case other => throw new IllegalArgumentException(
      s"$fn: $what must be an integer literal, got ${other.sql}")
  }

  private def arity(fn: String, usage: String)(
      pf: PartialFunction[Seq[Expression], Expression])
      : Seq[Expression] => Expression =
    es => pf.applyOrElse(es, (_: Seq[Expression]) =>
      throw new IllegalArgumentException(
        s"$fn: wrong number of arguments (${es.length}); usage: $usage"))

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> arity("cosine_sim", "cosine_sim(a, b)") {
      case Seq(a, b) => CosineSim(a, b)
    },
    "sign_lsh_bucket" ->
      arity("sign_lsh_bucket", "sign_lsh_bucket(vec[, bits=8])") {
        case Seq(v)    => SignLshBucket(v, 8)
        case Seq(v, b) => SignLshBucket(v, intLit("sign_lsh_bucket", "bits")(b))
      },
    "sign_lsh_bands" ->
      arity("sign_lsh_bands", "sign_lsh_bands(vec, bands, rowBits)") {
        case Seq(v, b, r) => SignLshBands(v,
          intLit("sign_lsh_bands", "bands")(b),
          intLit("sign_lsh_bands", "rowBits")(r))
      },
    "simhash32" -> arity("simhash32", "simhash32(hashes)") {
      case Seq(h) => SimHash32(h)
    },
    "jaccard_sim" -> arity("jaccard_sim", "jaccard_sim(a, b)") {
      case Seq(a, b) => JaccardSim(a, b)
    },
    "char_sum" -> arity("char_sum", "char_sum(text)") {
      case Seq(t) => CharSum(t)
    },
    "shingle_hashes" -> arity("shingle_hashes", "shingle_hashes(text[, n=3])") {
      case Seq(t)    => ShingleHashes(t, 3)
      case Seq(t, n) => ShingleHashes(t, intLit("shingle_hashes", "n")(n))
    },
    "minhash_sig" -> arity("minhash_sig", "minhash_sig(hashes[, numHashes=16])") {
      case Seq(h) => MinHashSig(h, 16, 999983L, 424243L, 12345L, 7L, Dedup.P)
      case Seq(h, n) => MinHashSig(h, intLit("minhash_sig", "numHashes")(n),
        999983L, 424243L, 12345L, 7L, Dedup.P)
    },
    "intersect_count" ->
      arity("intersect_count", "intersect_count(a, b)") {
        case Seq(a, b) => IntersectCount(a, b)
      },
    "sorted_last_le" -> arity("sorted_last_le", "sorted_last_le(arr, t)") {
      case Seq(arr, t) => SortedLastLE(arr, t)
    },
    "rolling_min_hash" ->
      arity("rolling_min_hash", "rolling_min_hash(text, k)") {
        case Seq(t, k) =>
          RollingMinHash(t, intLit("rolling_min_hash", "k")(k))
      },
    "binary_sample_bytes" ->
      arity("binary_sample_bytes", "binary_sample_bytes(payload, n)") {
        case Seq(p, n) =>
          BinarySampleBytes(p, intLit("binary_sample_bytes", "n")(n))
      },
    "bloom_positions" ->
      arity("bloom_positions", "bloom_positions(hash, k, mBits)") {
        case Seq(h, k, m) => BloomPositions(h,
          intLit("bloom_positions", "k")(k),
          intLit("bloom_positions", "mBits")(m))
      },
    "bloom_might_contain" ->
      arity("bloom_might_contain",
        "bloom_might_contain(hash, bitmap[, k=5])") {
        case Seq(h, bm)    => BloomMightContain(h, bm, 5)
        case Seq(h, bm, k) => BloomMightContain(h, bm,
          intLit("bloom_might_contain", "k")(k))
      })
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, b) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        b))
    }
    // composed size(array_intersect)/... Jaccard → one-pass JaccardSim
    ext.injectOptimizerRule(_ => graft.plans.RewriteJaccardIntersect)
  }
}
