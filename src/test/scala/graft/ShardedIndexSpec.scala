package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Bm25Index, Dedup, IndexAudit, IndexCdc, ShardedIndex, SimJoin, Similarity}

/** The sharded-layout laws: shard count is an OPERATIONAL knob (boards
  * are bit-identical to the monolithic home at any S, through any
  * change history), routing puts every id in exactly one shard,
  * selective compaction touches only the fragmented shards, a
  * multi-shard batch that crashes mid-application heals by replay, and
  * the audit diagnoses the sharded home end to end. */
class ShardedIndexSpec extends AnyFunSuite with SparkSpec {

  private val base = "/root/testdata/sf0.001"
  private def docs = graft.sources.Tables.documents(spark, base)

  private def canon(df: DataFrame): Set[Seq[String]] =
    df.collect().map(r =>
      Seq.tabulate(r.length)(i =>
        if (r.isNullAt(i)) "<NULL>" else r.get(i).toString)).toSet

  private def queries(d: DataFrame): DataFrame =
    d.filter(col("doc_id") % 29 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ",
          slice(graft.operators.TextOps.tokens(col("text")), 1, 6))
          .as("query_text"))

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("BM25 shard invariance: S=1 and S=4 boards are bit-identical " +
    "to the monolithic home, through a full CDC history") {
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val held = corpus.filter(col("doc_id") % 10 =!= 3)
    val ins = corpus.filter(col("doc_id") % 10 === 3)
      .select("doc_id", "text")
    val dels = corpus.filter(col("doc_id") % 13 === 5).select("doc_id")
    // monolithic reference
    val mono = graft.sources.Scratch.dir("shard-mono")
    Bm25Index.write(held, mono)
    Bm25Index.applyCdc(spark, mono, ins, dels, batchId = 0L)
    val expect = canon(Bm25Index.crossBm25TopK(spark, queries(docs), mono,
      k = 5))
    Seq(1, 4).foreach { s =>
      val home = graft.sources.Scratch.dir(s"shard-bm25-$s")
      ShardedIndex.writeBm25(held, home, shards = s)
      ShardedIndex.applyCdc(spark, home, ins, dels, batchId = 0L)
      assert(canon(ShardedIndex.crossBm25TopKSharded(spark, queries(docs),
        home, k = 5)) == expect,
        s"sharded board at S=$s diverged from the monolithic board")
    }
  }

  test("filtered serve over a sharded home: both statistics scopes " +
    "bit-identical to the monolithic filtered serve, through a CDC history") {
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val held = corpus.filter(col("doc_id") % 10 =!= 3)
    val ins = corpus.filter(col("doc_id") % 10 === 3)
      .select("doc_id", "text")
    val dels = corpus.filter(col("doc_id") % 13 === 5).select("doc_id")
    val allowed = docs.filter(col("lang") =!= "en").select("doc_id")
    val mono = graft.sources.Scratch.dir("shard-flt-mono")
    Bm25Index.write(held, mono)
    Bm25Index.applyCdc(spark, mono, ins, dels, batchId = 0L)
    val scopes = Seq(Bm25Index.FilteredStats, Bm25Index.HomeStats)
    val expect = scopes.map { scope =>
      val b = canon(Bm25Index.crossBm25TopKFiltered(spark,
        queries(docs), mono, allowed, k = 5, scope = scope))
      assert(b.nonEmpty, s"$scope monolithic fixture board is empty")
      scope -> b
    }.toMap
    Seq(1, 4).foreach { s =>
      val home = graft.sources.Scratch.dir(s"shard-flt-$s")
      ShardedIndex.writeBm25(held, home, shards = s)
      ShardedIndex.applyCdc(spark, home, ins, dels, batchId = 0L)
      scopes.foreach { scope =>
        assert(canon(ShardedIndex.crossBm25TopKShardedFiltered(spark,
          queries(docs), home, allowed, k = 5, scope = scope)) ==
          expect(scope),
          s"sharded $scope filtered board at S=$s diverged from the " +
            "monolithic one")
      }
      // the wrong-key refusal carries over the shared contract
      val e = intercept[IllegalArgumentException] {
        ShardedIndex.crossBm25TopKShardedFiltered(spark, queries(docs),
          home, docs.select("doc_id", "lang"), k = 5)
      }
      assert(e.getMessage.contains("single doc_id key"))
    }
  }

  test("a drained shard: a takedown that empties one shard leaves the " +
    "home serving exactly the monolithic boards over the live corpus") {
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val drained = ShardedIndex.shardOf(col("doc_id"), 4) === 0
    val live = corpus.filter(!drained)
    val allowed = docs.filter(col("lang") =!= "en").select("doc_id")
    val home = graft.sources.Scratch.dir("shard-drained")
    ShardedIndex.writeBm25(corpus, home, shards = 4)
    ShardedIndex.delete(spark, home,
      corpus.filter(drained).select("doc_id"), batchId = 0L)
    // shard 0 holds no live document: its own commit record says N = 0
    val e0 = intercept[IllegalArgumentException] {
      Bm25Index.foldedStats(spark, ShardedIndex.shardDir(home, 0))
    }
    assert(e0.getMessage.contains("no committed documents"))
    val mono = graft.sources.Scratch.dir("shard-drained-mono")
    Bm25Index.write(live, mono)
    val expect = canon(Bm25Index.crossBm25TopK(spark, queries(docs), mono,
      k = 5))
    assert(expect.nonEmpty, "drained-shard fixture board is empty")
    assert(canon(ShardedIndex.crossBm25TopKSharded(spark, queries(docs),
      home, k = 5)) == expect,
      "a drained shard changed the sharded board")
    Seq(Bm25Index.FilteredStats, Bm25Index.HomeStats).foreach { scope =>
      assert(canon(ShardedIndex.crossBm25TopKShardedFiltered(spark,
        queries(docs), home, allowed, k = 5, scope = scope)) ==
        canon(Bm25Index.crossBm25TopKFiltered(spark, queries(docs), mono,
          allowed, k = 5, scope = scope)),
        s"a drained shard changed the sharded $scope filtered board")
    }
    // the monolithic serve over an all-deleted index still refuses: the
    // per-shard n = 0 allowance never reaches the global total
    val gone = graft.sources.Scratch.dir("shard-drained-gone")
    val few = corpus.filter(col("doc_id") < 40)
    Bm25Index.write(few, gone)
    Bm25Index.delete(spark, gone, few.select("doc_id"), batchId = Some(0L))
    val e = intercept[IllegalArgumentException] {
      Bm25Index.crossBm25TopK(spark, queries(docs), gone, k = 5)
    }
    assert(e.getMessage.contains("no committed documents"), e.getMessage)
  }

  test("routing is a disjoint partition: every live id in exactly one " +
    "shard, and the union is the corpus") {
    val corpus = docs.filter(col("doc_id") < 200)
    val home = graft.sources.Scratch.dir("shard-route")
    ShardedIndex.writeMinhash(corpus, home, shards = 4)
    val perShard = (0 until 4).map(i =>
      IndexCdc.liveIds(spark, ShardedIndex.shardDir(home, i)))
    val total = perShard.map(_.count()).sum
    val distinctUnion = perShard.reduce(_.unionByName(_)).distinct().count()
    assert(total == distinctUnion, "an id landed in more than one shard")
    assert(distinctUnion == corpus.count(),
      "the shard union is not the corpus")
    // the sharded handle serves candidates exactly like the monolithic
    val monoIdx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    val probe = docs.filter(col("doc_id") % 7 === 1 && col("doc_id") < 210)
    assert(canon(Dedup.crossMinhashPairs(probe,
        ShardedIndex.readMinhashSharded(spark, home), "doc_id", "text",
        jaccardMin = 0.5)) ==
      canon(Dedup.crossMinhashPairs(probe, monoIdx, "doc_id", "text",
        jaccardMin = 0.5)),
      "sharded minhash candidates diverged from the monolithic index")
  }

  test("the IndexCdc façade is seamless over a sharded home: apply " +
    "routes per shard, liveIds unions, compact folds") {
    val corpus = docs.filter(col("doc_id") < 150)
    val extra = docs.filter(col("doc_id") >= 150 && col("doc_id") < 180)
      .select("doc_id", "text")
    val home = graft.sources.Scratch.dir("shard-facade")
    graft.operators.ShardedIndex.writeMinhash(corpus, home, shards = 3)
    IndexCdc.apply(spark, home, extra,
      docs.filter(lit(false)).select("doc_id"), batchId = 0L)
    val live = canon(IndexCdc.liveIds(spark, home))
    assert(live == canon(corpus.select(col("doc_id").as("id"))
      .unionByName(extra.select(col("doc_id").as("id")))),
      "façade apply on a sharded home did not net to corpus + batch")
    IndexCdc.compact(spark, home)
    assert(canon(IndexCdc.liveIds(spark, home)) == live,
      "façade compact on a sharded home changed the live set")
    // façade rebuild walks every shard: live set preserved, the
    // takedown's tombstones physically gone in each shard
    IndexCdc.apply(spark, home,
      docs.filter(lit(false)).select("doc_id", "text"),
      corpus.filter(col("doc_id") % 10 === 4).select("doc_id"),
      batchId = 1L)
    val live2 = canon(IndexCdc.liveIds(spark, home))
    assert(live2 != live, "vacuous sharded takedown")
    IndexCdc.rebuild(spark, home)
    assert(canon(IndexCdc.liveIds(spark, home)) == live2,
      "sharded rebuild changed the live set")
    (0 until 3).foreach { i =>
      val root = idxRoot(
        graft.operators.ShardedIndex.shardDir(home, i))
      assert(!Dedup.indexTableHasData(spark, s"$root/tomb"),
        s"sharded rebuild left tombstones in shard $i")
    }
  }

  test("sharded sign-LSH: the shard-union handle is the monolithic " +
    "index (one global blocking); per-shard auto-sizing refuses") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val corpus = e.filter(col("vec_id") % 2 === 0)
    val probe = e.filter(col("vec_id") % 2 === 1)
    val home = graft.sources.Scratch.dir("shard-emb")
    // ONE global blocking decision, sized off the GLOBAL corpus count
    // (per-shard counts are smaller, so each shard's occupancy guard
    // accepts it — the deployment rule writeEmbedding documents)
    val rb = graft.operators.Similarity.autoRowBits(corpus.count())
    graft.operators.ShardedIndex.writeEmbedding(corpus, home, shards = 4,
      bands = 8, rowBits = rb)
    val sharded = graft.operators.ShardedIndex.readEmbeddingSharded(
      spark, home)
    val mono = graft.operators.Similarity.buildEmbeddingIndex(corpus,
      bands = 8, rowBits = rb)
    assert(canon(graft.operators.Similarity.crossEmbeddingPairs(probe,
        sharded, 0.3, Dedup.DefaultMaxBucket)) ==
      canon(graft.operators.Similarity.crossEmbeddingPairs(probe, mono,
        0.3, Dedup.DefaultMaxBucket)),
      "sharded embedding candidates diverged from the monolithic index")
    // the sharded takedown routes through IndexCdc and masks per shard
    graft.operators.ShardedIndex.delete(spark, home,
      corpus.filter(col("vec_id") % 5 === 1).select("vec_id"), batchId = 0L)
    val liveIds = graft.operators.ShardedIndex.readEmbeddingSharded(
      spark, home).vectors.select("vec_id").distinct()
    assert(canon(liveIds) ==
      canon(corpus.filter(col("vec_id") % 5 =!= 1)
        .select("vec_id").distinct()),
      "sharded takedown did not net to the live corpus")
    // per-shard auto-sizing would cut keys in S different band spaces
    val ex = intercept[IllegalArgumentException] {
      graft.operators.ShardedIndex.writeEmbedding(corpus,
        graft.sources.Scratch.dir("shard-emb-auto"), shards = 4,
        bands = 8, rowBits = 0)
    }
    assert(ex.getMessage.contains("explicit rowBits"),
      s"auto-sizing refusal unhelpful: ${ex.getMessage}")
  }

  test("selective compaction folds ONLY the fragmented shard; untouched " +
    "shards' version pointers never move") {
    val corpus = docs.filter(col("doc_id") < 240)
    val home = graft.sources.Scratch.dir("shard-selcompact")
    ShardedIndex.writeBm25(corpus, home, shards = 4)
    // fragment exactly one shard: feed batches whose ids all route there
    val extra = docs.filter(col("doc_id") >= 240)
      .filter(ShardedIndex.shardOf(col("doc_id"), 4) === 2)
      .select("doc_id", "text")
    (0 until 3).foreach { b =>
      ShardedIndex.append(spark, home,
        extra.filter(col("doc_id") % 3 === b), batchId = b.toLong)
    }
    val versionsBefore = (0 until 4).map(i =>
      Dedup.listVersions(spark, ShardedIndex.shardDir(home, i)))
    val filesOf = (i: Int) => {
      val root = ShardedIndex.shardDir(home, i)
      IndexAudit.countParquetFiles(fsOf(root),
        new org.apache.hadoop.fs.Path(Dedup.indexRoot(spark, root)))
    }
    val boundary = (0 until 4).filter(_ != 2).map(filesOf).max
    val board = canon(ShardedIndex.crossBm25TopKSharded(spark,
      queries(docs), home, k = 5))
    val compacted = ShardedIndex.compact(spark, home, minFiles = boundary)
    assert(compacted == Seq(2),
      s"selective compact touched shards $compacted, expected only 2")
    val versionsAfter = (0 until 4).map(i =>
      Dedup.listVersions(spark, ShardedIndex.shardDir(home, i)))
    (0 until 4).filter(_ != 2).foreach { i =>
      assert(versionsAfter(i) == versionsBefore(i),
        s"untouched shard $i's versions moved: " +
          s"${versionsBefore(i)} -> ${versionsAfter(i)}")
    }
    assert(versionsAfter(2) != versionsBefore(2),
      "the fragmented shard did not commit a new version")
    assert(canon(ShardedIndex.crossBm25TopKSharded(spark, queries(docs),
      home, k = 5)) == board, "selective compaction changed the board")
  }

  test("reshard: the sizing decision is revisable from live rows alone " +
    "— boards bit-identical across S changes and from a monolithic home") {
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val held = corpus.filter(col("doc_id") % 10 =!= 3)
    val ins = corpus.filter(col("doc_id") % 10 === 3)
      .select("doc_id", "text")
    val dels = corpus.filter(col("doc_id") % 13 === 5).select("doc_id")
    // sharded 4 with a delete-bearing history (so the live-row
    // extraction, not the raw tables, feeds the rewrite)
    val home4 = graft.sources.Scratch.dir("rs-bm25-4")
    graft.operators.ShardedIndex.writeBm25(held, home4, shards = 4)
    graft.operators.ShardedIndex.applyCdc(spark, home4, ins, dels, 0L)
    val board4 = canon(graft.operators.ShardedIndex.crossBm25TopKSharded(
      spark, queries(docs), home4, k = 5))
    val home2 = graft.sources.Scratch.dir("rs-bm25-2")
    graft.operators.ShardedIndex.reshard(spark, home4, home2, 2)
    assert(canon(graft.operators.ShardedIndex.crossBm25TopKSharded(
      spark, queries(docs), home2, k = 5)) == board4,
      "reshard 4->2 moved the board")
    (0 until 2).foreach { i =>
      assert(Bm25Index.statsConsistency(spark,
        graft.operators.ShardedIndex.shardDir(home2, i)) == ((0L, 0L, 0L)),
        s"reshard left shard $i's df or (N, S) off its live postings")
    }
    // first sharding of a MONOLITHIC home, same history
    val mono = graft.sources.Scratch.dir("rs-bm25-mono")
    Bm25Index.write(held, mono)
    Bm25Index.applyCdc(spark, mono, ins, dels, batchId = 0L)
    val home3 = graft.sources.Scratch.dir("rs-bm25-3")
    graft.operators.ShardedIndex.reshard(spark, mono, home3, 3)
    assert(canon(graft.operators.ShardedIndex.crossBm25TopKSharded(
      spark, queries(docs), home3, k = 5)) ==
      canon(Bm25Index.crossBm25TopK(spark, queries(docs), mono, k = 5)),
      "sharding a monolithic home moved the board")
    // minhash: stored-row routing preserves candidates exactly
    val mh3 = graft.sources.Scratch.dir("rs-mh-3")
    graft.operators.ShardedIndex.writeMinhash(
      docs.filter(col("doc_id") < 200), mh3, shards = 3)
    val probe = docs.filter(col("doc_id") % 7 === 1 && col("doc_id") < 210)
    val want = canon(Dedup.crossMinhashPairs(probe,
      graft.operators.ShardedIndex.readMinhashSharded(spark, mh3),
      "doc_id", "text", jaccardMin = 0.5))
    val mh2 = graft.sources.Scratch.dir("rs-mh-2")
    graft.operators.ShardedIndex.reshard(spark, mh3, mh2, 2)
    assert(canon(Dedup.crossMinhashPairs(probe,
      graft.operators.ShardedIndex.readMinhashSharded(spark, mh2),
      "doc_id", "text", jaccardMin = 0.5)) == want,
      "minhash reshard moved the candidate/verify set")
  }

  test("a multi-shard batch crashed mid-application: audit WARNs with " +
    "the marker spread, replay heals to the clean state") {
    val corpus = docs.filter(col("doc_id") % 29 =!= 0)
    val held = corpus.filter(col("doc_id") % 10 =!= 3)
    val ins = corpus.filter(col("doc_id") % 10 === 3)
      .select("doc_id", "text")
    val dels = corpus.filter(col("doc_id") % 13 === 5).select("doc_id")
    // clean single application = the reference state
    val ref = graft.sources.Scratch.dir("shard-replay-ref")
    ShardedIndex.writeBm25(held, ref, shards = 3)
    ShardedIndex.applyCdc(spark, ref, ins, dels, batchId = 7L)
    val expect = canon(ShardedIndex.crossBm25TopKSharded(spark,
      queries(docs), ref, k = 5))
    // crashed run: only shard 0's slice of the batch landed (the home
    // marker never bumped)
    val home = graft.sources.Scratch.dir("shard-replay")
    ShardedIndex.writeBm25(held, home, shards = 3)
    IndexCdc.apply(spark, ShardedIndex.shardDir(home, 0),
      ins.filter(ShardedIndex.shardOf(col("doc_id"), 3) === 0),
      dels.filter(ShardedIndex.shardOf(col("doc_id"), 3) === 0),
      batchId = 7L)
    val spread = IndexAudit.audit(spark, home)
      .filter(col("chk") === "marker_spread").head()
    assert(spread.getString(1) == "WARN",
      s"torn multi-shard batch not flagged: ${spread.getString(2)}")
    assert(spread.getString(2).contains("replay"),
      s"marker_spread WARN must name the replay remedy: " +
        spread.getString(2))
    // the replay: committed shard skips, the rest apply
    ShardedIndex.applyCdc(spark, home, ins, dels, batchId = 7L)
    assert(canon(ShardedIndex.crossBm25TopKSharded(spark, queries(docs),
      home, k = 5)) == expect, "replay did not heal to the clean state")
    assert(IndexAudit.audit(spark, home)
      .filter(col("chk") === "marker_spread").head().getString(1) == "OK")
    // a second replay of the healed batch is a fast no-op
    ShardedIndex.applyCdc(spark, home, ins, dels, batchId = 7L)
    assert(canon(ShardedIndex.crossBm25TopKSharded(spark, queries(docs),
      home, k = 5)) == expect, "replayed batch double-applied")
  }

  test("sharded IVF under ONE home-level quantizer: boards bit-identical " +
    "to the monolithic index at any S through deletes; quantized serving " +
    "works on the union; HOME rebuild retrains one shared model; reshard " +
    "moves nothing") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val dels = e.filter(col("vec_id") % 7 === 2).select("vec_id")
    val qs = e.filter(col("vec_id") < 5)
    // monolithic reference with the same takedown history
    val mono = graft.sources.Scratch.dir("ivfsh-mono")
    Similarity.writeIvfIndex(e, mono)
    Similarity.deleteFromIvfIndex(spark, mono, dels, batchId = Some(0L))
    val monoIdx = Similarity.readIvfIndex(spark, mono)
    val expect = canon(Similarity.ivfTopKIndexed(monoIdx, qs, 10))
    val expectQ = canon(Similarity.ivfTopKQuantized(monoIdx, qs, 10))
    val homes = Seq(1, 4).map { s =>
      val home = graft.sources.Scratch.dir(s"ivfsh-$s")
      ShardedIndex.writeIvf(e, home, shards = s)
      ShardedIndex.delete(spark, home, dels, batchId = 0L)
      val idx = ShardedIndex.readIvfSharded(spark, home)
      assert(canon(Similarity.ivfTopKIndexed(idx, qs, 10)) == expect,
        s"sharded IVF board at S=$s diverged from the monolithic board")
      // the IVF × int8 serving path reads the same union unchanged
      assert(canon(Similarity.ivfTopKQuantized(idx, qs, 10)) == expectQ,
        s"sharded quantized board at S=$s diverged")
      home
    }
    val home4 = homes.last
    // HOME rebuild: ONE retrained model (per-shard rebuilds would cut 4
    // incompatible geometries and the reader would refuse). Live set is
    // the post-takedown corpus, so the retrained model — and the board —
    // equals a FRESH index over the live rows: exact integer k-means is
    // corpus-set-determined, not layout-determined.
    val rebuilt = ShardedIndex.rebuild(spark, home4)
    assert(rebuilt.nonEmpty, "sharded IVF rebuild touched no shards")
    val freshLive = graft.sources.Scratch.dir("ivfsh-freshlive")
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 7 =!= 2), freshLive)
    val wantRebuilt = canon(Similarity.ivfTopKIndexed(
      Similarity.readIvfIndex(spark, freshLive), qs, 10))
    assert(canon(Similarity.ivfTopKIndexed(
      ShardedIndex.readIvfSharded(spark, home4), qs, 10)) == wantRebuilt,
      "sharded IVF rebuild diverged from a fresh index over the live rows")
    // tombstones physically gone per shard
    (0 until 4).foreach { i =>
      val root = idxRoot(ShardedIndex.shardDir(home4, i))
      assert(!Dedup.indexTableHasData(spark, s"$root/tomb"),
        s"sharded IVF rebuild left tombstones in shard $i")
    }
    // reshard 4 -> 2 under the (unchanged) stored model: boards unmoved
    val home2 = graft.sources.Scratch.dir("ivfsh-rs2")
    ShardedIndex.reshard(spark, home4, home2, 2)
    assert(canon(Similarity.ivfTopKIndexed(
      ShardedIndex.readIvfSharded(spark, home2), qs, 10)) == wantRebuilt,
      "IVF reshard 4->2 moved the board")
    // first sharding of a monolithic IVF home, same law
    val homeM = graft.sources.Scratch.dir("ivfsh-rsmono")
    ShardedIndex.reshard(spark, mono, homeM, 3)
    assert(canon(Similarity.ivfTopKIndexed(
      ShardedIndex.readIvfSharded(spark, homeM), qs, 10)) == expect,
      "sharding a monolithic IVF home moved the board")
  }

  test("sharded prefix under ONE global dictionary: the shard-union " +
    "lossless join equals the monolithic one through a CDC history; " +
    "reshard re-derives the dictionary and moves nothing") {
    val even = docs.filter(col("doc_id") % 2 === 0)
    val probe = docs.filter(col("doc_id") % 2 === 1)
    val ins = even.filter(col("doc_id") % 10 === 4).select("doc_id", "text")
    val dels = even.filter(col("doc_id") % 5 === 1).select("doc_id")
    val held = even.filter(col("doc_id") % 10 =!= 4)
    // monolithic reference with the same history
    val mono = graft.sources.Scratch.dir("pfxsh-mono")
    SimJoin.writePrefixIndex(held, "doc_id", "text", 6, 10, mono)
    SimJoin.applyPrefixCdc(spark, mono, ins, dels, batchId = 0L)
    val expect = canon(SimJoin.crossPrefixJoin(spark, probe, mono))
    Seq(1, 4).foreach { s =>
      val home = graft.sources.Scratch.dir(s"pfxsh-$s")
      ShardedIndex.writePrefix(held, home, s, 6, 10)
      ShardedIndex.applyCdc(spark, home, ins, dels, batchId = 0L)
      assert(canon(ShardedIndex.crossPrefixJoinSharded(spark, probe,
        home)) == expect,
        s"sharded lossless join at S=$s diverged from the monolithic one")
    }
    // reshard 4 -> 2 (rebuild-quality: the dictionary re-derives from
    // the live union; recall is order-invariant so nothing can move)
    val home4 = graft.sources.Scratch.dir("pfxsh-rs4")
    ShardedIndex.writePrefix(held, home4, 4, 6, 10)
    ShardedIndex.applyCdc(spark, home4, ins, dels, batchId = 0L)
    val home2 = graft.sources.Scratch.dir("pfxsh-rs2")
    ShardedIndex.reshard(spark, home4, home2, 2)
    assert(canon(ShardedIndex.crossPrefixJoinSharded(spark, probe,
      home2)) == expect, "prefix reshard 4->2 moved the pair set")
    // first sharding of a monolithic prefix home
    val homeM = graft.sources.Scratch.dir("pfxsh-rsmono")
    ShardedIndex.reshard(spark, mono, homeM, 3)
    assert(canon(ShardedIndex.crossPrefixJoinSharded(spark, probe,
      homeM)) == expect, "sharding a monolithic prefix home moved pairs")
  }

  test("reshard FREEZES the old home: a CDC batch refuses while the " +
    "resharder holds the lease, and reshard refuses while a writer does") {
    val corpus = docs.filter(col("doc_id") < 200)
    val home = graft.sources.Scratch.dir("rs-freeze")
    ShardedIndex.writeBm25(corpus, home, shards = 2)
    def plantLease(dir: String, op: String): Unit = {
      val out = fsOf(dir).create(
        new org.apache.hadoop.fs.Path(dir, Dedup.LeaseFile), false)
      val props = new java.util.Properties()
      props.setProperty("token", java.util.UUID.randomUUID().toString)
      props.setProperty("op", op)
      props.setProperty("ts", System.currentTimeMillis().toString)
      try props.store(out, "spec lease") finally out.close()
    }
    def dropLease(dir: String): Unit =
      fsOf(dir).delete(
        new org.apache.hadoop.fs.Path(dir, Dedup.LeaseFile), false)
    // a resharder holds the old home: change application must refuse,
    // NAMING the resharder — the hours-long read phase cannot silently
    // lose a batch at cut-over
    plantLease(home, "ShardedIndex.reshard")
    val ex = intercept[IllegalArgumentException] {
      ShardedIndex.applyCdc(spark, home,
        docs.filter(col("doc_id") >= 200 && col("doc_id") < 220)
          .select("doc_id", "text"),
        docs.filter(lit(false)).select("doc_id"), batchId = 0L)
    }
    assert(ex.getMessage.contains("ShardedIndex.reshard"),
      s"CDC-during-reshard refusal must name the resharder: " +
        ex.getMessage)
    dropLease(home)
    // and symmetrically: reshard refuses to START while a writer holds
    // the old home (it would read a moving corpus)
    plantLease(home, "ShardedIndex.applyCdc")
    val ex2 = intercept[IllegalArgumentException] {
      ShardedIndex.reshard(spark, home,
        graft.sources.Scratch.dir("rs-freeze-new"), 3)
    }
    assert(ex2.getMessage.contains("ShardedIndex.applyCdc"),
      s"reshard-during-writer refusal must name the writer: " +
        ex2.getMessage)
    dropLease(home)
    // with the lease free, both proceed — the freeze is the lease, not
    // a permanent lock
    ShardedIndex.reshard(spark, home,
      graft.sources.Scratch.dir("rs-freeze-ok"), 1)
  }

  test("in-place re-write at a smaller shard count reclaims the " +
    "orphaned shard dirs (no silent full-index copies left behind)") {
    val corpus = docs.filter(col("doc_id") < 240)
    val home = graft.sources.Scratch.dir("shard-shrink")
    ShardedIndex.writeBm25(corpus, home, shards = 4)
    ShardedIndex.writeBm25(corpus, home, shards = 2)
    val names = fsOf(home).listStatus(
        new org.apache.hadoop.fs.Path(home))
      .map(_.getPath.getName).filter(_.startsWith("shard=")).sorted.toSeq
    assert(names == Seq("shard=0", "shard=1"),
      s"orphaned shard dirs survived the shrink: $names")
    // and the shrunk home still serves the full corpus
    assert(canon(IndexCdc.liveIds(spark, home)) ==
      canon(corpus.select(col("doc_id").as("id"))),
      "shrunk home lost rows")
  }

  test("healthy sharded home audits clean, per-shard rows included; " +
    "an impossible shard count refuses at write") {
    val home = graft.sources.Scratch.dir("shard-audit")
    ShardedIndex.writeBm25(docs.filter(col("doc_id") < 120), home, shards = 2)
    val s = IndexAudit.audit(spark, home).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(s.values.forall(_ == "OK"), s"healthy sharded home not clean: $s")
    assert(Set("kind", "router", "shards", "shard_residue", "marker_spread")
      .subsetOf(s.keySet))
    assert(s.keys.exists(_.startsWith("shard0:")) &&
      s.keys.exists(_.startsWith("shard1:")),
      "per-shard fsck rows missing")
    val ex = intercept[IllegalArgumentException] {
      ShardedIndex.writeBm25(docs.filter(col("doc_id") < 3),
        graft.sources.Scratch.dir("shard-toomany"), shards = 64)
    }
    assert(ex.getMessage.contains("lower the shard count"),
      s"empty-shard refusal unhelpful: ${ex.getMessage}")
  }

  test("Par.run is width-bounded: a 64-task wave (a 64-shard compact's " +
    "shape) never runs more than the pool cap concurrently") {
    // an unbounded pool over a 1000-shard home floods the driver with
    // 1000 simultaneous chains (threads + jobs + staging reads); the
    // cap keeps the §2.6 back-fill win at small widths
    val running = new java.util.concurrent.atomic.AtomicInteger
    val peak = new java.util.concurrent.atomic.AtomicInteger
    val res = graft.operators.Par.run((1 to 64).map(i => () => {
      val r = running.incrementAndGet()
      peak.updateAndGet(p => math.max(p, r))
      Thread.sleep(5)
      running.decrementAndGet()
      i
    }))
    assert(res == (1 to 64))
    val cap = graft.operators.Par.poolCap(
      Runtime.getRuntime.availableProcessors())
    assert(peak.get <= cap,
      s"observed ${peak.get} concurrent tasks, cap is $cap")
  }

  test("Par.run propagates a task failure only after every submitted " +
    "task has finished (no orphan shard writers outlive the call)") {
    // callers' finally blocks delete staging dirs and release leases —
    // a task still running after Par.run returns would race them
    val done = new java.util.concurrent.atomic.AtomicInteger
    val ex = intercept[RuntimeException] {
      graft.operators.Par.run((1 to 12).map(i => () => {
        if (i == 1) { Thread.sleep(10); throw new RuntimeException("boom") }
        Thread.sleep(60); done.incrementAndGet(); ()
      }))
    }
    assert(ex.getMessage == "boom")
    assert(done.get == 11,
      s"only ${done.get}/11 non-failing tasks finished before Par.run " +
        "propagated the failure")
  }
}
