package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Dedup, Similarity}

/** Offline maintenance of persisted signature indexes (VERDICT r8 #4/#5):
  * COMPACTION folds the one-file-set-per-micro-batch fragmentation of a
  * streamed index back into a few files (the classic streaming-sink
  * killer at minute-level cadence), and REBUILD re-cuts the blocking
  * keys from the index's own persisted tables — the held corpus never
  * needs to exist outside the index, whether the reason is occupancy
  * drift (embedding side) or a re-banding decision (minhash side). Both
  * must preserve query results exactly and keep the replay marker. */
class IndexMaintenanceSpec extends AnyFunSuite with SparkSpec {

  val base = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Set[Seq[String]] =
    df.collect().map(r =>
      Seq.tabulate(r.length)(i =>
        if (r.isNullAt(i)) "<NULL>" else r.get(i).toString)).toSet

  private def parquetFiles(path: String): Int = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(path)).count(_.getName.endsWith(".parquet"))
  }

  test("compactMinhashIndex: pairs identical, files drop, marker survives") {
    val docs = graft.sources.Tables.documents(spark, base)
    val idxDir = graft.sources.Scratch.dir("maint-compact")
    Dedup.writeMinhashIndex(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", idxDir)
    // fragment the index the way the ingestion stream does: one file set
    // per micro-batch
    (0 to 2).foreach { b =>
      Dedup.appendToMinhashIndex(
        docs.filter(col("doc_id") % 6 === 2 * b + 1), "doc_id", "text",
        idxDir, batchId = Some(b.toLong))
    }
    val probe = docs.filter(col("doc_id") % 2 === 1)
    def pairs() = canon(Dedup.crossMinhashPairs(probe,
      Dedup.readMinhashIndex(spark, idxDir), "doc_id", "text", 0.5))
    val metaBefore = Dedup.readMeta(spark, idxRoot(idxDir))
    val pairsBefore = pairs()
    assert(pairsBefore.nonEmpty, "no pairs before compaction — vacuous")
    val filesBefore = parquetFiles(s"${idxRoot(idxDir)}/bands")
    Dedup.compactMinhashIndex(spark, idxDir, targetFiles = 1)
    assert(pairs() == pairsBefore, "compaction changed query results")
    val filesAfter = parquetFiles(s"${idxRoot(idxDir)}/bands")
    assert(filesAfter < filesBefore && filesAfter <= 1,
      s"bands files $filesBefore -> $filesAfter, expected <= 1")
    assert(Dedup.readMeta(spark, idxRoot(idxDir)) == metaBefore,
      "compaction must preserve metadata exactly")
    // the replay marker still works: a redelivered folded batch is a
    // no-op, the next batch id appends
    val n0 = Dedup.readMeta(spark, idxRoot(idxDir))("n_docs").toLong
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 6 === 1),
      "doc_id", "text", idxDir, batchId = Some(2L))
    assert(Dedup.readMeta(spark, idxRoot(idxDir))("n_docs").toLong == n0,
      "compaction lost the replay marker — folded batch re-appended")
    Dedup.appendToMinhashIndex(docs.filter(col("doc_id") % 6 === 3)
      .withColumn("doc_id", col("doc_id") + 100000), "doc_id", "text",
      idxDir, batchId = Some(3L))
    assert(Dedup.readMeta(spark, idxRoot(idxDir))("n_docs").toLong > n0,
      "post-compaction append failed")
  }

  test("compactEmbeddingIndex: pairs identical, files drop") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val idxDir = graft.sources.Scratch.dir("maint-ecompact")
    Similarity.writeEmbeddingIndex(e.filter(col("vec_id") % 2 === 0), idxDir)
    (0 to 2).foreach { b =>
      Similarity.appendToEmbeddingIndex(
        e.filter(col("vec_id") % 6 === 2 * b + 1), idxDir,
        batchId = Some(b.toLong))
    }
    val probe = e.filter(col("vec_id") % 2 === 1)
    def pairs() = canon(Similarity.crossEmbeddingPairs(probe,
      Similarity.readEmbeddingIndex(spark, idxDir), 0.3))
    val before = pairs()
    assert(before.nonEmpty, "no pairs before compaction — vacuous")
    val filesBefore = parquetFiles(s"${idxRoot(idxDir)}/vectors")
    Similarity.compactEmbeddingIndex(spark, idxDir, targetFiles = 1)
    assert(pairs() == before, "embedding compaction changed query results")
    assert(parquetFiles(s"${idxRoot(idxDir)}/vectors") < filesBefore)
  }

  test("Bm25Index.compact: boards identical, files drop, marker + " +
    "tombstones survive") {
    val docs = graft.sources.Tables.documents(spark, base)
    val idxDir = graft.sources.Scratch.dir("maint-bmcompact")
    graft.operators.Bm25Index.write(
      docs.filter(col("doc_id") % 2 === 0), idxDir)
    // fragment the way a CDC stream does: per-batch partitions with a
    // delete leg, so postings, signed partials AND tombstones accrete
    (0 to 2).foreach { b =>
      graft.operators.Bm25Index.applyCdc(spark, idxDir,
        docs.filter(col("doc_id") % 6 === 2 * b + 1),
        docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 30 === 10 * b)
          .select("doc_id"), batchId = b.toLong)
    }
    val queries = docs.filter(col("doc_id") % 29 === 0)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(graft.operators.TextOps.tokens(col("text")),
          1, 6)).as("query_text"))
    def board() = canon(graft.operators.Bm25Index.crossBm25TopK(
      spark, queries, idxDir, k = 5))
    val metaBefore = Dedup.readMeta(spark, idxRoot(idxDir))
    val before = board()
    assert(before.nonEmpty, "no board before compaction — vacuous")
    val filesBefore = parquetFiles(s"${idxRoot(idxDir)}/postings")
    graft.operators.Bm25Index.compact(spark, idxDir, targetFiles = 1)
    assert(board() == before, "BM25 compaction changed served boards")
    assert(parquetFiles(s"${idxRoot(idxDir)}/postings") < filesBefore)
    assert(Dedup.readMeta(spark, idxRoot(idxDir)) == metaBefore,
      "compaction must preserve metadata exactly")
    assert(graft.operators.Bm25Index.statsConsistency(spark, idxDir)
      == ((0L, 0L, 0L)), "compaction skewed df or (N, S)")
    // tombstones still mask after folding into the base partition
    graft.operators.Bm25Index.applyCdc(spark, idxDir,
      docs.filter(col("doc_id") % 6 === 1),
      docs.limit(0).select("doc_id"), batchId = 2L)
    assert(board() == before,
      "compaction lost the replay marker — folded batch re-applied")
  }

  test("compactIvfIndex: boards identical, files drop, meta survives") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val idxDir = graft.sources.Scratch.dir("maint-ivfcompact")
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 4 =!= 1), idxDir)
    (0 to 2).foreach { b =>
      Similarity.applyIvfCdc(spark, idxDir,
        e.filter(col("vec_id") % 12 === 4 * b + 1),
        e.filter(col("vec_id") % 4 =!= 1 && col("vec_id") % 20 === 5 * b)
          .select("vec_id"), batchId = b.toLong)
    }
    def board() = canon(Similarity.ivfTopKIndexed(
      Similarity.readIvfIndex(spark, idxDir),
      e.filter(col("vec_id") < 5), 10))
    val metaBefore = Dedup.readMeta(spark, idxRoot(idxDir))
    val before = board()
    assert(before.nonEmpty, "no board before compaction — vacuous")
    assert(new java.io.File(s"${idxRoot(idxDir)}/assigned_batches").exists(),
      "fixture never fragmented — vacuous")
    Similarity.compactIvfIndex(spark, idxDir)
    assert(!new java.io.File(s"${idxRoot(idxDir)}/assigned_batches").exists(),
      "compaction left the per-batch subtree behind")
    assert(board() == before, "IVF compaction changed served boards")
    // metadata survives EXCEPT cell_hist, which compaction deliberately
    // RE-BASELINES from the live rows it rewrites (the scan-free delete
    // leg never decrements it — r16): totals must now equal live count
    val metaAfter = Dedup.readMeta(spark, idxRoot(idxDir))
    assert(metaAfter - "cell_hist" == metaBefore - "cell_hist",
      "compaction must preserve metadata (marker, params) exactly")
    val histN = metaAfter("cell_hist").split(",").iterator
      .filter(_.nonEmpty).map(kv => kv.drop(kv.indexOf(':') + 1).toLong).sum
    assert(histN ==
      Similarity.readIvfIndex(spark, idxDir).assigned.count(),
      "re-baselined cell_hist total diverges from the live count")
    // folded batches still skip on replay
    val nBefore = Similarity.readIvfIndex(spark, idxDir).assigned.count()
    Similarity.applyIvfCdc(spark, idxDir,
      e.filter(col("vec_id") % 12 === 1), e.limit(0).select("vec_id"),
      batchId = 2L)
    assert(Similarity.readIvfIndex(spark, idxDir).assigned.count()
      == nBefore, "compaction lost the replay marker")
  }

  test("compactPrefixIndex: pairs identical, files drop, marker survives") {
    val docs = graft.sources.Tables.documents(spark, base)
    val idxDir = graft.sources.Scratch.dir("maint-pfxcompact")
    graft.operators.SimJoin.writePrefixIndex(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", 6, 10, idxDir)
    (0 to 2).foreach { b =>
      graft.operators.SimJoin.applyPrefixCdc(spark, idxDir,
        docs.filter(col("doc_id") % 6 === 2 * b + 1),
        docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 30 === 10 * b)
          .select("doc_id"), batchId = b.toLong)
    }
    val probe = docs.filter(col("doc_id") % 4 === 2)
    def pairs() = canon(graft.operators.SimJoin.crossPrefixJoin(
      spark, probe, idxDir))
    val metaBefore = Dedup.readMeta(spark, idxRoot(idxDir))
    val before = pairs()
    assert(before.nonEmpty, "no pairs before compaction — vacuous")
    val filesBefore = parquetFiles(s"${idxRoot(idxDir)}/sets")
    graft.operators.SimJoin.compactPrefixIndex(spark, idxDir,
      targetFiles = 1)
    assert(pairs() == before, "prefix compaction changed results")
    assert(parquetFiles(s"${idxRoot(idxDir)}/sets") < filesBefore)
    assert(Dedup.readMeta(spark, idxRoot(idxDir)) == metaBefore,
      "compaction must preserve metadata exactly")
  }

  test("rebuild of a fully-deleted index refuses with the honest " +
    "instruction, state untouched") {
    val docs = graft.sources.Tables.documents(spark, base)
    val idxDir = graft.sources.Scratch.dir("maint-alldel")
    val corpus = docs.limit(40)
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", idxDir)
    Dedup.deleteFromMinhashIndex(spark, idxDir, corpus.select("doc_id"))
    val ex = intercept[IllegalArgumentException] {
      Dedup.rebuildMinhashIndex(spark, idxDir)
    }
    assert(ex.getMessage.contains("delete the index directory"),
      s"refusal must name the honest remedy: ${ex.getMessage}")
    // the failed rebuild left the old state fully readable
    assert(Dedup.readMeta(spark, idxRoot(idxDir))("n_docs").toLong == 0L)
    assert(spark.read.parquet(s"${idxRoot(idxDir)}/sets").count() > 0,
      "refused rebuild must leave the old state untouched")
  }

  test("rebuildMinhashIndex re-bands from the sets table alone") {
    val docs = graft.sources.Tables.documents(spark, base)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val grown = graft.sources.Scratch.dir("maint-rebuild-mh")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", grown,
      numHashes = 16, bands = 4)
    Dedup.rebuildMinhashIndex(spark, grown, numHashes = 8, bands = 8)
    // parity oracle: a fresh build AT THE NEW PARAMETERS from the
    // original corpus — the rebuild had only the persisted shingle sets
    val fresh = graft.sources.Scratch.dir("maint-rebuild-mh-fresh")
    Dedup.writeMinhashIndex(corpus, "doc_id", "text", fresh,
      numHashes = 8, bands = 8)
    val (gi, fi) = (Dedup.readMinhashIndex(spark, grown),
      Dedup.readMinhashIndex(spark, fresh))
    assert(canon(gi.bands) == canon(fi.bands),
      "rebuilt band table != fresh build at the same parameters")
    assert((gi.numHashes, gi.nBands) == (8, 8))
    val probe = docs.filter(col("doc_id") % 2 === 1)
    val (a, b) = (
      canon(Dedup.crossMinhashPairs(probe, gi, "doc_id", "text", 0.5)),
      canon(Dedup.crossMinhashPairs(probe, fi, "doc_id", "text", 0.5)))
    assert(a.nonEmpty && a == b, "rebuilt index answers differently")
  }

  test("persisted IVF index: stored probe == fresh probe, cell-partitioned layout prunes") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val queries = e.filter(col("vec_id") < 3)
    val dir = graft.sources.Scratch.dir("maint-ivf-persist")
    Similarity.writeIvfIndex(e, dir, nCentroids = 8, iters = 3)
    val idx = Similarity.readIvfIndex(spark, dir)
    // bit-identical round trip: parquet preserves float bits, so the
    // read-back quantizer IS the trained one and the probe answers match
    // the fresh-train path exactly
    val stored = canon(Similarity.ivfTopKIndexed(idx, queries, 5))
    val fresh = canon(Similarity.ivfTopK(e, queries, 5,
      nCentroids = 8, iters = 3))
    assert(stored.nonEmpty && stored == fresh,
      "stored-index probe diverges from fresh-train probe")
    // the scale claim is the LAYOUT: one directory per cell, so a probe
    // of nprobe cells reads nprobe directories, not the corpus
    val cellDirs = new java.io.File(s"${idxRoot(dir)}/assigned")
      .listFiles().filter(_.getName.startsWith("cent_id="))
    assert(cellDirs.length > 1 && cellDirs.length <= 8,
      s"expected cell-partitioned layout, got ${cellDirs.map(_.getName).toSeq}")
    // and the cell join actually prunes: the executed probe plan carries
    // a partition filter on cent_id (dynamic pruning from the broadcast
    // probe side, or a static IN after AQE) rather than scanning all
    // cells unconditionally
    val plan = Similarity.ivfTopKIndexed(idx, queries, 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") ||
      plan.toLowerCase.contains("partitionfilters: [isnotnull(cent_id"),
      "probe plan shows no cent_id partition pruning")
  }

  test("ivfTopKFiltered: full probe == brute force over the allowed " +
    "set; filter masks scoring only; wrong key shape refuses") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val queries = e.filter(col("vec_id") < 3)
    val dir = graft.sources.Scratch.dir("maint-ivf-filtered")
    Similarity.writeIvfIndex(e, dir, nCentroids = 8, iters = 3)
    val idx = Similarity.readIvfIndex(spark, dir)
    val allowed = e.filter(col("label") % 2 === 0).select("vec_id")
    // exactness law: probing EVERY cell makes the filtered serve the
    // exact filtered search — it must equal brute force over a corpus
    // that never held the excluded vectors
    val full = canon(Similarity.ivfTopKFiltered(idx, queries, 5,
      allowed, nprobe = 8))
    val brute = canon(Similarity.bruteForceTopK(
      e.join(allowed, Seq("vec_id"), "left_semi"), queries, 5))
    assert(full.nonEmpty && full == brute,
      "filtered full-probe board diverges from brute force over the " +
        "allowed set")
    // pre-filter semantics at a partial probe: every served row is an
    // allowed vector, and the board is NOT just a post-hoc cut of the
    // unfiltered board (the filter competes inside the probed cells)
    val part = Similarity.ivfTopKFiltered(idx, queries, 5, allowed)
    val servedIds = part.select("vec_id").distinct()
    assert(servedIds.join(allowed, Seq("vec_id"), "left_anti").isEmpty,
      "partial-probe filtered board served a disallowed vector")
    // the filter may not thin the index handle itself — a second serve
    // with a different filter off the SAME handle sees everything
    val odd = e.filter(col("label") % 2 === 1).select("vec_id")
    val oddIds = Similarity.ivfTopKFiltered(idx, queries, 5, odd, nprobe = 8)
      .select("vec_id").distinct()
    assert(oddIds.join(odd, Seq("vec_id"), "left_anti").isEmpty &&
      !oddIds.isEmpty,
      "same handle did not serve a second, disjoint filter")
    // key-shape guard: anything but a single vec_id column refuses
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfTopKFiltered(idx, queries, 5,
        e.select("vec_id", "label"))
    }
    assert(err.getMessage.contains("vec_id"))
  }

  test("rebuildEmbeddingIndex clears occupancy drift without the corpus") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val corpus = e.filter(col("vec_id") % 2 === 0)
    val idxDir = graft.sources.Scratch.dir("maint-rebuild-emb")
    // keys cut at a deliberately-undersized band space: autoRowBits
    // floors at 8, so rowBits=2 is permanently past the occupancy
    // target and every append refuses
    Similarity.writeEmbeddingIndex(corpus, idxDir, rowBits = 2)
    val batch = e.filter(col("vec_id") % 2 === 1).limit(2)
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendToEmbeddingIndex(batch, idxDir)
    }
    assert(ex.getMessage.contains("occupancy"))
    Similarity.rebuildEmbeddingIndex(spark, idxDir)
    // parity at the re-cut size vs a fresh auto-sized build
    val fresh = graft.sources.Scratch.dir("maint-rebuild-emb-fresh")
    Similarity.writeEmbeddingIndex(corpus, fresh)
    val probe = e.filter(col("vec_id") % 2 === 1)
    val (a, b) = (
      canon(Similarity.crossEmbeddingPairs(probe,
        Similarity.readEmbeddingIndex(spark, idxDir), 0.3)),
      canon(Similarity.crossEmbeddingPairs(probe,
        Similarity.readEmbeddingIndex(spark, fresh), 0.3)))
    assert(a.nonEmpty && a == b, "rebuilt embedding index answers differently")
    // and the drift is cleared: the append that refused now lands
    val n0 = Dedup.readMeta(spark, idxRoot(idxDir))("n_vectors").toLong
    Similarity.appendToEmbeddingIndex(batch, idxDir)
    assert(Dedup.readMeta(spark, idxRoot(idxDir))("n_vectors").toLong == n0 + 2)
  }

  test("IVF append: split-invariant, replay-skipped, torn-excluded") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val eBase = e.filter(col("vec_id") % 4 =!= 1)
    val d1 = e.filter(col("vec_id") % 8 === 1)
    val d2 = e.filter(col("vec_id") % 8 === 5)
    val q = e.filter(col("vec_id") < 5)
    def board(dir: String): Set[Seq[String]] = canon(
      Similarity.ivfTopKIndexed(Similarity.readIvfIndex(spark, dir), q, 10))
    // one batch vs two batches: same folded index, same board
    val one = graft.sources.Scratch.dir("ivf-app-one")
    Similarity.writeIvfIndex(eBase, one)
    Similarity.appendIvfIndex(spark, one, d1.unionByName(d2),
      batchId = Some(0L))
    val two = graft.sources.Scratch.dir("ivf-app-two")
    Similarity.writeIvfIndex(eBase, two)
    Similarity.appendIvfIndex(spark, two, d1, batchId = Some(0L))
    Similarity.appendIvfIndex(spark, two, d2, batchId = Some(1L))
    val b = board(one)
    assert(b.nonEmpty && b == board(two),
      "batch split changed the served board")
    // every vector exactly once
    assert(Similarity.readIvfIndex(spark, two).assigned.count() == e.count())
    // committed replay with DIFFERENT content skips outright
    Similarity.appendIvfIndex(spark, two, eBase.limit(3), batchId = Some(1L))
    assert(board(two) == b, "committed batchId replay was not skipped")
    // torn append (partition written, marker not) is excluded, and the
    // replayed batch heals it by dynamic overwrite
    val torn = graft.sources.Scratch.dir("ivf-app-torn")
    Similarity.writeIvfIndex(eBase, torn)
    val baseBoard = board(torn)
    spark.read.parquet(s"${idxRoot(torn)}/assigned")
      .limit(4).withColumn("ingest_batch", lit(0L))
      .write.partitionBy("ingest_batch", "cent_id").mode("append")
      .parquet(s"${idxRoot(torn)}/assigned_batches")
    assert(board(torn) == baseBoard,
      "uncommitted batch partition leaked into the served board")
    Similarity.appendIvfIndex(spark, torn, d1.unionByName(d2),
      batchId = Some(0L))
    assert(board(torn) == b, "healed replay diverged from the clean fold")
    // wrong-kind dir refuses
    val wrong = graft.sources.Scratch.dir("ivf-app-wrong")
    graft.operators.Bm25Index.write(
      graft.sources.Tables.documents(spark, base).limit(20), wrong)
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(spark, wrong, d1)
    }
    assert(ex.getMessage.contains("not an IVF index"))
  }

  test("IVF delete: tombstones mask exactly, quantizer untouched, " +
    "rebuild compacts to a live-only index") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val q = e.filter(col("vec_id") < 5)
    val dir = graft.sources.Scratch.dir("ivf-del-law")
    Similarity.writeIvfIndex(e, dir)
    val before = canon(Similarity.ivfTopKIndexed(
      Similarity.readIvfIndex(spark, dir), q, 10))
    val tomb = e.filter(col("vec_id") % 7 === 2).select("vec_id")
    Similarity.deleteFromIvfIndex(spark, dir, tomb, batchId = Some(0L))
    val masked = Similarity.readIvfIndex(spark, dir)
    // the reference: an untouched twin index, masked by a plain filter —
    // deletion must be EXACTLY that (same quantizer, live rows only)
    val twinDir = graft.sources.Scratch.dir("ivf-del-twin")
    Similarity.writeIvfIndex(e, twinDir)
    val twin = Similarity.readIvfIndex(spark, twinDir)
    val expected = canon(Similarity.ivfTopKIndexed(
      twin.copy(assigned = twin.assigned.filter(col("vec_id") % 7 =!= 2)),
      q, 10))
    val got = canon(Similarity.ivfTopKIndexed(masked, q, 10))
    assert(got == expected, "tombstone mask diverged from a plain filter")
    assert(got != before, "deletion touched no served board — vacuous fixture")
    // the quantized serving path flows through the same mask
    val qgot = Similarity.ivfTopKQuantized(masked, q, 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(tomb.collect().map(_.getLong(0)).toSet.intersect(qgot).isEmpty,
      "quantized serving surfaced a tombstoned vector")
    // committed replay skips; double-delete is harmless
    Similarity.deleteFromIvfIndex(spark, dir, tomb, batchId = Some(0L))
    Similarity.deleteFromIvfIndex(spark, dir, tomb, batchId = Some(1L))
    assert(canon(Similarity.ivfTopKIndexed(
      Similarity.readIvfIndex(spark, dir), q, 10)) == got)
    // rebuild: physically live-only, tombstone table gone, and the
    // retrained index ≡ a fresh write over the live corpus bit-for-bit
    Similarity.rebuildIvfIndex(spark, dir)
    assert(!new java.io.File(s"${idxRoot(dir)}/tomb").exists(),
      "rebuild left the tombstone table behind")
    val rebuilt = Similarity.readIvfIndex(spark, dir)
    assert(rebuilt.assigned.count() ==
      e.filter(col("vec_id") % 7 =!= 2).count())
    val freshDir = graft.sources.Scratch.dir("ivf-del-fresh")
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 7 =!= 2), freshDir)
    val fresh = Similarity.readIvfIndex(spark, freshDir)
    rebuilt.cents.zip(fresh.cents).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b),
        "live-set rebuild diverged from a fresh live-corpus write") }
  }

  test("applyIvfCdc: insert+delete under one marker ≡ filtered twin; " +
    "deletes apply to the pre-batch state; re-insert serves") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val q = e.filter(col("vec_id") < 5)
    val dir = graft.sources.Scratch.dir("ivf-cdc-law")
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 4 =!= 1), dir)
    // reference: the same quantizer (trained on the base) over exactly
    // the net live rows, via the untouched append-only twin + filter
    val twinDir = graft.sources.Scratch.dir("ivf-cdc-twin")
    Similarity.writeIvfIndex(e.filter(col("vec_id") % 4 =!= 1), twinDir)
    Similarity.appendIvfIndex(spark, twinDir,
      e.filter(col("vec_id") % 4 === 1), batchId = Some(0L))
    val twin = Similarity.readIvfIndex(spark, twinDir)
    def expectedOver(liveFilter: org.apache.spark.sql.Column) =
      canon(Similarity.ivfTopKIndexed(
        twin.copy(assigned = twin.assigned.filter(liveFilter)), q, 10))
    def served() = canon(Similarity.ivfTopKIndexed(
      Similarity.readIvfIndex(spark, dir), q, 10))
    // batch 0: insert the held-out quarter, delete the base's 7≡2
    // vectors AND the quarter's 11≡3 subset in the SAME batch — the
    // latter is a no-op: deletes apply to the PRE-batch state, so the
    // batch's own inserts all serve (the upsert ordering)
    Similarity.applyIvfCdc(spark, dir,
      e.filter(col("vec_id") % 4 === 1).select("vec_id", "embedding"),
      e.filter((col("vec_id") % 4 =!= 1 && col("vec_id") % 7 === 2) ||
          (col("vec_id") % 4 === 1 && col("vec_id") % 11 === 3))
        .select("vec_id"),
      batchId = 0L)
    val got0 = served()
    assert(got0 == expectedOver(
      !(col("vec_id") % 4 =!= 1 && col("vec_id") % 7 === 2)),
      "batch-0 boards diverged (same-batch delete of own insert must " +
        "be a no-op under deletes-first ordering)")
    // replay of the committed batch (different content) skips
    Similarity.applyIvfCdc(spark, dir, e.limit(3),
      e.limit(0).select("vec_id"), batchId = 0L)
    assert(served() == got0,
      "replayed committed IVF CDC batch was not skipped")
    // batch 1: NOW delete the quarter's 11≡3 — cross-batch, it lands
    Similarity.applyIvfCdc(spark, dir, e.limit(0),
      e.filter(col("vec_id") % 4 === 1 && col("vec_id") % 11 === 3)
        .select("vec_id"),
      batchId = 1L)
    assert(served() == expectedOver(
      !(col("vec_id") % 4 =!= 1 && col("vec_id") % 7 === 2) &&
        !(col("vec_id") % 4 === 1 && col("vec_id") % 11 === 3)),
      "cross-batch delete of previously inserted vectors diverged")
    // batch 2: RE-INSERT the deleted quarter subset — the shadow
    // tombstone spares later batches, so they serve again, no rebuild
    Similarity.applyIvfCdc(spark, dir,
      e.filter(col("vec_id") % 4 === 1 && col("vec_id") % 11 === 3)
        .select("vec_id", "embedding"),
      e.limit(0).select("vec_id"),
      batchId = 2L)
    assert(served() == got0,
      "re-insert of deleted vec_ids did not restore the batch-0 boards")
  }

  test("IVF append drift sentinel: shifted batch refuses, " +
    "in-distribution batch lands, override accepted") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val dir = graft.sources.Scratch.dir("ivf-drift")
    Similarity.writeIvfIndex(e, dir)
    val idx = Similarity.readIvfIndex(spark, dir)
    val n = idx.assigned.count()
    // a batch cloned from ONE cell's vectors (fresh ids): same argmax →
    // the whole batch lands in that cell, total-variation ≈ 1 − share
    val cell = idx.assigned.groupBy("cent_id").count()
      .orderBy(col("count").asc, col("cent_id").asc).head().getInt(0)
    val cellVecs = idx.assigned.filter(col("cent_id") === cell)
      .select(col("vec_id"), col("v").as("embedding"))
    val cn = cellVecs.count()
    val reps = (340L / cn + 1L).toInt
    def clone(src: org.apache.spark.sql.DataFrame, m: Int,
              off: Long = 1000000L) =
      src.crossJoin(spark.range(m).select(col("id").as("__r")))
        .select((col("vec_id") + lit(off) * (col("__r") + 1))
          .as("vec_id"), col("embedding"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.appendIvfIndex(spark, dir, clone(cellVecs, reps),
        batchId = Some(0L))
    }
    assert(ex.getMessage.contains("drifted") &&
      ex.getMessage.contains("rebuildIvfIndex"),
      s"drift refusal missing the remedy: ${ex.getMessage}")
    assert(Similarity.readIvfIndex(spark, dir).assigned.count() == n,
      "refused batch still landed")
    // a big batch cloned from the WHOLE corpus has the stored shares
    // exactly → tv = 0 → lands unchallenged
    val all = idx.assigned.select(col("vec_id"), col("v").as("embedding"))
    val reps2 = (340L / n + 1L).toInt
    Similarity.appendIvfIndex(spark, dir, clone(all, reps2),
      batchId = Some(0L))
    assert(Similarity.readIvfIndex(spark, dir).assigned.count()
      == n + n * reps2, "in-distribution batch did not land")
    // conscious override on a second shifted batch (fresh id range —
    // appends assume new ids)
    Similarity.appendIvfIndex(spark, dir, clone(cellVecs, reps,
      off = 2000000000L), batchId = Some(1L), allowCellDrift = true)
    assert(Similarity.readIvfIndex(spark, dir).assigned.count()
      == n + n * reps2 + cn * reps, "allowCellDrift append did not land")
  }

  test("recoverSwap repairs the delete+rename crash window; " +
    "no-op on healthy state") {
    val docs = graft.sources.Tables.documents(spark, base).limit(40)
    val dir = graft.sources.Scratch.dir("recov-swap")
    Dedup.writeMinhashIndex(docs, "doc_id", "text", dir)
    val before = canon(Dedup.readMinhashIndex(spark, dir).sets)
    // healthy state: recoverSwap must refuse to touch it, sibling or not
    assert(!Dedup.recoverSwap(spark, dir), "recoverSwap acted on healthy state")
    // simulate the crash: state fully built at the sibling, main dir
    // already deleted, rename never ran
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__swap")))
    // a reader diagnoses the layout and names the repair
    val ex = intercept[IllegalArgumentException] {
      Dedup.readMinhashIndex(spark, dir)
    }
    assert(ex.getMessage.contains("recoverSwap"),
      s"reader did not suggest the repair: ${ex.getMessage}")
    assert(Dedup.recoverSwap(spark, dir), "recoverSwap found nothing to repair")
    assert(canon(Dedup.readMinhashIndex(spark, dir).sets) == before,
      "recovered state diverged")
    assert(!Dedup.recoverSwap(spark, dir), "second recoverSwap was not a no-op")
  }

  test("IVF rebuild: retrained-from-own-vectors ≡ fresh full-corpus " +
    "index bit-for-bit; marker survives; batches fold away") {
    val e = graft.sources.Tables.embeddings(spark, base)
    val eBase = e.filter(col("vec_id") % 4 =!= 1)
    val delta = e.filter(col("vec_id") % 4 === 1)
    val q = e.filter(col("vec_id") < 5)
    val dir = graft.sources.Scratch.dir("ivf-rebuild-law")
    Similarity.writeIvfIndex(eBase, dir)
    Similarity.appendIvfIndex(spark, dir, delta, batchId = Some(3L))
    Similarity.rebuildIvfIndex(spark, dir)
    val rebuilt = Similarity.readIvfIndex(spark, dir)
    val fresh = graft.sources.Scratch.dir("ivf-rebuild-fresh")
    Similarity.writeIvfIndex(e, fresh)
    val freshIdx = Similarity.readIvfIndex(spark, fresh)
    // exact integer training + float parquet round-trip: the rebuilt
    // quantizer must EQUAL the fresh one, element for element
    assert(rebuilt.cents.map(_._1) == freshIdx.cents.map(_._1))
    rebuilt.cents.zip(freshIdx.cents).foreach { case ((_, a), (_, b)) =>
      assert(a.sameElements(b), "rebuilt centroids diverged from fresh") }
    assert(canon(Similarity.ivfTopKIndexed(rebuilt, q, 10)) ==
      canon(Similarity.ivfTopKIndexed(freshIdx, q, 10)))
    // batches folded into the base; marker survives so the replayed
    // batchId still skips instead of double-appending
    assert(rebuilt.assigned.count() == e.count())
    Similarity.appendIvfIndex(spark, dir, delta, batchId = Some(3L))
    assert(Similarity.readIvfIndex(spark, dir).assigned.count() == e.count(),
      "replayed batch double-appended after rebuild")
  }

  test("re-insert of a deleted id: synchronous paths refuse loudly, " +
    "batched paths serve the new image in every family") {
    // Shadow tombstones (Dedup.ShadowCol) kill only rows from batches
    // ≤ the marker at delete time, so a BATCHED re-insert lands above
    // every shadow and serves — delete is not a one-way door and a
    // CDC update is delete+insert (advisor r15's medium item). The one
    // shape still impossible is the SYNCHRONOUS re-insert: its rows
    // land in the base partition (-1), which every tombstone shadows —
    // those paths must refuse loudly naming the batched remedy.
    val docs = graft.sources.Tables.documents(spark, base)
    val e = graft.sources.Tables.embeddings(spark, base)
    val held = docs.filter(col("doc_id") % 2 === 0)
    val deadDocs = docs.filter(col("doc_id") % 10 === 2)
    def refusesSync(body: => Unit): Unit = {
      val ex = intercept[IllegalArgumentException](body)
      assert(ex.getMessage.contains("synchronous") &&
        ex.getMessage.contains("batchId"),
        s"sync refusal must name the cause and remedy, got: ${ex.getMessage}")
    }

    // minhash: sync append refuses; batched append serves
    val mh = graft.sources.Scratch.dir("reins-mh")
    Dedup.writeMinhashIndex(held, "doc_id", "text", mh)
    Dedup.deleteFromMinhashIndex(spark, mh, deadDocs.select("doc_id"))
    refusesSync(Dedup.appendToMinhashIndex(deadDocs, "doc_id", "text", mh))
    assert(Dedup.readMinhashIndex(spark, mh).sets
      .join(deadDocs, Seq("doc_id"), "left_semi").count() == 0)
    Dedup.appendToMinhashIndex(deadDocs, "doc_id", "text", mh,
      batchId = Some(0L))
    assert(Dedup.readMinhashIndex(spark, mh).sets
      .join(deadDocs, Seq("doc_id"), "left_semi").count()
      == Dedup.shingleHashesFlat(deadDocs, "doc_id", "text")
        .filter(size(col("hs")) > 0).count(),
      "batched minhash re-insert did not serve")

    // bm25: sync append refuses; batched CDC re-insert serves exactly
    val bm = graft.sources.Scratch.dir("reins-bm")
    graft.operators.Bm25Index.write(held, bm)
    graft.operators.Bm25Index.delete(spark, bm, deadDocs.select("doc_id"))
    refusesSync(graft.operators.Bm25Index.append(spark, bm, deadDocs))
    graft.operators.Bm25Index.applyCdc(spark, bm, deadDocs,
      docs.filter(lit(false)), batchId = 0L)
    assert(graft.operators.Bm25Index.statsConsistency(spark, bm)
      == ((0L, 0L, 0L)),
      "bm25 re-insert skewed the folded statistics")

    // embedding LSH: sync append refuses; batched CDC serves
    val em = graft.sources.Scratch.dir("reins-em")
    val heldE = e.filter(col("vec_id") % 2 === 0)
    val deadE = e.filter(col("vec_id") % 10 === 2)
    Similarity.writeEmbeddingIndex(heldE, em)
    Similarity.deleteFromEmbeddingIndex(spark, em, deadE.select("vec_id"))
    refusesSync(Similarity.appendToEmbeddingIndex(deadE, em))
    Similarity.applyEmbeddingCdc(spark, em, deadE,
      e.filter(lit(false)).select("vec_id"), batchId = 0L)
    assert(Similarity.readEmbeddingIndex(spark, em).vectors
      .join(deadE, Seq("vec_id"), "left_semi").count() == deadE.count(),
      "batched embedding re-insert did not serve")

    // IVF: sync append refuses; batched append serves
    val iv = graft.sources.Scratch.dir("reins-iv")
    Similarity.writeIvfIndex(heldE, iv)
    Similarity.deleteFromIvfIndex(spark, iv, deadE.select("vec_id"))
    refusesSync(Similarity.appendIvfIndex(spark, iv, deadE))
    Similarity.appendIvfIndex(spark, iv, deadE, batchId = Some(0L))
    assert(Similarity.readIvfIndex(spark, iv).assigned
      .join(deadE, Seq("vec_id"), "left_semi").count() == deadE.count(),
      "batched IVF re-insert did not serve")

    // prefix: sync append refuses; batched CDC serves
    val pf = graft.sources.Scratch.dir("reins-pf")
    graft.operators.SimJoin.writePrefixIndex(held, "doc_id", "text", 1, 2, pf)
    graft.operators.SimJoin.deleteFromPrefixIndex(spark, pf,
      deadDocs.select("doc_id"))
    refusesSync(graft.operators.SimJoin.appendPrefixIndex(spark, pf,
      deadDocs))
    graft.operators.SimJoin.applyPrefixCdc(spark, pf, deadDocs,
      docs.filter(lit(false)), batchId = 0L)
    assert(graft.operators.SimJoin.crossPrefixJoin(spark, deadDocs, pf)
      .filter(col("new_id") === col("matched_id")).count() > 0,
      "batched prefix re-insert did not serve")
  }

  test("sync insert of a tombstoned-but-LIVE id: refusal names the live " +
    "state and the update encoding, not the bare batchId remedy") {
    // After delete + batched re-insert the id is LIVE again; its
    // tombstone still blocks the always-shadowed sync path, but the
    // old remedy text ('route through a batchId') would mint a SECOND
    // live image — the unchecked duplicate-id contract violation
    // (advisor r16). The refusal must classify the hit as live and
    // point at the delete+insert (update) encoding instead.
    val docs = graft.sources.Tables.documents(spark, base)
    val held = docs.filter(col("doc_id") % 2 === 0)
    val dead = docs.filter(col("doc_id") % 10 === 2)
    val dir = graft.sources.Scratch.dir("reins-live")
    Dedup.writeMinhashIndex(held, "doc_id", "text", dir)
    Dedup.deleteFromMinhashIndex(spark, dir, dead.select("doc_id"))
    Dedup.appendToMinhashIndex(dead, "doc_id", "text", dir,
      batchId = Some(0L)) // live again
    val ex = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(dead, "doc_id", "text", dir)
    }
    assert(ex.getMessage.contains("currently LIVE") &&
      ex.getMessage.contains("delete+insert") &&
      ex.getMessage.contains("applyCdc"),
      s"live-id refusal must point at the update encoding: ${ex.getMessage}")
    assert(!ex.getMessage.contains("invisible"),
      "live-id case must not claim the row would merely be invisible: " +
        ex.getMessage)
    // the dead-id message is unchanged when no hit is live
    val dir2 = graft.sources.Scratch.dir("reins-deadmsg")
    Dedup.writeMinhashIndex(held, "doc_id", "text", dir2)
    Dedup.deleteFromMinhashIndex(spark, dir2, dead.select("doc_id"))
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.appendToMinhashIndex(dead, "doc_id", "text", dir2)
    }
    assert(ex2.getMessage.contains("synchronous") &&
      ex2.getMessage.contains("batchId") &&
      !ex2.getMessage.contains("currently LIVE"),
      s"dead-id refusal regressed: ${ex2.getMessage}")
  }
}
