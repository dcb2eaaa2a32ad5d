package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** fsck for the persisted index families — the ops tool a 3 a.m. page
  * reaches for BEFORE deciding between `recoverSwap`, replay, and
  * rebuild. Every index in this engine shares the v2 layout discipline
  * (per-table `ingest_batch` partitions, marker-last commits, `tomb/`
  * masking, whole-directory swaps), which means an index's health is
  * DIAGNOSABLE from its files and metadata alone:
  *
  *   - a missing main directory beside a complete `__swap` sibling is
  *     the one crash window reads cannot survive (repair:
  *     [[Dedup.recoverSwap]]);
  *   - a `__swap` sibling beside an INTACT directory is mid-build
  *     residue (safe to delete, never auto-deleted here);
  *   - rows in partitions past the commit marker are a torn append
  *     awaiting its replay (reads already exclude them — informational);
  *   - a declared `n_docs`/`n_vectors` that disagrees with the
  *     recomputed live count means metadata was hand-edited or a
  *     writer violated the single-writer contract — sizing decisions
  *     (occupancy refusals) are now lying;
  *   - an empty-born table (a directory with no written partition, the
  *     insert-only-CDC-batch shape) reads as absent by design;
  *   - a table fragmented past `maxFilesPerTable` data files (the
  *     one-file-set-per-micro-batch accretion) serves with file-open
  *     overhead the family's `compact` op reclaims — WARN, not ERROR.
  *
  * Two tiers, because the checks split cleanly by cost:
  * `countChecks = true` (default) additionally runs the DATA-SCAN
  * checks — committed/uncommitted row counts, live-count vs declared
  * metadata, the BM25 df partials and (N, S) vs live-postings
  * cross-check ([[Bm25Index.statsConsistency]], the one probe that
  * catches a torn synchronous delete's silent skew). `countChecks =
  * false` is the metadata-only fsck — file listings, partition names,
  * metadata, readability — O(files), never O(rows): the form a 100 TB
  * deployment runs at page cadence. Uncommitted-partition detection is
  * listing-based in both tiers (partition NAMES carry the batch id).
  *
  * Returns one row per check: (chk, status ∈ OK|WARN|ERROR, detail).
  * Statuses are scale-independent (details carry the counts), so a
  * healthy index audits to a FIXED row set per tier — the
  * `q_index_audit` gate pins the countChecks tier against a literal
  * oracle, the canary pattern. Read-only: the audit never mutates the
  * index, it only names the repair. */
object IndexAudit {

  /** Core tables per index kind (tomb/ and the IVF batch subtree are
    * optional and checked separately). */
  private[graft] val layout: Map[String, Seq[String]] = Map(
    "minhash-v2" -> Seq("bands", "sets"),
    "signlsh-v2" -> Seq("bands", "vectors"),
    "prefix_index" -> Seq("sets", "df", "prefix"),
    "bm25_index" -> Seq("postings", "df"),
    "ivf_index" -> Seq("centroids", "assigned"),
    "bpe_vocab" -> Seq("merges"))

  private val vecKinds = Set("signlsh-v2", "ivf_index")

  /** The compact op to name when fragmentation warns, per kind. */
  private val compactOp: Map[String, String] = Map(
    "minhash-v2" -> "Dedup.compactMinhashIndex",
    "signlsh-v2" -> "Similarity.compactEmbeddingIndex",
    "prefix_index" -> "SimJoin.compactPrefixIndex",
    "bm25_index" -> "Bm25Index.compact",
    "ivf_index" -> "Similarity.compactIvfIndex")

  private[graft] def countParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                                p: org.apache.hadoop.fs.Path): Long = {
    var n = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Batch ids present as partition DIRECTORIES above the commit
    * marker — listing-based (the partition name carries the id), so
    * torn appends are detectable without scanning a row. */
  private def uncommittedParts(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path,
                               marker: Long): Seq[Long] =
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(Dedup.IngestBatchCol + "="))
      .map(_.getPath.getName.stripPrefix(Dedup.IngestBatchCol + "=").toLong)
      .filter(_ > marker).sorted

  def audit(spark: SparkSession, dir: String,
            countChecks: Boolean = true,
            maxFilesPerTable: Int = 512): DataFrame = {
    val rows = scala.collection.mutable.ArrayBuffer[(String, String, String)]()
    def done(): DataFrame = {
      import spark.implicits._
      rows.toSeq.toDF("chk", "status", "detail")
    }
    val main = new org.apache.hadoop.fs.Path(dir)
    val sib = new org.apache.hadoop.fs.Path(dir + "__swap")
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(main) && fs.exists(sib)) {
      rows += (("layout", "ERROR",
        "main directory missing with a complete __swap sibling — crash " +
          "inside the delete+rename window; run " +
          s"""graft.operators.Dedup.recoverSwap(spark, "$dir")"""))
      return done()
    }
    if (!fs.exists(main)) {
      rows += (("layout", "ERROR", "directory missing (no sibling either)"))
      return done()
    }
    rows += (("swap_residue",
      if (fs.exists(sib)) "WARN" else "OK",
      if (fs.exists(sib))
        "__swap sibling beside an intact index — stale mid-build " +
          "leftovers from a crashed maintenance run; safe to delete"
      else ""))
    // version-pointer resolution: audit the SERVING version's tables;
    // a pointer naming a missing version dir is the one pointer-layout
    // corruption a reader cannot survive
    val root =
      try Dedup.indexRoot(spark, dir)
      catch {
        case e: Exception =>
          rows += (("layout", "ERROR",
            s"version pointer broken: ${e.getMessage}"))
          return done()
      }
    val meta =
      try Dedup.readMeta(spark, root)
      catch {
        case e: Exception =>
          rows += (("layout", "ERROR",
            s"metadata unreadable: ${e.getMessage}"))
          return done()
      }
    rows += (("layout", "OK", ""))
    val verDirs = fs.listStatus(main).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("^v\\d+$"))
      .map(_.getPath.getName).sorted
    rows += (("versions",
      if (verDirs.size <= Dedup.retainVersions) "OK" else "WARN",
      if (root == dir) "flat pre-pointer layout"
      else {
        val cur = root.substring(root.lastIndexOf('/') + 1)
        val stale = verDirs.filterNot(_ == cur)
        s"serving $cur" +
          (if (stale.isEmpty) "" else s", retained ${stale.mkString(",")}") +
          (if (verDirs.size <= Dedup.retainVersions) ""
           else s" — more versions than retention " +
             s"(${Dedup.retainVersions}) keeps; the next replacement " +
             "commit prunes the excess")
      }))
    val lease = IndexLease.status(spark, dir)
    rows += (("lease", if (lease.isEmpty) "OK" else "WARN",
      lease.fold("no writer lease")(l =>
        if (l.ageMs < IndexLease.ttlMs)
          s"writer active: op=${l.op}, age ${l.ageMs / 1000}s — " +
            "maintenance in flight; serving reads are unaffected " +
            "(version snapshots)"
        else s"STALE lease: op=${l.op}, age ${l.ageMs / 1000}s > ttl " +
          s"${IndexLease.ttlMs / 1000}s — holder presumed crashed; the " +
          "next writer takes over automatically")))
    val kind = meta.getOrElse("kind", "<absent>")
    if (kind == ShardedIndex.Kind) {
      // a sharded home is a manifest over S child homes: audit the
      // manifest, the shard population, the cross-shard marker spread
      // (a torn multi-shard batch heals by replay — WARN, not ERROR),
      // any non-shard residue (a crashed staging write), then every
      // shard through this same fsck, rows prefixed shard<i>:
      rows += (("kind", "OK", kind))
      val router = meta.getOrElse("router", "<absent>")
      rows += (("router",
        if (router == ShardedIndex.Router) "OK" else "ERROR",
        if (router == ShardedIndex.Router) router
        else s"manifest router '$router' is not this engine's " +
          s"'${ShardedIndex.Router}' — probes would look ids up in the " +
          "wrong shard; rebuild with this engine's writer"))
      val nShards = meta.get("shards").flatMap(_.toIntOption).getOrElse(0)
      val missing = (0 until nShards).filterNot(i =>
        fs.exists(new org.apache.hadoop.fs.Path(
          ShardedIndex.shardDir(dir, i))))
      rows += (("shards",
        if (nShards > 0 && missing.isEmpty) "OK" else "ERROR",
        if (nShards <= 0) "manifest declares no shard count"
        else if (missing.isEmpty) s"shards=$nShards"
        else s"shard dir(s) ${missing.mkString(",")} of $nShards missing " +
          "— manifest committed over an incomplete build or a shard was " +
          "hand-deleted; re-run the sharded write"))
      // residue in BOTH directions: non-shard entries (crashed staging
      // leftovers) AND shard=<i> dirs at or past the manifest count —
      // the orphans an in-place re-write at a smaller S leaves behind;
      // the manifest never resolves them, but each is a full index copy
      val names = fs.listStatus(main).toSeq.map(_.getPath.getName)
      val residue = names
        .filterNot(n => n.matches("^shard=\\d+$") ||
          n == Dedup.IndexMetaFile || n == Dedup.IndexMetaFile + ".tmp" ||
          n == Dedup.LeaseFile)
      val orphans = names.filter(n => n.matches("^shard=\\d+$") &&
        n.stripPrefix("shard=").toIntOption.exists(_ >= nShards))
      rows += (("shard_residue",
        if (residue.isEmpty && orphans.isEmpty) "OK" else "WARN",
        if (residue.isEmpty && orphans.isEmpty) ""
        else Seq(
          if (residue.isEmpty) ""
          else s"non-shard entries ${residue.mkString(",")} at the home " +
            "— a crashed staging write's leftovers; safe to delete",
          if (orphans.isEmpty) ""
          else s"shard dir(s) ${orphans.mkString(",")} at/past the " +
            s"manifest count $nShards — orphaned full index copies from " +
            "an in-place re-write at a smaller shard count; never read, " +
            "safe to delete"
        ).filter(_.nonEmpty).mkString("; ")))
      val present = (0 until nShards).filterNot(missing.contains)
      val markers = present.map(i => i -> scala.util.Try(
          Dedup.lastCommittedBatch(Dedup.readMeta(spark,
            Dedup.indexRoot(spark, ShardedIndex.shardDir(dir, i)))))
        .getOrElse(Long.MinValue))
      val homeMarker = Dedup.lastCommittedBatch(meta)
      val ahead = markers.filter(_._2 > homeMarker)
      rows += (("marker_spread",
        if (ahead.isEmpty) "OK" else "WARN",
        if (markers.isEmpty) "no shards to compare"
        else {
          val lo = markers.map(_._2).min
          val hi = markers.map(_._2).max
          s"home=$homeMarker shards=[$lo..$hi]" +
            (if (ahead.isEmpty) ""
             else s" — shard(s) ${ahead.map(_._1).mkString(",")} committed " +
               "past the home marker: a multi-shard batch crashed " +
               "mid-application; replay the batch (committed shards skip, " +
               "the rest apply)")
        }))
      // per-shard audits are independent read-only fscks of disjoint
      // dirs — overlapped (Par, guide §2.6); results append in shard
      // order so the row set stays deterministic
      Par.run(present.map { i => () =>
        audit(spark, ShardedIndex.shardDir(dir, i), countChecks,
          maxFilesPerTable).collect().toSeq.map { r =>
          (s"shard$i:${r.getString(0)}", r.getString(1), r.getString(2))
        }
      }).foreach(rows ++= _)
      return done()
    }
    layout.get(kind) match {
      case None =>
        rows += (("kind", "ERROR",
          s"unknown kind '$kind' — not an index this engine reads"))
        return done()
      case Some(tables) =>
        rows += (("kind", "OK", kind))
        val marker = Dedup.lastCommittedBatch(meta)
        var worstFrag: Option[(String, Long)] = None
        tables.foreach { t =>
          val p = s"$root/$t"
          val hp = new org.apache.hadoop.fs.Path(p)
          if (!fs.exists(hp))
            rows += ((s"table:$t", "ERROR", "missing"))
          else {
            val nFiles = countParquetFiles(fs, hp)
            if (worstFrag.forall(_._2 < nFiles)) worstFrag = Some((t, nFiles))
            scala.util.Try(spark.read.parquet(p)).toOption match {
              case None =>
                rows += ((s"table:$t", "ERROR",
                  "unreadable (no inferable schema — empty-born core table?)"))
              case Some(d) if d.columns.contains(Dedup.IngestBatchCol) =>
                if (countChecks) {
                  val committed =
                    d.filter(col(Dedup.IngestBatchCol) <= marker).count()
                  rows += ((s"table:$t",
                    if (committed > 0) "OK" else "ERROR",
                    if (committed > 0) s"committed=$committed"
                    else "no committed rows"))
                } else
                  rows += ((s"table:$t", "OK", s"files=$nFiles"))
                val torn = uncommittedParts(fs, hp, marker)
                rows += ((s"uncommitted:$t",
                  if (torn.isEmpty) "OK" else "WARN",
                  if (torn.isEmpty) ""
                  else s"partition(s) ${torn.mkString(",")} past the " +
                    "marker — a torn append awaiting its replay (reads " +
                    "already exclude them)"))
              case Some(d) =>
                rows += ((s"table:$t", "OK",
                  if (countChecks) s"rows=${d.count()}" else s"files=$nFiles"))
            }
          }
        }
        rows += (("fragmentation",
          if (worstFrag.forall(_._2 <= maxFilesPerTable)) "OK" else "WARN",
          worstFrag.fold("") { case (t, n) =>
            if (n <= maxFilesPerTable) s"max $t=$n files"
            else s"$t holds $n data files (bound $maxFilesPerTable) — " +
              "micro-batch accretion is taxing every open; run " +
              compactOp.getOrElse(kind,
                "a whole-artifact rewrite (this kind has no in-place " +
                  "compaction)") }))
        val idCol = if (vecKinds(kind)) "vec_id" else "doc_id"
        val tombsPresent = Dedup.indexTableHasData(spark, s"$root/tomb")
        val tombs =
          if (tombsPresent && countChecks)
            Dedup.committedTombsAt(spark, s"$root/tomb", meta, idCol)
          else None
        val legacyTombs = tombs.map(_.filter(
          col(Dedup.ShadowCol) === Long.MaxValue)
          .select(idCol).distinct().count()).getOrElse(0L)
        rows += (("tomb",
          if (legacyTombs > 0) "WARN" else "OK",
          if (!tombsPresent) "no tombstones"
          else tombs.fold("tombstones present")(t =>
            s"tombstoned=${t.select(idCol).distinct().count()}" +
              (if (legacyTombs == 0) ""
               else s" ($legacyTombs pre-shadow: no ordering column, " +
                 "they mask ALL batches — re-inserting those ids " +
                 "refuses until a rebuild folds them away)"))))
        def liveCount(table: String): Long =
          Dedup.maskShadowed(
            Dedup.committedOnly(Dedup.readPq(spark, s"$root/$table"), meta),
            idCol, tombs, idCol)
            .select(idCol).count()
        kind match {
          case "minhash-v2" if countChecks =>
            val declared = meta("n_docs").toLong
            val live = liveCount("sets")
            rows += (("count",
              if (declared == live) "OK" else "ERROR",
              if (declared == live) s"n_docs=$declared"
              else s"meta n_docs=$declared but live sets hold $live — " +
                "metadata edited or single-writer contract violated; " +
                "rebuild restores truth from the tables"))
          case "signlsh-v2" if countChecks =>
            val declared = meta("n_vectors").toLong
            val live = liveCount("vectors")
            rows += (("count",
              if (declared == live) "OK" else "ERROR",
              if (declared == live) s"n_vectors=$declared"
              else s"meta n_vectors=$declared but live vectors hold " +
                s"$live — occupancy sizing is lying; rebuild"))
          case "bm25_index" if countChecks =>
            val fold = scala.util.Try(
              graft.operators.Bm25Index.foldedStats(spark, dir))
            rows += (("stats_fold",
              if (fold.isSuccess) "OK" else "ERROR",
              fold.fold(e => e.getMessage,
                { case (n, s) => s"n=$n s=$s" })))
            // the one probe that catches a TORN synchronous delete: its
            // writes land in the always-committed base partition, so no
            // marker excludes a half-applied retraction — only
            // recomputing df/(N,S) from the live postings can expose the
            // skew. Scan-tier by construction.
            val cons = scala.util.Try(
              graft.operators.Bm25Index.statsConsistency(spark, dir))
            rows += (("stats_consistency",
              if (cons.toOption.contains((0L, 0L, 0L))) "OK" else "ERROR",
              cons.fold(e => e.getMessage, { case (dfm, nd, sd) =>
                if ((dfm, nd, sd) == ((0L, 0L, 0L)))
                  "df partials and (N, S) == live recompute"
                else s"df partials or (N, S) diverge from live postings " +
                  s"(df terms off=$dfm, N off by ${-nd}, S off by " +
                  s"${-sd}) — a torn synchronous delete or a second " +
                  "writer; rebuild restores truth from the live rows" })))
          case "bpe_vocab" if countChecks =>
            val declared = meta("n_merges").toLong
            val stored = Dedup.readPq(spark, s"$root/merges").count()
            rows += (("count",
              if (declared == stored) "OK" else "ERROR",
              if (declared == stored) s"n_merges=$declared"
              else s"meta n_merges=$declared but the merge table holds " +
                s"$stored — torn write or foreign edit; retrain with " +
                "Bpe.train + writeVocab"))
          case "ivf_index" =>
            rows += (("cell_hist",
              if (meta.contains("cell_hist")) "OK" else "WARN",
              if (meta.contains("cell_hist")) ""
              else "no stored cell histogram — the append drift " +
                "sentinel cannot run; rebuild re-baselines it"))
            // histogram staleness under churn (countChecks tier): the
            // scan-free delete leg never decrements cell_hist, so its
            // total runs ahead of the live count until a compact or
            // rebuild re-baselines it — past 2x the sentinel is
            // comparing batches against cells the index no longer holds
            meta.get("cell_hist").filter(_ => countChecks).foreach { h =>
              // a malformed entry must yield a diagnosis row, not crash
              // the audit (fsck reports damage, it never dies of it) —
              // same Try discipline as the other probes
              scala.util.Try(h.split(",").iterator.filter(_.nonEmpty)
                .map { kv =>
                  val i = kv.indexOf(':')
                  require(i >= 0, s"no ':' in cell_hist entry '$kv'")
                  kv.drop(i + 1).toLong
                }.sum) match {
                case scala.util.Failure(e) =>
                  rows += (("hist_staleness", "ERROR",
                    s"cell_hist metadata is unparseable (${e.getMessage})" +
                      " — foreign edit or torn meta write; run " +
                      "compactIvfIndex or rebuildIvfIndex to rewrite it " +
                      "from the live rows"))
                case scala.util.Success(histN) =>
                  val liveN = IndexCdc.liveIds(spark, dir).count()
                  rows += (("hist_staleness",
                    if (histN <= 2 * liveN) "OK" else "WARN",
                    if (histN <= 2 * liveN)
                      s"cell_hist total=$histN live=$liveN"
                    else s"cell_hist counts $histN vectors but only $liveN " +
                      "are live — churn outran the histogram (deletes are " +
                      "scan-free and never decrement it); run " +
                      "compactIvfIndex or rebuildIvfIndex to re-baseline " +
                      "the drift sentinel (both refuse an ALL-deleted " +
                      "index — nothing lives to re-baseline from; delete " +
                      "the index directory instead). NOTE a rebuild over " +
                      "the shrunken live set re-balances cells and can " +
                      "LOWER recall at a fixed nprobe — size serving " +
                      "afterwards with Similarity.recommendNprobe on a " +
                      "held-out sample"))
              }
            }
            val bp = new org.apache.hadoop.fs.Path(s"$root/assigned_batches")
            val torn = uncommittedParts(fs, bp, marker)
            rows += (("uncommitted:assigned_batches",
              if (torn.isEmpty) "OK" else "WARN",
              if (torn.isEmpty) "" else s"partition(s) " +
                s"${torn.mkString(",")} await their replay (reads " +
                "already exclude them)"))
          case _ => ()
        }
    }
    done()
  }

  /** The action and priority a non-OK check maps to. Priorities: 1 =
    * serving or truth is damaged (page now), 2 = durability hygiene
    * (replay/fold soon), 3 = drift hygiene (re-baseline at the next
    * window), 4 = reclaimable residue (whenever). */
  private def actionFor(chk: String, status: String): Option[(String, Long)] =
    if (status == "OK") None
    else if (status == "ERROR") chk match {
      case "layout" => Some(("repair", 1L))
      case _ => Some(("rebuild", 1L))
    } else chk match {
      case "fragmentation" => Some(("compact", 2L))
      case "hist_staleness" => Some(("compact", 3L))
      case "marker_spread" => Some(("replay", 2L))
      case c if c.startsWith("uncommitted") => Some(("replay", 2L))
      case "tomb" => Some(("rebuild", 2L))
      case "lease" => Some(("takeover_check", 2L))
      case "swap_residue" | "shard_residue" => Some(("reclaim", 4L))
      case _ => Some(("inspect", 4L))
    }

  /** FLEET maintenance planner — the op that turns a page-cadence fsck
    * sweep over every index home a deployment serves into a RANKED,
    * BOUNDED work list: one row per triggered check, (home, unit,
    * action, reason, priority), plus a `none` row per healthy home so
    * the plan proves coverage (an empty plan is indistinguishable from
    * a sweep that never ran). `unit` localizes the work to a shard
    * (`shard=i`) where the home is sharded — the selective-maintenance
    * contract: a fleet runs `compact` on the two fragmented shards the
    * plan names, never on the other 998.
    *
    * Scale shape: with `countChecks = false` (the default — the
    * metadata-only fsck tier) the sweep is O(files listed) per home
    * and never O(rows); the per-home audits are independent, so a
    * fleet parallelizes the sweep by home and unions the row sets.
    * Output size is bounded by homes × shards × checks — operator
    * rows, not data rows. Actions name this engine's own remedies
    * (the audit details carry the exact op), priorities are fixed by
    * [[actionFor]] so two sweeps over the same state rank identically.
    * Read-only, like the audit it folds. */
  /** Shard count when `dir` is a sharded home, else None. */
  private def shardCountOf(spark: SparkSession, dir: String): Option[Int] =
    scala.util.Try(Dedup.readMeta(spark, dir)).toOption
      .filter(_.get("kind").contains(ShardedIndex.Kind))
      .flatMap(_.get("shards")).flatMap(_.toIntOption)

  /** The DR units of one home: `"-"` → whole home for a monolithic
    * one; for a sharded home the home-level SHELL (`_home` — manifest
    * metadata, bytes-tiny) plus one unit per `shard=<i>` (each shard
    * dir is a complete child home), each with its own generation home
    * under the label's backup location — so the backup cadence, like
    * compaction, is churn-bounded per shard, never a whole-home copy
    * for one hot shard's churn. */
  private def backupUnits(spark: SparkSession, dir: String,
                          bh: String): Seq[(String, String)] =
    shardCountOf(spark, dir) match {
      case Some(nS) =>
        ("_home" -> s"$bh/_home") +:
          (0 until nS).map(i => s"shard=$i" -> s"$bh/shard=$i")
      case None => Seq("-" -> bh)
    }

  def maintenancePlan(spark: SparkSession, homes: Seq[(String, String)],
                      countChecks: Boolean = false,
                      maxFilesPerTable: Int = 512,
                      backups: Map[String, String] = Map.empty,
                      maxBackupAgeMs: Long = Long.MaxValue,
                      verifySample: Int = 0): DataFrame = {
    import spark.implicits._
    // per-home sweeps are independent read-only audits — overlapped
    // (Par, guide §2.6); Par.run returns in task order, so the plan's
    // row order (and the deterministic-plan contract) is unchanged
    val rows = Par.run(homes.map { case (label, dir) => () =>
      val triggered = audit(spark, dir, countChecks, maxFilesPerTable)
        .collect().toSeq
        .flatMap { r =>
          val (chk, status) = (r.getString(0), r.getString(1))
          val (unit, base) = chk.split(":", 2) match {
            case Array(s, rest) if s.matches("^shard\\d+$") =>
              (s"shard=${s.stripPrefix("shard")}", rest)
            case _ => ("-", chk)
          }
          actionFor(base, status).map { case (action, prio) =>
            (label, unit, action, base, prio)
          }
        }
      // disaster-recovery coverage rides the same sweep: a DR unit
      // whose designated backup location holds no committed
      // generation, or only one older than the cadence bound, gets a
      // `backup` row — priority 4 alongside the other safe-deferred
      // actions. Units are SHARD-LOCALIZED for sharded homes (plus
      // the `_home` shell), so the planned copy work is ∝ the churny
      // shards, the selective-maintenance contract compact already
      // follows. The reason is a FIXED token (never the age itself)
      // so plan frames stay deterministic for the literal-oracle
      // gates.
      val units = backups.get(label).toSeq
        .flatMap(bh => backupUnits(spark, dir, bh))
      val backupRows = units.flatMap { case (unit, ubh) =>
        IndexBackup.latestAgeMs(spark, ubh) match {
          case None =>
            Seq((label, unit, "backup", "backup_missing", 4L))
          case Some(age) if age > maxBackupAgeMs =>
            Seq((label, unit, "backup", "backup_stale", 4L))
          case _ => Seq.empty
        }
      }
      // bit-rot probe: `verifySample > 0` additionally plans a BOUNDED
      // sample of existing backups for a full re-checksum
      // ([[IndexBackup.verify]] — the staleness probe above only reads
      // the marker's mtime, so at-rest damage would otherwise surface
      // only at restore time, which is exactly when it's too late).
      // The sample rotates deterministically with the generation
      // counter, so successive cadence ticks sweep different units
      // while two sweeps over the SAME state pick the same rows.
      val verifyRows =
        if (verifySample <= 0) Seq.empty
        else {
          val cands = units.flatMap { case (unit, ubh) =>
            IndexBackup.generations(spark, ubh).lastOption
              .map(g => (unit, g))
          }
          if (cands.isEmpty) Seq.empty
          else {
            val start = (cands.map(_._2.toLong).sum % cands.size).toInt
            (0 until math.min(verifySample, cands.size)).map { j =>
              (label, cands((start + j) % cands.size)._1,
                "verify_backup", "backup_probe", 4L)
            }
          }
        }
      val all = triggered ++ backupRows ++ verifyRows
      if (all.isEmpty) Seq((label, "-", "none", "", 9L))
      else all.distinct
    }).flatten
    rows.toDF("home", "unit", "action", "reason", "priority")
  }

  /** Executes a [[maintenancePlan]]'s SAFE tier and reports what it
    * did: `compact` rows run through the [[IndexCdc.compact]] façade
    * (row-preserving by each family's own law, under its own lease and
    * version-pointer commit — the one action that can never change
    * what an index serves); `backup` rows execute through
    * [[IndexBackup.rotate]] (shard-localized rows rotate only that
    * shard's generation home; `_home` rows rotate the sharded home's
    * shell) — also safe: the home is only READ, under its own lease,
    * and the rotation's prune never drops below the previous
    * committed-generation count; `verify_backup` rows re-checksum the
    * unit's newest committed generation (read-only — a failure pages
    * through the outcome row, it is never auto-healed); `replay` rows
    * execute ONLY when the caller supplies the home's changelog in
    * `replayFeeds` (op/batch_id rows — re-applied through the
    * replay-idempotent family façade, so committed batches skip and
    * torn partitions overwrite), because without the feed the
    * executor would have to invent history. Everything else is
    * deliberately SKIPPED: repair/rebuild decisions belong to a human
    * reading the audit detail, and `reclaim` deletes files — never
    * automatic. A shard-localized row compacts ONLY that shard (its
    * dir is a complete child home), so the executed work stays ∝ the
    * churn the plan found. Returns (home, unit, action,
    * outcome ∈ applied|skipped|verify_failed), one row per distinct
    * planned action, deterministically ordered — feed it back to
    * [[maintenancePlan]] and the re-sweep must come back clean at the
    * bound that triggered it. */
  def applyPlan(spark: SparkSession, plan: DataFrame,
                homes: Map[String, String],
                targetFiles: Int = 4,
                backups: Map[String, String] = Map.empty,
                backupKeep: Int = 2,
                replayFeeds: Map[String, DataFrame] = Map.empty): DataFrame = {
    import spark.implicits._
    val rows = plan.select("home", "unit", "action").distinct().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    def unitBackupHome(label: String, unit: String): String =
      if (unit == "-") backups(label) else s"${backups(label)}/$unit"
    // a torn multi-shard batch plans replay rows on several units, but
    // the feed is ONE changelog for the home and the façade routes
    // shards itself (committed units skip by batch marker) — replay
    // once per home, report every row as covered by that replay
    val replayed = java.util.concurrent.ConcurrentHashMap
      .newKeySet[String]()
    def execute(label: String, unit: String, action: String): String = {
      val outcome = (action, homes.get(label)) match {
        case ("compact", Some(home)) =>
          val dir = if (unit == "-") home else s"$home/$unit"
          IndexCdc.compact(spark, dir, targetFiles)
          "applied"
        case ("backup", Some(home)) if backups.contains(label) =>
          unit match {
            case "-" =>
              IndexBackup.rotate(spark, home, backups(label), backupKeep)
            case "_home" =>
              IndexBackup.rotateShell(spark, home,
                unitBackupHome(label, unit), backupKeep)
            case u =>
              IndexBackup.rotate(spark, s"$home/$u",
                unitBackupHome(label, unit), backupKeep)
          }
          "applied"
        // the bit-rot probe: full re-checksum of the unit's newest
        // committed generation. Read-only; a failure is REPORTED, not
        // healed (the remedy — re-rotate over a fresh generation, or
        // distrust the store — is a human call the outcome row pages)
        case ("verify_backup", Some(_)) if backups.contains(label) =>
          IndexBackup.latest(spark, unitBackupHome(label, unit)) match {
            case None => "skipped"
            case Some(g) =>
              if (IndexBackup.verify(spark, g)
                .filter(col("status") === "ERROR").isEmpty) "applied"
              else "verify_failed"
          }
        // the replay tier runs ONLY when the caller supplies the
        // home's change feed — (op ∈ insert|delete, batch_id, payload)
        // rows, the applyOps changelog shape: the executor re-applies
        // each distinct batch_id in order through the family façade,
        // which is replay-idempotent (committed batches skip, torn
        // partitions overwrite dynamically), healing torn appends in
        // the same sweep that found them. Without a feed the row
        // stays skipped — the executor never invents history.
        case ("replay", Some(home)) if replayFeeds.contains(label) =>
          if (replayed.add(label)) {
            val feed = replayFeeds(label)
            require(feed.columns.contains("batch_id"),
              s"applyPlan: replay feed for '$label' must carry a " +
                "batch_id column (the durable batch ids to re-apply)")
            val batches = feed.select("batch_id").distinct().collect()
              .map(_.getLong(0)).sorted
            batches.foreach { b =>
              IndexCdc.applyOps(spark, home,
                feed.filter(col("batch_id") === b).drop("batch_id"), b)
            }
          }
          "applied"
        case _ => "skipped"
      }
      outcome
    }
    // Execution overlaps what the lease discipline allows (guide
    // §2.6): homes are independent (disjoint dirs/leases) and run
    // concurrently; WITHIN a home, rows whose unit is "-" (their ops
    // lease the whole home — a sharded home's whole-home rotate even
    // takes every shard lease) or "_home"-vs-"-" mixes, and replay
    // rows (once-per-home via the shared `replayed` set), run
    // sequentially first; the remaining shard-localized rows group by
    // unit (disjoint shard dirs/leases) and the unit groups run
    // concurrently, each group sequential within. Output rows keep the
    // original deterministic order — only the execution overlaps.
    val outcomes =
      new java.util.concurrent.ConcurrentHashMap[(String, String, String),
        String]()
    Par.run(rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rs) =>
      () => {
        val (exclusive, unitScoped) = rs.partition(r =>
          r._2 == "-" || r._3 == "replay")
        exclusive.foreach(r =>
          outcomes.put(r, execute(r._1, r._2, r._3)))
        Par.run(unitScoped.groupBy(_._2).toSeq.sortBy(_._1).map {
          case (_, us) => () =>
            us.foreach(r => outcomes.put(r, execute(r._1, r._2, r._3)))
        })
      }
    })
    rows.map { case r @ (label, unit, action) =>
      (label, unit, action, outcomes.get(r))
    }.toDF("home", "unit", "action", "outcome")
  }
}
