package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.HadoopBridge

/** Disaster recovery for persisted index homes — the lifecycle piece
  * every other piece assumes exists: leases fence concurrent writers,
  * pointer commits survive crashes, fsck finds torn state, but none of
  * them survives the STORAGE failing (a deleted bucket prefix, a bad
  * retention script, an operator `rm`). A backup is a byte-for-byte,
  * checksummed copy of the home tree; a restore is the inverse, gated
  * on every checksum re-verifying — so "restore serves bit-exactly
  * what the home served at backup time" is a mechanical consequence,
  * not a hope.
  *
  * Works on ANY home layout this engine writes — flat legacy,
  * version-pointer ([[Dedup]] doc at `PointerFile`), and sharded
  * ([[ShardedIndex]]) homes, whose shard children are themselves
  * pointer homes — because it copies the TREE rather than
  * re-serializing tables through a reader (which would need per-kind
  * code and could silently normalize exactly the torn state a backup
  * must preserve evidence of). Two exclusions: the home's `LEASE`
  * file (it is OUR lease during the copy — restoring it would wedge
  * the restored home until the TTL) and `staging-*` scratch trees
  * (CDC routing residue, never part of served state).
  *
  * Backup layout (all under `backupDir`):
  *   - `data/<relpath>` — the copied tree;
  *   - `_manifest/` — parquet (relpath, length, md5): the integrity
  *     contract, written from checksums computed DURING the copy;
  *   - `_BACKUP_META` — provenance (source home, file/byte counts);
  *   - `_COMMITTED` — the marker, strictly last: a backup without it
  *     is torn and [[restore]] refuses it by name.
  *
  * Consistency: the copy runs under the home's writer lease
  * ([[IndexLease.withLease]]) — the same single-writer fence every
  * maintenance op takes — so no append/CDC/compact can move markers or
  * swing pointers mid-copy; the backup is a frozen, openable snapshot.
  *
  * Scale: the copy is file-granular and runs ON EXECUTORS
  * ([[HadoopBridge.mapWithConf]] ships the driver's filesystem conf),
  * one stream per file with the MD5 folded into the same pass — cost
  * ∝ home bytes with cluster-wide IO parallelism, never a driver
  * bottleneck; driver-side state is the FILE LIST (metadata-scale,
  * the same bound every maintenance op already accepts). For a
  * sharded home, backing up shard children individually (each is a
  * complete home) bounds the unit further — this op doesn't special-
  * case it because `backup(shardDir)` already IS that. */
object IndexBackup {

  private[graft] val MetaFile = "_BACKUP_META"
  private[graft] val MarkerFile = "_COMMITTED"
  private val DataDir = "data"
  private val ManifestDir = "_manifest"

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Recursive relative file list under `root` with (length, mtime),
    * excluding the lease file and `staging-*` scratch trees.
    * Driver-side, bounded by the home's file count — the same
    * metadata-scale bound every maintenance op accepts. The mtime is
    * the delta-rotation quick check ([[rotate]]): this engine's homes
    * are write-once at the file level (parquet parts land under fresh
    * UUID names; version swaps land whole directories), so an
    * unchanged (relpath, length, mtime) triple means unchanged bytes. */
  private def listRelStatus(fs: FileSystem, root: Path)
      : Seq[(String, Long, Long)] = {
    def walk(p: Path, rel: String): Seq[(String, Long, Long)] =
      fs.listStatus(p).toSeq.flatMap { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if (name.startsWith(ShardedIndex.StagingPrefix)) Seq.empty
        else if (st.isDirectory) walk(st.getPath, childRel)
        else if (name == Dedup.LeaseFile) Seq.empty
        else Seq((childRel, st.getLen, st.getModificationTime))
      }
    walk(root, "")
  }

  private def listRel(fs: FileSystem, root: Path): Seq[String] =
    listRelStatus(fs, root).map(_._1)

  /** Copy ONE file `srcRoot/rel` → `dstRoot/rel`, streaming the bytes
    * through MD5 in the same pass. Static + conf-parameterized so it
    * serializes into executor tasks. Returns (rel, length, md5hex). */
  private def streamDigest(conf: Configuration, srcRoot: String, rel: String,
                           dst: Option[Path]): (String, Long, String) = {
    val src = new Path(s"$srcRoot/$rel")
    val md = java.security.MessageDigest.getInstance("MD5")
    val in = src.getFileSystem(conf).open(src)
    val out = dst.map(p => p.getFileSystem(conf).create(p, true))
    var n = 0L
    try {
      val buf = new Array[Byte](1 << 20)
      var read = in.read(buf)
      while (read >= 0) {
        if (read > 0) {
          md.update(buf, 0, read)
          out.foreach(_.write(buf, 0, read))
          n += read
        }
        read = in.read(buf)
      }
    } finally {
      // close the SINK first: if in.close() threw first, the output
      // stream (and a partially-written dest file handle) would leak
      try out.foreach(_.close()) finally in.close()
    }
    (rel, n, md.digest().map("%02x".format(_)).mkString)
  }

  private def copyWithMd5(conf: Configuration, srcRoot: String,
                          dstRoot: String, rel: String)
      : (String, Long, String) =
    streamDigest(conf, srcRoot, rel, Some(new Path(s"$dstRoot/$rel")))

  /** MD5 + length of ONE existing file — the read-only verify twin of
    * [[copyWithMd5]]. */
  private def md5Of(conf: Configuration, root: String, rel: String)
      : (String, Long, String) =
    streamDigest(conf, root, rel, None)

  private def writeSmall(fs: FileSystem, p: Path, content: String): Unit = {
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def parallelism(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Freeze the home for the duration of `body`: the home's writer
    * lease plus — for a sharded home — every shard child's lease,
    * because SHARD-LOCALIZED maintenance (a plan row compacting
    * home/shard=3) leases only the child dir, so the home-level lease
    * alone would not freeze it mid-copy. Innermost-last. */
  private def withHomeLeases[T](spark: SparkSession, dir: String)
      (body: => T): T = {
    val leaseDirs = dir +: (scala.util.Try(Dedup.readMeta(spark, dir))
      .toOption.filter(_.get("kind").contains(ShardedIndex.Kind))
      .map(m => (0 until m("shards").toInt)
        .map(ShardedIndex.shardDir(dir, _)))
      .getOrElse(Seq.empty))
    def withAll[U](ds: Seq[String])(b: => U): U = ds match {
      case Seq() => b
      case head +: tail =>
        IndexLease.withLease(spark, head, "IndexBackup.backup")(
          withAll(tail)(b))
    }
    withAll(leaseDirs)(body)
  }

  /** The refusal chain every backup-generation writer runs before a
    * byte (or a delete) lands: the source must exist (checked BEFORE
    * the lease — IndexLease.acquire mkdirs the dir it leases, so a
    * typo'd source would be silently CREATED by its own refusal path),
    * neither location may nest inside the other (backup-inside-home
    * re-copies earlier generations geometrically; home-inside-backup
    * means swapped arguments, and the torn-attempt clearing below
    * would recursively delete the live home), a COMMITTED backup is
    * never overwritten (a deliberate-delete decision), and a
    * marker-less existing directory is auto-cleared ONLY when it
    * structurally looks like a torn backup attempt (nothing but
    * data/, _manifest/, _BACKUP_META) — an uncommitted-marker
    * heuristic alone must never authorize a recursive delete of an
    * arbitrary tree. */
  private def guardBackupTarget(spark: SparkSession, dir: String,
                                backupDir: String): Unit = {
    val sfs = fsOf(spark, dir)
    require(sfs.exists(new Path(dir)),
      s"IndexBackup.backup: no index home at $dir")
    val bfs = fsOf(spark, backupDir)
    val broot = new Path(backupDir)
    val qDir = sfs.makeQualified(new Path(dir)).toString
    val qBk = bfs.makeQualified(broot).toString
    require(qBk != qDir && !qBk.startsWith(qDir + "/"),
      s"IndexBackup.backup: backup location $backupDir is INSIDE the " +
        s"home $dir — each backup would re-copy all previous ones; " +
        "back up beside the home, never under it")
    require(!qDir.startsWith(qBk + "/"),
      s"IndexBackup.backup: the home $dir is INSIDE the backup " +
        s"location $backupDir — arguments swapped or mistyped; clearing " +
        "a torn prior attempt there would delete the live home")
    if (bfs.exists(new Path(broot, MarkerFile)))
      throw new IllegalArgumentException(
        s"IndexBackup.backup: $backupDir already holds a COMMITTED " +
          "backup — overwriting the last good copy is a deliberate " +
          "delete; remove the directory explicitly and re-run")
    if (bfs.exists(broot)) {
      val entries = bfs.listStatus(broot).toSeq.map(_.getPath.getName)
      val tornShape = Set(DataDir, ManifestDir, MetaFile)
      val foreign = entries.filterNot(tornShape)
      require(foreign.isEmpty,
        s"IndexBackup.backup: $backupDir exists without a $MarkerFile " +
          s"but holds non-backup entries ${foreign.take(3).mkString(", ")}" +
          " — not a torn prior backup attempt; refusing to clear it. " +
          "Point the backup at an empty location or remove the " +
          "directory explicitly")
      bfs.delete(broot, true) // torn prior attempt (shape-verified)
    }
  }

  /** Back up the index home at `dir` into `backupDir`. Refuses a
    * COMMITTED backup already at `backupDir` (overwriting the last
    * good backup is a deliberate-delete decision — remove it
    * explicitly); a torn one (no marker — a crashed prior attempt,
    * which nothing ever reads) is cleared and redone. Returns the
    * manifest (relpath, length, md5). */
  def backup(spark: SparkSession, dir: String,
             backupDir: String): DataFrame = {
    guardBackupTarget(spark, dir, backupDir)
    val sfs = fsOf(spark, dir)
    val bfs = fsOf(spark, backupDir)
    val broot = new Path(backupDir)
    withHomeLeases(spark, dir) {
      val rels = listRel(sfs, new Path(dir)).sorted
      require(rels.nonEmpty,
        s"IndexBackup.backup: $dir holds no files — not an index home")
      val dataRoot = s"$backupDir/$DataDir"
      val copied = HadoopBridge.mapWithConf(spark, rels,
        parallelism(spark))(copyWithMd5(_, dir, dataRoot, _))
      import spark.implicits._
      val manifest = copied.toDF("relpath", "length", "md5")
        .repartition(1).sortWithinPartitions("relpath")
      manifest.write.mode("overwrite")
        .parquet(s"$backupDir/$ManifestDir")
      writeSmall(bfs, new Path(broot, MetaFile),
        s"source=$dir\nfiles=${copied.length}\n" +
          s"bytes=${copied.map(_._2).sum}\n")
      // marker strictly last: everything above can crash and leave a
      // tree restore refuses by name
      writeSmall(bfs, new Path(broot, MarkerFile), "committed\n")
      Dedup.readPq(spark, s"$backupDir/$ManifestDir")
    }
  }

  /** The backup's manifest rows (relpath, length, md5), or empty when
    * missing/unreadable. ONE read shared by [[verify]] and [[restore]]
    * (restore used to pay this collect twice — once inside its verify
    * pass, once for its own copy map; guide §1.2). */
  private def readManifest(spark: SparkSession, backupDir: String)
      : Seq[(String, Long, String)] = {
    import spark.implicits._
    scala.util.Try(
      Dedup.readPq(spark, s"$backupDir/$ManifestDir")
        .select("relpath", "length", "md5")
        .as[(String, Long, String)].collect().toSeq
    ).getOrElse(Seq.empty)
  }

  /** Integrity report for the backup at `backupDir` — (check, status,
    * detail) rows in the [[IndexAudit.audit]] style: `marker`,
    * `manifest`, `files` (missing/extra vs the manifest), `bytes` and
    * `checksum` (every file re-hashed, on executors). Read-only; ends
    * with a `verdict` row. */
  def verify(spark: SparkSession, backupDir: String): DataFrame =
    verifyWith(spark, backupDir, readManifest(spark, backupDir))

  private def verifyWith(spark: SparkSession, backupDir: String,
                         manifest: Seq[(String, Long, String)]): DataFrame = {
    if (isObjectLayout(spark, backupDir))
      return verifyObjects(spark, backupDir, manifest)
    import spark.implicits._
    val fs = fsOf(spark, backupDir)
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val committed = fs.exists(new Path(backupDir, MarkerFile))
    rows += (("marker", if (committed) "OK" else "ERROR",
      if (committed) "backup is committed"
      else s"no $MarkerFile — the backup writer crashed before commit; " +
        "delete this tree and re-run IndexBackup.backup"))
    rows += (("manifest",
      if (manifest.nonEmpty) "OK" else "ERROR",
      if (manifest.nonEmpty) s"${manifest.length} files manifested"
      else "manifest missing or unreadable"))
    if (manifest.nonEmpty) {
      val dataRoot = s"$backupDir/$DataDir"
      val present =
        if (fs.exists(new Path(dataRoot)))
          listRel(fs, new Path(dataRoot)).toSet
        else Set.empty[String]
      val wanted = manifest.map(_._1).toSet
      val missing = (wanted -- present).toSeq.sorted
      val extra = (present -- wanted).toSeq.sorted
      rows += (("files",
        if (missing.isEmpty && extra.isEmpty) "OK" else "ERROR",
        if (missing.isEmpty && extra.isEmpty)
          s"${present.size} files present, none extra"
        else s"${missing.length} missing ${missing.take(3).mkString("(", ", ", ")")}, " +
          s"${extra.length} extra ${extra.take(3).mkString("(", ", ", ")")}"))
      val toCheck = manifest.filter(m => present(m._1))
      val got = HadoopBridge.mapWithConf(spark, toCheck.map(_._1),
        parallelism(spark))(md5Of(_, dataRoot, _))
        .map(r => r._1 -> (r._2, r._3)).toMap
      val badLen = toCheck.filter(m => got(m._1)._1 != m._2).map(_._1)
      val badSum = toCheck.filter(m =>
        got(m._1)._1 == m._2 && got(m._1)._2 != m._3).map(_._1)
      rows += (("bytes", if (badLen.isEmpty) "OK" else "ERROR",
        if (badLen.isEmpty) "every length matches"
        else s"${badLen.length} length mismatches " +
          badLen.take(3).mkString("(", ", ", ")")))
      rows += (("checksum", if (badSum.isEmpty) "OK" else "ERROR",
        if (badSum.isEmpty) "every md5 matches"
        else s"${badSum.length} checksum mismatches " +
          badSum.take(3).mkString("(", ", ", ")")))
    }
    val bad = rows.count(_._2 == "ERROR")
    rows += (("verdict", if (bad == 0) "OK" else "ERROR",
      if (bad == 0) "backup is restorable" else s"$bad checks failed"))
    rows.toSeq.toDF("check", "status", "detail")
  }

  /** Restore the backup at `backupDir` into a FRESH home at `dest`.
    * Refuses a torn backup (no marker), any integrity failure (every
    * file re-checksummed against the manifest BEFORE a byte lands),
    * and a non-empty `dest` (restoring over live state is what
    * takedowns and leases exist to prevent — point serving at the
    * restored home by path instead). Control files (`CURRENT`
    * pointers, `_graft_index_meta.properties` commit markers) land
    * strictly AFTER the data files, so a crashed restore leaves a
    * home that fails loudly at open instead of serving a torn tree —
    * delete it and re-run. */
  def restore(spark: SparkSession, backupDir: String,
              dest: String): Unit = {
    val fs = fsOf(spark, backupDir)
    require(fs.exists(new Path(backupDir, MarkerFile)),
      s"IndexBackup.restore: $backupDir has no $MarkerFile — the backup " +
        "is torn (its writer crashed before commit); it must not be " +
        "restored. Use a committed backup, or re-run IndexBackup.backup")
    val manifestRows = readManifest(spark, backupDir)
    val report = verifyWith(spark, backupDir, manifestRows)
      .filter(col("status") === "ERROR").collect()
    require(report.isEmpty,
      s"IndexBackup.restore: backup at $backupDir fails integrity: " +
        report.map(r => s"${r.getString(0)}: ${r.getString(2)}")
          .mkString("; ") + " — restoring it would serve corrupt state")
    val dfs = fsOf(spark, dest)
    require(!dfs.exists(new Path(dest)) ||
        dfs.listStatus(new Path(dest)).isEmpty,
      s"IndexBackup.restore: $dest already exists and is non-empty — " +
        "a restore only targets a fresh home (retire or remove the " +
        "existing one explicitly, or restore beside it and repoint)")
    val manifest = manifestRows
      .map(r => r._1 -> (r._2, r._3)).toMap
    def isControl(rel: String): Boolean = {
      val name = rel.substring(rel.lastIndexOf('/') + 1)
      name == Dedup.PointerFile || name == Dedup.IndexMetaFile
    }
    val objectLayout = isObjectLayout(spark, backupDir)
    val dataRoot =
      if (objectLayout) objectsRoot(backupDir) else s"$backupDir/$DataDir"
    val (control, plain) = manifest.keys.toSeq.sorted.partition(isControl)
    // the copy streams every byte through MD5 anyway — CHECK it
    // against the manifest, so corruption introduced by the restore
    // copy itself (not just by backup-at-rest damage, which the
    // verify pass above catches) is refused instead of served
    def copyChecked(rels: Seq[String]): Unit = {
      val copied =
        if (objectLayout)
          // object layout: the bytes live in the SHARED store under
          // their content key; copy objects/<md5>-<len> → dest/<rel>
          HadoopBridge.mapWithConf(spark,
            rels.map(r => (r, objKey(manifest(r)._2, manifest(r)._1))),
            parallelism(spark)) { (conf, rk) =>
            val (_, n, sum) =
              streamDigest(conf, dataRoot, rk._2,
                Some(new Path(s"$dest/${rk._1}")))
            (rk._1, n, sum)
          }
        else HadoopBridge.mapWithConf(spark, rels,
          parallelism(spark))(copyWithMd5(_, dataRoot, dest, _))
      val bad = copied.filter { case (rel, n, sum) =>
        manifest(rel) != ((n, sum))
      }
      if (bad.nonEmpty) {
        fsOf(spark, dest).delete(new Path(dest), true)
        throw new IllegalStateException(
          s"IndexBackup.restore: ${bad.length} file(s) hashed " +
            s"differently DURING the restore copy than the manifest " +
            s"records ${bad.take(3).map(_._1).mkString("(", ", ", ")")} " +
            s"— the copy path itself corrupted bytes (backup-at-rest " +
            "verified clean); the partial restore at " + dest +
            " was deleted. Re-run, and if it repeats, distrust the " +
            "transport between the backup store and " + dest)
      }
    }
    copyChecked(plain)
    // control files last — the restored home only becomes openable
    // once every data byte is down
    copyChecked(control)
  }

  // ---- scheduled rotation: generations b1, b2, … under one backup
  // home, newest `keep` committed generations retained. Generations
  // written by [[rotate]] are INCREMENTAL: the bytes live once in a
  // shared content-addressed object store (`objects/<md5>-<length>`,
  // a sibling of the generation dirs), each generation is only a
  // manifest + marker, and a rotation copies ONLY the files whose
  // (relpath, length, mtime) changed since the previous committed
  // generation — cost ∝ churn, never ∝ home bytes, the same bound
  // sharding put on compact/rebuild. Retention prune deletes doomed
  // generation DIRS (tiny) and then garbage-collects objects no
  // remaining committed manifest references — content addressing
  // makes "prune a generation another one references" a non-event:
  // references are to content keys in the shared store, never to a
  // sibling generation, so a referenced blob survives exactly as long
  // as any committed manifest names it. One rotator per backupHome at
  // a time (the home lease freezes the SOURCE; the backup store
  // follows the same single-writer discipline as the home). ----

  private val GenRe = "^b(\\d+)$".r
  private val ObjectsDir = "objects"

  private def objKey(md5: String, length: Long): String = s"$md5-$length"

  /** The shared object store beside a generation dir `…/b<N>`. */
  private def objectsRoot(genDir: String): String = {
    val i = genDir.stripSuffix("/").lastIndexOf('/')
    require(i > 0, s"IndexBackup: cannot resolve the backup home of " +
      s"generation dir $genDir")
    genDir.stripSuffix("/").substring(0, i) + "/" + ObjectsDir
  }

  /** Parse a backup's `_BACKUP_META` (k=v lines). Empty when absent. */
  private[graft] def backupMeta(spark: SparkSession,
                                backupDir: String): Map[String, String] = {
    val fs = fsOf(spark, backupDir)
    val p = new Path(backupDir, MetaFile)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val txt =
        try {
          val os = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, os, 4096, false)
          new String(os.toByteArray, "UTF-8")
        } finally in.close()
      txt.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
        .flatMap { line =>
          val i = line.indexOf('=')
          if (i <= 0) None else Some(line.take(i) -> line.drop(i + 1))
        }.toMap
    }
  }

  private[graft] def isObjectLayout(spark: SparkSession,
                                    backupDir: String): Boolean =
    backupMeta(spark, backupDir).get("layout").contains("objects")

  /** Ingest ONE source file into the object store: stream it through
    * MD5 into a tmp name, then rename to its content key — idempotent
    * under concurrent ingests of identical content (the loser deletes
    * its tmp). Executor-side. */
  private def ingestObject(conf: Configuration, srcRoot: String,
                           objRoot: String, rel: String)
      : (String, Long, String) = {
    val tmp = new Path(
      s"$objRoot/.tmp-${java.util.UUID.randomUUID.toString}")
    val (_, n, md5) = streamDigest(conf, srcRoot, rel, Some(tmp))
    val fs = tmp.getFileSystem(conf)
    val dst = new Path(s"$objRoot/${objKey(md5, n)}")
    if (fs.exists(dst)) fs.delete(tmp, false)
    else if (!fs.rename(tmp, dst)) {
      // lost a rename race to a task ingesting identical content —
      // the object exists either way, or something is truly wrong
      if (!fs.exists(dst)) throw new IllegalStateException(
        s"IndexBackup: could not land object ${dst.getName} in $objRoot")
      fs.delete(tmp, false)
    }
    (rel, n, md5)
  }

  /** Write one INCREMENTAL generation of the home at `dir` into
    * `genDir`, reusing objects for files unchanged vs `prev` (the
    * previous committed generation's manifest: rel → (length, md5,
    * mtime)). Same guard + lease discipline as [[backup]]; manifest
    * carries (relpath, length, md5, mtime); `_BACKUP_META` records
    * `layout=objects` plus copied/reused counters (the probe surface
    * for "a rotation after a small batch copies ≈ batch-sized
    * bytes"); marker strictly last. */
  private def writeObjectGeneration(spark: SparkSession, dir: String,
                                    genDir: String,
                                    prev: Map[String, (Long, String, Long)],
                                    shellOnly: Boolean = false)
      : Unit = {
    guardBackupTarget(spark, dir, genDir)
    val sfs = fsOf(spark, dir)
    val bfs = fsOf(spark, genDir)
    val objRoot = objectsRoot(genDir)
    val ofs = fsOf(spark, objRoot)
    ofs.mkdirs(new Path(objRoot))
    // shellOnly (the sharded home's home-level residue: manifest meta,
    // never the shard subtrees — those are complete homes with their
    // own per-shard rotations) leases only the home dir: shard writers
    // never touch home-level files mid-lease, and holding every shard
    // lease for a bytes-tiny shell copy would serialize the fleet's
    // shard-localized maintenance behind it
    def locked[T](body: => T): T =
      if (shellOnly)
        IndexLease.withLease(spark, dir, "IndexBackup.backup")(body)
      else withHomeLeases(spark, dir)(body)
    locked {
      val entries = listRelStatus(sfs, new Path(dir))
        .filterNot(e => shellOnly && e._1.matches("^shard=\\d+/.*"))
        .sortBy(_._1)
      require(entries.nonEmpty,
        s"IndexBackup.rotate: $dir holds no files — not an index home")
      // one store listing (metadata-scale), so the unchanged check
      // never trusts a manifest row whose object was lost to damage —
      // such a file silently re-ingests from the live source instead
      val have = ofs.listStatus(new Path(objRoot)).toSeq
        .map(_.getPath.getName)
        .filterNot(_.startsWith(".tmp-")).toSet
      val (reuse, ingest) = entries.partition { case (rel, len, mt) =>
        prev.get(rel).exists { case (plen, pmd5, pmt) =>
          plen == len && pmt == mt && have(objKey(pmd5, plen))
        }
      }
      val ingested = HadoopBridge.mapWithConf(spark, ingest.map(_._1),
        parallelism(spark))(ingestObject(_, dir, objRoot, _))
      val ingMap = ingested.map(r => r._1 -> (r._2, r._3)).toMap
      val mtimes = entries.map(e => e._1 -> e._3).toMap
      val rows = entries.map { case (rel, len, mt) =>
        ingMap.get(rel) match {
          case Some((n, md5)) => (rel, n, md5, mt)
          case None =>
            val (plen, pmd5, _) = prev(rel)
            (rel, plen, pmd5, mtimes(rel))
        }
      }
      import spark.implicits._
      rows.toDF("relpath", "length", "md5", "mtime")
        .repartition(1).sortWithinPartitions("relpath")
        .write.mode("overwrite").parquet(s"$genDir/$ManifestDir")
      val copiedBytes = ingested.map(_._2).sum
      val totalBytes = rows.map(_._2).sum
      writeSmall(bfs, new Path(genDir, MetaFile),
        s"source=$dir\nlayout=objects\nfiles=${rows.length}\n" +
          s"bytes=$totalBytes\ncopied_files=${ingested.length}\n" +
          s"copied_bytes=$copiedBytes\n" +
          s"reused_files=${reuse.length}\n" +
          s"reused_bytes=${totalBytes - copiedBytes}\n")
      // marker strictly last — a crash above leaves a torn generation
      // nothing reads, whose orphaned objects the next rotation GCs
      writeSmall(bfs, new Path(genDir, MarkerFile), "committed\n")
    }
  }

  /** Integrity report for an object-layout generation — same check
    * rows as the full-copy [[verify]] (marker, manifest, files, bytes,
    * checksum, verdict), with "files" counting referenced OBJECTS
    * present in the shared store and bytes/checksum re-hashing every
    * referenced object on executors. A tampered or lost shared blob
    * therefore fails the verify of EVERY generation referencing it. */
  private def verifyObjects(spark: SparkSession, backupDir: String,
                            manifest: Seq[(String, Long, String)])
      : DataFrame = {
    import spark.implicits._
    val fs = fsOf(spark, backupDir)
    val rows =
      scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val committed = fs.exists(new Path(backupDir, MarkerFile))
    rows += (("marker", if (committed) "OK" else "ERROR",
      if (committed) "backup is committed"
      else s"no $MarkerFile — the backup writer crashed before commit; " +
        "the next rotation clears this generation"))
    rows += (("manifest",
      if (manifest.nonEmpty) "OK" else "ERROR",
      if (manifest.nonEmpty) s"${manifest.length} files manifested"
      else "manifest missing or unreadable"))
    if (manifest.nonEmpty) {
      val objRoot = objectsRoot(backupDir)
      val orp = new Path(objRoot)
      val present =
        if (fs.exists(orp))
          fs.listStatus(orp).toSeq.map(_.getPath.getName)
            .filterNot(_.startsWith(".tmp-")).toSet
        else Set.empty[String]
      // several manifest rows can share one content key — check keys
      val wanted = manifest
        .map(m => objKey(m._3, m._2) -> (m._2, m._3)).toMap
      val missing = (wanted.keySet -- present).toSeq.sorted
      rows += (("files",
        if (missing.isEmpty) "OK" else "ERROR",
        if (missing.isEmpty)
          s"${wanted.size} objects referenced, all present " +
            "(shared store — unreferenced extras belong to other " +
            "generations)"
        else s"${missing.length} objects missing " +
          missing.take(3).mkString("(", ", ", ")")))
      val toCheck = wanted.keySet.intersect(present).toSeq.sorted
      val got = HadoopBridge.mapWithConf(spark, toCheck,
        parallelism(spark))(md5Of(_, objRoot, _))
        .map(r => r._1 -> (r._2, r._3)).toMap
      val badLen = toCheck.filter(k => got(k)._1 != wanted(k)._1)
      val badSum = toCheck.filter(k =>
        got(k)._1 == wanted(k)._1 && got(k)._2 != wanted(k)._2)
      rows += (("bytes", if (badLen.isEmpty) "OK" else "ERROR",
        if (badLen.isEmpty) "every length matches"
        else s"${badLen.length} length mismatches " +
          badLen.take(3).mkString("(", ", ", ")")))
      rows += (("checksum", if (badSum.isEmpty) "OK" else "ERROR",
        if (badSum.isEmpty) "every md5 matches"
        else s"${badSum.length} checksum mismatches " +
          badSum.take(3).mkString("(", ", ", ")")))
    }
    val bad = rows.count(_._2 == "ERROR")
    rows += (("verdict", if (bad == 0) "OK" else "ERROR",
      if (bad == 0) "backup is restorable" else s"$bad checks failed"))
    rows.toSeq.toDF("check", "status", "detail")
  }

  /** Delete objects no remaining COMMITTED generation references, plus
    * `.tmp-*` residue from crashed ingests. Runs after the prune, so
    * "referenced" is computed over exactly the surviving manifests. */
  private def gcObjects(spark: SparkSession, backupHome: String): Unit = {
    val fs = fsOf(spark, backupHome)
    val orp = new Path(s"$backupHome/$ObjectsDir")
    if (!fs.exists(orp)) return
    import spark.implicits._
    // every surviving manifest in ONE scan (they share the object-layout
    // schema) instead of a read+collect job pair per generation
    val dirs = generations(spark, backupHome)
      .map(n => s"$backupHome/b$n")
      .filter(isObjectLayout(spark, _))
    val referenced =
      if (dirs.isEmpty) Set.empty[String]
      else spark.read.parquet(dirs.map(d => s"$d/$ManifestDir"): _*)
        .select("md5", "length").as[(String, Long)].collect()
        .map { case (m, l) => objKey(m, l) }.toSet
    fs.listStatus(orp).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith(".tmp-") || !referenced(nm))
        fs.delete(st.getPath, false)
    }
  }

  /** The cheap twin of [[gcObjects]] for a rotation that pruned NOTHING:
    * no manifest left the committed set, so no object can have become
    * unreferenced since the previous rotation's GC — only crashed-ingest
    * scratch (`.tmp-*`) needs sweeping, one driver listing, zero Spark
    * jobs. (Orphans from a writer that crashed before its generation
    * dir existed wait for the next pruning rotation — same heal, later.) */
  private def sweepTmpObjects(spark: SparkSession, backupHome: String): Unit = {
    val fs = fsOf(spark, backupHome)
    val orp = new Path(s"$backupHome/$ObjectsDir")
    if (!fs.exists(orp)) return
    fs.listStatus(orp).foreach { st =>
      if (st.getPath.getName.startsWith(".tmp-"))
        fs.delete(st.getPath, false)
    }
  }

  private def genDirs(spark: SparkSession, backupHome: String)
      : Seq[(Int, Boolean)] = {
    val fs = fsOf(spark, backupHome)
    val p = new Path(backupHome)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.collect {
      case st if st.isDirectory => st.getPath.getName
    }.collect { case GenRe(n) =>
      (n.toInt,
        fs.exists(new Path(s"$backupHome/b$n", MarkerFile)))
    }.sortBy(_._1)
  }

  /** COMMITTED backup generation numbers at `backupHome`, ascending —
    * torn generations (a crashed [[rotate]], cleaned by the next one)
    * are not restorable and not listed. */
  def generations(spark: SparkSession, backupHome: String): Seq[Int] =
    genDirs(spark, backupHome).collect { case (n, true) => n }

  /** The newest committed generation's path, or None — the artifact
    * [[restoreLatest]] restores. A newer TORN generation never shadows
    * a committed one. */
  def latest(spark: SparkSession, backupHome: String): Option[String] =
    generations(spark, backupHome).lastOption
      .map(n => s"$backupHome/b$n")

  /** Scheduled-backup rotation — the form a maintenance cadence
    * actually runs ([[IndexAudit.applyPlan]] executes `backup` rows
    * through here): writes INCREMENTAL generation `b<N+1>` (N = the
    * newest existing number, committed or torn, so numbering is
    * monotonic) into the shared object store, copying only the files
    * whose (relpath, length, mtime) changed since the previous
    * committed generation — the cadence tick costs ∝ churn, never
    * ∝ home bytes. Then prunes: torn generations always (nothing can
    * restore them), committed ones beyond the newest `keep`, then the
    * object GC. The prune runs AFTER the new generation commits, so
    * there is never a moment with fewer committed backups than before
    * the rotation. A previous generation in the r18 full-copy layout
    * (or one whose objects were damaged) simply yields no reusable
    * entries — that rotation re-ingests everything once, from the
    * live source, and stays incremental thereafter. Returns the new
    * generation's path. */
  def rotate(spark: SparkSession, dir: String, backupHome: String,
             keep: Int = 2): String =
    rotateImpl(spark, dir, backupHome, keep, shellOnly = false)

  /** [[rotate]] for a SHARDED home's home-level SHELL — everything at
    * the home except the `shard=<i>` subtrees (those are complete
    * homes with their own per-shard rotations at
    * `<backupHome>/shard=<i>`): the manifest metadata a
    * [[restoreShardedLatest]] needs to reassemble the home. Bytes-tiny
    * by construction, so it rides along with any shard rotation. */
  def rotateShell(spark: SparkSession, dir: String, backupHome: String,
                  keep: Int = 2): String = {
    require(scala.util.Try(Dedup.readMeta(spark, dir)).toOption
        .exists(_.get("kind").contains(ShardedIndex.Kind)),
      s"IndexBackup.rotateShell: $dir is not a sharded home — the " +
        "shell/shard split only applies there; use rotate for a " +
        "monolithic home")
    rotateImpl(spark, dir, backupHome, keep, shellOnly = true)
  }

  private def rotateImpl(spark: SparkSession, dir: String,
                         backupHome: String, keep: Int,
                         shellOnly: Boolean): String = {
    require(keep >= 1,
      s"IndexBackup.rotate: keep must be >= 1, got $keep")
    val before = genDirs(spark, backupHome)
    val next = (0 +: before.map(_._1)).max + 1
    val target = s"$backupHome/b$next"
    val prev: Map[String, (Long, String, Long)] =
      before.collect { case (n, true) => n }.lastOption.map { n =>
        val gd = s"$backupHome/b$n"
        if (!isObjectLayout(spark, gd))
          Map.empty[String, (Long, String, Long)]
        else {
          val m = Dedup.readPq(spark, s"$gd/$ManifestDir")
          if (!m.columns.contains("mtime"))
            Map.empty[String, (Long, String, Long)]
          else m.select("relpath", "length", "md5", "mtime").collect()
            .map(r => r.getString(0) ->
              ((r.getLong(1), r.getString(2), r.getLong(3)))).toMap
        }
      }.getOrElse(Map.empty)
    writeObjectGeneration(spark, dir, target, prev, shellOnly)
    val fs = fsOf(spark, backupHome)
    val torn = before.collect { case (n, false) => n }
    val committed = before.collect { case (n, true) => n } :+ next
    val doomed = torn ++ committed.dropRight(keep)
    doomed.foreach { n =>
      fs.delete(new Path(s"$backupHome/b$n"), true)
    }
    if (doomed.nonEmpty) gcObjects(spark, backupHome)
    else sweepTmpObjects(spark, backupHome)
    target
  }

  /** [[restore]] from the newest committed generation at `backupHome`;
    * returns the generation path restored from. */
  def restoreLatest(spark: SparkSession, backupHome: String,
                    dest: String): String = {
    val g = latest(spark, backupHome).getOrElse(
      throw new IllegalArgumentException(
        s"IndexBackup.restoreLatest: no committed backup generation at " +
          s"$backupHome — run IndexBackup.rotate (a torn generation, if " +
          "present, is a crashed backup and cannot be restored)"))
    restore(spark, g, dest)
    g
  }

  /** Reassemble a SHARDED home from its per-shard DR units — the
    * inverse of the planner's shard-localized rotations: restore the
    * `_home` shell's newest committed generation into `dest` (the
    * manifest metadata naming the shard count and router), then every
    * `shard=<i>`'s newest generation into `dest/shard=<i>`. Refuses —
    * before any shard byte lands — when the shell is missing, names a
    * non-sharded kind, or any shard lacks a committed generation: a
    * partially-assembled home would serve a silently smaller corpus.
    * Returns unit → restored generation path. */
  def restoreShardedLatest(spark: SparkSession, backupHome: String,
                           dest: String): Map[String, String] = {
    val shell = latest(spark, s"$backupHome/_home").getOrElse(
      throw new IllegalArgumentException(
        s"IndexBackup.restoreShardedLatest: no committed _home shell " +
          s"generation at $backupHome — this is not a per-shard backup " +
          "home (for a whole-home backup use restoreLatest)"))
    restore(spark, shell, dest)
    val meta = Dedup.readMeta(spark, dest)
    require(meta.get("kind").contains(ShardedIndex.Kind),
      s"IndexBackup.restoreShardedLatest: the restored shell at $dest " +
        s"names kind '${meta.getOrElse("kind", "<absent>")}', not a " +
        "sharded home")
    val nS = meta("shards").toInt
    val gens = (0 until nS).map { i =>
      i -> latest(spark, s"$backupHome/shard=$i").getOrElse {
        // the shell landed but a shard can't: remove the partial
        // assembly so nothing ever opens it
        fsOf(spark, dest).delete(new Path(dest), true)
        throw new IllegalArgumentException(
          s"IndexBackup.restoreShardedLatest: shard $i of $nS has no " +
            s"committed generation at $backupHome/shard=$i — a " +
            "partially-restored home would serve a smaller corpus; " +
            "rotate that shard's backup first")
      }
    }
    // per-shard restores are independent (disjoint dest dirs, read-only
    // on their own generation homes) — overlapped (Par, guide §2.6)
    Par.run(gens.map { case (i, g) =>
      () => restore(spark, g, ShardedIndex.shardDir(dest, i))
    })
    (("_home" -> shell) +: gens.map { case (i, g) =>
      s"shard=$i" -> g
    }).toMap
  }

  /** Backup-staleness probe for the fleet planner: Some(ageMs) of the
    * newest committed generation's marker, or None when no committed
    * generation exists. The age compares the DRIVER's clock against the
    * backup store's file mtime — clock skew between them shifts every
    * age by the skew, so size `maxBackupAgeMs` with slack over the
    * expected skew (a cadence bound is hours; object-store skew is
    * seconds). A marker mtime ahead of the driver clock (skew the
    * other way) clamps to age 0 rather than going negative — a
    * just-written backup must never read as stale or as anomalously
    * fresh forever. */
  private[graft] def latestAgeMs(spark: SparkSession,
                                 backupHome: String): Option[Long] =
    latest(spark, backupHome).map { g =>
      val fs = fsOf(spark, g)
      math.max(0L, System.currentTimeMillis() -
        fs.getFileStatus(new Path(g, MarkerFile)).getModificationTime)
    }
}
