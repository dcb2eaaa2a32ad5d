package graft.operators

import org.apache.spark.sql.SparkSession

/** Fenced single-writer lease for index maintenance — the enforcement
  * of the contract every maintenance docstring only used to DOCUMENT
  * ("offline single-writer"): two concurrent compacts/appends on one
  * index home corrupt it silently (interleaved marker bumps, clobbered
  * partition overwrites), and `IndexAudit` can only diagnose the damage
  * after. The lease closes the gap with driver-side metadata only:
  *
  *   - every mutation entry point runs inside [[withLease]]: acquire a
  *     token under `<home>/LEASE`, run, release;
  *   - acquisition REFUSES loudly while another writer's lease is
  *     fresh (age < [[ttlMs]]), naming the holder, its op, and its age;
  *   - a lease older than the TTL is presumed crashed and taken over
  *     (the stale-lease rule — a writer that plans to exceed the TTL
  *     must raise `graft.index.lease.ttl.ms`);
  *   - COMMITS re-verify the token ([[verifyBeforeCommit]], called by
  *     `Dedup.swapInDir` before its pointer rename and by
  *     `Dedup.writeMeta` before its marker rename): a writer whose
  *     lease was taken over mid-run is FENCED — it aborts before
  *     publishing, so the takeover winner never races a zombie commit.
  *
  * Scope and honesty: this is coordination METADATA on the shared
  * filesystem, not a distributed lock service — the exclusive-create
  * acquisition plus post-write verification and commit-time fencing
  * close every single-filesystem interleaving except a sub-millisecond
  * create/create photo finish, which the post-create token re-read
  * then catches on one side. Readers take no lease ever (the
  * version-pointer layout gives them lock-free snapshots).
  *
  * Reentrant per home dir: a maintenance op composed of other ops
  * (e.g. a CDC trigger that applies, then compacts) holds ONE lease
  * for the whole composition. */
object IndexLease {

  private final case class Held(dir: String, token: String)
  private val active = new scala.util.DynamicVariable[List[Held]](Nil)

  /** Stale-takeover horizon; override with -Dgraft.index.lease.ttl.ms
    * for maintenance runs expected to exceed 15 minutes. */
  def ttlMs: Long =
    sys.props.get("graft.index.lease.ttl.ms").map(_.toLong)
      .getOrElse(15 * 60 * 1000L)

  final case class LeaseInfo(token: String, op: String, ts: Long) {
    def ageMs: Long = System.currentTimeMillis() - ts
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def leasePath(dir: String) =
    new org.apache.hadoop.fs.Path(dir, Dedup.LeaseFile)

  /** The lease on `dir` right now, or None — [[graft.operators.IndexAudit]]
    * reports this. */
  def status(spark: SparkSession, dir: String): Option[LeaseInfo] = {
    val fs = fsOf(spark, dir)
    val p = leasePath(dir)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val props = new java.util.Properties()
      try props.load(in) finally in.close()
      for {
        t <- Option(props.getProperty("token"))
        o <- Option(props.getProperty("op"))
        ts <- Option(props.getProperty("ts")).flatMap(_.toLongOption)
      } yield LeaseInfo(t, o, ts)
    }
  }

  /** Runs `body` holding the writer lease on `dir`; reentrant for a
    * dir already held by this call chain. */
  def withLease[T](spark: SparkSession, dir: String, op: String)
                  (body: => T): T =
    if (active.value.exists(_.dir == dir)) body
    else {
      val token = java.util.UUID.randomUUID().toString
      acquire(spark, dir, op, token)
      try active.withValue(Held(dir, token) :: active.value)(body)
      finally release(spark, dir, token)
    }

  private def writeLeaseExclusive(spark: SparkSession, dir: String,
                                  op: String, token: String): Boolean = {
    val fs = fsOf(spark, dir)
    val out =
      try fs.create(leasePath(dir), false) // overwrite=false: exclusive
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException => return false
      }
    val props = new java.util.Properties()
    props.setProperty("token", token)
    props.setProperty("op", op)
    props.setProperty("ts", System.currentTimeMillis().toString)
    try props.store(out, "graft index writer lease") finally out.close()
    true
  }

  private def acquire(spark: SparkSession, dir: String, op: String,
                      token: String): Unit = {
    val fs = fsOf(spark, dir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir)) // first write on a new home
    def refuse(l: LeaseInfo): Nothing =
      throw new IllegalArgumentException(
        s"$op refused: $dir is held by another writer (op=${l.op}, " +
          s"lease age ${l.ageMs / 1000}s, token ${l.token.take(8)}…). " +
          "Wait for it (the lease is released on completion, or taken " +
          s"over as stale after ${ttlMs / 1000}s), or if that writer is " +
          "known dead, delete " + leasePath(dir))
    status(spark, dir) match {
      case Some(l) if l.ageMs < ttlMs => refuse(l)
      case Some(stale) =>
        // stale-lease takeover: the holder is presumed crashed
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"taking over stale lease at $dir (op=${stale.op}, " +
            s"age ${stale.ageMs / 1000}s > ttl ${ttlMs / 1000}s)")
        fs.delete(leasePath(dir), false)
      case None => ()
    }
    if (!writeLeaseExclusive(spark, dir, op, token))
      status(spark, dir) match {
        case Some(l) => refuse(l)
        case None => throw new IllegalStateException(
          s"$op: lost the lease acquisition race at $dir and the winner " +
            "vanished — retry")
      }
    // photo-finish guard: if another create interleaved ours on a
    // filesystem without true exclusive-create, exactly one token
    // survives — the loser finds the winner's and backs off
    val now = status(spark, dir)
    if (!now.exists(_.token == token)) now.fold(
      throw new IllegalStateException(
        s"$op: lease at $dir vanished right after acquisition — retry")
    )(refuse)
  }

  /** Fencing check at the COMMIT points (`swapInDir`'s pointer rename,
    * `writeMeta`'s marker rename): if this call chain holds a lease
    * for `dir`, the on-disk token must still be ours — otherwise a
    * stale-lease takeover happened mid-run and this writer must abort
    * BEFORE publishing. No active lease (unguarded internal callers,
    * reads) = no-op. */
  private[graft] def verifyBeforeCommit(spark: SparkSession,
                                        dir: String): Unit =
    active.value.find(h => dir == h.dir || dir.startsWith(h.dir + "/"))
      .foreach { h =>
        val cur = status(spark, h.dir)
        require(cur.exists(_.token == h.token),
          s"writer fenced at ${h.dir}: this writer's lease was " +
            cur.fold("released")(l =>
              s"taken over (now op=${l.op}, token ${l.token.take(8)}…, " +
                s"age ${l.ageMs / 1000}s)") +
            " — aborting before the commit; nothing was published. " +
            "If this writer legitimately runs longer than the TTL, " +
            "raise -Dgraft.index.lease.ttl.ms")
      }

  private def release(spark: SparkSession, dir: String,
                      token: String): Unit = {
    // only release our own lease — after a takeover the new holder's
    // lease must survive this (fenced) writer's cleanup
    if (status(spark, dir).exists(_.token == token))
      fsOf(spark, dir).delete(leasePath(dir), false)
  }
}
