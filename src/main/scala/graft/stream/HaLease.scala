package graft.stream

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** X3 — active/passive availability (reference README.md:185-198): the
  * reference's deployments watch the Postgres replication SLOT — the
  * active instance holds it, passives poll `slotActivityCheckerInterval`
  * and capture the slot when it goes inactive. The Spark-native analog
  * of "the slot" is a LEASE on shared storage next to the checkpoint:
  * whichever instance holds the live lease runs the streaming query
  * (the checkpoint IS the slot position, so a takeover resumes exactly
  * where the dead instance stopped — no loss, no re-delivery beyond the
  * at-least-once batch contract).
  *
  * Lease mechanics (coarse by design, like slot activity):
  *   - acquire = `FileSystem.create(overwrite = false)` — the one
  *     primitive that is one-winner on BOTH local FS and HDFS (local
  *     rename onto an existing file silently overwrites, so a
  *     rename-claim would admit two winners);
  *   - the holder RENEWS by dropping an empty `hb.<ts>.<id>` marker file
  *     — the timestamp lives in the NAME, the lease file itself is never
  *     rewritten, so there is no mid-heartbeat window in which the lease
  *     is missing or half-written;
  *   - a lease whose heartbeat is older than `leaseMs` is DEAD: a
  *     contender STEALS it with an atomic rename to a tombstone (one
  *     winner by construction) and then claims — losers go back to
  *     polling. Unreadable content is steal-eligible only once the FILE
  *     is stale by mtime: a transient read error or an in-flight claim
  *     must never cost a live holder its lease.
  *
  * Split-brain window: a paused-but-alive holder (GC, VM freeze) can
  * overlap a takeover for up to one renewal period. That is the same
  * window the reference accepts (slot capture vs a stalled active), and
  * it is SAFE here: two writers against the same checkpoint serialize
  * on the checkpoint's own batch commits, and the sink contract is
  * at-least-once with idempotent per-batch output.
  */
final class HaLease(dir: String, val instanceId: String, leaseMs: Long)
    (implicit spark: SparkSession) {

  // Capability guard — checked on the URI BEFORE a FileSystem is even
  // built: every correctness claim above rests on one-winner
  // create(overwrite=false) and ATOMIC rename, which S3-style object
  // stores do not have (rename = server-side copy + delete, and two
  // concurrent "steals" can both succeed — the dual-active failure mode
  // this lease exists to prevent). Refusing loudly at construction is
  // the difference between a deploy-time error and silent split-brain
  // under load. Alternatives for object-store deployments are in the
  // error text; a store with a DOCUMENTED atomic-rename guarantee can
  // be allowlisted via [[HaLease.ExtraSchemesConf]].
  require(HaLease.atomicRenameGuaranteed(dir, spark), HaLease.schemeError(dir))

  private val fs = new Path(dir).getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private val dirPath = new Path(dir)
  private val leasePath = new Path(dir, "lease")

  // Protocol invariants (each closes a measured failure mode):
  //   - the lease file is NEVER rewritten during a tenure — claim is one
  //     atomic rename of a fully-written tmp (no half-written content a
  //     reader could misparse, and no rewrite window for renew: the
  //     FileContext-OVERWRITE and delete+rename heartbeat forms BOTH
  //     measurably exposed a missing-lease instant on the local FS,
  //     during which a contender's claim legitimately succeeds);
  //   - heartbeats are separate `hb.<ts>.<id>` marker files whose NAME
  //     carries the timestamp — existence-only, nothing to parse
  //     mid-write, and pruning old markers can never lower the max;
  //   - a dead lease is STOLEN by renaming it to a tombstone: rename is
  //     atomic with one winner, so two contenders can never both clear
  //     it and both claim (the delete-then-create form let a queued
  //     delete remove the winner's FRESH lease — unbounded dual-active).

  private def hbPrefix = "hb."

  private def heartbeats(): Seq[(Long, String)] =
    (try fs.listStatus(dirPath).toSeq
     catch { case scala.util.control.NonFatal(_) => Seq.empty })
      .map(_.getPath.getName)
      .filter(_.startsWith(hbPrefix))
      .flatMap { n =>
        n.split("\\.", 3) match {
          case Array(_, ts, id) => scala.util.Try((ts.toLong, id)).toOption
          case _ => None
        }
      }

  /** (holderId, heartbeatMs) of the current lease, if any. The claim
    * file carries (id, claimTs); the live heartbeat is the max of the
    * claim ts and this holder's hb markers.
    */
  def read(): Option[(String, Long)] =
    try {
      if (!fs.exists(leasePath)) None
      else {
        val in = fs.open(leasePath)
        val s = try new String(in.readAllBytes(), UTF_8) finally in.close()
        s.split('\n') match {
          case Array(id, ts) =>
            val hb = heartbeats().collect { case (t, h) if h == id => t }
              .foldLeft(ts.toLong)(math.max)
            Some((id, hb))
          case _ => None
        }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Atomically claim the ABSENT lease via `create(overwrite = false)` —
    * the one primitive that is genuinely one-winner on BOTH the local FS
    * and HDFS-like stores (LocalFileSystem.rename onto an existing file
    * silently overwrites and returns true — measured on this Hadoop —
    * so a rename-based claim would let two contenders both "win").
    * Content lands right after the create; the microsecond window in
    * which the file exists content-less is benign because unreadable
    * content alone is never steal-eligible — see [[tryAcquire]].
    */
  private def claim(nowMs: Long): Boolean =
    try {
      val out = fs.create(leasePath, false)
      out.write(s"$instanceId\n$nowMs".getBytes(UTF_8)); out.close()
      true
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Unreadable lease content (None from read() while the file exists)
    * is steal-eligible ONLY once the FILE is stale by wall-clock mtime:
    * a transient open() failure or a claim-in-progress must not get a
    * live holder's lease stolen, while a crash that left a zero-byte or
    * garbage lease ages past `leaseMs` and unblocks acquisition.
    */
  private def unreadableButStale(): Boolean =
    try {
      fs.exists(leasePath) &&
        (System.currentTimeMillis() -
          fs.getFileStatus(leasePath).getModificationTime) >= leaseMs
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Atomic-rename steal of a DEAD lease: one winner by construction
    * (the loser's rename finds the source gone), then claim.
    */
  private def stealAndClaim(nowMs: Long): Boolean = {
    val tomb = new Path(dir, s"lease.dead.$instanceId.$nowMs")
    val won =
      try fs.rename(leasePath, tomb)
      catch { case scala.util.control.NonFatal(_) => false }
    if (!won) return false // another contender stole it first
    fs.delete(tomb, false)
    // the dead holder's stale heartbeat markers must not outlive it
    heartbeats().foreach { case (t, h) =>
      fs.delete(new Path(dir, s"$hbPrefix$t.$h"), false)
    }
    claim(nowMs)
  }

  /** Try to take the lease: free → atomic create-claim; expired → steal
    * + claim; unreadable → steal ONLY once stale by file mtime (a
    * transient I/O error must not cost a live holder its lease);
    * live-and-other's → false.
    */
  def tryAcquire(nowMs: Long): Boolean = read() match {
    case Some((id, _)) if id == instanceId =>
      renew(nowMs); true
    case Some((_, hb)) if nowMs - hb < leaseMs => false
    case Some(_) => stealAndClaim(nowMs)
    case None =>
      if (!fs.exists(leasePath)) claim(nowMs)
      else if (unreadableButStale()) stealAndClaim(nowMs)
      else false // unreadable but fresh: retry next poll
  }

  /** Heartbeat (holder only): drop an empty `hb.<ts>.<id>` marker and
    * prune this holder's older markers. The lease file is untouched.
    */
  def renew(nowMs: Long): Unit = {
    fs.create(new Path(dir, s"$hbPrefix$nowMs.$instanceId"), true).close()
    heartbeats()
      .filter { case (t, h) => h == instanceId && t < nowMs }
      .foreach { case (t, h) => fs.delete(new Path(dir, s"$hbPrefix$t.$h"), false) }
  }

  /** Graceful handover: drop the lease so a passive can take over
    * without waiting out the expiry.
    */
  def release(): Unit = {
    read().foreach { case (id, _) =>
      if (id == instanceId) {
        fs.delete(leasePath, false)
        heartbeats().filter(_._2 == instanceId).foreach { case (t, h) =>
          fs.delete(new Path(dir, s"$hbPrefix$t.$h"), false)
        }
      }
    }
    ()
  }
}

object HaLease {

  /** Filesystem schemes with BOTH one-winner `create(overwrite=false)`
    * and atomic single-winner rename — the two primitives the lease
    * protocol's correctness argument uses. Everything else (s3/s3a/gs/
    * wasb/oss/... and unknown schemes) is refused: object-store rename
    * is copy+delete, create is last-writer-wins, and a lease built on
    * either admits dual-active.
    */
  val AtomicRenameSchemes: Set[String] = Set("file", "hdfs", "viewfs", "webhdfs")

  /** Comma-separated EXTRA schemes the operator vouches for (e.g. a
    * store with a documented HNS atomic-rename guarantee).
    */
  val ExtraSchemesConf = "spark.graft.ha.extraAtomicSchemes"

  private[stream] def schemeOf(dir: String): String =
    scala.util.Try(Option(new java.net.URI(dir).getScheme))
      .toOption.flatten.getOrElse("file").toLowerCase(java.util.Locale.ROOT)

  private[graft] def atomicRenameGuaranteed(dir: String,
      spark: SparkSession): Boolean = {
    val extra = spark.conf.getOption(ExtraSchemesConf)
      .map(_.split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    (AtomicRenameSchemes ++ extra).contains(schemeOf(dir))
  }

  private[stream] def schemeError(dir: String): String =
    s"HA lease dir '$dir' (scheme '${schemeOf(dir)}') cannot host the lease: " +
      "the protocol needs one-winner create(overwrite=false) and ATOMIC " +
      "rename, which S3-style object stores do not guarantee (rename is " +
      "copy+delete) — deploying there risks silent dual-active, the exact " +
      "failure HA exists to prevent. Put the lease dir on HDFS/a cluster " +
      "FS (the checkpoint can stay on the object store), or replace the " +
      "lease with a conditional-put lock (DynamoDB-style / S3 " +
      "If-None-Match). A store with a documented atomic-rename guarantee " +
      s"can be allowlisted via $ExtraSchemesConf."
}

/** The failover RUNNER: poll the lease; on acquiring it, run the
  * pipeline from the SHARED checkpoint and heartbeat until stopped or
  * the query dies. One of these runs in every deployment; exactly one
  * is active at a time (the reference's multi-deployment slot watch).
  */
object HaConnector {

  final class Instance private[stream] (lease: HaLease) {
    @volatile private[stream] var stopped = false
    @volatile private[stream] var current: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
    private[stream] var thread: Thread = _
    def isActive: Boolean = current.exists(_.isActive)
    def instanceId: String = lease.instanceId
    /** Stop WITHOUT releasing the lease — simulates a crash (tests) or a
      * hard kill; passives must wait out the expiry.
      */
    def kill(): Unit = {
      stopped = true; current.foreach(_.stop()); thread.join(30000)
    }
    /** Graceful stop: halt the query and hand the lease over. */
    def stop(): Unit = {
      stopped = true
      current.foreach(_.stop())
      thread.join(30000)
      lease.release()
    }
    private[stream] def isStopped: Boolean = stopped
  }

  /** Start a deployment instance: polls every `pollMs`, takes the lease
    * when free/dead, then runs `startQuery` (any pipeline entry bound to
    * the SHARED checkpoint) and renews every `pollMs` while the query
    * lives. If the query dies, the lease releases and the loop resumes
    * polling (another instance — or this one — recaptures).
    */
  def start(spark: SparkSession, leaseDir: String, instanceId: String,
      leaseMs: Long, pollMs: Long)
      (startQuery: () => org.apache.spark.sql.streaming.StreamingQuery)
      : Instance = {
    implicit val s: SparkSession = spark
    val lease = new HaLease(leaseDir, instanceId, leaseMs)
    val instance: Instance = new Instance(lease)
    val t = new Thread(() => {
      while (!instance.isStopped) {
        try {
        if (lease.tryAcquire(System.currentTimeMillis())) {
          // startQuery can fail TRANSIENTLY right after a takeover (the
          // dead instance's query name may still be deregistering in
          // this JVM; a remote store may briefly hold checkpoint
          // leases): release and retry from the poll loop instead of
          // dying silently with the lease held
          val started =
            try Some(startQuery())
            catch {
              case scala.util.control.NonFatal(_) =>
                lease.release(); None
            }
          started.foreach { q =>
            instance.current = Some(q)
            try {
              while (!instance.isStopped && q.isActive) {
                // a TRANSIENT heartbeat failure (storage hiccup) must not
                // kill the query: keep running — if failures persist past
                // leaseMs the lease expires and a passive takes over,
                // which is the documented split-brain window, already
                // safe under the checkpoint's batch serialization
                try lease.renew(System.currentTimeMillis())
                catch { case scala.util.control.NonFatal(_) => () }
                Thread.sleep(pollMs)
              }
            } catch { case _: InterruptedException => () }
            finally {
              if (q.isActive) q.stop()
              // a DEAD query must free the slot for the next contender;
              // a kill() leaves the lease to expire (crash semantics)
              if (!instance.isStopped)
                try lease.release()
                catch { case scala.util.control.NonFatal(_) => () }
            }
          }
        }
        } catch {
          // any storage exception (tryAcquire's fs.exists, a renew that
          // escaped, q.stop) must bring us back to polling — a dead
          // monitor thread silently removes the instance from the
          // deployment (isActive=false but nobody ever recaptures)
          case scala.util.control.NonFatal(_) => ()
        }
        if (!instance.isStopped)
          try Thread.sleep(pollMs)
          catch { case _: InterruptedException => instance.stopped = true }
      }
    }, s"graft-ha-$instanceId")
    instance.thread = t
    t.setDaemon(true)
    t.start()
    instance
  }
}
