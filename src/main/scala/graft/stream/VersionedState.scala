package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The versioned-parquet streaming-state convention: per-batch state
  * lands under `root/b_<batchId>` (overwrite = replay-safe), and a batch
  * READS only versions with id strictly BELOW its own — a replayed batch
  * must never see its own partial write. A compacted leg folds through
  * [[fold]] and answers queries through [[latest]]; append-only deltas
  * read [[allBefore]]. One definition of the lookup, so a fix to the
  * replay-safety filter or the naming cannot miss a leg.
  */
object VersionedState {

  /** Version ids present under `root` that are `< batchId`, ascending. */
  def idsBefore(spark: SparkSession, root: String, batchId: Long): Seq[Long] = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) Seq.empty
    else fs.listStatus(rootPath).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("b_") => n.drop(2).toLong }
      .filter(_ < batchId)
      .sorted
  }

  /** Path of the NEWEST version strictly before `batchId`, if any. */
  def latestBefore(spark: SparkSession, root: String,
      batchId: Long): Option[String] =
    idsBefore(spark, root, batchId).lastOption.map(j => s"$root/b_$j")

  /** Paths of ALL versions strictly before `batchId`, ascending — the
    * append-only-delta variant ([[CleanStream]]'s hash deltas).
    */
  def allBefore(spark: SparkSession, root: String,
      batchId: Long): Seq[String] =
    idsBefore(spark, root, batchId).map(j => s"$root/b_$j")

  /** The write-side path for this batch's version. */
  def versionDir(root: String, batchId: Long): String = s"$root/b_$batchId"

  /** One compacted-state step: `step` gets the newest version below
    * `batchId` (None on the first batch), its result is written as this
    * batch's version (overwrite), and the written version is read back —
    * truncated lineage, the same bytes a replay would see. `step` sets
    * the write layout (e.g. `.coalesce(1)`) and may write the batch's
    * own outputs before returning the state.
    */
  def fold(spark: SparkSession, root: String, batchId: Long)(
      step: Option[DataFrame] => DataFrame): DataFrame = {
    val next = step(latestBefore(spark, root, batchId).map(spark.read.parquet(_)))
    val dir = versionDir(root, batchId)
    next.write.mode("overwrite").parquet(dir)
    // the known schema skips a footer-inference job per batch
    spark.read.schema(next.schema).parquet(dir)
  }

  /** The newest version under `root`; fails naming `who` and `root`
    * when no batch has written one yet.
    */
  def latest(spark: SparkSession, root: String, who: String): DataFrame =
    spark.read.parquet(latestBefore(spark, root, Long.MaxValue)
      .getOrElse(sys.error(s"$who: no state under $root")))

  /** Compaction sweep for SNAPSHOT-per-version stores (each `b_<id>` is a
    * full fold, not a delta): delete versions with id < `keepFrom`. A
    * batch's replay reads only `latestBefore(id)`, so after batch B has
    * durably written `b_B`, everything below B-1 is unreachable — B-1
    * itself stays because Structured Streaming may replay batch B after
    * a restart and re-read it. Deletion failures are swallowed: a
    * leftover version is dead weight, never wrong (reads resolve by
    * NEWEST id).
    */
  def prune(spark: SparkSession, root: String, keepFrom: Long): Unit = {
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    idsBefore(spark, root, keepFrom).foreach { id =>
      try { fs.delete(new Path(versionDir(root, id)), true); () }
      catch { case _: Exception => () }
    }
  }
}
