package org.apache.spark.sql.graftext

import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Rows `[from, until)` of one parent partition. */
private final case class Piece(part: Partition, from: Long, until: Long)

/** One task's run of slices, the first numbered `first`: the pieces they
  * read in order and the rows of each slice.
  */
private final case class SliceRun(index: Int, first: Int, pieces: Array[Piece],
    sizes: Array[Long]) extends Partition

/** `prev` cut into contiguous slices without a shuffle — the reference's
  * even split of a flush batch (`slices.Chunk`, slices.go:18-39): slice
  * `r` holds the rows `[lo(r), lo(r + 1))` of `prev` in partition order,
  * where sizes differ by at most 1 and the first `total % n` slices carry
  * the extra row (SQL `ntile`; the B5 operator's buckets). `counts` are
  * `prev`'s rows per partition, known before the cut.
  *
  * Each task holds a contiguous run of whole slices (`tasks` runs over
  * `n` slices, themselves cut by the same rule) and yields them as
  * `(slice index, rows)`, rows read lazily from the parent partitions
  * its run overlaps: a narrow dependency, so `prev` must give the same
  * rows in the same order on every read (a `Scratch.persist` buffer
  * does). A
  * slice's rows iterator is valid until the next slice is taken.
  */
final class Slices[T: ClassTag] private (prev: RDD[T], runs: Array[SliceRun])
    extends RDD[(Int, Iterator[T])](prev.context, Nil) {

  override protected def getPartitions: Array[Partition] = runs.map(r => r: Partition)

  override protected def getDependencies: Seq[NarrowDependency[_]] =
    Seq(new NarrowDependency(prev) {
      override def getParents(id: Int): Seq[Int] =
        runs(id).pieces.map(_.part.index).toSeq
    })

  override def compute(split: Partition, context: TaskContext): Iterator[(Int, Iterator[T])] = {
    val run = split.asInstanceOf[SliceRun]
    val rows = run.pieces.iterator.flatMap(p =>
      Slices.window(prev.iterator(p.part, context), p.from, p.until))
    var current: Iterator[T] = Iterator.empty
    run.sizes.iterator.zipWithIndex.map { case (size, k) =>
      current.foreach(_ => ()) // the unread rest of the previous slice
      current = Slices.window(rows, 0L, size)
      (run.first + k, current)
    }
  }
}

object Slices {

  /** First row of slice `r` when `total` rows are cut into `n` (ntile). */
  private def lo(total: Long, n: Int, r: Int): Long = {
    val (q, rem) = (total / n, total % n)
    r * q + math.min(r.toLong, rem)
  }

  /** `prev`'s rows (`counts` per partition) cut into `n` slices, held by
    * `min(tasks, n)` tasks.
    */
  def ntile[T: ClassTag](prev: RDD[T], counts: Array[Long], n: Int,
      tasks: Int = Int.MaxValue): Slices[T] = {
    require(n >= 1, s"slice count must be positive, got $n")
    require(counts.length == prev.getNumPartitions,
      s"${counts.length} counts for ${prev.getNumPartitions} partitions")
    val starts = counts.scanLeft(0L)(_ + _)
    val total = starts.last
    val nTasks = math.min(math.max(tasks, 1), n)
    val parts = prev.partitions
    val runs = Array.tabulate(nTasks) { t =>
      val (s0, s1) = (lo(n, nTasks, t).toInt, lo(n, nTasks, t + 1).toInt)
      val (from, until) = (lo(total, n, s0), lo(total, n, s1))
      val pieces = counts.indices.collect {
        case p if starts(p) < until && starts(p + 1) > from && counts(p) > 0 =>
          Piece(parts(p), math.max(from - starts(p), 0L),
            math.min(until, starts(p + 1)) - starts(p))
      }.toArray
      SliceRun(t, s0, pieces, (s0 until s1).map(r => lo(total, n, r + 1) - lo(total, n, r)).toArray)
    }
    new Slices(prev, runs)
  }

  /** Every row of `prev` as one slice, read in partition order by one
    * task (a `coalesce(1)` that needs no counts).
    */
  def whole[T: ClassTag](prev: RDD[T]): Slices[T] =
    new Slices(prev, Array(SliceRun(0, 0,
      prev.partitions.map(Piece(_, 0L, Long.MaxValue)),
      Array(Long.MaxValue))))

  /** Rows `[from, until)` of `it`. */
  private def window[T](it: Iterator[T], from: Long, until: Long): Iterator[T] = {
    var skip = from
    while (skip > 0 && it.hasNext) { it.next(); skip -= 1 }
    new Iterator[T] {
      private var left = until - from
      def hasNext: Boolean = left > 0 && it.hasNext
      def next(): T = { left -= 1; it.next() }
    }
  }

  /** The one NDJSON payload writer: each task writes its slices as
    * `dir/part-<r>.txt` through Hadoop `FileSystem`, every line followed
    * by a newline, under a dot-prefixed temp name renamed into place. An
    * empty slice writes no file, except slice 0 (a batch always leaves one
    * file). The directory is cleared first, so a replayed batch or a
    * retried task clobbers its own output instead of adding to it. Runs
    * one job; returns the files written.
    */
  def writeLines(slices: Slices[UTF8String], dir: String): Long = {
    val sc = slices.context
    val fs = new Path(dir).getFileSystem(sc.hadoopConfiguration)
    fs.delete(new Path(dir), true)
    fs.mkdirs(new Path(dir))
    val conf = new SerializableConfiguration(sc.hadoopConfiguration)
    sc.runJob(slices, (ctx: TaskContext, it: Iterator[(Int, Iterator[UTF8String])]) => {
      val root = new Path(dir)
      val fs = root.getFileSystem(conf.value)
      it.count { case (r, lines) =>
        (r == 0 || lines.hasNext) && {
          val name = f"part-$r%05d.txt"
          val tmp = new Path(root, s".$name.${ctx.taskAttemptId()}.tmp")
          val out = fs.create(tmp, true)
          try lines.foreach { l => l.writeTo(out); out.write('\n') }
          finally out.close()
          val dst = new Path(root, name)
          fs.delete(dst, false) // a retried task's earlier attempt
          if (!fs.rename(tmp, dst))
            throw new java.io.IOException(s"rename $tmp -> $dst failed")
          true
        }
      }.toLong
    }).sum
  }

  /** [[writeLines]] for a payload frame's one string column, as one
    * slice: every line in partition order, written by one task.
    */
  def writeText(payload: DataFrame, dir: String): Long =
    writeLines(whole(payload.queryExecution.toRdd.map(_.getUTF8String(0).copy())), dir)
}
