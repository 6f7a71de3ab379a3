package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftext.Slices

import graft.stream.{EsBulkSink, ResponseHandler}

/** [[Slices]] on its own — exact ntile cuts of a partitioned RDD with no
  * shuffle — and the file sink's task-side write through it: a replayed
  * batch id clobbers, an empty batch leaves one empty file, the flush
  * buffer goes with the flush.
  */
class SlicesSpec extends SparkSuite {
  import spark.implicits._

  /** An RDD whose partition `p` holds exactly `layout(p)`. */
  private def laidOut(layout: Seq[Seq[Int]]) =
    spark.sparkContext.parallelize(layout.indices, layout.size)
      .mapPartitionsWithIndex((p, _) => layout(p).iterator)

  /** ntile sizes: the first `total % n` slices carry one extra row. */
  private def ntileSizes(total: Int, n: Int): Seq[Int] =
    (0 until n).map(r => total / n + (if (r < total % n) 1 else 0))

  test("ntile slices: partition order, sizes differing by at most 1, empty partitions, total < n and total = 0") {
    val layouts = Seq(
      Seq(1 to 5, Nil, 6 to 6, Nil, 7 to 13, 14 to 20), // empty partitions
      Seq(Nil, 1 to 3, Nil),                            // total < n
      Seq(Nil, Nil),                                    // total = 0
      Seq(1 to 40))                                     // one partition
    for (layout <- layouts; n <- Seq(1, 3, 4, 7); tasks <- Seq(1, 2, n)) {
      val rows = layout.flatten
      val clue = s"layout=${layout.map(_.size)} n=$n tasks=$tasks"
      val slices = Slices.ntile(laidOut(layout), layout.map(_.size.toLong).toArray, n, tasks)
      assert(slices.getNumPartitions == math.min(tasks, n), clue)
      val got = slices.mapPartitions(_.map { case (r, it) => (r, it.toVector) })
        .collect().toSeq
      assert(got.map(_._1) == (0 until n), clue)
      assert(got.flatMap(_._2) == rows, clue)
      assert(got.map(_._2.size) == ntileSizes(rows.size, n), clue)
      // a slice read only in part: the next one still starts where it should
      val heads = slices.mapPartitions(_.map { case (r, it) => (r, it.take(1).toVector) })
        .collect().toSeq
      assert(heads.map(_._2) == got.map(_._2.take(1)), clue)
    }
  }

  test("whole: one slice of every row, in partition order, from one task") {
    val layout = Seq(1 to 4, Nil, 5 to 9)
    val one = Slices.whole(laidOut(layout))
    assert(one.getNumPartitions == 1)
    assert(one.mapPartitions(_.map { case (r, it) => (r, it.toVector) }).collect().toSeq ==
      Seq((0, (1 to 9).toVector)))
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def actions(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, "index", s"d$i", "users_idx", s"""{"n":$i}"""))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")

  /** Name → lines of each data file in `dir`. */
  private def dataFiles(dir: String): Map[String, Seq[String]] =
    new java.io.File(dir).listFiles().toSeq
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try f.getName -> src.getLines().toList finally src.close()
      }.toMap

  test("replay: a second writeBatch with the same batch id leaves exactly its own files") {
    val bulk = tmp("graft-slices-replay")
    val dlq = ResponseHandler.deadLetter(tmp("graft-slices-dlq"))
    EsBulkSink.writeBatch(actions(1 to 9), 7L, bulk, dlq, 1, batchSizeLimit = 2)
    assert(dataFiles(s"$bulk/batch_7").keySet == (0 until 5).map(r => f"part-$r%05d.txt").toSet)
    EsBulkSink.writeBatch(actions(Seq(20, 21, 22)), 7L, bulk, dlq, 1, batchSizeLimit = 0)
    val files = dataFiles(s"$bulk/batch_7")
    assert(files.keySet == Set("part-00000.txt"), s"left behind: ${files.keySet}")
    assert(files("part-00000.txt").filter(_.startsWith("{\"index\"")).map(
      _.split("\"_id\":\"")(1).takeWhile(_ != '"')).sorted == Seq("d20", "d21", "d22"))
  }

  test("empty batch: one empty part-00000.txt, no OnError, no buffer left behind") {
    val before = cacheFootprint
    val errors = new java.util.concurrent.atomic.AtomicInteger(0)
    val handler = new ResponseHandler {
      override def onError(a: DataFrame, batchId: Long): Unit = errors.incrementAndGet()
    }
    for ((cr, limit) <- Seq((2, 0), (1, 10))) {
      val bulk = tmp("graft-slices-empty")
      EsBulkSink.writeBatch(actions(Nil), 3L, bulk, handler, cr, batchSizeLimit = limit)
      assert(dataFiles(s"$bulk/batch_3") == Map("part-00000.txt" -> Nil), s"cr=$cr limit=$limit")
    }
    assert(errors.get == 0)
    EsBulkSink.writeBatch(actions(1 to 30), 4L, tmp("graft-slices-flat"),
      ResponseHandler.deadLetter(tmp("graft-slices-dlq")), 3)
    assert(cacheFootprint == before, "the flush buffer is released with the flush")
  }
}
