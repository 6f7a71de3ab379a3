package graft

import java.nio.file.Files
import org.apache.spark.sql.SaveMode
import graft.obs.Stages
import graft.stream.DedupStream

/** Cross-batch streaming dedup: duplicates are suppressed across
  * micro-batches AND across restarts (state survives the checkpoint).
  */
class DedupStreamSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  test("streaming exact dedup: later duplicate content dropped across batches and restarts") {
    val docsDir = tmp("ds-docs")
    val outDir = tmp("ds-out")
    val ckpt = tmp("ds-ckpt")

    Seq((1L, "Hello, World!"), (2L, "unique one")).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q1 = DedupStream.run(spark, docsDir, outDir, ckpt)
    awaitDone(q1)
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
      == Set(1L, 2L))

    // batch 2 after restart: doc 3 duplicates doc 1's normalized content
    Seq((3L, "hello   world"), (4L, "another unique")).toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q2 = DedupStream.run(spark, docsDir, outDir, ckpt)
    awaitDone(q2)
    val after = spark.read.parquet(outDir).select("doc_id").as[Long].collect().toSet
    assert(after == Set(1L, 2L, 4L), s"got $after") // 3 deduped against state
  }

  test("streaming incremental dedup: batches classified against the static history index") {
    val docsDir = tmp("inc-docs")
    val outDir = tmp("inc-out")
    val ckpt = tmp("inc-ckpt")
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango " +
      "uniform victor whiskey xray yankee zulu one two three four five six " +
      "seven eight nine ten eleven twelve"
    val history = Seq((10L, base)).toDF("doc_id", "text")

    // batch 1: exact dup of history + novel doc
    Seq((100L, base), (101L, "novel content not seen in history before now " * 4))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val stagesBefore = Stages.snapshot()
    val q1 = DedupStream.runIncrementalDedup(spark, docsDir, history, outDir, ckpt)
    awaitDone(q1)
    val got1 = spark.read.parquet(s"$outDir/*")
      .select("doc_id", "is_exact_dup", "keep")
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got1(100L) == ((true, false)))
    assert(got1(101L) == ((false, true)))

    // batch 2 after restart: a near-dup of history is linked, not kept
    Seq((102L, base.replace("oscar", "oskar")))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q2 = DedupStream.runIncrementalDedup(spark, docsDir, history, outDir, ckpt)
    awaitDone(q2)
    val got2 = spark.read.parquet(s"$outDir/*")
      .select("doc_id", "near_dup_of", "keep")
      .as[(Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got2(102L) == ((Some(10L), false)), s"got $got2")
    assert(got2.keySet == Set(100L, 101L, 102L), "batch 1 rows not re-emitted")
    // one timed leg batch per run (one file each)
    assert(Stages.since(stagesBefore).get("leg.incremental-dedup-stream.batch")
      .map(_.calls) === Some(2L))
  }

  test("streaming incremental containment: incoming quote of a history doc is flagged") {
    val docsDir = tmp("ct-docs")
    val outDir = tmp("ct-out")
    val ckpt = tmp("ct-ckpt")
    val wA = (1 to 20).map(i => s"h$i").mkString(" ")  // 13 8-grams
    val wB = (1 to 40).map(i => s"h$i").mkString(" ")  // history superset of A
    val history = Seq((500L, wB)).toDF("doc_id", "text")

    // batch 1: doc 1 is wA (fully contained in history 500), doc 2 novel
    Seq((1L, wA), (2L, "entirely novel words qq ww ee rr tt yy uu ii oo pp aa ss"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q1 = DedupStream.runIncrementalContainment(spark, docsDir, history, outDir, ckpt)
    awaitDone(q1)
    val got1 = spark.read.parquet(s"$outDir/*")
      .select("doc_a", "doc_b", "n_a", "n_eligible", "n_capped", "shared", "containment")
      .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got1.keySet == Set((1L, 500L)), s"got $got1")
    assert(got1((1L, 500L)) == ((13L, 13L, 0L, 13L, 1.0)))

    // batch 2 after restart: a partial quote (half A's grams) stays below
    // threshold; replays of batch 1 are not duplicated
    Seq((3L, (1 to 12).map(i => s"h$i").mkString(" ") + " zz xx cc vv bb nn mm"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q2 = DedupStream.runIncrementalContainment(spark, docsDir, history, outDir, ckpt)
    awaitDone(q2)
    val got2 = spark.read.parquet(s"$outDir/*")
      .select("doc_a").as[Long].collect()
    assert(got2.count(_ == 1L) == 1, "batch-1 pair must not re-emit on restart")
    // doc 3: 19 tokens → 12 grams, 5 match history (h1..h12 window) → 0.42 < 0.5
    assert(!got2.contains(3L), s"partial quote below threshold must not flag: ${got2.toSeq}")
  }

  test("streaming incremental winnow: sub-document overlap vs history, cache freed") {
    val docsDir = tmp("win-docs")
    val outDir = tmp("win-out")
    val ckpt = tmp("win-ckpt")
    val run = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val history = Seq((10L, run + " kilo lima mike november oscar papa"))
      .toDF("doc_id", "text")
    val baseline = spark.sparkContext.getPersistentRDDs.size

    // batch 1: a heavy partial copy of history doc 10 (the first 10 of
    // its 16 tokens) + an unrelated doc
    Seq((100L, run + " one two three"), (101L, "zero overlap with anything in the standing corpus here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q1 = DedupStream.runIncrementalWinnow(spark, docsDir, history, outDir, ckpt)
    awaitDone(q1)
    val got = spark.read.parquet(s"$outDir/*")
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == Set((100L, 10L)), s"got $got")

    // both static caches freed on termination, none accumulated per batch
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > baseline &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "winnow history caches must be freed on query termination")
  }

  test("streaming incremental semantic dedup: per-batch classification, no cache accumulation") {
    val embDir = tmp("sem-emb")
    val outDir = tmp("sem-out")
    val ckpt = tmp("sem-ckpt")
    // 2-dim plant with 2 centroids: cluster assignment and cosine are
    // hand-checkable. History covers both clusters.
    val cents = Seq(IndexedSeq(1.0, 0.0), IndexedSeq(0.0, 1.0))
    val history = Seq((10L, Array(1.0f, 0.05f)), (11L, Array(0.0f, 0.9f)))
      .toDF("vec_id", "embedding")
    val baseline = spark.sparkContext.getPersistentRDDs.size

    // two files → two micro-batches in ONE query run:
    // 100 ≈ history 10 (cluster 0, cos ≈ 1 → dup);
    // 102 lands in cluster 0 but cos vs 10 ≈ 0.25 < 0.4 → keep
    Seq((100L, Array(0.95f, 0.0f)), (102L, Array(0.3f, -0.95f)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode(SaveMode.Append).parquet(embDir)
    // 101 ≈ history 11 (cluster 1 → dup)
    Seq((101L, Array(0.05f, 1.0f))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode(SaveMode.Append).parquet(embDir)
    val q1 = DedupStream.runIncrementalSemanticDedup(
      spark, embDir, history, outDir, ckpt, cents)
    awaitDone(q1)
    val got = spark.read.parquet(s"$outDir/*")
      .select("vec_id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      100L -> ((0L, false)), 102L -> ((0L, true)), 101L -> ((1L, false))),
      s"got $got")

    // the history cache is ONE entry for the whole query (not one per
    // micro-batch — the r4 leak pattern) and is freed on termination
    val deadline = System.nanoTime() + 10e9.toLong
    while (spark.sparkContext.getPersistentRDDs.size > baseline &&
      System.nanoTime() < deadline) Thread.sleep(100)
    assert(spark.sparkContext.getPersistentRDDs.size == baseline,
      "history cache must be freed on query termination, with no per-batch entries left behind")

    // restart: stateless classification still works off the checkpoint
    Seq((103L, Array(0.9f, 0.1f))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode(SaveMode.Append).parquet(embDir)
    val q2 = DedupStream.runIncrementalSemanticDedup(
      spark, embDir, history, outDir, ckpt, cents)
    awaitDone(q2)
    val after = spark.read.parquet(s"$outDir/*")
      .select("vec_id").as[Long].collect().toSet
    assert(after == Set(100L, 101L, 102L, 103L), s"got $after")
  }

  test("streaming decontamination: stream-static broadcast join flags leaked docs") {
    val docsDir = tmp("dc-docs")
    val outDir = tmp("dc-out")
    val ckpt = tmp("dc-ckpt")

    val benchText = "alpha beta gamma delta epsilon zeta eta"
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")

    // batch 1: one leaked doc (shares the 5-gram window), one clean doc
    Seq((1L, s"intro words then alpha beta gamma delta epsilon closing"),
        (2L, "completely unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q1 = DedupStream.runDecontaminate(spark, docsDir, bench, outDir, ckpt)
    awaitDone(q1)
    val got1 = spark.read.parquet(s"$outDir/*")
      .select("doc_id", "n_hits").as[(Long, Long)].collect().toMap
    assert(got1 == Map(1L -> 1L), s"only the leaked doc is flagged: $got1")

    // batch 2 after restart: stateless — a new leak is still caught, the
    // old one is not re-emitted
    Seq((3L, s"another leak $benchText end"), (4L, "still clean text here ok"))
      .toDF("doc_id", "text")
      .coalesce(1).write.mode(SaveMode.Append).parquet(docsDir)
    val q2 = DedupStream.runDecontaminate(spark, docsDir, bench, outDir, ckpt)
    awaitDone(q2)
    val got2 = spark.read.parquet(s"$outDir/*")
      .select("doc_id").as[Long].collect().toSet
    assert(got2 == Set(1L, 3L), s"got $got2")
  }

  test("incremental image dhash: incoming near-dup PNG pairs with history, junk and distinct do not") {
    import org.apache.spark.sql.SaveMode
    def gradPng(invert: Boolean, bump: Boolean): Array[Byte] = {
      val w = 64; val h = 64
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until w).foreach { x =>
        val g0 = (x * 3) & 0xff
        val g = if (invert) 255 - g0 else g0
        (0 until h).foreach(y => img.setRGB(x, y, (g << 16) | (g << 8) | g))
      }
      if (bump) img.setRGB(28, 0, 0xffffff)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val imagesDir = tmp("imgdh-in")
    val outDir = tmp("imgdh-out")
    val ckpt = tmp("imgdh-ckpt")
    val history = Seq(
      (100L, gradPng(invert = false, bump = false)),
      (101L, gradPng(invert = true, bump = false))
    ).toDF("doc_id", "payload")
    // batch 1: a near-dup of history 100, plus junk (quarantined)
    Seq((1L, gradPng(invert = false, bump = true)),
      (2L, "not an image".getBytes("UTF-8")))
      .toDF("doc_id", "payload").coalesce(1)
      .write.mode(SaveMode.Append).parquet(imagesDir)
    // batch 2: an exact copy of history 101
    Seq((3L, gradPng(invert = true, bump = false)))
      .toDF("doc_id", "payload").coalesce(1)
      .write.mode(SaveMode.Append).parquet(imagesDir)
    awaitDone(graft.stream.DedupStream.runIncrementalImageDhash(
      spark, imagesDir, history, outDir, ckpt))
    val pairs = spark.read.parquet(s"$outDir/batch_*")
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 100L), (3L, 101L)),
      s"got $pairs")
    pairs.foreach { case (_, _, hm) =>
      assert(hm <= graft.ops.DedupOps.MaxHamming)
    }
    assert(pairs.find(_._1 == 3L).get._3 == 0L, "exact copy → hamming 0")
  }

  test("incremental audio fp: incoming near-dup WAV pairs with history, junk and different signal do not") {
    import org.apache.spark.sql.SaveMode
    import WavGen.{square, wavBytes}
    val audioDir = tmp("audfp-in")
    val outDir = tmp("audfp-out")
    val ckpt = tmp("audfp-ckpt")
    val history = Seq(
      (100L, wavBytes(square(50, 20000, 8000))),
      (101L, wavBytes(square(12, 16000, 8000)))
    ).toDF("doc_id", "payload")
    // batch 1: an amplitude-scaled copy of history 100 (exact-sign
    // invariance → hamming 0), plus junk (quarantined)
    Seq((1L, wavBytes(square(50, 18000, 8000))),
      (2L, "not audio".getBytes("UTF-8")))
      .toDF("doc_id", "payload").coalesce(1)
      .write.mode(SaveMode.Append).parquet(audioDir)
    // batch 2: a different signal — pairs with nothing
    Seq((3L, wavBytes(square(6, 20000, 8000))))
      .toDF("doc_id", "payload").coalesce(1)
      .write.mode(SaveMode.Append).parquet(audioDir)
    awaitDone(graft.stream.DedupStream.runIncrementalAudioFp(
      spark, audioDir, history, outDir, ckpt))
    val pairs = spark.read.parquet(s"$outDir/batch_*")
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 100L, 0L)), s"got $pairs")
  }

  test("incremental video vote: incoming re-encoded copy pairs with history by frame vote; inverted footage and junk do not") {
    import org.apache.spark.sql.SaveMode
    def avi(invert: Boolean, quality: Float): Array[Byte] =
      AviGen.aviBytes((0 until 6).map { i =>
        val w = 64; val h = 64
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        (0 until w).foreach { x =>
          val g0 = (x * (3 + i)) & 0xff
          val g = if (invert) 255 - g0 else g0
          (0 until h).foreach(y => img.setRGB(x, y, (g << 16) | (g << 8) | g))
        }
        AviGen.jpegFrame(img, quality)
      }, 64, 64)
    val videosDir = tmp("vidvote-in")
    val outDir = tmp("vidvote-out")
    val ckpt = tmp("vidvote-ckpt")
    val history = Seq((100L, avi(invert = false, quality = 0.9f)))
      .toDF("doc_id", "payload")
    // batch 1: a re-encoded copy of history 100, plus junk
    Seq((1L, avi(invert = false, quality = 0.6f)),
      (2L, "not a video".getBytes("UTF-8")))
      .toDF("doc_id", "payload").coalesce(1)
      .write.mode(SaveMode.Append).parquet(videosDir)
    // batch 2: inverted footage — no vote
    Seq((3L, avi(invert = true, quality = 0.9f)))
      .toDF("doc_id", "payload").coalesce(1)
      .write.mode(SaveMode.Append).parquet(videosDir)
    awaitDone(graft.stream.DedupStream.runIncrementalVideoVote(
      spark, videosDir, history, outDir, ckpt))
    val pairs = spark.read.parquet(s"$outDir/batch_*")
      .select("doc_a", "doc_b", "n_matched", "min_frames")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((1L, 100L)), s"got $pairs")
    val p = pairs.head
    assert(p._3 * graft.ops.VideoOps.MinFrameVote >= p._4)
  }
}
