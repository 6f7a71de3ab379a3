package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming exact dedup for continuous corpus ingestion: documents arrive
  * as files of (doc_id, text); the first occurrence of each normalized
  * content hash passes, later duplicates are dropped ACROSS micro-batches
  * (unlike the CDC pipeline's per-batch LWW dedup, this keeps state).
  *
  * Spark-native state: `dropDuplicates` on the content hash inside
  * Structured Streaming keeps one state-store entry per distinct hash —
  * O(distinct content) state, checkpointed, exactly the semantics of a
  * dedup index in front of a training-data lake. With an event-time
  * column and `withWatermark` + `dropDuplicatesWithinWatermark`, state
  * becomes bounded for time-windowed dedup; corpus dedup wants the
  * unbounded variant (a duplicate a month later is still a duplicate),
  * so state grows with distinct content — at 100 TB that's the RocksDB
  * state-store backend, sized by hash+key only (32 B/doc), not text.
  */
object DedupStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)
  ))

  /** Normalized content hash (same normalization as DedupOps.dedupExact). */
  private def contentHash: org.apache.spark.sql.Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " ")))

  def run(spark: SparkSession, docsDir: String, outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.files(spark, docSchema, docsDir)
      .withColumn("content_hash", contentHash)
      .dropDuplicates("content_hash")
      .writeStream
      .queryName(s"graft-dedup-stream-${QueryNames.suffix(checkpointDir)}")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .option("path", outDir)
      .trigger(trigger)
      .format("parquet")
      .start()

  /** Streaming incremental dedup: each arriving micro-batch of documents
    * is deduped against a STATIC historical corpus via
    * [[graft.ops.DedupOps.dedupAgainstIndex]] (exact-hash membership +
    * cross-set MinHash/LSH) inside foreachBatch — the streaming face of
    * the daily-crawl-vs-index shape. Stateless by design: the "state" is
    * the historical index itself (at scale, the persisted signature
    * table), not a state store; batches never dedupe against each other
    * here (compose with [[run]]'s cross-batch exact dedup upstream for
    * that). Emits one classified row per incoming doc.
    *
    * Run this with the history-side CACHE (the default — one cache entry,
    * reused every batch), not `spark.graft.dedup.checkpointDir`: the
    * parquet-checkpoint mode writes a fresh UUID-suffixed copy of the
    * history signature table per invocation (a per-batch disk write in a
    * stream). At scale the right shape is pre-computing the history
    * signature table ONCE (e.g. bucketed via [[graft.ops.BucketedLayout]])
    * and passing a frame that reads it.
    */
  def runIncrementalDedup(spark: SparkSession, docsDir: String,
      historyDocs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, docSchema, docsDir), "incremental-dedup-stream",
        checkpointDir, trigger) { (batch, batchId) =>
      // cacheIncoming=false: a per-batch cache entry would accumulate
      // for the life of the query (each batch is a fresh plan); the
      // history side still caches once (same plan every batch).
      // Per-batch dir + overwrite, NOT blind append to outDir: a
      // replayed micro-batch (crash between sink write and checkpoint
      // commit) must clobber its own partial output, not duplicate
      // every row of the batch — the same at-least-once idempotence
      // contract as EsBulkSink.writeBatch
      graft.ops.DedupOps.dedupAgainstIndex(batch, historyDocs,
          cacheIncoming = false)
        .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
    }

  /** Streaming decontamination: continuously-arriving documents are
    * checked against a STATIC benchmark corpus via a stream-static
    * broadcast join on [[graft.ops.PretrainOps.DecontamGram]]-word gram
    * hashes. The static side is the tiny benchmark gram set (eval suites
    * don't grow with the corpus), so each micro-batch is one narrow
    * gram-explode + broadcast hash join + per-doc agg — stateless, which
    * is the point: contamination is a property of the doc against a fixed
    * set, so no state store is involved and throughput is scan-bound.
    *
    * Emits one row per CONTAMINATED incoming doc (doc_id, n_grams,
    * n_hits, contamination); clean docs pass the filter silently (the
    * caller keeps them — this stream is the audit side).
    */
  def runDecontaminate(spark: SparkSession, docsDir: String,
      benchmarkDocs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.PretrainOps
    import org.apache.spark.sql.graftext.ArrayFunctions.{sorted_distinct, word_shingle_hashes}
    import graft.ops.TextOps.tokens
    Scratch.forQuery(spark) {
      // cached: the closure re-evaluates benchGrams per micro-batch — without
      // the cache every tick re-runs the full benchmark scan + gram sketch +
      // distinct shuffle for a STATIC side (runIncrementalDedup's history
      // cache is the same pattern); the broadcast build itself is per-batch
      // (Spark broadcasts are per-plan), but it reads the cached rows
      val benchGramsCached = Scratch.cache(benchmarkDocs
        .select(explode_outer(sorted_distinct(
          word_shingle_hashes(tokens(col("text")), PretrainOps.DecontamGram))).as("g"))
        .filter(col("g").isNotNull)
        .distinct())
      val benchGrams = broadcast(benchGramsCached)
      val incoming = Leg.files(spark, docSchema, docsDir)
        .select(col("doc_id"),
          sorted_distinct(word_shingle_hashes(tokens(col("text")),
            PretrainOps.DecontamGram)).as("gs"))
        // outer + null filter (vs inferred size(gs)>0 pushdown re-computing
        // the gram sketch at the scan — see DedupOps.minhashSignature)
        .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
          explode_outer(col("gs")).as("g"))
        .filter(col("g").isNotNull)
      // join + per-doc agg run INSIDE the micro-batch: a doc's grams all
      // arrive in one batch (file granularity), so a streaming groupBy
      // would only add a state store keyed by every doc ever seen —
      // stateless foreachBatch keeps the query scan-bound
      Leg.start(incoming, "decontaminate-stream",
          checkpointDir, trigger) { (batch, batchId) =>
        batch.join(benchGrams, "g")
          .groupBy("doc_id", "n_grams")
          .agg(count(lit(1)).as("n_hits"))
          .select(col("doc_id"), col("n_grams"), col("n_hits"),
            (col("n_hits").cast("double") / col("n_grams")).as("contamination"))
          // per-batch dir + overwrite: replay-idempotent (see
          // runIncrementalDedup)
          .write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    }
  }

  /** Streaming incremental CONTAINMENT: each arriving micro-batch is
    * checked for doc-inside-doc duplication against a STATIC history
    * corpus — the streaming face of
    * [[graft.ops.DedupOps.dedupContainment]] and the third leg of the
    * daily-crawl-vs-index family (exact/MinHash membership:
    * [[runIncrementalDedup]]; benchmark overlap: [[runDecontaminate]];
    * this: "is today's doc mostly a quote of something we already
    * have?"). Incoming×history only, never history×history.
    *
    * The history gram inverted index is built ONCE (cached for the
    * query's lifetime, freed on termination): grams with history-df ≤
    * [[graft.ops.DedupOps.ContainFreqCap]] keyed to their history docs,
    * plus the small over-cap stop-gram set. Per batch: one narrow gram
    * explode on the incoming side, one equi-join against the capped
    * index (fan-out ≤ cap per gram BY CONSTRUCTION — the incoming side
    * contributes one row per (doc, gram)), a stop-gram join for
    * `n_capped` visibility, one (doc_a, doc_b) agg. Emits rows where ≥
    * [[graft.ops.DedupOps.ContainThreshold]] of the incoming doc's
    * eligible grams occur in that history doc. Stateless; per-batch
    * overwrite dirs keep replays idempotent.
    */
  def runIncrementalContainment(spark: SparkSession, docsDir: String,
      historyDocs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.{DedupOps, PretrainOps}
    Scratch.forQuery(spark) {
      val histG = historyDocs
        .select(col("doc_id").as("doc_b"),
          PretrainOps.decontamGrams(DedupOps.ContainGramWords).as("gs"))
        .select(col("doc_b"), explode_outer(col("gs")).as("g"))
        .filter(col("g").isNotNull)
      val hdf = histG.groupBy("g").agg(count(lit(1)).as("df"))
      // two cached statics, reused every batch: the capped inverted index
      // and the over-cap stop-gram set (tiny — boilerplate grams only)
      val histIdx = Scratch.cache(histG.join(
        hdf.filter(col("df") <= DedupOps.ContainFreqCap).select("g"), "g"))
      val stopGrams = Scratch.cache(hdf.filter(col("df") > DedupOps.ContainFreqCap)
        .select("g"))
      val incoming = Leg.files(spark, docSchema, docsDir)
        .select(col("doc_id").as("doc_a"),
          PretrainOps.decontamGrams(DedupOps.ContainGramWords).as("gs"))
        .select(col("doc_a"), size(col("gs")).cast("long").as("n_a"),
          explode_outer(col("gs")).as("g"))
        .filter(col("g").isNotNull)
      Leg.start(incoming, "containment-stream",
          checkpointDir, trigger) { (batch, batchId) =>
        val capped = batch.join(stopGrams, "g")
          .groupBy("doc_a").agg(count(lit(1)).as("n_capped"))
        val out = batch.join(histIdx, "g")
          .groupBy("doc_a", "n_a", "doc_b")
          .agg(count(lit(1)).as("shared"))
          .join(capped, Seq("doc_a"), "left")
          .withColumn("n_capped", coalesce(col("n_capped"), lit(0L)))
          .withColumn("n_eligible", col("n_a") - col("n_capped"))
          .filter(col("shared").cast("double") / col("n_eligible")
            >= DedupOps.ContainThreshold)
          .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_eligible"),
            col("n_capped"), col("shared"),
            (col("shared").cast("double") / col("n_eligible")).as("containment"))
        // per-batch dir + overwrite: replay-idempotent (see
        // runIncrementalDedup)
        out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    }
  }

  /** Streaming incremental WINNOW dedup — the position-local overlap leg
    * of the daily-crawl-vs-history family: is today's doc a partial
    * copy/quotation of something in the standing corpus, at
    * sub-document granularity? Incoming micro-batches are fingerprinted
    * in-row ([[graft.ops.DedupOps.winnowFingerprints]] — narrow map)
    * and joined against the history's df-capped fingerprint inverted
    * index, built ONCE and cached for the query lifetime (freed on
    * termination). Same accounting as the batch
    * [[graft.ops.DedupOps.dedupWinnow]]: over-cap boilerplate
    * fingerprints are CUT but counted per incoming doc (`n_capped`),
    * and the pair score divides by eligible counts on both sides.
    * Incoming×history only; emits pairs at ≥
    * [[graft.ops.DedupOps.WinnowThreshold]]; per-batch overwrite dirs
    * keep replays idempotent.
    */
  def runIncrementalWinnow(spark: SparkSession, docsDir: String,
      historyDocs: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.DedupOps
    Scratch.forQuery(spark) {
      val histF = historyDocs
        .select(col("doc_id").as("doc_b"),
          DedupOps.winnowFingerprints(col("text")).as("fps"))
        .select(col("doc_b"), size(col("fps")).cast("long").as("n_b"),
          explode_outer(col("fps")).as("fp"))
        .filter(col("fp").isNotNull)
      val hdf = histF.groupBy("fp").agg(count(lit(1)).as("df"))
      // two cached statics, reused every batch (the containment pattern):
      // the capped inverted index — fingerprints with history-df ≤ cap,
      // each row carrying its history doc's ELIGIBLE count (n_b minus its
      // own over-cap fingerprints, mirroring batch dedupWinnow's
      // denominators) — and the over-cap stop set for incoming-side
      // n_capped accounting
      val histElig = histF.join(hdf, "fp")
        .groupBy("doc_b", "n_b")
        .agg(sum(when(col("df") > DedupOps.WinnowFreqCap, lit(1L))
          .otherwise(lit(0L))).as("capped_b"))
        .select(col("doc_b"), (col("n_b") - col("capped_b")).as("elig_b"))
      val histIdx = Scratch.cache(histF
        .join(hdf.filter(col("df") <= DedupOps.WinnowFreqCap).select("fp"), "fp")
        .join(histElig, "doc_b")
        .select("fp", "doc_b", "elig_b"))
      val stopFps = Scratch.cache(hdf.filter(col("df") > DedupOps.WinnowFreqCap)
        .select("fp"))
      val incoming = Leg.files(spark, docSchema, docsDir)
        .select(col("doc_id").as("doc_a"),
          DedupOps.winnowFingerprints(col("text")).as("fps"))
        .select(col("doc_a"), size(col("fps")).cast("long").as("n_a"),
          explode_outer(col("fps")).as("fp"))
        .filter(col("fp").isNotNull)
      Leg.start(incoming, "winnow-stream",
          checkpointDir, trigger) { (batch, batchId) =>
        val capped = batch.join(stopFps, "fp")
          .groupBy("doc_a").agg(count(lit(1)).as("n_capped"))
        val out = batch.join(histIdx, "fp")
          .groupBy("doc_a", "n_a", "doc_b", "elig_b")
          .agg(count(lit(1)).as("shared"))
          .join(capped, Seq("doc_a"), "left")
          .withColumn("n_capped", coalesce(col("n_capped"), lit(0L)))
          .withColumn("elig_a", col("n_a") - col("n_capped"))
          .withColumn("jaccard", col("shared").cast("double") /
            (col("elig_a") + col("elig_b") - col("shared")))
          .filter(col("jaccard") >= DedupOps.WinnowThreshold)
          .select(col("doc_a"), col("doc_b"), col("elig_a"), col("elig_b"),
            col("n_capped"), col("shared"), col("jaccard"))
        // per-batch dir + overwrite: replay-idempotent (see
        // runIncrementalDedup)
        out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    }
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))
  ))

  /** Streaming incremental SEMANTIC dedup — the embedding leg of the
    * daily-crawl-vs-index family (exact/MinHash membership:
    * [[runIncrementalDedup]]; benchmark grams: [[runDecontaminate]];
    * containment: [[runIncrementalContainment]]; this: "does today's
    * crawl EMBED like something we already have?"). Each arriving
    * micro-batch of (vec_id, embedding) rows is classified against a
    * STATIC history corpus with
    * [[graft.ops.DedupOps.dedupSemantic]]'s assignment semantics: the
    * learned clustering is the blocking key, and an incoming vector is
    * a near-dup iff some HISTORY vector in its assigned cluster reaches
    * cosine ≥ [[graft.ops.DedupOps.SemanticDupThreshold]].
    *
    * Stream-static shape: the history side — cluster-assigned, normed —
    * is computed ONCE and cached for the query's lifetime
    * ([[Scratch.forQuery]]). Per batch: a narrow in-row centroid
    * argmax on the incoming side (centroid literals inline into the
    * expression — k×D doubles, broadcast-scale), one equi-join on
    * `cluster_id` against the cached history (incoming×history only,
    * never history×history), a cosine filter, one per-vector agg.
    * Stateless; per-batch overwrite dirs keep replays idempotent.
    * Emits one row per incoming vector:
    * (vec_id, cluster_id, keep, n_dups, max_sim).
    */
  def runIncrementalSemanticDedup(spark: SparkSession, embDir: String,
      historyEmb: DataFrame, outDir: String, checkpointDir: String,
      centroids: Seq[IndexedSeq[Double]] = graft.ops.SimilarityOps.defaultCentroids,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.{DedupOps, SimilarityOps}
    def assigned(df: DataFrame): DataFrame = {
      val embD = transform(col("embedding"), x => x.cast("double"))
      val dots = array(centroids.map(c =>
        SimilarityOps.dot(array(c.map(lit): _*), col("emb_d"))): _*)
      df.select(col("vec_id"), embD.as("emb_d"))
        .withColumn("norm", sqrt(SimilarityOps.dot(col("emb_d"), col("emb_d"))))
        .withColumn("cluster_id",
          (array_position(dots, array_max(dots)) - 1).cast("long"))
    }
    Scratch.forQuery(spark) {
      val hist = Scratch.cache(assigned(historyEmb)
        .select(col("cluster_id"), col("vec_id").as("vec_b"),
          col("emb_d").as("eb"), col("norm").as("nb")))
      Leg.start(Leg.files(spark, embSchema, embDir),
          "semantic-dedup-stream", checkpointDir, trigger) { (batch, batchId) =>
        val in = assigned(batch)
        val sims = in.join(hist, Seq("cluster_id"))
          .select(col("vec_id"), col("cluster_id"),
            SimilarityOps.cosine(col("emb_d"), col("norm"),
              col("eb"), col("nb")).as("sim"))
          .filter(col("sim") >= DedupOps.SemanticDupThreshold)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_dups"), max(col("sim")).as("max_sim"))
        val out = in.select(col("vec_id"), col("cluster_id"))
          .join(sims, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cluster_id"),
            col("n_dups").isNull.as("keep"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"), col("max_sim"))
        // per-batch dir + overwrite: replay-idempotent (see
        // runIncrementalDedup)
        out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    }
  }

  /** Binary-payload stream schema shared by the perceptual-hash legs. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", org.apache.spark.sql.types.BinaryType)))

  /** The ONE streaming incremental Hamming-dedup core behind every
    * perceptual-hash modality — the daily-crawl-vs-history question "is
    * today's item a near-duplicate of one already in the standing
    * corpus?", asked of any 64-bit signature: incoming micro-batches of
    * (doc_id, payload) are fingerprinted per partition by `sigFn`
    * (real decode, quarantine rows excluded) and joined against the
    * HISTORY's banded signature index, built ONCE (the
    * [[graft.ops.DedupOps.hammingBandPairs]] pigeonhole: hamming ≤
    * maxHamming < bands forces agreement on ≥ 1 band), cached for the
    * query lifetime, freed on termination. Incoming×history only,
    * never history×history; per-batch overwrite dirs keep replays
    * idempotent. Emits (doc_a=incoming, doc_b=history, hamming).
    */
  private def runIncrementalHamming(spark: SparkSession, inDir: String,
      sigFn: DataFrame => DataFrame, sigCol: String, bands: Int,
      bandBits: Int, historySig: DataFrame, outDir: String,
      checkpointDir: String, trigger: Trigger,
      nameTag: String): StreamingQuery = {
    import graft.ops.DedupOps
    // the shared banding INCLUDING the per-bucket cap — each side capped
    // independently (history at index build, incoming per batch), the
    // streaming analog of the batch op's cap on the unified table; an
    // uncapped hot bucket would make every batch's join quadratic in it
    def banded(sig: DataFrame): DataFrame =
      DedupOps.bandedSignatures(sig, sigCol, bands, bandBits,
        DedupOps.BandBucketCap)
    Scratch.forQuery(spark) {
      val histIdx = Scratch.cache(banded(historySig)
        .select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
          col("band_idx"), col("band_val")))
      val incoming = Leg.files(spark, payloadSchema, inDir)
        .transform(sigFn)
      Leg.start(incoming, s"$nameTag-stream",
          checkpointDir, trigger) { (batch, batchId) =>
        val out = banded(batch)
          .select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
            col("band_idx"), col("band_val"))
          .join(histIdx, Seq("band_idx", "band_val"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b")))
              .cast("long").as("hamming"))
          .filter(col("hamming") <= DedupOps.MaxHamming)
          .distinct()
        out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    }
  }

  /** Streaming incremental IMAGE dedup: [[runIncrementalHamming]] over
    * real dHash signatures ([[graft.ops.BinaryOps.dhashImage]] — JDK
    * decode, quarantine rows excluded).
    */
  def runIncrementalImageDhash(spark: SparkSession, imagesDir: String,
      historyImages: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.BinaryOps
    def sigs(df: DataFrame) =
      BinaryOps.imageDhash(spark, df).filter(col("decoded"))
        .select(col("doc_id"), col("dhash"))
    runIncrementalHamming(spark, imagesDir, sigs, "dhash",
      BinaryOps.DhashBands, BinaryOps.DhashBandBits, sigs(historyImages),
      outDir, checkpointDir, trigger, "image-dhash")
  }

  /** Streaming incremental AUDIO dedup: the same core over real
    * Haar-cascade fingerprints ([[graft.ops.AudioOps.fingerprintWav]] —
    * RIFF/WAVE parse, quarantine rows excluded). A third modality costs
    * one wrapper, no new join or state code.
    */
  def runIncrementalAudioFp(spark: SparkSession, audioDir: String,
      historyAudio: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.AudioOps
    def sigs(df: DataFrame) =
      AudioOps.audioFingerprint(spark, df).filter(col("decoded"))
        .select(col("doc_id"), col("afp"))
    runIncrementalHamming(spark, audioDir, sigs, "afp",
      AudioOps.AfpBands, AudioOps.AfpBandBits, sigs(historyAudio),
      outDir, checkpointDir, trigger, "audio-fp")
  }

  /** Streaming incremental VIDEO dedup — the frame-vote modality
    * (videos pair through SETS of near-identical frames, not one
    * signature, so it composes the banded join with a per-pair vote
    * instead of riding [[runIncrementalHamming]]): the history's frame
    * hashes ([[graft.ops.VideoOps.videoFrameHashes]] — real RIFF/AVI
    * MJPEG parse) are banded and cached ONCE with their per-video frame
    * counts; each incoming micro-batch's frames join incoming×history
    * on the band key, and a (doc_a, doc_b) vote keeps pairs with
    * [[graft.ops.VideoOps.MinFrameVote]]·matched ≥ min(frames). Emits
    * (doc_a=incoming, doc_b=history, n_matched, min_frames).
    */
  def runIncrementalVideoVote(spark: SparkSession, videosDir: String,
      historyVideos: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.ops.{BinaryOps, DedupOps, VideoOps}
    def frames(df: DataFrame): DataFrame =
      VideoOps.videoFrameHashes(spark, df).filter(col("decoded"))
        .select(col("doc_id"), col("frame_idx"), col("dhash"))
    // shared banding WITH the per-bucket cap (see runIncrementalHamming)
    def banded(fr: DataFrame): DataFrame =
      DedupOps.bandedSignatures(fr, "dhash", BinaryOps.DhashBands,
        BinaryOps.DhashBandBits, DedupOps.BandBucketCap,
        extraCols = Seq("frame_idx"))
    Scratch.forQuery(spark) {
      val histFrames = frames(historyVideos)
      val histIdx = Scratch.cache(banded(histFrames)
        .select(col("doc_id").as("doc_b"), col("sig").as("dhash_b"),
          col("band_idx"), col("band_val")))
      val histCounts = Scratch.cache(histFrames.groupBy(col("doc_id").as("doc_b"))
        .agg(count(lit(1)).as("nf_b")))
      val incoming = Leg.files(spark, payloadSchema, videosDir)
        .transform(frames)
      Leg.start(incoming, "video-vote-stream",
          checkpointDir, trigger) { (batch, batchId) =>
        val incCounts = batch.groupBy(col("doc_id").as("doc_a"))
          .agg(count(lit(1)).as("nf_a"))
        val out = banded(batch)
          .select(col("doc_id").as("doc_a"), col("frame_idx").as("frame_a"),
            col("sig").as("dhash_a"), col("band_idx"), col("band_val"))
          .join(histIdx, Seq("band_idx", "band_val"))
          .filter(bit_count(col("dhash_a").bitwiseXOR(col("dhash_b")))
            <= DedupOps.MaxHamming)
          .select(col("doc_a"), col("doc_b"), col("frame_a"))
          .distinct()
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_matched"))
          .join(incCounts, "doc_a")
          .join(histCounts, "doc_b")
          .select(col("doc_a"), col("doc_b"), col("n_matched"),
            least(col("nf_a"), col("nf_b")).as("min_frames"))
          .filter(col("n_matched") * VideoOps.MinFrameVote >= col("min_frames"))
        out.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
      }
    }
  }
}
