package graft.stream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.SimilarityOps

/** Streaming k-NN GRAPH maintenance — the graph-ANN serving artifact
  * ([[SimilarityOps.writeKnnGraphIndex]]) kept current under a daily
  * embedding crawl, closing the gap [[IndexStream]] leaves: IVF/IVFPQ
  * lists are append-only (a new vector only ADDS rows to its list), but
  * graph edges are not — a vector entering a cluster can displace the
  * top-k neighbors of every EXISTING vector in that cluster. So the
  * stream maintains two stores under `outDir`:
  *
  *   - `vectors/batch_id=<id>/cluster_id=<c>/`: the assigned embedding
  *     rows (vec_id, emb_d, norm), append-only — per-batch dirs written
  *     with overwrite are replay-idempotent, Hive-style naming keeps one
  *     plain parquet read over the whole store with both columns
  *     restored, and the cluster partition level means a touched-cluster
  *     re-read PRUNES to the touched directories instead of scanning
  *     the corpus.
  *   - `edges/cluster_id=<c>/`: the serving edge list, partitioned by
  *     cluster. Each batch recomputes edges ONLY for clusters its
  *     vectors touch — through the batch build's own kernel
  *     ([[SimilarityOps.knnEdgesWithinClusters]]), from the FULL v2
  *     membership of those clusters — and replaces exactly those
  *     partitions via dynamic partition overwrite. Untouched clusters'
  *     files are never rewritten. A replayed batch recomputes the same
  *     partitions to the same content: replay-idempotent.
  *
  * Equivalence contract (spec-pinned, across restarts): after any prefix
  * of the feed, `edges/` is IDENTICAL to batch
  * [[SimilarityOps.knnGraph]] over all ingested vectors with the same
  * frozen centroids — per-cluster recompute is exact, not approximate,
  * because the batch graph's candidate set is itself within-cluster
  * (nProbe=1 semantics). [[SimilarityOps.annGraphSearchIndexed]] serves
  * from `edges/` unchanged.
  *
  * The centroids FREEZE at stream start ([[IndexStream]]'s quantizer
  * rationale: lists/edges are defined by their quantizer; retraining —
  * including re-deriving the granularity-∝-N count as the corpus grows
  * past its sizing band — is a scheduled batch rebuild into a NEW
  * directory, never an in-place mutation under live readers). Size the
  * frozen count for the corpus the stream is expected to reach
  * ([[SimilarityOps.knnAutoCentroidCount]] of the target N, not of the
  * first batch).
  *
  * Cost ∝ churn: per batch, assignment is batch-sized; the edge
  * recompute reads touched clusters only (partition-pruned) and its
  * pair space is Σ|touched cluster|² — with granularity ∝ N that is
  * ~|touched| · targetClusterSize, independent of corpus size.
  */
object GraphStream {

  /** Driver-literal bound for the touched-cluster pushdown filter;
    * bigger touch sets join instead (the keySide discipline —
    * giant literal sets cost driver time under AQE re-canonicalization).
    */
  val TouchedClusterLiteralMax = 8192

  def run(spark: SparkSession, embDir: String, outDir: String,
      checkpointDir: String,
      centroids: Seq[IndexedSeq[Double]] = SimilarityOps.defaultCentroids,
      k: Int = SimilarityOps.KnnGraphK,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Leg.start(Leg.files(spark, IndexStream.embSchema, embDir),
        "knn-graph-stream", checkpointDir, trigger) { (batch, batchId) =>
      processBatch(spark, batch, batchId, outDir, centroids, k)
    }

  /** The streamed edge list, served exactly like the batch index dir
    * (`annGraphSearchIndexed(spark, GraphStream.edgesDir(outDir), …)`).
    */
  def edgesDir(outDir: String): String = s"$outDir/edges"

  /** Compact the VECTORS store — the GraphStream face of the
    * small-files maintenance [[SimilarityOps.compactIndex]] does for
    * IVF lists. The per-batch `batch_id=<id>/cluster_id=<c>/` dirs are
    * what make appends replay-idempotent, but a long-running feed
    * accumulates one dir per batch: after 30 daily batches every
    * touched-cluster re-read lists O(batches × clusters) directories.
    * This folds all batches STRICTLY BELOW the newest one into a single
    * consolidated dir (one file per cluster — the `repartition` on the
    * cluster key), leaving the newest batch dir alone: genuine replay
    * only ever re-runs the LATEST batch id, so the newest dir is the
    * only one a restart may legally overwrite, and the folded rows keep
    * a batch id (`maxId - 1`) every future batch's `batch_id < current`
    * prior-read still includes. The edges store needs no compaction —
    * dynamic partition overwrite already leaves one file per cluster.
    *
    * Run BETWEEN stream runs (the AvailableNow daily cadence): the
    * rewrite stages into a sibling temp dir, then swaps — a concurrent
    * micro-batch reading mid-swap could see a partial store. Returns
    * the number of batch dirs folded (0 = nothing to do).
    */
  def compactVectors(spark: SparkSession, outDir: String): Int = {
    val vecRoot = s"$outDir/vectors"
    val maxId = maxBatchDirId(spark, vecRoot).getOrElse(return 0)
    if (maxId < 1) return 0
    val foldTo = maxId - 1
    val fs = new Path(vecRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foldDirs = fs.listStatus(new Path(vecRoot)).toSeq
      .filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val n = p.getName
        n.startsWith("batch_id=") &&
          n.stripPrefix("batch_id=").toLong <= foldTo
      }
    if (foldDirs.size < 2) return 0
    val tmp = new Path(s"$outDir/_vectors_compact_tmp")
    fs.delete(tmp, true)
    // batch_id is a dir-derived partition column: drop it before the
    // write, the swapped-in dir name restores it as foldTo
    spark.read.parquet(vecRoot)
      .filter(col("batch_id") <= foldTo)
      .select("cluster_id", "vec_id", "emb_d", "norm")
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(tmp.toString)
    foldDirs.foreach(p => fs.delete(p, true))
    // the folded data lives ONLY in tmp between the deletes and this
    // rename — a silent rename failure would leave the store missing
    // every folded batch, so fail loudly with the recovery path
    val target = new Path(vecRoot, s"batch_id=$foldTo")
    if (!fs.rename(tmp, target))
      throw new IllegalStateException(
        s"compactVectors: rename $tmp -> $target failed after the old " +
        "batch dirs were deleted - the folded vectors are intact in the " +
        "temp dir; move it to the target path manually to recover.")
    foldDirs.size
  }

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Largest `batch_id=N` child dir under the vectors store, if any —
    * one driver-side listing of O(batches) names, no data read.
    */
  private def maxBatchDirId(spark: SparkSession,
      vecRoot: String): Option[Long] = {
    val p = new Path(vecRoot)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("batch_id=") =>
        s.stripPrefix("batch_id=").toLong }
      .sorted.lastOption
  }

  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, outDir: String, centroids: Seq[IndexedSeq[Double]],
      k: Int): Unit = {
    val vecRoot = s"$outDir/vectors"
    // Fresh-checkpoint-on-existing-outDir guard: a new checkpoint
    // restarts batch ids at 0, so the `batch_id < batchId` prior-read
    // would silently EXCLUDE every previously ingested vector while
    // dynamic overwrite replaces touched-cluster edges computed from
    // the new batch alone (and the batch_id=0 dir clobbers old data).
    // Genuine replay only ever re-runs the LATEST batch id, so any
    // existing dir with a strictly larger id proves a checkpoint/store
    // mismatch — refuse before touching either store. (A store holding
    // only batch_id=0 is indistinguishable from replay of batch 0 and
    // cannot be caught here; everything past the first batch is.)
    maxBatchDirId(spark, vecRoot).filter(_ > batchId).foreach { maxId =>
      throw new IllegalStateException(
        s"GraphStream: vectors store $vecRoot already holds batch dirs " +
        s"up to batch_id=$maxId but this micro-batch is $batchId - the " +
        "checkpoint does not match the store. Reuse the original " +
        "checkpointDir to resume, or point outDir at a new directory.")
    }
    Scratch.scope {
      val assigned = Scratch.cache(SimilarityOps.knnAssign(batch, centroids))
      // 1. append this batch's vectors (replay: overwrite of the same
      // per-batch dir). repartition on the cluster key → one file per
      // touched cluster per batch, not partitions × clusters.
      assigned.repartition(col("cluster_id"))
        .write.mode("overwrite").partitionBy("cluster_id")
        .parquet(s"$vecRoot/batch_id=$batchId")
      // 2. touched clusters: batch-bounded by construction
      val touched = assigned.select("cluster_id").distinct()
        .collect().map(_.getLong(0)).toSeq
      if (touched.nonEmpty) {
        // 3. full v2 membership of the touched clusters: prior batches
        // (strictly below this id — a replayed batch must not read its
        // own half-write; its own rows ride in memory) + this batch
        val prior =
          if (exists(spark, vecRoot)) {
            val all = spark.read.parquet(vecRoot)
              .filter(col("batch_id") < batchId)
            val pruned =
              if (touched.size <= TouchedClusterLiteralMax)
                all.filter(col("cluster_id").isInCollection(touched))
              else
                all.join(touched.toDF("cluster_id"), Seq("cluster_id"),
                  "left_semi")
            Some(pruned.select("cluster_id", "vec_id", "emb_d", "norm"))
          } else None
        val members = prior match {
          case Some(p) =>
            p.unionByName(
              assigned.select("cluster_id", "vec_id", "emb_d", "norm"))
          case None =>
            assigned.select("cluster_id", "vec_id", "emb_d", "norm")
        }
        // 4. re-rank exactly the touched clusters through the batch
        // kernel; replace exactly those edge partitions
        SimilarityOps.knnEdgesWithinClusters(members, k)
          .repartition(col("cluster_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("cluster_id")
          .parquet(edgesDir(outDir))
      }
    }
  }

  private implicit class SeqToDf(private val ids: Seq[Long]) {
    def toDF(name: String): DataFrame = {
      val spark = SparkSession.active
      import spark.implicits._
      ids.toDF(name)
    }
  }
}
