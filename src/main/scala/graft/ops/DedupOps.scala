package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch
import org.apache.spark.sql.graftext.ArrayFunctions.{char_gram_hashes, md5_prefix_hashes, minhash_signature, simhash_bits, sliding_min, sorted_distinct, sorted_intersect_size, word_shingle_hashes}

/** Deduplication operators for the training-data pipeline: exact
  * (normalized-hash groupBy), MinHash+LSH (shingle → signature → band →
  * bucket-join), SimHash (banded hamming pairs), character n-gram Jaccard,
  * and embedding-cosine near-dup.
  *
  * Scale design (the point of each operator at 100 TB):
  *   - exact dedup is one hash-shuffle on a 16-byte key — the minimum
  *     possible exchange; AQE coalesces the post-agg partitions;
  *   - MinHash/LSH avoids the O(n²) pair space entirely: candidates are
  *     generated by a shuffle on (band_idx, band_sig) whose fan-out per
  *     bucket is tiny for non-duplicate corpora, then only candidates pay
  *     the exact-Jaccard verification join (shuffle on doc_id);
  *   - SimHash pairs use the same banding trick on signature nibbles —
  *     pigeonhole guarantees hamming ≤ 3 pairs share ≥ 1 of 4 nibbles;
  *   - n-gram Jaccard is blocked on a partition key (`source`) so the
  *     quadratic blow-up is bounded per block (per-publisher dedup);
  *   - embedding near-dup blocks on `label` (≙ a coarse cluster id from a
  *     prior k-means pass at scale) — cosine only within blocks.
  *
  * Hash parity with the DuckDB oracle via [[TextOps.tokenHash]] (md5-based).
  */
object DedupOps {
  import TextOps.{sqlTokenHash, sqlTokens, tokens}

  /** MinHash parameters: K = Bands × RowsPerBand signature length. */
  val K = 16
  val Bands = 4
  val RowsPerBand = 4
  /** Universal-hash family h_j(x) = (A(j)·x + B(j)) mod M31 with A odd,
    * A,B < 2^30 so A·x stays well inside int64 for 32-bit x.
    */
  val M31: Long = 2147483647L
  val HashA: IndexedSeq[Long] = (1 to K).map(j => ((j * 2654435761L) % 1073741823L) | 1L)
  val HashB: IndexedSeq[Long] = (1 to K).map(j => (j * 1779033703L) % 1073741823L)

  /** Word-shingle width for MinHash; char-gram width for n-gram Jaccard. */
  val ShingleWords = 3
  val CharGram = 5

  /** SimHash signature bits (banded into 4 bands of 8 bits). 32 bits, not
    * 16: on a shared-vocabulary corpus a 16-bit simhash collides so broadly
    * that ~1/3 of ALL pairs pass hamming ≤ 3 — the operator degenerates.
    */
  val SimBits = 32
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands

  val MinhashJaccardThreshold = 0.5
  val NgramJaccardThreshold = 0.3
  val CosineDupThreshold = 0.35
  val MaxHamming = 3

  /** Per-bucket cap for the LSH/simhash band joins: each (band_idx,
    * band_sig) bucket keeps only its first [[BandBucketCap]] docs (by
    * doc_id — deterministic, so the DuckDB oracle applies the identical
    * cap), bounding any bucket's pair fan-out at C(cap,2) regardless of
    * corpus shape. Without it an adversarial clustered corpus (many docs
    * sharing one band value) makes a single bucket quadratic. Recall cost:
    * a doc is only lost to a pair if BOTH endpoints fall past the cap in
    * EVERY shared band — and a bucket that big is an exact-dup cluster,
    * which exact dedup upstream already collapses.
    */
  val BandBucketCap = 128

  /** Salt factor for compute-skewed block self-joins (few distinct block
    * keys → few parallel units; data bytes are tiny so AQE's size-based
    * skew split never fires). Adaptive: salting replicates the right side
    * ×salt, so use just enough to fill the configured parallelism.
    */
  private[ops] def saltB(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
      .max(2).min(16)

  /** Round-robin fan-out before heavy per-document projections: the local
    * testdata arrives as ONE small parquet file → one input split → one
    * task, which would serialize all the md5/shingle work. The shuffle
    * moves only (id, text) rows. On a real 100 TB corpus the input has
    * thousands of splits and this is a no-op-sized insurance repartition.
    */
  private[ops] def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt)

  /** [[fanout]] only when the input is genuinely NARROW (round 12,
    * measured both ways): an unconditional repartition re-shuffles
    * already-parallel inputs, and pre-fanning the shared caches charged
    * every tiny-stage consumer 8-32 task launches on a 600 KB table —
    * a net sweep loss. This is the per-operator form: a LOGICAL-LEAF
    * probe (round 13 — the earlier `df.rdd.getNumPartitions` probe was
    * not job-free: under AQE, `Dataset.rdd` forces
    * `getFinalPhysicalPlan`, which eagerly EXECUTES upstream shuffle
    * stages for derived inputs), then the insurance shuffle only for
    * the serial-scan shape (the one-file local fixture; a real corpus
    * arrives in thousands of splits and this is a no-op).
    *
    * The probe estimates source parallelism from the OPTIMIZED logical
    * plan's leaves (cache substitution happens after analysis, so
    * `analyzed` would miss InMemoryRelation) without touching the
    * physical plan: a file relation splits into ≈ bytes /
    * maxPartitionBytes tasks, floored at one task per file up to the
    * target (small files cost a split each under open-cost packing —
    * close enough for insurance purposes); a cached relation reports its
    * cached partition count when that is statically known, and is
    * treated as WIDE when the cached plan is adaptive (forcing an AQE
    * cached plan's partitioning can execute stages — and the r12
    * measurement already showed fanning tiny shared caches is a sweep
    * loss, so "leave cached inputs alone" is also the profitable
    * default); an unrecognized leaf (LocalRelation, a view over one) is
    * treated as narrow — those ARE single-partition in local fixtures,
    * and on a real cluster the inputs are file scans so that branch
    * never fires there.
    */
  private[ops] def fanoutIfNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val maxSplit = spark.conf
      .get("spark.sql.files.maxPartitionBytes", "134217728")
      .stripSuffix("b").stripSuffix("B") match {
        case s if s.nonEmpty && s.forall(_.isDigit) => s.toLong
        case _ => 134217728L
      }
    val estSplits = df.queryExecution.optimizedPlan.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            val files = fs.location.inputFiles.length.toLong
            val bytes = fs.sizeInBytes
            math.max(files.min(target.toLong),
              (bytes + maxSplit - 1) / maxSplit)
          case rel => // non-file relation: size-based estimate only
            (rel.sizeInBytes + maxSplit - 1) / maxSplit
        }
      case im: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        // a MATERIALIZED cache reports its true partition count for free
        // (the cached RDD object exists — this is how the one-file
        // token-table cache keeps fanning out, the r12 win); an UNBUILT
        // cache must not be forced (under AQE that executes the cached
        // plan), so estimate from its physical scan leaves instead
        org.apache.spark.sql.graftext.CheckpointBlocks
          .loadedCachePartitions(im).map(_.toLong).getOrElse {
            val leaves = (im.cachedPlan match {
              case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
                a.inputPlan
              case p => p
            }).collectLeaves()
            leaves.map {
              case f: org.apache.spark.sql.execution.FileSourceScanExec =>
                val files = f.relation.location.inputFiles.length.toLong
                val bytes = f.relation.sizeInBytes
                math.max(files.min(target.toLong),
                  (bytes + maxSplit - 1) / maxSplit)
              case _ => target.toLong // unknown physical leaf: assume wide
            }.sum
          }
      case _ => 1L // LocalRelation etc. — single-partition shapes
    }.sum
    if (estSplits * 2 >= target) df else fanout(df)
  }

  /** Conf key: when set, the dedup pipelines materialize their
    * signature/gram tables to `<dir>/<name>` as parquet instead of
    * `.cache()`.
    */
  val CheckpointDirConf = "spark.graft.dedup.checkpointDir"

  /** Materialize an intermediate that multiple plan branches re-read (the
    * band-join sides + the verify sides all scan the signature table).
    *
    * Default: `.cache()` — right for interactive/oracle scale, where the
    * table fits executor memory. With [[CheckpointDirConf]] set: write
    * parquet and read it back — the 100 TB "signature table" checkpoint.
    * At that scale an in-memory cache of the full signature table evicts
    * under pressure and recomputes the whole sketch per miss; the parquet
    * round-trip is one linear write + columnar re-reads, survives executor
    * loss, and truncates the lineage. Each invocation writes its own
    * `<dir>/<name>-<uuid>` path: the write is eager (build time) but the
    * re-read is lazy (execution time), so a SHARED path would let a later
    * build silently swap an earlier query's input — the dir is scratch
    * space; clean it like any checkpoint dir.
    */
  private[ops] def materialize(df: DataFrame, name: String): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirConf) match {
      case Some(dir) =>
        val path = s"$dir/$name-${java.util.UUID.randomUUID()}"
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      case None =>
        // an equivalent plan may already be cached (corpus_clean and
        // dedup_components both build the minhash signature table; two
        // invocations in one session hit this too) — re-calling cache()
        // is a no-op that logs a CacheManager warning per call, so skip it
        if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) df.cache()
        else df
    }

  /** [[materialize]] owned by the caller's [[Scratch]] scope, unless an
    * equivalent plan is already cached: that cache stays its owner's.
    */
  private[ops] def materializeScoped(df: DataFrame, name: String): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      materialize(df, name)
    else Scratch.keep(materialize(df, name))

  // ------------------------------------------------------- shared helpers

  /** Normalized-content hash (lower, strip non-alnum, collapse whitespace
    * → md5) — ONE definition shared by [[dedupExact]],
    * [[dedupAgainstIndex]] and the corpus_clean composition: exact-dup
    * classification parity across operators (and their oracles) depends
    * on every site using the same normalization.
    */
  private[graft] def normalizedContentHash: Column =
    md5(trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " ")))

  /** SQL twin of [[normalizedContentHash]]. */
  private[ops] val SqlNormalizedContentHash: String =
    """md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\s+', ' ', 'g')))"""

  /** (doc_id, band_idx, band_sig) band rows of a minhash signature table
    * (`mh` column), with the deterministic per-bucket cap applied — shared
    * by the self-join LSH and the incoming×history incremental LSH.
    */
  private def lshBands(sh: DataFrame, bucketCap: Int): DataFrame =
    capBuckets(bandRows(sh), bucketCap)

  /** UNCAPPED band rows (doc_id, band_idx, band_sig) of a signature
    * table — a narrow projection+explode over `mh`, no shuffle. Split
    * out of [[lshBands]] so the incremental clean-state machinery
    * ([[CorpusOps.cleanCorpusIncremental]]) can derive band membership
    * of churned signatures without paying the bucket-cap window.
    */
  private[graft] def bandRows(sh: DataFrame): DataFrame = {
    val bandSigs = (0 until Bands).map { b =>
      concat_ws("-", (0 until RowsPerBand)
        .map(r => element_at(col("mh"), b * RowsPerBand + r + 1).cast("string")): _*)
    }
    sh.select(col("doc_id"), posexplode(array(bandSigs: _*)))
      .toDF("doc_id", "band_idx", "band_sig")
  }

  /** The deterministic per-bucket cap ([[BandBucketCap]] semantics):
    * each (band_idx, band_sig) bucket keeps its `bucketCap` smallest
    * doc_ids. The cap window partitions by the join key, so the capped
    * side arrives at the band self-join already hash-partitioned.
    */
  private[ops] def capBuckets(bands: DataFrame, bucketCap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wBucket = Window.partitionBy(col("band_idx"), col("band_sig"))
      .orderBy(col("doc_id"))
    bands.withColumn("rn", row_number().over(wBucket))
      .filter(col("rn") <= bucketCap)
      .drop("rn")
  }

  /** Per-round lineage truncation for the iterative CC loops:
    * `localCheckpoint` locally, durable parquet under
    * [[CheckpointDirConf]] (the right call on a real cluster, where
    * localCheckpoint dies with an executor). `sub` isolates concurrent
    * invocations (the result lazily reads the LAST round's file — a
    * second invocation must not overwrite it before this one executes).
    */
  private[ops] def truncateIter(df: DataFrame, sub: String, name: String): DataFrame =
    df.sparkSession.conf.getOption(CheckpointDirConf) match {
      case Some(dir) =>
        val path = s"$dir/$sub/$name"
        df.write.mode("overwrite").parquet(path)
        df.sparkSession.read.parquet(path)
      // eager on purpose (round 14, measured): lazy localCheckpoint
      // under AQE still executes every upstream shuffle stage at call
      // time (getFinalPhysicalPlan), so laziness saves no driver
      // barrier — and the deferred final stages re-ran per consumer
      // (decontam patch 7.2 -> 13.3 s with eager=false)
      case None => df.localCheckpoint(true)
    }

  // ------------------------------------------------------------- shingles

  /** Distinct lower-case [[ShingleWords]]-word shingles of a text column. */
  def shingles(text: Column): Column = {
    val toks = tokens(text)
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (ShingleWords - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(ShingleWords)))
    ))
  }

  def sqlShingles(e: String): String =
    s"list_distinct(list_transform(range(1, greatest(len(${sqlTokens(e)}) - ${ShingleWords - 1}, 1) + 1), " +
      s"i -> array_to_string(list_slice(${sqlTokens(e)}, i, i + ${ShingleWords - 1}), ' ')))"

  // ---------------------------------------------------------- dedup_exact

  /** Exact dedup on normalized content (lower, strip non-alnum, collapse
    * whitespace → md5). One shuffle on the hash; representative = min id.
    */
  def dedupExact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), normalizedContentHash.as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"))

  def sqlDedupExact: String =
    s"""SELECT content_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies
       |FROM (SELECT doc_id,
       |  $SqlNormalizedContentHash AS content_hash
       |  FROM documents)
       |GROUP BY content_hash""".stripMargin

  // -------------------------------------------------------- dedup_prefix

  /** Tokens of the shared prefix key for [[dedupPrefix]]. */
  val PrefixTokens = 16

  /** Prefix dedup — cluster by the md5 of the first [[PrefixTokens]]
    * whitespace tokens: the crawl-corpus case exact dedup misses, pages
    * identical up front that diverge only in a mutable tail (timestamps,
    * view counters, related-links footers). Survivor = min doc_id per
    * cluster; `n_distinct_texts` reports how many clusters exact dedup
    * would have split (> 1 ⇒ this operator caught a tail-differing
    * family). Same minimal shape as [[dedupExact]]: one hash-keyed
    * map-side-combined agg, no text ever shuffles — only the 32-char key.
    */
  def dedupPrefix(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        md5(concat_ws(" ",
          slice(TextOps.toksOf(docs), 1, PrefixTokens))).as("prefix_hash"),
        normalizedContentHash.as("content_hash"))
      .groupBy("prefix_hash")
      .agg(min("doc_id").as("rep_doc_id"), count(lit(1)).as("n_copies"),
        countDistinct(col("content_hash")).as("n_distinct_texts"))

  def sqlDedupPrefix: String =
    s"""SELECT prefix_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies,
       |  CAST(count(DISTINCT content_hash) AS BIGINT) AS n_distinct_texts
       |FROM (SELECT doc_id,
       |  md5(array_to_string(list_slice(${TextOps.sqlTokens("text")},
       |    1, $PrefixTokens), ' ')) AS prefix_hash,
       |  $SqlNormalizedContentHash AS content_hash
       |  FROM documents)
       |GROUP BY prefix_hash""".stripMargin

  // ---------------------------------------------------- soft_dedup_weight

  /** Soft dedup — instead of DROPPING duplicates, down-weight them:
    * every doc gets sampling weight 1/|its exact-dup cluster|, so a
    * cluster contributes ONE expected copy to the training mix however
    * many times it was crawled (the count-based down-weighting used when
    * duplicates carry signal — e.g. popularity — that hard dedup would
    * erase). Emits every doc (the audit superset), with the cluster size
    * beside the weight.
    *
    * Shape (review round-10): a map-side-combined groupBy count plus a
    * join-back on the 32-char key — NOT a window. WindowExec routes an
    * entire content_hash partition through one task and buffers/spills
    * its rows, so a hot exact-dup cluster (the very thing this operator
    * measures) becomes a single-task straggler; the agg+join form
    * combines the hot key map-side and lets AQE's skew-join split the
    * join partition. Only (doc_id, hash) ever shuffles — never text.
    */
  def softDedupWeight(docs: DataFrame): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), normalizedContentHash.as("content_hash"))
    val sizes = keyed.groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"))
      .withColumnRenamed("content_hash", "ch")
    // <=> not ===: null text hashes NULL (its own singleton cluster, the
    // dedupExact house rule) and an inner equi-join would silently drop it
    keyed.join(sizes, col("content_hash") <=> col("ch"))
      .select(col("doc_id"), col("content_hash"), col("n_copies"),
        (lit(1.0) / col("n_copies")).as("weight"))
  }

  def sqlSoftDedupWeight: String =
    s"""SELECT doc_id, content_hash, n_copies,
       |  CAST(1.0 AS DOUBLE) / n_copies AS weight
       |FROM (
       |  SELECT doc_id, content_hash,
       |    count(*) OVER (PARTITION BY content_hash) AS n_copies
       |  FROM (SELECT doc_id,
       |    $SqlNormalizedContentHash AS content_hash
       |    FROM documents))""".stripMargin

  // ---------------------------------------------------- minhash signature

  /** doc_id → sorted distinct 32-bit shingle-hash set + MinHash signature.
    * All sketch steps are one-pass custom expressions: shingle strings are
    * never materialized (word_shingle_hashes feeds the digest from token
    * bytes), sorted+distinct gives the pairwise verify stage its O(n+m)
    * merge intersection, and the K-signature is computed in one scan
    * instead of K interpreted array_min(transform(...)) HOFs re-evaluated
    * per self-join branch.
    */
  private def shingled(docs: DataFrame): DataFrame =
    fanout(docs).select(
      col("doc_id"),
      sorted_distinct(
        word_shingle_hashes(TextOps.toksOf(docs), ShingleWords)).as("hs")
    ).withColumn("mh", minhash_signature(col("hs"), HashA, HashB, M31))

  /** MinHash signature, exploded as (doc_id, h_idx, minhash).
    * posexplode_OUTER + null filter, not plain posexplode: an inner
    * generate makes the optimizer infer `size(mh) > 0 AND isnotnull(mh)`
    * and push it below the fanout exchange — re-computing the whole
    * shingle+minhash sketch a second time on the pre-shuffle side (on
    * local single-file input: serialized in one task). Outer generate
    * infers nothing; the cheap post-explode null filter restores inner
    * semantics (null/empty arrays contribute no rows).
    */
  def minhashSignature(docs: DataFrame): DataFrame =
    shingled(docs)
      .select(col("doc_id"), posexplode_outer(col("mh")))
      .filter(col("col").isNotNull)
      .withColumnRenamed("pos", "h_idx")
      .withColumnRenamed("col", "minhash")
      .select(col("doc_id"), col("h_idx").cast("long").as("h_idx"), col("minhash"))

  private def sqlMinhashCols: String =
    (0 until K).map { j =>
      s"list_min(list_transform(hs, x -> (${HashA(j)}*x + ${HashB(j)}) % $M31)) AS mh_$j"
    }.mkString(",\n    ")

  /** Parameterized shingle+signature CTEs (prefix for name isolation,
    * WHERE for source splits) — the one generator behind the self-join
    * LSH, the incremental LSH's two sides, and everything composed from
    * them.
    */
  private def sqlShingledCteFor(prefix: String, where: String): String =
    s"""${prefix}shingled AS (
       |  SELECT doc_id, sh, list_distinct(list_transform(sh, s -> ${sqlTokenHash("s")})) AS hs
       |  FROM (SELECT doc_id, ${sqlShingles("text")} AS sh FROM documents WHERE $where)),
       |${prefix}mh AS (
       |  SELECT doc_id, $sqlMinhashCols
       |  FROM ${prefix}shingled)""".stripMargin

  private def sqlShingledCte: String = sqlShingledCteFor("", "true")

  /** Parameterized band CTE (the [[lshBands]] twin, incl. the cap). */
  private def sqlBandsFor(prefix: String): String = {
    val arms = (0 until Bands).map { b =>
      val sig = (0 until RowsPerBand)
        .map(r => s"CAST(mh_${b * RowsPerBand + r} AS VARCHAR)")
        .mkString(" || '-' || ")
      s"SELECT doc_id, $b AS band_idx, $sig AS band_sig FROM ${prefix}mh"
    }.mkString("\nUNION ALL\n")
    s"""${prefix}bands AS (
       |  SELECT doc_id, band_idx, band_sig FROM (
       |    SELECT doc_id, band_idx, band_sig,
       |      row_number() OVER (PARTITION BY band_idx, band_sig ORDER BY doc_id) AS rn
       |    FROM (
       |$arms))
       |  WHERE rn <= $BandBucketCap)""".stripMargin
  }

  def sqlMinhashSignature: String = {
    val arms = (0 until K)
      .map(j => s"SELECT doc_id, CAST($j AS BIGINT) AS h_idx, mh_$j AS minhash FROM mh")
      .mkString("\nUNION ALL\n")
    s"WITH $sqlShingledCte\n$arms"
  }

  // ----------------------------------------------------- dedup_minhash_lsh

  /** Candidate pairs via LSH banding + exact Jaccard verification.
    * Output: (doc_a, doc_b, jaccard) with jaccard ≥ threshold.
    * `bucketCap` bounds every band bucket (see [[BandBucketCap]]); the
    * cap window partitions by the join key, so the capped side arrives at
    * the self-join already hash-partitioned on (band_idx, band_sig).
    */
  def dedupMinhashLsh(docs: DataFrame, bucketCap: Int = BandBucketCap): DataFrame = {
    // cache: the 5-column signature table is tiny relative to the corpus
    // and is referenced by FOUR plan branches (two band-join sides, two
    // verify sides) — at 100 TB this materialization is the standard
    // "signature table" checkpoint of a dedup pipeline
    val sh = materialize(shingled(docs), "minhash_signatures")
    val bands = lshBands(sh, bucketCap)
    val a = bands.alias("a")
    val b = bands.alias("b")
    val cand = a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh, completeVerdicts = false).filter(col("is_dup"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact-Jaccard verification of a candidate pair list against a
    * signature table — the verify stage of [[dedupMinhashLsh]] as a
    * shared kernel (the incremental clean rebuild re-verifies churned
    * pairs through the SAME definition, so batch and incremental can
    * never disagree on a verdict). One row per input pair:
    * (doc_a, doc_b, jaccard, is_dup). Verification runs on the HASHED
    * shingle sets (long set-ops beat string set-ops; identical result
    * because the oracle hashes the same way — a 32-bit in-doc collision
    * alters both engines identically). The size-ratio prune is sound
    * (J = |∩|/|∪| ≤ min/max, so min/max < t ⟹ J < t, boundary kept by
    * <=) and skips the intersect compute for pruned pairs.
    *
    * `completeVerdicts` decides what pruned pairs become: true (the
    * incremental clean-state consumer) keeps them as rows with
    * `jaccard` NULL / `is_dup` false — a definitional below-threshold
    * verdict, so the verdict table stays COMPLETE per candidate and an
    * incremental pass can tell "verified false" from "never verified";
    * false (the batch LSH, which only wants passing pairs) drops them
    * with a pushdown-friendly FILTER before the set ops — rows it
    * would discard at `is_dup` anyway never flow.
    */
  private[ops] def verifyPairs(cand: DataFrame, sh: DataFrame,
      completeVerdicts: Boolean = true): DataFrame = {
    val sa = sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
    val pruneOk = lit(MinhashJaccardThreshold) *
      greatest(size(col("hs_a")), size(col("hs_b"))) <=
      least(size(col("hs_a")), size(col("hs_b")))
    val joined = cand.join(sa, "doc_a").join(sb, "doc_b")
    val pruned = if (completeVerdicts) joined else joined.filter(pruneOk)
    pruned
      .withColumn("inter",
        when(pruneOk, sorted_intersect_size(col("hs_a"), col("hs_b"))))
      .select(col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (size(col("hs_a")) + size(col("hs_b")) - col("inter"))).as("jaccard"))
      .withColumn("is_dup",
        coalesce(col("jaccard") >= MinhashJaccardThreshold, lit(false)))
  }

  def sqlDedupMinhashLsh: String =
    s"""WITH $sqlShingledCte,
       |${sqlBandsFor("")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
       |   AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
       |    (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) AS jaccard
       |FROM cand
       |JOIN shingled sa ON sa.doc_id = cand.doc_a
       |JOIN shingled sb ON sb.doc_id = cand.doc_b
       |WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
       |    (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs))) >= $MinhashJaccardThreshold""".stripMargin

  // ------------------------------------------------------ dedup_lsh_recall

  /** Measured recall of the banded MinHash LSH against EXACT ground truth
    * — the banding-loss counterpart of [[SimilarityOps.annRecall]]: LSH
    * verifies its candidates with exact Jaccard, so every found pair is
    * true and the only error mode is a true pair whose signatures share
    * no band. Output one row: (n_true, n_found, recall).
    *
    * Ground truth WITHOUT a cartesian: J ≥ t > 0 implies ≥ 1 shared
    * shingle, so the complete true-pair set comes from an equi-join on
    * the exploded shingle hash (the gram inverted index) + exact
    * verification — the same shuffle-on-grams shape as the LSH itself,
    * just unbanded and uncapped. At 100 TB this runs on a sample (it is
    * the recall MONITOR for tuning Bands × RowsPerBand, like annRecall
    * for H/nProbe); at oracle SFs the full corpus (`sampleMod = 1`)
    * keeps n_true populated. `sampleMod > 1` keeps docs with
    * `doc_id % sampleMod == 0` — deterministic (re-runs and the oracle
    * see the same sample), and the filter sits at the scan, so the
    * uncapped ground-truth join only ever sees the sample.
    *
    * `truthDfCap` guards the monitor against a DEGENERATE shingle: one
    * gram shared by d documents contributes C(d,2) candidate pairs to
    * the truth join even on a sample, so a pathological hot gram (a
    * boilerplate line across the corpus) can inflate the ground-truth
    * self-join unboundedly. The cap keeps only the first `truthDfCap`
    * docs per gram (doc_id order — deterministic, the containment
    * index's df-cap discipline), and `n_capped_grams` reports how many
    * grams were truncated — WHEN IT IS > 0 THE TRUTH SET IS A LOWER
    * BOUND (pairs whose only shared grams were capped are missing), so
    * the reported recall is against a partial truth; production treats
    * a nonzero count as "raise the cap or tighten the shingle width",
    * not as a better recall number. The default ∞ cap is today's exact
    * complete-truth semantics (n_capped_grams ≡ 0).
    */
  def dedupLshRecall(docs: DataFrame, sampleMod: Int = 1,
      truthDfCap: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sampled =
      if (sampleMod <= 1) docs
      else docs.filter(pmod(col("doc_id"), lit(sampleMod)) === 0)
    val sh = materialize(shingled(sampled), "recall_shingles")
    val rawGrams = sh.select(col("doc_id"), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
    val (grams, cappedGrams) =
      if (truthDfCap == Int.MaxValue)
        (rawGrams, sampled.sparkSession.range(1)
          .select(lit(0L).as("n_capped_grams")))
      else {
        val ranked = materialize(rawGrams.withColumn("rn",
          row_number().over(Window.partitionBy("h").orderBy("doc_id"))),
          "recall_grams_ranked")
        (ranked.filter(col("rn") <= truthDfCap).drop("rn"),
          ranked.groupBy("h").agg(max("rn").as("df"))
            .agg(count(when(col("df") > truthDfCap, 1)).as("n_capped_grams")))
      }
    // Truth-side verify WITHOUT re-touching the hs arrays (round 15,
    // §2.3 shuffle fewer bytes): hs is sorted DISTINCT, so for a pair the
    // number of shared exploded grams IS |hs_a ∩ hs_b| — the candidate
    // self-join's per-pair match count replaces the two array-payload
    // joins + sorted_intersect_size per pair (the old shape shuffled the
    // full gram-set arrays twice to recompute a number the join already
    // knew). Sizes ride the gram rows as two ints, so the Jaccard filter
    // needs no extra join; `distinct()` becomes the same-keyed count agg.
    // Only valid when grams are UNCAPPED (a capped candidate set still
    // intersects FULL arrays below), i.e. the default/oracle path.
    val truth =
      if (truthDfCap == Int.MaxValue) {
        val gsz = sh.select(col("doc_id"),
            explode_outer(col("hs")).as("h"), size(col("hs")).as("sz"))
          .filter(col("h").isNotNull)
        gsz.alias("a").join(gsz.alias("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
          .agg(count(lit(1)).as("inter"))
          .filter((col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")))
            >= MinhashJaccardThreshold)
          .select("doc_a", "doc_b")
      } else {
        val cand = grams.alias("a").join(grams.alias("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .distinct()
        val sa = sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"))
        val sb = sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"))
        cand.join(sa, "doc_a").join(sb, "doc_b")
          .withColumn("inter", sorted_intersect_size(col("hs_a"), col("hs_b")))
          .filter((col("inter").cast("double") /
            (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
            >= MinhashJaccardThreshold)
          .select("doc_a", "doc_b")
      }
    val found = dedupMinhashLsh(sampled).select("doc_a", "doc_b")
      .withColumn("hit", lit(1L))
    truth.join(found, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_true"),
        coalesce(sum(col("hit")), lit(0L)).as("n_found"))
      .crossJoin(cappedGrams) // two 1-row frames — broadcast NLJ, no shuffle
      .select(col("n_true"), col("n_found"),
        when(col("n_true") === 0, lit(null).cast("double"))
          .otherwise(col("n_found").cast("double") / col("n_true")).as("recall"),
        col("n_capped_grams"))
  }

  def sqlDedupLshRecall: String =
    s"""WITH $sqlShingledCte,
       |grams AS (SELECT doc_id, unnest(hs) AS h FROM shingled),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id),
       |truth AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN shingled sa ON sa.doc_id = cand.doc_a
       |  JOIN shingled sb ON sb.doc_id = cand.doc_b
       |  WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
       |    (len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)))
       |    >= $MinhashJaccardThreshold),
       |found AS (SELECT doc_a, doc_b FROM ($sqlDedupMinhashLsh) f),
       |agg AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_true,
       |    CAST(coalesce(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 END), 0) AS BIGINT) AS n_found
       |  FROM truth t LEFT JOIN found f
       |    ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
       |SELECT n_true, n_found,
       |  CASE WHEN n_true = 0 THEN NULL
       |       ELSE CAST(n_found AS DOUBLE) / n_true END AS recall,
       |  CAST(0 AS BIGINT) AS n_capped_grams
       |FROM agg""".stripMargin

  // -------------------------------------------------------- dedup_simhash

  /** [[SimBits]]-bit SimHash over the token multiset: bit b is set iff the
    * majority of tokens have bit b set in their 32-bit hash. One-pass
    * custom expression (SimBits interpreted aggregate() folds otherwise).
    */
  def simhashSignature(docs: DataFrame): DataFrame =
    fanout(docs).select(col("doc_id"),
      simhash_bits(md5_prefix_hashes(TextOps.toksOf(docs)), SimBits).as("simhash"))

  def sqlSimhashSignature: String = {
    val bits = (0 until SimBits).map { b =>
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(ths, x -> ((x >> $b) & 1) * 2 - 1)), (a,y) -> a+y) > 0 " +
        s"THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |FROM (SELECT doc_id, list_transform(${sqlTokens("text")}, t -> ${sqlTokenHash("t")}) AS ths
       |      FROM documents)""".stripMargin
  }

  /** Near-dup pairs with hamming(simhash) ≤ [[MaxHamming]], found by
    * banding the signature into [[SimBands]] bands of [[SimBandBits]] bits:
    * any pair within hamming 3 must agree on ≥ 1 of the 4 bands
    * (pigeonhole), so the join key is (band_idx, band_val) — never the
    * O(n²) cross product. 8-bit bands give a 4·256-key space, keeping
    * per-bucket pair counts bounded even on clustered corpora.
    */
  def dedupSimhash(docs: DataFrame, bucketCap: Int = BandBucketCap): DataFrame =
    hammingBandPairs(
      materialize(simhashSignature(docs), "simhash_signatures"), // two self-join branches
      "simhash", SimBands, SimBandBits, MaxHamming, bucketCap)

  /** The Hamming-banded near-pair join over ANY (doc_id, <sigCol>)
    * signature table — the pigeonhole machinery shared by
    * [[dedupSimhash]] (32-bit token simhash) and
    * [[BinaryOps.dedupImageDhash]] (64-bit perceptual image hash): any
    * pair within hamming `maxHamming < bands` must agree on ≥ 1 of the
    * `bands` bit-bands, so the join key is (band_idx, band_val) — never
    * the O(n²) cross product — and per-bucket membership is capped
    * deterministically (doc_id order) like every banded index here.
    * Output (doc_a, doc_b, hamming ≤ maxHamming), distinct.
    */
  /** The band-explode itself, defined ONCE for every consumer of the
    * pigeonhole geometry (batch pair joins, the frame-vote pipeline,
    * the streaming incremental indexes): rows of
    * (doc_id, extraCols…, sig, band_idx, band_val), per-bucket
    * membership capped deterministically at `bucketCap` ordered by
    * (doc_id, extraCols…) — the cap is part of the geometry, not an
    * option, so batch and streamed operators can't drift apart on hot
    * buckets (an adversarial clustered corpus makes an uncapped bucket
    * quadratic).
    */
  private[graft] def bandedSignatures(sig: DataFrame, sigCol: String,
      bands: Int, bandBits: Int, bucketCap: Int,
      extraCols: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bandMask = (1L << bandBits) - 1
    val orderCols = ("doc_id" +: extraCols).map(col)
    val wBucket = Window.partitionBy(col("band_idx"), col("band_val"))
      .orderBy(orderCols: _*)
    sig.select((col("doc_id") +: extraCols.map(col)) ++ Seq(
        col(sigCol).as("sig"),
        posexplode(array((0 until bands).map(j =>
          shiftright(col(sigCol), j * bandBits).bitwiseAND(lit(bandMask))): _*))): _*)
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
      .withColumn("rn", row_number().over(wBucket))
      .filter(col("rn") <= bucketCap)
      .drop("rn")
  }

  private[ops] def hammingBandPairs(sig: DataFrame, sigCol: String,
      bands: Int, bandBits: Int, maxHamming: Int,
      bucketCap: Int): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming < bands")
    val banded = bandedSignatures(sig, sigCol, bands, bandBits, bucketCap)
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // prune BEFORE the distinct shuffle
      .distinct()
  }

  def sqlDedupSimhash: String = {
    val bits = (0 until SimBits).map { b =>
      s"CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(ths, x -> ((x >> $b) & 1) * 2 - 1)), (a,y) -> a+y) > 0 " +
        s"THEN ${1L << b} ELSE 0 END"
    }.mkString(" + ")
    val mask = (1L << SimBandBits) - 1
    val bandArms = (0 until SimBands)
      .map(j => s"SELECT doc_id, simhash, $j AS band_idx, (simhash >> ${j * SimBandBits}) & $mask AS band_val FROM sig")
      .mkString("\nUNION ALL\n")
    s"""WITH sig AS (
       |  SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |  FROM (SELECT doc_id, list_transform(${sqlTokens("text")}, t -> ${sqlTokenHash("t")}) AS ths
       |        FROM documents)),
       |bands AS (
       |  SELECT doc_id, simhash, band_idx, band_val FROM (
       |    SELECT doc_id, simhash, band_idx, band_val,
       |      row_number() OVER (PARTITION BY band_idx, band_val ORDER BY doc_id) AS rn
       |    FROM (
       |$bandArms))
       |  WHERE rn <= $BandBucketCap)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $MaxHamming""".stripMargin
  }

  // -------------------------------------------------- dedup_ngram_jaccard

  /** Character-5-gram Jaccard pairs, blocked on `source` (per-publisher
    * dedup): the quadratic pair space is bounded per block, and the join
    * shuffles on the block key only.
    */
  def dedupNgramJaccard(docs: DataFrame): DataFrame = {
    // HASHED grams: long set-ops are several× cheaper than string set-ops
    // at the pairwise stage (which dominates: O(pairs·|grams|)); the oracle
    // hashes identically, so a 32-bit collision alters both engines the
    // same way.
    val grams = sorted_distinct(char_gram_hashes(col("text"), CharGram))
    // cache: gram arrays are md5-per-position to build and feed both join
    // branches. Salt: the block key (`source`) has few distinct values, so
    // the join is compute-skewed — a mod-salt on the left doc id (right
    // side replicated) splits each block into salt parallel units while
    // every pair still joins exactly once.
    val salt = saltB(docs)
    val g = materialize(
      fanout(docs).select(col("source"), col("doc_id"), grams.as("grams")),
      "ngram_grams")
    val left = g.toDF("source", "doc_a", "g_a")
      .withColumn("salt", pmod(col("doc_a"), lit(salt)))
    val right = g.toDF("source2", "doc_b", "g_b")
      .withColumn("salt2", explode(sequence(lit(0), lit(salt - 1))))
    left.join(right,
        col("source") === col("source2") && col("salt") === col("salt2") &&
          col("doc_a") < col("doc_b"))
      // sound prune: J ≤ min/max ⟹ (min/max < t ⟹ J < t)
      .filter(lit(NgramJaccardThreshold) *
        greatest(size(col("g_a")), size(col("g_b"))) <=
        least(size(col("g_a")), size(col("g_b"))))
      .withColumn("inter", sorted_intersect_size(col("g_a"), col("g_b")))
      .select(col("source"), col("doc_a"), col("doc_b"),
        (col("inter").cast("double") /
          (size(col("g_a")) + size(col("g_b")) - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= NgramJaccardThreshold)
  }

  def sqlDedupNgramJaccard: String =
    s"""WITH g AS (
       |  SELECT doc_id, source,
       |    list_distinct(list_transform(range(1, greatest(length(text) - ${CharGram - 1}, 1) + 1),
       |      i -> ${sqlTokenHash(s"substr(text, i, $CharGram)")})) AS grams
       |  FROM documents)
       |SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
       |FROM g a JOIN g b ON a.source = b.source AND a.doc_id < b.doc_id
       |WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
       |    (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) >= $NgramJaccardThreshold""".stripMargin

  // ----------------------------------------------------------- winnowing

  /** Winnowing window: every [[WinnowWindow]]-wide window of the
    * positional gram-hash stream contributes its minimum.
    */
  val WinnowWindow = 4

  /** df cap for the winnow-fingerprint inverted index (see
    * [[ContainFreqCap]] — same boilerplate-cut role).
    */
  val WinnowFreqCap = 64

  /** Minimum shared-fingerprint Jaccard for a winnow dup pair. */
  val WinnowThreshold = 0.5

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the
    * MOSS scheme): slide a [[WinnowWindow]]-position window over the
    * POSITIONAL [[ShingleWords]]-gram hash stream and keep each
    * window's minimum; the distinct mins are the doc's fingerprint set.
    * The winnowing guarantee carries over: any shared token run of ≥
    * WinnowWindow + ShingleWords - 1 tokens produces at least one
    * shared fingerprint, with expected density 2/(w+1) — POSITION-local
    * evidence MinHash (a global set sketch) cannot give. Pure in-row
    * integer work: per position, a min over a w-slice — O(n·w), no
    * shuffle, codegen-friendly.
    */
  def winnowFingerprints(text: Column): Column = {
    val hs = word_shingle_hashes(tokens(text), ShingleWords)
    // both steps codegen'd kernels (round 14): the HOF form's
    // per-position slice allocated a fresh window array — the dominant
    // CPU term of the fingerprint table (~50 s CPU per sf0.1 sweep
    // measurement) — and array_sort(array_distinct(..)) is the
    // CodegenFallback pair sorted_distinct exists to replace. Same
    // values bit-for-bit (spec-pinned against the HOF form).
    sorted_distinct(sliding_min(hs, WinnowWindow))
  }

  private def sqlWinnowFps: String =
    s"list_sort(list_distinct(list_transform(" +
      s"range(1, greatest(len(hs) - ${WinnowWindow - 1}, 1) + 1), " +
      s"j -> list_min(list_slice(hs, j, j + ${WinnowWindow - 1})))))"

  /** The fingerprint table itself — (doc_id, fp), the oracle-checkable
    * face of [[winnowFingerprints]].
    */
  def winnowFingerprint(docs: DataFrame): DataFrame =
    fanout(docs)
      .select(col("doc_id"), winnowFingerprints(col("text")).as("fps"))
      .select(col("doc_id"), explode_outer(col("fps")).as("fp"))
      .filter(col("fp").isNotNull)

  def sqlWinnowFingerprint: String =
    s"""SELECT doc_id, fp FROM (
       |  SELECT doc_id, unnest($sqlWinnowFps) AS fp FROM (
       |    SELECT doc_id, ${PretrainOps.sqlGramHashesPositional(ShingleWords)} AS hs
       |    FROM documents))""".stripMargin

  /** Winnow dedup: pairs whose capped-index fingerprint Jaccard reaches
    * [[WinnowThreshold]] — the sub-document positional-overlap detector
    * (plagiarism/quotation shape) beside the set-sketch LSH family.
    * Same inverted-index discipline as [[dedupContainment]]: df ∈
    * [2, [[WinnowFreqCap]]] fingerprints join (df=1 cannot pair, over-cap
    * is boilerplate and CUT — observable per doc via `n_capped`);
    * denominators use eligible counts (n - n_capped), so cap truncation
    * weakens evidence visibly instead of silently deflating scores.
    * Never all-pairs: fan-out ≤ cap² per fingerprint.
    */
  def dedupWinnow(docs: DataFrame): DataFrame = {
    val f = materialize(
      fanout(docs)
        .select(col("doc_id"), winnowFingerprints(col("text")).as("fps"))
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          explode_outer(col("fps")).as("fp"))
        .filter(col("fp").isNotNull),
      "winnow_fps")
    val dfreq = f.groupBy("fp").agg(count(lit(1)).as("df"))
    val keep = dfreq.filter(col("df") >= 2 && col("df") <= WinnowFreqCap).select("fp")
    // round 14 (guide §2.3): over-cap accounting via a broadcast
    // semi-join against the rare over-cap fingerprints + a distinct doc
    // spine, replacing the full f⋈dfreq shuffle join (identical
    // n_capped — see the dedupContainment twin)
    val overCap = dfreq.filter(col("df") > WinnowFreqCap).select("fp")
    val cappedCounts = f.join(overCap, Seq("fp"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_capped"))
    val acct = f.select(col("doc_id"), col("n_fps")).distinct()
      .join(cappedCounts, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_capped"), lit(0L)).as("n_capped"),
        (col("n_fps") - coalesce(col("n_capped"), lit(0L))).as("n_eligible"))
    val fk = f.join(keep, "fp")
    fk.select(col("fp"), col("doc_id").as("doc_a"))
      .join(fk.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(acct.toDF("doc_a", "capped_a", "elig_a"), "doc_a")
      .join(acct.toDF("doc_b", "capped_b", "elig_b"), "doc_b")
      .withColumn("jaccard", col("shared").cast("double") /
        (col("elig_a") + col("elig_b") - col("shared")))
      .filter(col("jaccard") >= WinnowThreshold)
      .select(col("doc_a"), col("doc_b"), col("elig_a"), col("elig_b"),
        col("capped_a"), col("capped_b"), col("shared"), col("jaccard"))
  }

  def sqlDedupWinnow: String =
    s"""WITH f AS (
       |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps, unnest(fps) AS fp
       |  FROM (
       |    SELECT doc_id, $sqlWinnowFps AS fps FROM (
       |      SELECT doc_id, ${PretrainOps.sqlGramHashesPositional(ShingleWords)} AS hs
       |      FROM documents))),
       |dfreq AS (SELECT fp, count(*) AS df FROM f GROUP BY fp),
       |keep AS (SELECT fp FROM dfreq WHERE df >= 2 AND df <= $WinnowFreqCap),
       |acct AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN df > $WinnowFreqCap THEN 1 ELSE 0 END) AS BIGINT) AS n_capped,
       |    CAST(n_fps - sum(CASE WHEN df > $WinnowFreqCap THEN 1 ELSE 0 END) AS BIGINT) AS n_eligible
       |  FROM f JOIN dfreq USING (fp) GROUP BY doc_id, n_fps),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM (SELECT fp, doc_id FROM f JOIN keep USING (fp)) a
       |  JOIN (SELECT fp, doc_id FROM f JOIN keep USING (fp)) b USING (fp)
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT doc_a, doc_b,
       |  ea.n_eligible AS elig_a, eb.n_eligible AS elig_b,
       |  ea.n_capped AS capped_a, eb.n_capped AS capped_b, shared,
       |  CAST(shared AS DOUBLE) / (ea.n_eligible + eb.n_eligible - shared) AS jaccard
       |FROM pairs
       |JOIN acct ea ON ea.doc_id = doc_a
       |JOIN acct eb ON eb.doc_id = doc_b
       |WHERE CAST(shared AS DOUBLE) / (ea.n_eligible + eb.n_eligible - shared) >= $WinnowThreshold""".stripMargin

  // ---------------------------------------------------- dedup_containment

  /** Containment gram width (words) — wide grams keep the inverted index
    * selective (an 8-word exact span is rare outside real duplication).
    */
  val ContainGramWords = 8

  /** Stop-gram cut: grams appearing in more than this many docs carry no
    * dedup signal (boilerplate) and would quadratically inflate the
    * inverted-index join — the standard df-cap every suffix/gram index
    * applies. Pairs per surviving gram ≤ cap².
    */
  val ContainFreqCap = 64

  /** Minimum shared / n_eligible ratio to report. */
  val ContainThreshold = 0.5

  /** ASYMMETRIC near-dup detection — doc A *contained in* doc B (quoted
    * articles, subset pages, doc-inside-doc aggregation). MinHash/LSH is
    * structurally blind to these: a small A inside a large B has LOW
    * Jaccard (|A∩B|/|A∪B| shrinks with |B|) and never reaches the
    * candidate stage, while containment over A's grams is ~1. Output:
    * ordered (doc_a, doc_b) pairs where ≥ [[ContainThreshold]] of A's
    * ELIGIBLE distinct [[ContainGramWords]]-word grams (df ≤
    * [[ContainFreqCap]] — df=1 grams are A's unique content, evidence
    * AGAINST containment, and stay in the denominator) also occur in B
    * (an exact-duplicate pair appears in both directions at 1.0).
    *
    * The df-cap is the quadratic-safety knob and it has an explicit
    * blind spot: content duplicated in MORE than [[ContainFreqCap]]
    * docs has all its grams cut, so those clusters report no pairs at
    * this cap. That is OBSERVABLE, not silent — `n_capped` counts each
    * doc_a's over-cap grams (a doc whose duplication story is being
    * truncated shows n_capped ≫ 0; raise the cap for a dedicated
    * boilerplate hunt) — and the score's denominator is `n_eligible`,
    * NOT total grams, so a partially-boilerplate doc's containment in
    * its true source is not understated by grams the cap removed.
    *
    * Scale shape: ONE gram inverted index (one shuffle on the gram
    * hash; the gram expression is [[PretrainOps.decontamGrams]], the
    * same definition the SQL twin shares), materialized once and
    * consumed by the df agg, the per-doc cap accounting and the
    * self-join; df-capping happens BEFORE the self-join so per-gram
    * fan-out is ≤ cap² by construction, and wide grams make df ≥ 2
    * rare outside true duplication. Never all-pairs, never corpus
    * text.
    */
  def dedupContainment(docs: DataFrame): DataFrame = {
    val g = materialize(
      fanout(docs)
        .select(col("doc_id"), PretrainOps.decontamGramsOf(TextOps.toksOf(docs), ContainGramWords).as("gs"))
        .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
          explode_outer(col("gs")).as("g"))
        .filter(col("g").isNotNull),
      "containment_grams")
    val dfreq = g.groupBy("g").agg(count(lit(1)).as("df"))
    // join side: df=1 grams can't produce pairs, df>cap grams must not
    val keep = dfreq.filter(col("df") >= 2 && col("df") <= ContainFreqCap).select("g")
    // per-doc cap accounting: n_capped is the visibility signal for
    // truncated clusters; the score denominator is n_a - n_capped.
    // Round 14 (guide §2.3 — shuffle fewer bytes): the old form joined
    // the FULL gram table against the full df table just to count the
    // rare over-cap grams; now the doc spine is one map-side-combined
    // distinct and the count is a semi-join against the tiny over-cap
    // list (AQE broadcasts it), so the full g⋈dfreq shuffle is gone.
    // Identical n_capped: the semi-join keeps exactly the rows the old
    // sum's `df > cap` predicate counted.
    val overCap = dfreq.filter(col("df") > ContainFreqCap).select("g")
    val cappedCounts = g.join(overCap, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_capped"))
    val acct = g.select(col("doc_id"), col("n_grams")).distinct()
      .join(cappedCounts, Seq("doc_id"), "left")
      .select(col("doc_id").as("doc_a"), col("n_grams").as("n_a"),
        coalesce(col("n_capped"), lit(0L)).as("n_capped"))
      .withColumn("n_eligible", col("n_a") - col("n_capped"))
    val gk = g.join(keep, "g")
    gk.select(col("g"), col("doc_id").as("doc_a"))
      .join(gk.select(col("g"), col("doc_id").as("doc_b")), "g")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .join(acct, "doc_a")
      .filter(col("shared").cast("double") / col("n_eligible") >= ContainThreshold)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_eligible"),
        col("n_capped"), col("shared"),
        (col("shared").cast("double") / col("n_eligible")).as("containment"))
  }

  def sqlDedupContainment: String =
    s"""WITH g0 AS (
       |  SELECT doc_id, ${PretrainOps.sqlGramHashes(ContainGramWords)} AS gs
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, unnest(gs) AS g
       |  FROM g0),
       |dfreq AS (SELECT g, count(*) AS df FROM g GROUP BY g),
       |acct AS (
       |  SELECT doc_a, n_a, n_capped, n_a - n_capped AS n_eligible
       |  FROM (
       |    SELECT doc_id AS doc_a, n_grams AS n_a,
       |      CAST(sum(CASE WHEN df > $ContainFreqCap THEN 1 ELSE 0 END) AS BIGINT)
       |        AS n_capped
       |    FROM g JOIN dfreq USING (g)
       |    GROUP BY 1, 2)),
       |gk AS (
       |  SELECT g.* FROM g JOIN dfreq USING (g)
       |  WHERE df BETWEEN 2 AND $ContainFreqCap),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
       |  FROM gk a JOIN gk b USING (g)
       |  WHERE a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, n_a, n_eligible, n_capped, shared,
       |  CAST(shared AS DOUBLE) / n_eligible AS containment
       |FROM pairs JOIN acct USING (doc_a)
       |WHERE CAST(shared AS DOUBLE) / n_eligible >= $ContainThreshold""".stripMargin

  // ----------------------------------------------------- dedup_incremental

  /** Incremental dedup — the production shape: dedupe an INCOMING batch
    * (today's crawl) against a HISTORICAL corpus index, never
    * history×history. Two collision checks per incoming doc:
    *   - exact: normalized content hash ∈ the historical hash index;
    *   - near: banded MinHash/LSH candidates INCOMING×HISTORY only, exact
    *     Jaccard verification, smallest colliding history doc reported.
    * Output one row per incoming doc: `is_exact_dup`, `near_dup_of`
    * (nullable), and the `keep` decision (no exact AND no near hit).
    *
    * Scale shape: at 100 TB the history side is the PERSISTED signature
    * table (the parquet checkpoint the main LSH pipeline already writes
    * — [[CheckpointDirConf]]), re-read columnar, never recomputed; the
    * incoming side is a day's crawl (orders of magnitude smaller), so
    * its bands broadcast-join or hash-join against the history bands on
    * (band_idx, band_sig) — the only shuffle keys. History text never
    * moves; both band sides carry the same deterministic per-bucket cap.
    */
  /** @param cacheIncoming materialize the incoming-side signature table
    *        (it feeds the band build + the verify join). TRUE for batch
    *        use; streaming callers pass FALSE — each micro-batch is a new
    *        plan, so a per-batch cache entry would accumulate in the SQL
    *        cache for the life of the query (the history side is immune:
    *        same logical plan every batch ⇒ one cache entry, which is
    *        exactly the persistent-index behavior wanted).
    */
  def dedupAgainstIndex(incoming: DataFrame, history: DataFrame,
      bucketCap: Int = BandBucketCap, cacheIncoming: Boolean = true): DataFrame =
    dedupAgainstSignatures(incoming,
      materialize(historySignatureTable(history), "hist_signatures"),
      materialize(historyContentHashes(history), "hist_content_hashes"),
      bucketCap, cacheIncoming)

  /** The history index's persistable faces: the MinHash signature table
    * (doc_id, hs, mh) and the normalized content-hash table. A standing
    * corpus pays the sketch ONCE, writes both via
    * [[BucketedLayout.writeBucketed]] (signatures bucketed by `doc_id`,
    * hashes by `content_hash`), and every subsequent
    * [[dedupAgainstSignatures]] run reads them back with the bucket
    * metadata intact — the heavy history side of the verify join (the
    * one carrying the signature ARRAYS) and the exact-hash join then
    * plan with ZERO history-side exchange: the disk layout IS the join
    * partitioning, and only the day-sized incoming side shuffles.
    */
  def historySignatureTable(history: DataFrame): DataFrame = shingled(history)

  /** See [[historySignatureTable]] — the exact-dup half of the index,
    * same normalization as [[dedupExact]].
    */
  def historyContentHashes(history: DataFrame): DataFrame =
    fanout(history).select(normalizedContentHash.as("content_hash")).distinct()

  /** [[dedupAgainstIndex]] with the history-side tables PRE-COMPUTED —
    * the form the persisted/bucketed index feeds (the passed frames are
    * consumed as-is: a bucketed-table read stays a bucketed scan, no
    * re-materialization).
    */
  def dedupAgainstSignatures(incoming: DataFrame, historySigs: DataFrame,
      historyHashes: DataFrame, bucketCap: Int = BandBucketCap,
      cacheIncoming: Boolean = true): DataFrame = {
    // the SAME normalization as dedupExact — exact-dup classification
    // must agree across operators
    val histHashes = historyHashes.withColumn("_exact_hit", lit(true))
    val incHashed = fanout(incoming)
      .select(col("doc_id"), normalizedContentHash.as("content_hash"))
    val shI =
      if (cacheIncoming) materialize(shingled(incoming), "inc_signatures")
      else shingled(incoming)
    val shH = historySigs
    val cand = lshBands(shI, bucketCap).toDF("inc_doc", "band_idx", "band_sig")
      .join(lshBands(shH, bucketCap).toDF("hist_doc", "band_idx", "band_sig"),
        Seq("band_idx", "band_sig"))
      .select("inc_doc", "hist_doc").distinct()
    val si = shI.select(col("doc_id").as("inc_doc"), col("hs").as("hs_i"))
    val sh2 = shH.select(col("doc_id").as("hist_doc"), col("hs").as("hs_h"))
    val near = cand.join(si, "inc_doc").join(sh2, "hist_doc")
      // sound size-ratio prune, as in dedupMinhashLsh
      .filter(lit(MinhashJaccardThreshold) *
        greatest(size(col("hs_i")), size(col("hs_h"))) <=
        least(size(col("hs_i")), size(col("hs_h"))))
      .withColumn("inter", sorted_intersect_size(col("hs_i"), col("hs_h")))
      .filter(col("inter").cast("double") /
        (size(col("hs_i")) + size(col("hs_h")) - col("inter")) >=
        MinhashJaccardThreshold)
      .groupBy(col("inc_doc").as("doc_id"))
      .agg(min(col("hist_doc")).as("near_dup_of"))
    incHashed
      .join(histHashes, Seq("content_hash"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_exact_hit"), lit(false)).as("is_exact_dup"),
        col("near_dup_of"),
        (coalesce(col("_exact_hit"), lit(false)) === false &&
          col("near_dup_of").isNull).as("keep"))
  }

  /** Oracle-keyed rendition of [[dedupAgainstIndex]]: every 5th doc of
    * the documents table is "today's batch", the rest is history.
    */
  def dedupIncremental(docs: DataFrame): DataFrame =
    dedupAgainstIndex(
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0))

  def sqlDedupIncremental: String = {
    val jac = "CAST(len(list_intersect(si.hs, sh2.hs)) AS DOUBLE) / " +
      "(len(si.hs) + len(sh2.hs) - len(list_intersect(si.hs, sh2.hs)))"
    s"""WITH ${sqlShingledCteFor("i_", "doc_id % 5 = 0")},
       |${sqlShingledCteFor("h_", "doc_id % 5 <> 0")},
       |${sqlBandsFor("i_")},
       |${sqlBandsFor("h_")},
       |hh AS (
       |  SELECT DISTINCT
       |    $SqlNormalizedContentHash AS content_hash,
       |    true AS exact_hit
       |  FROM documents WHERE doc_id % 5 <> 0),
       |ih AS (
       |  SELECT doc_id,
       |    $SqlNormalizedContentHash AS content_hash
       |  FROM documents WHERE doc_id % 5 = 0),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS inc_doc, h.doc_id AS hist_doc
       |  FROM i_bands i JOIN h_bands h
       |    ON i.band_idx = h.band_idx AND i.band_sig = h.band_sig),
       |near AS (
       |  SELECT inc_doc AS doc_id, min(hist_doc) AS near_dup_of
       |  FROM cand
       |  JOIN i_shingled si ON si.doc_id = cand.inc_doc
       |  JOIN h_shingled sh2 ON sh2.doc_id = cand.hist_doc
       |  WHERE $jac >= $MinhashJaccardThreshold
       |  GROUP BY inc_doc)
       |SELECT ih.doc_id,
       |  coalesce(hh.exact_hit, false) AS is_exact_dup,
       |  near.near_dup_of,
       |  coalesce(hh.exact_hit, false) = false AND near.near_dup_of IS NULL AS keep
       |FROM ih
       |LEFT JOIN hh USING (content_hash)
       |LEFT JOIN near USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------------ dedup_components

  /** Connected components over an undirected pair graph by iterative
    * min-label propagation: every node starts labeled with its own id;
    * each round a node takes the min of its own label and its neighbors';
    * converged when no label changes. The component id is therefore the
    * smallest doc_id in the component — the canonical survivor choice of
    * a dedup pipeline (pairs → clusters → keep one per cluster).
    *
    * Scale shape: each round is one join of the edge list against the
    * label table (both shuffled on node id — the partitioning is reused
    * round to round) plus a map-side-combined min-agg; the convergence
    * check is a post-agg scalar count (the legitimate driver-side
    * pattern). Rounds needed = component diameter, and near-dup clusters
    * are shallow in practice (a handful of rounds); a corpus with
    * pathological million-hop chains would switch to the alternating
    * small-star/large-star variant — same join shape, O(log d) rounds.
    */
  def connectedComponents(pairs: DataFrame,
      maxIter: Int = 50): DataFrame = Scratch.rounds { loop =>
    // per-round lineage truncation: without it the label table's logical
    // plan doubles every round (labels feed both join sides) and a
    // 10-round chain already holds a 2^10-node plan. localCheckpoint
    // (eager) resets the plan to the computed blocks; with
    // [[CheckpointDirConf]] set the parquet round-trip does the same
    // durably (the right call on a real cluster, where localCheckpoint
    // dies with an executor).
    // per-invocation subdir (see truncateIter): the loop's alternating
    // paths are safe within one run, but the RESULT still lazily reads
    // the last round's file — a second invocation must not overwrite it
    // before this one executes
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def truncate(df: DataFrame, name: String): DataFrame =
      truncateIter(df, s"cc-$runId", name)
    val edges = loop.keep(truncate(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))),
      "cc_edges"))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst_id"),
          col("dst") === col("dst_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      val next = loop.next(truncate(
        labels.withColumnRenamed("label", "old")
          .join(neighborMin, Seq("doc_id"), "left")
          .select(col("doc_id"), col("old"),
            least(col("old"), coalesce(col("nlabel"), col("old"))).as("label")),
        s"cc_labels_${iter % 2}"))
      changed = next.filter(col("label") =!= col("old")).count()
      labels = next.drop("old")
      iter += 1
    }
    // loud beats silently wrong: an unconverged exit would emit one real
    // component as several fragments (each with its own is_rep=true) and
    // disagree with the recursive-CTE oracle
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — a component's diameter " +
          "exceeds maxIter; raise it (or switch to the log-diameter " +
          "small-star/large-star variant for pathological chain graphs)")
    loop.out(labels
      .select(col("label").as("component_id"), col("doc_id"),
        (col("label") === col("doc_id")).as("is_rep")))
  }

  /** Connected components by alternating small-star/large-star rounds —
    * the O(log d) variant for pathological graphs whose component
    * diameter makes per-round min-label propagation (linear in d)
    * impractical: a million-hop chain converges in ~20 star rounds where
    * [[connectedComponents]] would need a million.
    *
    * Per round (the two-round MapReduce CC algorithm of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14):
    *   - large-star: every node connects its strictly-LARGER neighbors to
    *     the minimum of its closed neighborhood;
    *   - small-star: every node connects its smaller-or-equal neighbors
    *     (and itself) to that minimum.
    * Both are one groupBy(min) + one equi-join on the node key — the same
    * shuffle shape as a min-label round, just fewer rounds. Converged
    * when a full (large+small) round leaves the edge set unchanged
    * (checked with two anti-joins on the O(nodes) star edge set); the
    * stars' centers are then exactly the per-component minima.
    *
    * Output schema matches [[connectedComponents]]; which to run is an
    * input-shape decision (near-dup graphs are shallow → min-label;
    * chain-like graphs → this).
    */
  def connectedComponentsStar(pairs: DataFrame,
      maxRounds: Int = 30): DataFrame = Scratch.rounds { loop =>
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def truncate(df: DataFrame, name: String): DataFrame =
      truncateIter(df, s"ccstar-$runId", name)
    def bothDirs(e: DataFrame): DataFrame =
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // m(u) = min(N(u) ∪ {u}) over the symmetrized neighborhood
    def withMin(nbrs: DataFrame): DataFrame =
      nbrs.groupBy("src").agg(min("dst").as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val nbrs = bothDirs(e)
      val mins = withMin(nbrs)
      val joined = nbrs.join(mins, "src")
      val moved =
        if (large) joined.filter(col("dst") > col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
        else joined.filter(col("dst") <= col("src"))
          .select(col("dst").as("src"), col("m").as("dst"))
          .union(mins.select(col("src"), col("m").as("dst")))
      moved.filter(col("src") =!= col("dst")).distinct()
    }
    val nodes = loop.keep(truncate(
      bothDirs(pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
        .select("src").distinct(), "nodes"))
    var edges = loop.next(truncate(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .filter(col("src") =!= col("dst")).distinct(), "edges"))
    var stable = false
    var round = 0
    while (!stable && round < maxRounds) {
      val next = truncate(star(star(edges, large = true), large = false),
        s"edges_${round % 2}")
      // set equality via two anti-joins (the frames are O(nodes) by now);
      // the check reads the round `next` replaces, so `next` registers
      // after it
      stable = next.join(edges, Seq("src", "dst"), "left_anti").isEmpty &&
        edges.join(next, Seq("src", "dst"), "left_anti").isEmpty
      edges = loop.next(next)
      round += 1
    }
    if (!stable)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds — " +
          "star contraction is O(log n); this indicates a bug or an " +
          "adversarial id space, not a deep graph")
    // converged: edges = (node → component min) stars; roots appear only
    // as dst — join the full node set to label roots with themselves
    loop.out(nodes
      .join(edges.withColumnRenamed("src", "node_id"), col("src") === col("node_id"), "left")
      .select(coalesce(col("dst"), col("src")).as("component_id"),
        col("src").as("doc_id"),
        (coalesce(col("dst"), col("src")) === col("src")).as("is_rep")))
  }

  /** Near-dup clusters of the corpus: connected components of the
    * verified MinHash/LSH pair graph. Output one row per clustered doc
    * with its component id (= smallest doc_id in the cluster) and a
    * representative flag — the "keep one per cluster" dedup decision.
    */
  def dedupComponents(docs: DataFrame): DataFrame =
    connectedComponents(dedupMinhashLsh(docs).select("doc_a", "doc_b"))

  /** The component table as THE shared curation artifact: a production
    * pipeline runs the MinHash/LSH + CC pass once per corpus version
    * and persists (component_id, doc_id, is_rep) beside the corpus —
    * the survivor decision, the cluster histogram and any downstream
    * keep-filter all read that one table (the token-table discipline at
    * the dedup level). The `...On` forms below consume it.
    */

  /** Oracle twin: min-reachable-label via a recursive CTE — `walk`
    * enumerates (node, reachable label) pairs (UNION dedups, so it
    * terminates), and the component id is the min reachable label.
    * Tractable because near-dup components are small.
    */
  def sqlDedupComponents: String =
    s"""WITH RECURSIVE pairs AS (
       |${sqlDedupMinhashLsh}
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk(doc_id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id)
       |SELECT min(label) AS component_id, doc_id,
       |  min(label) = doc_id AS is_rep
       |FROM walk GROUP BY doc_id""".stripMargin

  /** Duplicate-cluster size histogram — the data-card view of the
    * near-dup graph: (cluster_size, n_clusters, n_docs), including the
    * size-1 row for docs in NO cluster (corpus count minus clustered
    * count — the honest denominator; a histogram over components alone
    * overstates duplication). The shape of this table is the first
    * thing a curation review reads: a fat tail of large clusters means
    * template spam the pair-level dedup should have collapsed upstream.
    *
    * Shape: the component table is O(clustered docs) — tiny next to
    * the corpus — and the histogram is two constant-output aggs on top
    * plus one corpus count. Components always have size ≥ 2 (they are
    * connected LSH pairs), so the singleton row never collides.
    */
  def dupClusterHistogram(docs: DataFrame): DataFrame =
    dupClusterHistogramOn(docs, dedupComponents(docs))

  /** [[dupClusterHistogram]] over an explicit component table (see
    * [[dedupComponents]]' artifact note).
    */
  def dupClusterHistogramOn(docs: DataFrame, comp: DataFrame): DataFrame = {
    val sizes = comp.groupBy(col("component_id"))
      .agg(count(lit(1)).as("cluster_size"))
    val hist = sizes.groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("cluster_size")).as("n_docs"))
    val totals = docs.agg(count(lit(1)).as("n_total"))
      .crossJoin(comp.agg(count(lit(1)).as("n_clustered")))
    hist.unionByName(totals.select(
      lit(1L).as("cluster_size"),
      (col("n_total") - col("n_clustered")).as("n_clusters"),
      (col("n_total") - col("n_clustered")).as("n_docs")))
  }

  def sqlDupClusterHistogram: String =
    s"""WITH comp AS MATERIALIZED (
       |${sqlDedupComponents}
       |),
       |sizes AS (SELECT component_id, count(*) AS cluster_size
       |  FROM comp GROUP BY component_id)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
       |FROM sizes GROUP BY cluster_size
       |UNION ALL
       |SELECT CAST(1 AS BIGINT),
       |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp),
       |  (SELECT count(*) FROM documents) - (SELECT count(*) FROM comp)""".stripMargin

  /** The dedup DECISION for the whole corpus: join the near-dup clusters
    * ([[dedupComponents]]) with per-doc quality ([[TextOps.qualityCols]])
    * and keep the best doc per cluster (max quality, ties → smallest
    * doc_id); docs outside any cluster keep themselves. One row per
    * corpus doc: its cluster, its cluster's survivor, and the keep flag —
    * the filter a training run applies before tokenization.
    *
    * Scale shape: the clustered subset is usually small relative to the
    * corpus (near-dup rate, not corpus size), and when it IS small AQE
    * broadcasts the cluster→survivor map against the full corpus scan at
    * runtime — the corpus itself never shuffles. The hints are NOT forced
    * here on purpose: the membership frame is O(clustered docs), and at
    * 100 TB even a 1% near-dup rate is ~10⁹ rows — an unconditional
    * `broadcast()` hint would bypass autoBroadcastJoinThreshold and OOM
    * the driver. AQE's size-measured decision broadcasts exactly when the
    * frame fits and degrades gracefully to doc_id equi-joins (the minimal
    * shape) when it doesn't. The quality join, ranking window, and member
    * counts all run on the clustered subset only.
    */
  def dedupSurvivors(docs: DataFrame): DataFrame =
    dedupSurvivorsOn(docs, dedupComponents(docs))

  /** [[dedupSurvivors]] over an explicit component table (see
    * [[dedupComponents]]' artifact note).
    */
  def dedupSurvivorsOn(docs: DataFrame, comp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = comp.select("component_id", "doc_id")
    val (_, quality) = TextOps.qualityCols(col("text"))
    // membership join BEFORE the quality projection: the heavy text
    // analysis (tokens, stopword filters, regex counts) runs on the
    // clustered subset (O(near-dup docs)), not the whole corpus — at
    // 10¹⁰ docs that is the difference between scoring everything and
    // scoring the ~1% that is actually in a cluster
    val clustered = fanout(docs).select(col("doc_id"), col("text"))
      .join(comps, "doc_id")
      .select(col("doc_id"), col("component_id"), quality.as("quality"))
    val w = Window.partitionBy("component_id")
      .orderBy(col("quality").desc_nulls_last, col("doc_id"))
    val ranked = clustered.withColumn("rn", row_number().over(w))
    val surv = ranked.filter(col("rn") === 1)
      .select(col("component_id"), col("doc_id").as("survivor_doc_id"))
    val members = clustered.groupBy("component_id")
      .agg(count(lit(1)).as("n_members"))
    val m = clustered.select("doc_id", "component_id")
      .join(surv, "component_id").join(members, "component_id")
    docs.select(col("doc_id"))
      .join(m, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id"),
        coalesce(col("survivor_doc_id"), col("doc_id")).as("survivor_doc_id"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
      .withColumn("keep", col("doc_id") === col("survivor_doc_id"))
  }

  /** Oracle twin: the recursive-CTE components of [[sqlDedupComponents]]
    * + the quality formula of [[TextOps.sqlQualityScore]] + a ranking
    * window, left-joined back onto the corpus.
    */
  def sqlDedupSurvivors: String = {
    val set = TextOps.StopwordProfiles.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE pairs AS (
       |${sqlDedupMinhashLsh}
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |walk(doc_id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.doc_id),
       |comp AS (
       |  SELECT min(label) AS component_id, doc_id FROM walk GROUP BY doc_id),
       |q AS (
       |  SELECT doc_id,
       |    CASE WHEN n_chars_m = 0 THEN NULL ELSE
       |      0.4 * least(n_tokens / 64.0, 1.0) +
       |      0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 4.0, 1.0) +
       |      0.3 * (CAST(n_alpha AS DOUBLE) / n_chars_m)
       |    END AS quality
       |  FROM (
       |    SELECT doc_id,
       |      CAST(len(toks) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(toks, t -> list_contains($set, t))) AS BIGINT) AS n_stop,
       |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
       |      CAST(length(text) AS BIGINT) AS n_chars_m
       |    FROM (SELECT doc_id, text, ${TextOps.sqlTokens("text")} AS toks FROM documents))),
       |ranked AS (
       |  SELECT c.component_id, c.doc_id,
       |    row_number() OVER (PARTITION BY c.component_id
       |      ORDER BY q.quality DESC NULLS LAST, c.doc_id) AS rn
       |  FROM comp c JOIN q USING (doc_id)),
       |surv AS (
       |  SELECT component_id, doc_id AS survivor_doc_id FROM ranked WHERE rn = 1),
       |members AS (
       |  SELECT component_id, count(*) AS n_members FROM comp GROUP BY component_id),
       |m AS (
       |  SELECT r.doc_id, r.component_id, s.survivor_doc_id, mm.n_members
       |  FROM ranked r JOIN surv s USING (component_id)
       |  JOIN members mm USING (component_id))
       |SELECT d.doc_id,
       |  coalesce(m.component_id, d.doc_id) AS component_id,
       |  coalesce(m.survivor_doc_id, d.doc_id) AS survivor_doc_id,
       |  CAST(coalesce(m.n_members, 1) AS BIGINT) AS n_members,
       |  d.doc_id = coalesce(m.survivor_doc_id, d.doc_id) AS keep
       |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin
  }

  /** Embedding near-dup: cosine ≥ threshold within `label` blocks (at scale
    * the block key is a coarse cluster id from a prior pass — same shape).
    * Cosine parity: see [[SimilarityOps.cosine]].
    *
    * Deliberately UNCAPPED: this is the exact complete-pair-list tool for
    * metadata blocks a caller already knows are small. A corpus whose
    * labels can degenerate into one giant block belongs on
    * [[dedupSemantic]], whose candidate side is bounded by
    * [[SemanticCandidateCap]].
    */
  def dedupEmbeddingCosine(emb: DataFrame): DataFrame = {
    // same compute-skew treatment as the ngram block join: few distinct
    // labels → few parallel units without a salt
    val salt = saltB(emb)
    val e = materialize(SimilarityOps.withNorm(emb), "embedding_norms")
    val a = e.select(col("label"), col("vec_id").as("vec_a"),
        col("emb_d").as("ea"), col("norm").as("na"))
      .withColumn("salt", pmod(col("vec_a"), lit(salt)))
    val b = e.select(col("label").as("label2"), col("vec_id").as("vec_b"),
        col("emb_d").as("eb"), col("norm").as("nb"))
      .withColumn("salt2", explode(sequence(lit(0), lit(salt - 1))))
    a.join(b, col("label") === col("label2") && col("salt") === col("salt2"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("label").cast("long").as("label"), col("vec_a"), col("vec_b"),
        SimilarityOps.cosine(col("ea"), col("na"), col("eb"), col("nb")).as("cos_sim"))
      .filter(col("cos_sim") >= CosineDupThreshold)
  }

  def sqlDedupEmbeddingCosine: String =
    s"""WITH e AS (${SimilarityOps.sqlWithNorm("embeddings")})
       |SELECT CAST(a.label AS BIGINT) AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${SimilarityOps.sqlCosine("a.emb_d", "a.norm", "b.emb_d", "b.norm")} AS cos_sim
       |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE ${SimilarityOps.sqlCosine("a.emb_d", "a.norm", "b.emb_d", "b.norm")} >= $CosineDupThreshold""".stripMargin

  // ------------------------------------------------------- dedup_semantic

  /** Cosine threshold for semantic dedup (within learned clusters the
    * members are similar by construction, so the bar sits higher than
    * [[CosineDupThreshold]]'s within-label setting).
    */
  val SemanticDupThreshold = 0.4

  /** Candidate-side cap for the within-cluster pair joins of the semantic
    * family — the [[BandBucketCap]] discipline applied to SemDeDup: each
    * cluster's `cap` SMALLEST vec_ids form the candidate (earlier-vector)
    * side; every vector is still tested, but only against those. Pair
    * cost per cluster drops from |c|^2/2 to |c| x cap — LINEAR in cluster
    * size — which is what survives an adversarial corpus whose embeddings
    * collapse into one cluster (measured round 13: 32k identical vectors
    * ran the uncapped join 27x over the healthy-spread control, 85 s vs
    * 3 s at fixture scale; quadratic in N past that). Semantics are
    * EXACTLY [[dedupSemantic]]'s whenever a cluster holds <= cap members
    * (the cap removes no lower-id candidate then): with granularity
    * prop. to N targeting [[SimilarityOps.KnnTargetClusterSize]]=256 per
    * cluster, 4096 is 16x headroom — only pathological collapse pays the
    * documented recall trade (a dup whose ONLY tau-neighbors sit past the
    * first 4096 cluster members is missed; in a collapsed cluster the
    * earliest members ARE tau-neighbors of everything, so the decision
    * output is unchanged there too). The cap window is row_number +
    * filter — Spark pushes it down as a map-side WindowGroupLimit, so the
    * cap itself cannot straggle on the hot cluster it exists to bound.
    */
  val SemanticCandidateCap = 4096

  /** The deterministic candidate cap ([[SemanticCandidateCap]] semantics)
    * — [[capBuckets]]' twin keyed by `cluster_id`, shared by
    * [[dedupSemantic]] / [[semanticThresholdSweep]] / [[dedupSemanticPca]]
    * and mirrored in their DuckDB twins via [[sqlCapCandidates]].
    */
  private def capClusterCandidates(e: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("vec_id"))
    e.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= SemanticCandidateCap)
      .drop("rn")
  }

  /** DuckDB twin of [[capClusterCandidates]] over a clustered CTE. */
  private def sqlCapCandidates(from: String): String =
    s"""(SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY vec_id) AS rn
       |    FROM $from)
       |  WHERE rn <= $SemanticCandidateCap)""".stripMargin

  /** Semantic dedup (SemDeDup-style, Abbas et al. 2023, arXiv:2303.09540):
    * cluster every embedding to its max-cosine coarse centroid (k-means —
    * here the fixed oracle-shared [[SimilarityOps.defaultCentroids]]; at
    * scale the learned [[SimilarityOps.ivfTrain]] output), then mark a
    * vector a duplicate iff a LOWER-id vector in the SAME cluster has
    * cosine ≥ [[SemanticDupThreshold]]. Output one row per vector:
    * (vec_id, cluster_id, keep).
    *
    * This is [[dedupEmbeddingCosine]] without the metadata crutch: no
    * label column required — the quadratic pair space is bounded by the
    * LEARNED clustering, which is the whole point of SemDeDup at 100 TB
    * (raise k until clusters are small; pair cost is Σ|cluster|²/2, and
    * assignment is a narrow map that never shuffles the corpus). The
    * within-cluster self-join shuffles on cluster_id with the same
    * adaptive mod-salt as the other block joins (few clusters → salt
    * restores parallelism).
    */
  /** [[dedupSemantic]] with granularity ∝ N — the production default
    * (SemDeDup's "raise k until clusters are small" as code, not prose):
    * one O(1)-result count() derives K = ⌈N/[[SimilarityOps.KnnTargetClusterSize]]⌉
    * driver-side, holding expected cluster size constant so the
    * within-cluster pair cost stays ~linear as the corpus grows. The
    * pinned-centroid face below remains for the deterministic oracle key
    * and for callers bringing [[SimilarityOps.ivfTrain]]'s learned set.
    */
  def dedupSemanticAuto(emb: DataFrame): DataFrame =
    dedupSemantic(emb, SimilarityOps.autoCentroidSet(
      SimilarityOps.knnAutoCentroidCount(emb.count())))

  def dedupSemantic(emb: DataFrame,
      centroids: Seq[IndexedSeq[Double]] = SimilarityOps.defaultCentroids): DataFrame = {
    val (e, pairs) = semanticPairCosines(emb, centroids)
    val dups = pairs
      .filter(col("cos") >= SemanticDupThreshold)
      .select(col("vec_a").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    e.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("dup").isNull.as("keep"))
  }

  /** The clustered table + within-cluster pair cosines shared by
    * [[dedupSemantic]] and [[semanticThresholdSweep]]: one blocking, one
    * salted pair join, every consumer filters the SAME `cos` column — so
    * the decision op and its sensitivity monitor cannot disagree about a
    * pair's similarity.
    */
  private def semanticPairCosines(emb: DataFrame,
      centroids: Seq[IndexedSeq[Double]]): (DataFrame, DataFrame) = {
    val salt = saltB(emb)
    // deliberately NOT withNorm: no metadata column (label) is consumed —
    // the clustering IS the blocking key
    val embD = transform(col("embedding"), x => x.cast("double"))
    val base = fanout(emb)
      .select(col("vec_id"), embD.as("emb_d"))
      .withColumn("norm", sqrt(SimilarityOps.dot(col("emb_d"), col("emb_d"))))
    // assignment strategy by K (SimilarityOps.clusterIdsOf): literal dot
    // array at the oracle-pinned K, broadcast-join arg-max when the
    // granularity-∝-N rule pushes K past the measured literal-codegen
    // cliff (30 s/run at K=250 vs the same arithmetic in join form)
    val e = materialize(
      SimilarityOps.withClusterId(base, centroids)
        .select("vec_id", "cluster_id", "emb_d", "norm"),
      "semantic_clusters")
    val a = e.select(col("cluster_id"), col("vec_id").as("vec_a"),
        col("emb_d").as("ea"), col("norm").as("na"))
      .withColumn("salt", pmod(col("vec_a"), lit(salt)))
    // candidate side capped: |c| x cap pairs, not |c|^2/2 (see
    // SemanticCandidateCap — exact for every cluster <= cap)
    val b = capClusterCandidates(e)
      .select(col("cluster_id").as("cluster2"), col("vec_id").as("vec_b"),
        col("emb_d").as("eb"), col("norm").as("nb"))
      .withColumn("salt2", explode(sequence(lit(0), lit(salt - 1))))
    val pairs = a.join(b, col("cluster_id") === col("cluster2") && col("salt") === col("salt2"))
      .filter(col("vec_b") < col("vec_a"))
      .select(col("vec_a"),
        SimilarityOps.cosine(col("ea"), col("na"), col("eb"), col("nb")).as("cos"))
    (e, pairs)
  }

  /** Thresholds published by [[semanticThresholdSweep]] — bracketing the
    * shipped [[SemanticDupThreshold]] so the table answers "what happens
    * if we tighten or loosen τ" without a rerun per candidate value.
    */
  val SweepThresholds: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6)

  /** Threshold-sensitivity sweep of semantic dedup — the τ-tuning table
    * (SemDeDup's figure 3 as an operator): for each candidate threshold,
    * how many within-cluster pairs clear it and how many docs the
    * decision rule would drop. The pair cosines are computed ONCE
    * ([[semanticPairCosines]] — the same blocked join the decision op
    * pays) and every threshold reduces over the same rows as conditional
    * counts in ONE agg: K thresholds cost one pass, not K reruns.
    */
  def semanticThresholdSweep(emb: DataFrame,
      centroids: Seq[IndexedSeq[Double]] = SimilarityOps.defaultCentroids): DataFrame = {
    val (_, pairs) = semanticPairCosines(emb, centroids)
    val aggs = SweepThresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      count(when(col("cos") >= t, 1)).as(s"p$i"),
      countDistinct(when(col("cos") >= t, col("vec_a"))).as(s"d$i"))
    }
    val entries = SweepThresholds.zipWithIndex.flatMap { case (t, i) =>
      Seq(lit(t), struct(col(s"p$i").as("n_pairs"), col(s"d$i").as("n_dup_docs")))
    }
    pairs.agg(aggs.head, aggs.tail: _*)
      .select(explode(map(entries: _*)))
      .select(col("key").as("threshold"),
        col("value.n_pairs").as("n_pairs"),
        col("value.n_dup_docs").as("n_dup_docs"))
  }

  def sqlSemanticThresholdSweep: String = {
    val branches = SweepThresholds.map(t =>
      s"""SELECT $t AS threshold,
         |  count(CASE WHEN cos >= $t THEN 1 END) AS n_pairs,
         |  CAST(count(DISTINCT CASE WHEN cos >= $t THEN vec_a END) AS BIGINT)
         |    AS n_dup_docs
         |FROM pairs""".stripMargin).mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, emb_d, norm,
       |    CAST(list_position(dots, list_max(dots)) - 1 AS BIGINT) AS cluster_id
       |  FROM (SELECT *, ${SimilarityOps.sqlCentDots("emb_d")} AS dots
       |        FROM (${SimilarityOps.sqlWithNorm("embeddings")}))),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS vec_a,
       |    ${SimilarityOps.sqlCosine("a.emb_d", "a.norm", "b.emb_d", "b.norm")} AS cos
       |  FROM e a JOIN ${sqlCapCandidates("e")} b
       |    ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id)
       |$branches""".stripMargin
  }

  def sqlDedupSemantic: String =
    s"""WITH e AS (
       |  SELECT vec_id, emb_d, norm,
       |    CAST(list_position(dots, list_max(dots)) - 1 AS BIGINT) AS cluster_id
       |  FROM (SELECT *, ${SimilarityOps.sqlCentDots("emb_d")} AS dots
       |        FROM (${SimilarityOps.sqlWithNorm("embeddings")}))),
       |d AS (
       |  SELECT DISTINCT a.vec_id FROM e a JOIN ${sqlCapCandidates("e")} b
       |    ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
       |  WHERE ${SimilarityOps.sqlCosine("a.emb_d", "a.norm", "b.emb_d", "b.norm")}
       |    >= $SemanticDupThreshold)
       |SELECT e.vec_id, e.cluster_id, d.vec_id IS NULL AS keep
       |FROM e LEFT JOIN d ON e.vec_id = d.vec_id""".stripMargin

  // --------------------------------------------------- dedup_semantic_pca

  /** The coarse centroids carried into PCA space: each full-dim centroid
    * projected onto [[graft.ops.PretrainOps.defaultPcaComponents]] —
    * driver-side exact double arithmetic (ascending-dim left fold, the
    * same order every in-row fold uses), so both engines receive the SAME
    * k-dim literal values.
    */
  lazy val defaultPcaCentroids: IndexedSeq[IndexedSeq[Double]] =
    SimilarityOps.defaultCentroids.map(c =>
      PretrainOps.defaultPcaComponents.map(comp =>
        c.indices.foldLeft(0.0)((a, d) => a + comp(d) * c(d))))

  /** [[dedupSemantic]] composed with PCA reduction — SemDeDup the way it
    * actually runs at 100 TB (Abbas et al. 2023 cluster in a REDUCED
    * space): every embedding is projected onto the k=[[graft.ops
    * .PretrainOps.PcaK]] pinned components IN-ROW, clustered against the
    * [[defaultPcaCentroids]] (the full-dim coarse centroids carried into
    * the same space), and compared by cosine over the k projected dims.
    *
    * The composition's scale win is shuffle WIDTH: the within-cluster
    * pair join — the only corpus-scale exchange in the operator — now
    * carries k doubles + a norm per row instead of Dim (64→4 is ~14× less
    * shuffle volume), and per-pair cosine cost drops Dim/k-fold, while
    * cluster blocking, mod-salting, and survivor semantics are byte-for-
    * byte [[dedupSemantic]]'s. Same output contract:
    * (vec_id, cluster_id, keep).
    */
  def dedupSemanticPca(emb: DataFrame): DataFrame = {
    val comps = PretrainOps.defaultPcaComponents
    val salt = saltB(emb)
    val embD = transform(col("embedding"), x => x.cast("double"))
    // null embedding → null p (not an array OF nulls): the same
    // null-intolerant flow dedupSemantic's emb_d carries, both engines
    val proj = when(col("emb_d").isNotNull, array(comps.map(cp =>
      SimilarityOps.dot(array(cp.map(lit): _*), col("emb_d"))): _*))
    val dots = array(defaultPcaCentroids.map(c =>
      SimilarityOps.dot(array(c.map(lit): _*), col("p"))): _*)
    val e = materialize(
      fanout(emb)
        .select(col("vec_id"), embD.as("emb_d"))
        .select(col("vec_id"), proj.as("p"))
        .withColumn("norm", sqrt(SimilarityOps.dot(col("p"), col("p"))))
        .withColumn("dots", dots)
        .withColumn("cluster_id",
          (array_position(col("dots"), array_max(col("dots"))) - 1).cast("long"))
        .select("vec_id", "cluster_id", "p", "norm"),
      "semantic_pca_clusters")
    val a = e.select(col("cluster_id"), col("vec_id").as("vec_a"),
        col("p").as("pa"), col("norm").as("na"))
      .withColumn("salt", pmod(col("vec_a"), lit(salt)))
    // same candidate cap as the full-dim path (SemanticCandidateCap)
    val b = capClusterCandidates(e)
      .select(col("cluster_id").as("cluster2"), col("vec_id").as("vec_b"),
        col("p").as("pb"), col("norm").as("nb"))
      .withColumn("salt2", explode(sequence(lit(0), lit(salt - 1))))
    val dups = a.join(b, col("cluster_id") === col("cluster2") && col("salt") === col("salt2"))
      .filter(col("vec_b") < col("vec_a"))
      .filter(SimilarityOps.cosine(col("pa"), col("na"), col("pb"), col("nb"))
        >= SemanticDupThreshold)
      .select(col("vec_a").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    e.join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("dup").isNull.as("keep"))
  }

  private def sqlPcaCentLit(j: Int): String =
    defaultPcaCentroids(j).map(_.toString).mkString("([", ", ", "]::DOUBLE[])")

  def sqlDedupSemanticPca: String = {
    val dots = defaultPcaCentroids.indices
      .map(j => SimilarityOps.sqlDot(sqlPcaCentLit(j), "p"))
      .mkString("[", ", ", "]")
    s"""WITH e AS MATERIALIZED (
       |  SELECT vec_id, p, norm,
       |    CAST(list_position(dots, list_max(dots)) - 1 AS BIGINT) AS cluster_id
       |  FROM (
       |    SELECT vec_id, p, sqrt(${SimilarityOps.sqlDot("p", "p")}) AS norm,
       |      $dots AS dots
       |    FROM (
       |      SELECT vec_id, ${PretrainOps.sqlPcaProjList("emb_d")} AS p
       |      FROM (SELECT vec_id,
       |              list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
       |            FROM embeddings)))),
       |d AS (
       |  SELECT DISTINCT a.vec_id FROM e a JOIN ${sqlCapCandidates("e")} b
       |    ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
       |  WHERE ${SimilarityOps.sqlCosine("a.p", "a.norm", "b.p", "b.norm")}
       |    >= $SemanticDupThreshold)
       |SELECT e.vec_id, e.cluster_id, d.vec_id IS NULL AS keep
       |FROM e LEFT JOIN d ON e.vec_id = d.vec_id""".stripMargin
  }
}
