package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec

/** Physical-plan regression guards: the performance claims in SCALE.md /
  * PLANS.md as assertions, so a refactor that silently adds a shuffle to
  * a narrow operator (or degrades a broadcast join to a cartesian
  * product) fails the build, not the benchmark.
  */
class PlanSpec extends SparkSuite {

  private def collect(p: SparkPlan, deep: Boolean): Seq[SparkPlan] =
    (p +: p.children.flatMap(collect(_, deep))) ++ (p match {
      case a: AdaptiveSparkPlanExec => collect(a.executedPlan, deep)
      // materialized AQE stages hold their subtree as a member, not a child
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collect(qs.plan, deep)
      // deep: ALSO descend into InMemoryRelation build plans (the
      // materialized ppl_bucket_scored / shared token table) — the
      // "no SMJ anywhere" sweeps must cover the score-build side, not
      // only the post-materialization layer
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if deep =>
        collect(im.relation.cachedPlan, deep)
      case _ => Seq.empty
    })

  /** Post-materialization nodes only: exchange-count budgets charge a
    * cached build to the query that materializes it, not to every
    * consumer re-reading the InMemoryRelation.
    */
  private def nodes(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan, deep = false)

  /** Every node including cached-build subtrees — for the join-shape
    * sweeps (no SMJ / no cartesian), which must hold everywhere.
    */
  private def nodesDeep(df: DataFrame): Seq[SparkPlan] =
    collect(df.queryExecution.executedPlan, deep = true)

  private def exchanges(df: DataFrame): Int =
    nodes(df).count(_.isInstanceOf[ShuffleExchangeExec])
  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("narrow projection ops: zero shuffles") {
    for (name <- Seq("message_typing", "routing_map", "routing_partition",
        "key_extract", "op_annotate", "json_serialize", "ndjson_encode",
        "id_escape", "type_version_gate", "token_count", "lang_id",
        "quality_score", "multimodal_resize", "multimodal_features")) {
      assert(exchanges(q(name)) == 0, s"$name grew a shuffle")
    }
  }

  test("single-key agg/window ops: exactly one shuffle") {
    for (name <- Seq("dedup_exact", "dedup_lww", "script_update",
        "snapshot_scan", "doc_fingerprint")) {
      assert(exchanges(q(name)) == 1, s"$name should shuffle exactly once")
    }
    // fanout insurance repartition + the (centroid, dim) agg
    assert(exchanges(q("ivf_train_step")) == 2)
    // same shape, per-subspace: repartition + the (subspace, code, dim) agg
    assert(exchanges(q("pq_train_step")) == 2)
    // encode is the repartition alone — the codes projection is narrow
    assert(exchanges(q("pq_encode")) == 1)
    // QC/manifest family: fanout repartition + exactly one keyed
    // agg/window shuffle each — a third exchange is a regression
    for (name <- Seq("lang_mix", "shard_checksums", "length_percentiles"))
      assert(exchanges(q(name)) == 2, s"$name grew an extra shuffle")
    // PCA projection: the fanout insurance repartition ONLY — the k dot
    // folds are in-row, a second exchange means the projection shuffled
    assert(exchanges(q("embed_pca_project")) == 1,
      "embed_pca_project must stay a narrow projection")
    // classifier train step: label+logit+residual in-row, then exactly
    // the ≤1024-key bucket-gradient agg — plus (round 12) the
    // narrow-input fanout insurance repartition the one-file fixture
    // triggers (a no-op exchange-count-wise on multi-split corpora)
    assert(exchanges(q("quality_linear_train")) == 2,
      "quality_linear_train is fanout + one map-side-combined gradient agg")
  }

  test("dedup_semantic_pca / ann_pca_refine: broadcasts, no cartesian") {
    for (name <- Seq("dedup_semantic_pca", "ann_pca_refine")) {
      val ns = nodes(q(name))
      assert(ns.exists(_.isInstanceOf[BroadcastExchangeExec]),
        s"$name lost its broadcast")
      assert(!ns.exists(_.isInstanceOf[CartesianProductExec]),
        s"$name degraded to cartesian")
    }
  }

  test("decontaminate_packed: bench grams broadcast; corpus shuffles only for assembly") {
    val ns = nodes(q("decontaminate_packed"))
    assert(ns.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "the benchmark gram set must broadcast")
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    // pack window + span assembly + final agg + fanout — five means a
    // consumer re-shuffled the corpus
    assert(exchanges(q("decontaminate_packed")) <= 4,
      "decontaminate_packed grew an extra corpus shuffle")
  }

  test("whole-stage codegen actually COMPILES for the big projection chains") {
    // Janino's 64 KB method limit fails at RUNTIME, not planning: the plan
    // still shows WholeStageCodegen, Spark logs a warning, and silently
    // falls back to interpreted evaluation (this cost routing_partition
    // 2-3x until round 2's literal-map fix). Compile the generated code
    // here and assert every method stays under the huge-method limit.
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    // the sketch queries are here because their custom expressions
    // (minhash/simhash/md5-prefix/rolling-window) emit HashKernels static
    // calls from doGenCode — a regression back to CodegenFallback would
    // drop their codegen spans to zero and fail the nonEmpty assert
    for (name <- Seq("routing_partition", "ndjson_encode",
        "type_version_gate", "script_update_encode",
        "minhash_signature", "simhash_signature", "quality_repetition",
        "doc_fingerprint")) {
      val df = q(name)
      // materialize THIS queryExecution first (toRdd, not foreach/count —
      // those build a fresh QueryExecution): AQE inserts WholeStageCodegen
      // per query stage at execution, the pre-execution plan shows none
      df.queryExecution.toRdd.foreach(_ => ())
      val spans = nodes(df).collect { case w: WholeStageCodegenExec => w }
      assert(spans.nonEmpty, s"$name lost its codegen span")
      for (w <- spans) {
        val (_, code) = w.doCodeGen()
        val (_, stats) = CodeGenerator.compile(code)
        assert(stats.maxMethodCodeSize < 65535,
          s"$name generated a ${stats.maxMethodCodeSize}-byte method — runtime would fall back to interpreted")
      }
    }
  }

  test("corpus_clean: fused gates keep the exchange count bounded") {
    // round 1 joined the quality/lang gate frames back on doc_id (13
    // exchanges with the band cap); the fused single-projection gates
    // bring it to 10 — a regression here means someone reintroduced a
    // gate join
    assert(exchanges(q("corpus_clean")) <= 10,
      s"corpus_clean grew to ${exchanges(q("corpus_clean"))} exchanges")
  }

  test("ordinal ops: the input never funnels through one partition") {
    // lazy two-pass globalOrdinals: the plan may shuffle several times
    // (bounds agg, counts agg, offsets prefix window, the _ord window,
    // the final agg) but — the point of the design — every exchange that
    // collapses to ONE partition sits above an aggregation (a 1-row
    // bounds frame or the O(blocks) counts frame), never above the raw
    // input (the round-1 WindowExec-warning plans did exactly that)
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def hasAggBelow(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case a: AdaptiveSparkPlanExec => hasAggBelow(a.executedPlan)
      case other => other.children.exists(hasAggBelow)
    }
    for (name <- Seq("chunk_split", "batch_accumulate", "concurrent_partition")) {
      val ex = nodes(q(name)).collect { case e: ShuffleExchangeExec => e }
      val funnels = ex.filter(e =>
        e.outputPartitioning.numPartitions == 1 && !hasAggBelow(e.child))
      assert(funnels.isEmpty,
        s"$name funnels un-aggregated data into a single partition")
      // and the window that stamps _ord over the full input is partitioned
      val windows = nodes(q(name)).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.forall(_.partitionSpec.nonEmpty),
        s"$name has a window with no partition spec")
    }
  }

  test("ordinal ops evaluate their input chain once (slim cache)") {
    // round 14: globalOrdinals reads its input from three plan branches
    // (bounds agg, block counts, stamped rows), so without the slim
    // narrow-projection materialize the whole typed->routed->handler
    // chain re-evaluated per branch — 4 source scans / 2.2-2.7 s per key
    // in-sweep at sf0.1. The cached projection makes every branch read
    // ONE InMemoryRelation whose build holds the only source scan.
    for (name <- Seq("chunk_split", "batch_accumulate", "concurrent_partition")) {
      val df = q(name)
      df.queryExecution.toRdd.foreach(_ => ()) // finalize AQE stages
      val deep = nodesDeep(df).distinct
      val scans = deep.count(_.isInstanceOf[FileSourceScanExec])
      assert(scans <= 1,
        s"$name scans its source $scans times — the slim cache is gone")
      assert(deep.exists(
        _.isInstanceOf[org.apache.spark.sql.execution.columnar.InMemoryTableScanExec]),
        s"$name lost the slim input materialization")
    }
  }

  test("ordinal ops build lazily: no job at DataFrame-construction time") {
    // round 2's globalOrdinals ran head() + collect() at BUILD time (two
    // eager evaluations of the whole upstream pipeline per invocation) —
    // the same anti-pattern the round-1 verdict flagged for tfidf
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // pre-read the table: spark.read.parquet may run its own footer job,
      // which is not what this guards against
      import graft.ops.CdcOps
      val events = spark.read.parquet(s"$sf/events.parquet")
      val acts = CdcOps.handlerActions(CdcOps.typedMessages(events))
      Thread.sleep(1000)
      counter.set(0)
      val dfs = Seq(
        CdcOps.chunkSplit(acts, 100),
        CdcOps.batchAccumulate(acts, 1000),
        CdcOps.concurrentPartition(acts, 4))
      Thread.sleep(1000)
      assert(counter.get() == 0,
        "building an ordinal op launched a Spark job (eager bounds/offsets)")
      assert(dfs.forall(_.columns.nonEmpty))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tfidf_topk builds lazily: no job at DataFrame-construction time") {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // read the table FIRST: spark.read.parquet runs its own footer/
      // schema-inference job, which is not what this guards against
      val docs = spark.read.parquet(s"$sf/documents.parquet")
      // drain queued events from earlier tests (the async bus delivers
      // already-queued events to listeners added later)
      Thread.sleep(1000)
      counter.set(0)
      val df = graft.ops.TextOps.tfidfTopK(docs)
      // a build-time job would have BLOCKED inside the builder (count/
      // collect are synchronous); the sleep only lets the async listener
      // bus drain before we read the counter
      Thread.sleep(1000)
      assert(counter.get() == 0, "building tfidf_topk launched a Spark job")
      assert(df.columns.contains("score"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("ANN ops broadcast the query side, never cartesian") {
    for (name <- Seq("ann_topk_bruteforce", "ann_lsh_bucket", "ann_ivf_probe",
        "ann_ivfpq_probe", "ann_ivfpq_refine")) {
      val ns = nodes(q(name))
      assert(ns.exists(_.isInstanceOf[BroadcastExchangeExec]), s"$name lost its broadcast")
      assert(!ns.exists(_.isInstanceOf[CartesianProductExec]), s"$name degraded to cartesian")
    }
  }

  test("pretrain ops: narrow stay narrow, aggregations stay minimal") {
    // pure projections/filters — a shuffle here is always a regression
    for (name <- Seq("pii_count", "sample_stratified")) {
      assert(exchanges(q(name)) == 0, s"$name grew a shuffle")
    }
    // fanout insurance repartition + one map-side-combined agg
    assert(exchanges(q("dedup_substring")) == 2,
      "dedup_substring is fanout + one hash agg")
    // decontaminate: corpus side must reach the hit-join via BROADCAST —
    // the whole scale story is that corpus text never shuffles; the only
    // shuffles are the fanout + the tiny benchmark distinct + final agg
    val dec = nodes(q("decontaminate"))
    assert(dec.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "decontaminate lost the benchmark-side broadcast")
    assert(!dec.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("sketch expressions: codegen and interpreted paths agree bit-for-bit") {
    // both paths call the same HashKernels static kernel, so divergence is
    // impossible by construction — this guards the construction (a future
    // doGenCode edit that stops delegating would show up here)
    def collectSorted(name: String): Seq[String] =
      q(name).collect().map(_.toString).sorted.toSeq
    val generated = Seq("minhash_signature", "simhash_signature",
      "doc_fingerprint", "tokenize_bpe").map(n => n -> collectSorted(n))
    val saved = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      for ((name, gen) <- generated)
        assert(collectSorted(name) == gen, s"$name diverges between paths")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_survivors: membership joins carry no forced broadcast hint") {
    // an unconditional broadcast() hint bypasses autoBroadcastJoinThreshold
    // — at 100 TB the O(clustered docs) membership frame would OOM the
    // driver. The decision belongs to AQE's measured sizes; assert no join
    // in the plan carries a user-forced hint on either side.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = q("dedup_survivors").queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    assert(joins.nonEmpty, "survivors lost its joins?")
    for (j <- joins)
      assert(j.hint.leftHint.isEmpty && j.hint.rightHint.isEmpty,
        s"forced join hint found: ${j.hint}")
  }

  test("bucketed layout: co-located join and agg on the bucket key plan ZERO exchanges") {
    // the storage-level shuffle elimination SCALE.md promises: both join
    // sides pre-hash-partitioned on disk ⇒ no exchange at query time
    import graft.ops.BucketedLayout
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val wh = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    BucketedLayout.writeBucketed(
      docs.select("doc_id", "lang", "source"), "b_meta", "doc_id", 8, s"$wh/b_meta")
    BucketedLayout.writeBucketed(
      docs.select("doc_id", "n_chars"), "b_chars", "doc_id", 8, s"$wh/b_chars")
    try {
      val joined = BucketedLayout.table(spark, "b_meta")
        .join(BucketedLayout.table(spark, "b_chars"), "doc_id")
      assert(exchanges(joined) == 0,
        "bucketed equi-join on the bucket key grew an exchange")
      val agged = BucketedLayout.table(spark, "b_chars")
        .groupBy("doc_id").count()
      assert(exchanges(agged) == 0,
        "bucketed groupBy on the bucket key grew an exchange")
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_meta")
      spark.sql("DROP TABLE IF EXISTS b_chars")
    }
  }

  test("bucketed history index: dedupAgainstSignatures drops the history-side exchanges") {
    // the consumer BucketedLayout was built for: the standing corpus's
    // signature + content-hash tables live bucketed on their join keys,
    // so the incremental dedup's verify join (the one moving signature
    // ARRAYS) and exact-hash join read the disk layout as the join
    // partitioning — only the day-sized incoming side shuffles
    import graft.ops.{BucketedLayout, DedupOps}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val incoming = docs.limit(50)
    val wh = java.nio.file.Files.createTempDirectory("graft-histidx").toString
    BucketedLayout.writeBucketed(DedupOps.historySignatureTable(docs),
      "b_hist_sigs", "doc_id", 8, s"$wh/b_hist_sigs")
    BucketedLayout.writeBucketed(DedupOps.historyContentHashes(docs),
      "b_hist_hashes", "content_hash", 8, s"$wh/b_hist_hashes")
    // force the 100 TB join regime: a real history index is far past any
    // broadcast threshold, so the claim under test is "SMJ reads the
    // bucket layout as its partitioning". At sf0.001 AQE would broadcast
    // both tiny sides and hide the difference entirely.
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val bucketed = DedupOps.dedupAgainstSignatures(incoming,
        BucketedLayout.table(spark, "b_hist_sigs"),
        BucketedLayout.table(spark, "b_hist_hashes"))
      bucketed.write.format("noop").mode("overwrite").save()
      // both history tables are consumed via bucketed scans…
      val scans = nodes(bucketed).collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(scans.size >= 2,
        s"expected both history tables to read as bucketed scans, got ${scans.size}")
      // …and the whole plan needs strictly fewer exchanges than the
      // recompute-the-index form of the same query
      val unbucketed = DedupOps.dedupAgainstIndex(incoming, docs)
      unbucketed.write.format("noop").mode("overwrite").save()
      assert(exchanges(bucketed) < exchanges(unbucketed),
        s"bucketed=${exchanges(bucketed)} vs unbucketed=${exchanges(unbucketed)}")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      spark.sql("DROP TABLE IF EXISTS b_hist_sigs")
      spark.sql("DROP TABLE IF EXISTS b_hist_hashes")
    }
  }

  test("pairwise dedup ops never plan a cartesian product") {
    for (name <- Seq("dedup_minhash_lsh", "dedup_simhash",
        "dedup_ngram_jaccard", "dedup_embedding_cosine", "corpus_clean",
        "dedup_incremental", "corpus_clean_decontam", "dedup_semantic")) {
      assert(!nodes(q(name)).exists(_.isInstanceOf[CartesianProductExec]),
        s"$name planned a cartesian product")
    }
  }

  test("chunk_tokens: narrow generate — only the fanout insurance shuffle") {
    assert(exchanges(q("chunk_tokens")) == 1,
      "chunk_tokens should be fanout + a zero-shuffle explode/slice chain")
  }

  test("decontaminate_bloom: bounded-size bloom broadcasts, no forced hint on the confirm join") {
    val df = q("decontaminate_bloom")
    val ns = nodes(df)
    // the three bit-test probes ride broadcast joins of the ≤1024-row bloom
    assert(ns.count(_.isInstanceOf[BroadcastExchangeExec]) >= 1,
      "bloom probe joins lost their broadcast")
    assert(!ns.exists(_.isInstanceOf[CartesianProductExec]))
    // the exact-confirm join against the bench grams must stay AQE-decided:
    // the bench side is O(|benchmark|), NOT bounded by construction — only
    // the bloom table (join key "w") may carry the forced hint
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val forced = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }
    assert(forced.forall(_.condition.exists(_.references.exists(_.name == "w"))),
      "a forced broadcast hint escaped beyond the size-bounded bloom table")
  }

  test("round-7 curation ops: rank-limit pushed, top-K without global sort") {
    // cluster_sample: the per-cluster rank filter must plan as
    // WindowGroupLimit — each map task keeps ≤ N rows per cluster BEFORE
    // the exchange, so the shuffle carries O(K·N·tasks), never the corpus
    assert(nodes(q("cluster_sample")).exists(
      _.getClass.getSimpleName.startsWith("WindowGroupLimit")),
      "cluster_sample lost the WindowGroupLimit pre-shuffle limit")
    // split_assign: fanout insurance repartition + ONE splits-sized agg
    assert(exchanges(q("split_assign")) == 2,
      "split_assign must stay a narrow projection + one 2-row agg")
    // ngram_topk: one corpus pass — fanout repartition + ONE
    // map-side-combined text agg, top-K via TakeOrderedAndProject
    // (per-partition top-K + K×P driver merge — no global sort)
    val nt = nodes(q("ngram_topk"))
    assert(nt.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      "ngram_topk top-K degraded from TakeOrderedAndProject")
    assert(exchanges(q("ngram_topk")) == 2,
      "ngram_topk must stay a single-agg word-count shape")
    assert(!nt.exists(_.isInstanceOf[CartesianProductExec]))
    // mixture_reweight_step: one corpus scan into a sources-sized agg,
    // then only metadata-sized frames — broadcast folds, no cartesian
    assert(exchanges(q("mixture_reweight_step")) <= 4,
      "mixture_reweight_step grew beyond its agg + broadcast-fold shape")
    assert(!nodes(q("mixture_reweight_step"))
      .exists(_.isInstanceOf[CartesianProductExec]))
    // split_leakage: big-big on purpose — there must be NO forced
    // broadcast hint (the train side is 90% of the corpus)
    val leakPlan = q("split_leakage").queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    assert(leakPlan.collect {
      case j: Join if j.hint.leftHint.nonEmpty || j.hint.rightHint.nonEmpty => j
    }.isEmpty, "split_leakage must not force-broadcast a corpus-sized side")
  }

  test("round-7 (cont.): knn_graph and quality_perplexity_bucket shapes hold") {
    // knn_graph: assignment is narrow (centroid literals), pairs meet on
    // ONE cluster/salt shuffle, and the per-vector top-k must pre-limit
    // map-side — never a cartesian, never a global sort
    val kg = q("knn_graph")
    val kn = nodes(kg)
    assert(kg.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"),
      "knn_graph lost the WindowGroupLimit pre-shuffle limit")
    assert(!kn.exists(_.isInstanceOf[CartesianProductExec]))
    assert(exchanges(kg) <= 3,
      "knn_graph grew beyond assignment + pair-join + window shuffles")
    // quality_perplexity_bucket: the cut table is sources-sized and must
    // come back as a broadcast, not a shuffle join; no SMJ anywhere
    // round-8: the AUTO-granularity default (centroids ∝ N) must keep
    // exactly the pinned-centroid plan shape — the rule changes K, never
    // the operator's physical form
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val kga = graft.ops.SimilarityOps.knnGraphAuto(emb)
    assert(kga.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"),
      "knnGraphAuto lost the WindowGroupLimit pre-shuffle limit")
    assert(!nodes(kga).exists(_.isInstanceOf[CartesianProductExec]))
    assert(exchanges(kga) <= 3)
    // knn_recall: the exact side broadcasts the fixed query set (never a
    // cartesian), both graph legs keep their bounded shapes
    val kr = q("knn_recall")
    assert(!nodesDeep(kr).exists(_.isInstanceOf[CartesianProductExec]),
      "knn_recall degraded to a cartesian")
    assert(nodes(kr).count(_.isInstanceOf[BroadcastExchangeExec]) >= 1,
      "knn_recall exact side lost its query broadcast")
    val pb = q("quality_perplexity_bucket")
    val pn = nodes(pb)
    assert(pn.count(_.isInstanceOf[BroadcastExchangeExec]) >= 1,
      "perplexity-bucket threshold join lost its broadcast")
    // deep sweep: the fluency gram joins and the scored⋈documents join
    // sit INSIDE the cached ppl_bucket_scored build plan — cover them too
    val pd = nodesDeep(pb)
    assert(!pd.exists(_.getClass.getSimpleName.startsWith("SortMergeJoin")),
      "perplexity-bucket picked up a sort-merge join (incl. the score-build side)")
    assert(!pd.exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("knn_graph times a build: the key never resolves to the persisted knn artifact") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def cached(df: DataFrame): Seq[InMemoryRelation] =
      df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
    import org.apache.spark.storage.StorageLevel
    val artifact = SparkEntry.knnGraphT(spark, sf)
    // an earlier measurement barrier in this JVM may have dropped it
    if (artifact.storageLevel == StorageLevel.NONE)
      artifact.persist(StorageLevel.MEMORY_AND_DISK)
    artifact.count()
    // a fresh plan over the artifact: its own queryExecution may predate
    // the current cache entry
    val artifactBuilders = cached(artifact.select("*")).map(_.cacheBuilder)
    assert(artifactBuilders.size == 1, "the knn artifact must be cached")
    // the key's own cluster-assignment cache may appear; an edge table
    // (the artifact or any other copy of the graph) must not
    val key = cached(q("knn_graph"))
    assert(!key.exists(r => artifactBuilders.exists(_ eq r.cacheBuilder)),
      "knn_graph resolved to the persisted artifact")
    assert(!key.exists(_.output.exists(_.name == "cos_sim")),
      "knn_graph read a cached edge table")
    assert(cached(q("contrastive_triplets"))
      .exists(r => artifactBuilders.exists(_ eq r.cacheBuilder)),
      "contrastive_triplets must read the knn artifact")
  }

  test("round-8 (cont.): KN fluency / DSIR / source-overlap shapes") {
    // quality_kn_fluency: all four statistics tables (c2, prefix, backward
    // continuation, type total) derive from ONE materialized bigram agg —
    // the corpus pays a single gram aggregation; n1_total broadcasts
    val kn = q("quality_kn_fluency")
    assert(exchanges(kn) <= 7, "quality_kn_fluency grew an extra shuffle")
    assert(nodes(kn).exists(_.isInstanceOf[BroadcastExchangeExec]))
    assert(!nodesDeep(kn).exists(_.isInstanceOf[CartesianProductExec]))
    // dsir_weight: BOTH distribution aggs are B-row map-side-combined
    // reductions and the λ table joins back as a broadcast to per-doc
    // BUCKET COUNTS (never to raw gram occurrences)
    val dw = q("dsir_weight")
    assert(exchanges(dw) <= 5, "dsir_weight grew an extra shuffle")
    assert(nodes(dw).count(_.isInstanceOf[BroadcastExchangeExec]) >= 2,
      "dsir_weight must broadcast the totals AND the λ table")
    assert(!nodesDeep(dw).exists(_.isInstanceOf[CartesianProductExec]))
    // dsir_resample: the per-source rank must pre-limit map-side
    // (WindowGroupLimit) — a global sort here is the 100 TB killer
    val dr = q("dsir_resample")
    assert(dr.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"),
      "dsir_resample lost the WindowGroupLimit pre-shuffle limit")
    assert(!nodesDeep(dr).exists(_.isInstanceOf[CartesianProductExec]))
    // source_overlap: pair expansion is IN-ROW from each gram's sorted
    // source set — a gram⋈gram self-join (the all-pairs trap) would show
    // up as extra exchanges or a cartesian; the S²-matrix assembly rides
    // a broadcast of the S-row size table
    val so = q("source_overlap")
    assert(exchanges(so) <= 6, "source_overlap grew an extra shuffle")
    assert(nodes(so).exists(_.isInstanceOf[BroadcastExchangeExec]))
    assert(!nodesDeep(so).exists(_.isInstanceOf[CartesianProductExec]))
    // ann_graph_search: every hop must prune the beam map-side
    // (WindowGroupLimit) and the seed fan-out must stay a broadcast of
    // the 4-row seed table — no CartesianProduct anywhere
    val gs = q("ann_graph_search")
    assert(gs.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"),
      "ann_graph_search lost the per-hop WindowGroupLimit beam prune")
    assert(!nodesDeep(gs).exists(_.isInstanceOf[CartesianProductExec]),
      "ann_graph_search degraded to a cartesian")
    // embed_drift: one dim-keyed agg — a second exchange would mean the
    // monitor started shuffling per-element rows somewhere
    assert(exchanges(q("embed_drift")) <= 2,
      "embed_drift must stay fanout + one dim-keyed agg")
    // lang_id_ngram: per-doc gram dedup must stay IN-ROW (the
    // sorted_distinct explode) — the profile top-K is a WindowGroupLimit
    // and the hit join a broadcast; no cartesian anywhere
    val li = q("lang_id_ngram")
    assert(li.queryExecution.optimizedPlan.toString.contains("WindowGroupLimit"),
      "lang_id_ngram lost the per-language WindowGroupLimit top-K")
    assert(nodes(li).exists(_.isInstanceOf[BroadcastExchangeExec]),
      "lang_id_ngram profile join lost its broadcast")
    assert(!nodesDeep(li).exists(_.isInstanceOf[CartesianProductExec]))
    // source_distinct_hll: the REGISTER side must never pay a distinct
    // shuffle (that's the sketch's reason to exist) — budget covers
    // fanout + register agg + per-source fold + the exact-side
    // evaluation column (which production drops)
    assert(exchanges(q("source_distinct_hll")) <= 6,
      "source_distinct_hll grew an extra shuffle")
    assert(!nodesDeep(q("source_distinct_hll"))
      .exists(_.isInstanceOf[CartesianProductExec]))
    // community_representatives (round-10): per-round LP/PR truncation
    // gives AQE sized inputs, so the mid-pipeline joins broadcast —
    // SMJ=0 post-AQE and the exchange budget under 20 are pinned (the
    // sweep's most expensive query carried the only non-deliberate
    // SMJs). Executed first: checkpointed-RDD leaves carry no static
    // size stats, so the pre-execution plan still drafts SMJs that AQE
    // converts — the FINAL plan is the claim.
    // collect(), not a noop write: the write action spawns its OWN
    // QueryExecution, leaving this df's adaptive plan unfinalized
    val cr = q("community_representatives")
    cr.collect()
    assert(!nodesDeep(cr).exists(
      _.getClass.getSimpleName.startsWith("SortMergeJoin")),
      "community_representatives regressed to a sort-merge join")
    assert(exchanges(cr) < 20, "community_representatives exchange budget")
    // knn_pagerank: five rank⋈edges rounds, no cartesian anywhere
    assert(!nodesDeep(q("knn_pagerank"))
      .exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("round-9 post-training ops: one exchange each for render and preference aggs") {
    // chat_render: the session windows + the final per-session agg all
    // ride ONE hashpartitioning(user_id) exchange (the subset rule) —
    // all offset/mask arithmetic is in-row, so a second shuffle here
    // means the fold regressed to a window pass
    assert(exchanges(q("chat_render")) == 1,
      "chat_render must stay one user_id exchange")
    // dpo_pairs / best_of_n: ONE prompt-keyed map-side-combinable agg
    // over the cached token table — constant state per group, no window,
    // no join; reward_length_bias folds to a single row (one
    // SinglePartition gather of 6 longs)
    for (name <- Seq("dpo_pairs", "best_of_n")) {
      val df = q(name)
      assert(exchanges(df) <= 1, s"$name grew a shuffle")
      assert(!df.queryExecution.optimizedPlan.toString.contains("Window"),
        s"$name must not need a window")
    }
    assert(exchanges(q("reward_length_bias")) == 1, // the SinglePartition gather
      "reward_length_bias must carry only the single-row gather")
    // chat_pack_spans: render exchange + the two (user, seq)-keyed aggs;
    // the n_docs⋈spans join is on the agg key, so it must never add a
    // repartition of either side beyond those aggs — and no cartesian
    val cp = q("chat_pack_spans")
    assert(exchanges(cp) <= 5, "chat_pack_spans grew an extra shuffle")
    assert(!nodesDeep(cp).exists(_.isInstanceOf[CartesianProductExec]))
  }

  test("round-9 (cont.): quality gate, FIM, diff, scrub and mining shapes") {
    // fim_split: in-row splits over the token table — ZERO shuffles
    assert(exchanges(q("fim_split")) == 0, "fim_split grew a shuffle")
    // profile_corpus: one pass to one row (distinct counts expand the
    // agg, but never beyond the gather exchanges)
    assert(exchanges(q("profile_corpus")) <= 3, "profile_corpus grew")
    // validate_corpus: the one genuine shuffle is the duplicate-key agg
    assert(exchanges(q("validate_corpus")) <= 4, "validate_corpus grew")
    // corpus_diff: one narrow projection per side + ONE co-keyed join
    val cd = q("corpus_diff")
    assert(exchanges(cd) <= 2, "corpus_diff must shuffle each side once")
    assert(!nodesDeep(cd).exists(_.isInstanceOf[CartesianProductExec]))
    // scrub_boilerplate_lines: line explode is narrow; df agg + hit
    // join + rebuild agg — and the join key is always the md5, so no
    // raw-text shuffles and no cartesian
    val sb = q("scrub_boilerplate_lines")
    assert(exchanges(sb) <= 5, "scrub_boilerplate_lines grew a shuffle")
    assert(!nodesDeep(sb).exists(_.isInstanceOf[CartesianProductExec]))
    // contrastive_triplets / matryoshka_recall: blocked/broadcast pair
    // generation only — never a cartesian anywhere
    for (name <- Seq("contrastive_triplets", "matryoshka_recall")) {
      assert(!nodesDeep(q(name)).exists(_.isInstanceOf[CartesianProductExec]),
        s"$name degraded to a cartesian")
    }
  }

  test("round-9 (cont.): crawl-curation + eval shapes") {
    // html_extract / url_normalize: pure codegen'd projections — the
    // entire operator rides the scan
    for (name <- Seq("html_extract", "url_normalize")) {
      assert(exchanges(q(name)) == 0, s"$name grew a shuffle")
    }
    // soft_dedup_weight (round-10: window → agg+join-back, the hot-dup
    // skew fix): the one content-hash agg shuffle; the cluster-size
    // table must come back as a broadcast, not a second co-partition
    val sdw = q("soft_dedup_weight")
    assert(exchanges(sdw) == 1, "soft_dedup_weight grew")
    assert(nodes(sdw).exists(_.isInstanceOf[BroadcastExchangeExec]),
      "soft_dedup_weight cluster sizes must broadcast back")
    // dedup_prefix / dedup_url: the dedup_exact minimal shape (fanout
    // insurance + one hash-keyed agg at most)
    for (name <- Seq("dedup_prefix", "dedup_url")) {
      assert(exchanges(q(name)) <= 2, s"$name grew past the minimal shape")
    }
    // token_budget_fill: the DECOMPOSED prefix sum — the offset ladder
    // must come back as a BROADCAST (a shuffled ladder join would mean
    // the decomposition regressed to a corpus-sized co-partition)
    val tb = q("token_budget_fill")
    assert(exchanges(tb) <= 5, "token_budget_fill grew a shuffle")
    assert(nodes(tb).exists(_.isInstanceOf[BroadcastExchangeExec]),
      "the bucket-offset ladder must broadcast back")
    // pass_at_k: ONE group agg then in-row arithmetic
    assert(exchanges(q("pass_at_k")) <= 2, "pass_at_k grew a shuffle")
    // phrase_match: postings filtered to query terms — joins on
    // (doc, pos) only, never a cartesian; count cap covers the
    // per-phrase branches + the materialized postings build
    val pm = q("phrase_match")
    assert(!nodesDeep(pm).exists(_.isInstanceOf[CartesianProductExec]),
      "phrase_match degraded to a cartesian")
  }

  test("round-10: sketch, byte-fallback and incremental-clean shapes") {
    // length_percentiles_sketch: the per-source corpus sort is GONE —
    // the only corpus-wide stages are the fanout insurance and ONE
    // (source, lvl) map-side-combined count; everything after operates
    // on ≤33-row histograms / ≤cap retained rows, and the per-source
    // (t, n_docs) table must come back as a broadcast
    val lps = q("length_percentiles_sketch")
    assert(exchanges(lps) <= 8, "length_percentiles_sketch grew a shuffle")
    assert(nodes(lps).exists(_.isInstanceOf[BroadcastExchangeExec]),
      "the sketch per-source (t, n_docs) table must broadcast")
    // the CCNet sketch cuts: same discipline — the cut table broadcasts
    // back over the scored corpus
    val qps = q("quality_perplexity_bucket_sketch")
    assert(nodes(qps).exists(_.isInstanceOf[BroadcastExchangeExec]),
      "the sketch cut table must broadcast")
    assert(!nodesDeep(qps).exists(_.isInstanceOf[CartesianProductExec]))
    // byte-fallback tokenizer: the per-distinct-word probe stays a
    // broadcast (fallback accounting must not have added a corpus-keyed
    // co-partition join)
    val fb = q("tokenize_unigram_bytefb")
    assert(nodes(fb).exists(_.isInstanceOf[BroadcastExchangeExec]),
      "tokenize_unigram_bytefb word probe lost its broadcast")
    // incremental clean: blocked/banded throughout — never a cartesian
    // anywhere in the state build or the patch
    assert(!nodesDeep(q("corpus_clean_incremental"))
      .exists(_.isInstanceOf[CartesianProductExec]),
      "corpus_clean_incremental degraded to a cartesian")
  }
}
