package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch
import graft.ops.CorpusOps

/** The incremental corpus rebuild's equivalence contract:
  * patch(clean(v1), diff(v1→v2)) must be IDENTICAL to clean(v2) from
  * scratch — not just on the happy path but on every cascade the
  * deterministic rules create: exact-dup promotion (a removed rep's
  * next-min takes over), demotion (an added smaller id evicts an
  * unchanged rep), near-dup loser re-admission (the doc it lost to
  * left), and text edits that flip a doc's dup status. Plus chaining:
  * the state the patch returns must itself patch correctly into v3.
  */
class IncrementalCleanSpec extends SparkSuite {
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toDF("doc_id", "text", "source")

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def incremental(v1: DataFrame, v2: DataFrame): (DataFrame, CorpusOps.CleanState) =
    CorpusOps.cleanCorpusIncremental(v2,
      CorpusOps.cleanState(v1), CorpusOps.corpusDiff(v1, v2))

  private def assertEquiv(v1: DataFrame, v2: DataFrame): CorpusOps.CleanState = {
    val (inc, state) = incremental(v1, v2)
    assert(rows(inc) === rows(CorpusOps.cleanCorpus(v2)),
      "incremental clean(v2) diverged from the from-scratch rebuild")
    state
  }

  // gate-passing English filler: stopword-dense, long enough for quality
  private def en(tail: String): String =
    "the quick brown fox jumps over the lazy dog and then the " +
      "small cat sits on the warm mat near the open door " + tail

  test("fixture corpus: incremental ≡ from-scratch on the oracle versions") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val v1 = base.filter(col("doc_id") % 7 =!= 0)
    val v2 = base.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")))
    assertEquiv(v1, v2)
    // and the registered key is exactly this composition
    assert(rows(CorpusOps.cleanIncrementalKey(base).run) ===
      rows(CorpusOps.cleanCorpus(v2)))
  }

  test("exact-dup promotion: removing a rep promotes its loser") {
    // 10 and 20 share a content hash; 10 is rep, 20 the exact-dup loser
    val v1 = docs(
      (10L, en("alpha version"), "s"),
      (20L, en("alpha version"), "s"),
      (30L, en("unrelated body about rivers and mountains here"), "s"))
    val v2 = v1.filter(col("doc_id") =!= 10L)
    val st1 = CorpusOps.cleanState(v1)
    // precondition: both planted docs gated, 10 the rep
    val gated = st1.gated.collect().map(r =>
      r.getLong(0) -> r.getBoolean(5)).toMap
    assert(gated.keySet === Set(10L, 20L, 30L), s"gate precondition: $gated")
    assert(gated(10L) && !gated(20L))
    val (inc, _) = incremental(v1, v2)
    assert(rows(inc) === rows(CorpusOps.cleanCorpus(v2)))
    assert(inc.select("doc_id").as[Long].collect().toSet.contains(20L),
      "the orphaned exact-dup loser must be promoted into clean(v2)")
  }

  test("exact-dup demotion: an added smaller id evicts an unchanged rep") {
    val v1 = docs(
      (10L, en("beta version"), "s"),
      (30L, en("unrelated body about rivers and mountains here"), "s"))
    val v2 = docs(
      (5L, en("beta version"), "s"), // same hash, smaller id → new rep
      (10L, en("beta version"), "s"),
      (30L, en("unrelated body about rivers and mountains here"), "s"))
    assertEquiv(v1, v2)
    val clean2 = CorpusOps.cleanCorpus(v2).select("doc_id").as[Long].collect().toSet
    assert(clean2.contains(5L) && !clean2.contains(10L),
      "rebuild precondition: the smaller id must be the new rep")
  }

  test("near-dup loser re-admission and edit-flip, v2 then chained v3") {
    // 40/41: near-dups (long shared shingle run, divergent tails);
    // 41 loses to 40 in v1. Removing 40 in v2 must re-admit 41.
    val shared = en("the long shared body of this pair continues with " +
      "many identical words in a row for the shingles to agree on")
    val v1 = docs(
      (40L, shared + " tail one", "s"),
      (41L, shared + " tail two", "s"),
      (50L, en("unrelated body about rivers and mountains here"), "s"))
    // precondition: the planted pair IS a verified near-dup pair
    val st1 = CorpusOps.cleanState(v1)
    val pairs1 = st1.verdicts.filter(col("is_dup"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs1.contains((40L, 41L)), s"LSH precondition: $pairs1")
    val v2 = v1.filter(col("doc_id") =!= 40L)
    val (inc2, st2) = incremental(v1, v2)
    assert(rows(inc2) === rows(CorpusOps.cleanCorpus(v2)))
    assert(inc2.select("doc_id").as[Long].collect().toSet.contains(41L),
      "near-dup loser must be re-admitted once its winner left")
    // v3: 41's text is EDITED to become a near-dup of a NEW doc 39
    // (changed + added churn in one step, chained off the v2 state)
    val v3 = docs(
      (39L, shared + " tail three", "s"),
      (41L, shared + " tail four", "s"),
      (50L, en("unrelated body about rivers and mountains here"), "s"))
    val (inc3, _) = CorpusOps.cleanCorpusIncremental(
      v3, st2, CorpusOps.corpusDiff(v2, v3))
    assert(rows(inc3) === rows(CorpusOps.cleanCorpus(v3)),
      "chained v2→v3 patch diverged from the from-scratch rebuild")
    val clean3 = inc3.select("doc_id").as[Long].collect().toSet
    assert(clean3.contains(39L) && !clean3.contains(41L),
      "the edited doc must lose to the new smaller-id near-dup")
  }

  test("gate flips ride the churn: quality/lang edits enter and leave") {
    val v1 = docs(
      (60L, en("gate subject body with enough english stopwords"), "s"),
      (61L, "zzz qqq xxx", "s"), // fails gates in v1
      (70L, en("unrelated body about rivers and mountains here"), "s"))
    val v2 = docs(
      (60L, "zzz qqq xxx", "s"), // edited to FAIL gates
      (61L, en("now a perfectly fine english document body here"), "s"),
      (70L, en("unrelated body about rivers and mountains here"), "s"))
    assertEquiv(v1, v2)
    val got = incremental(v1, v2)._1.select("doc_id").as[Long].collect().toSet
    assert(got.contains(61L) && !got.contains(60L))
  }

  test("chained 10-day patches ≡ from-scratch at day 5 and day 10") {
    // the long-horizon daily loop (round 13): every earlier chain spec
    // stopped at v3; a production pipeline runs v1→v2→…→v30 and the
    // base+delta faces accumulate one lazy filter per version. Ten
    // chained in-memory patches must (a) still equal the from-scratch
    // rebuild and (b) not blow the plan up — the per-round lineage
    // truncation inside cleanCorpusIncremental is what makes 10 rounds
    // finish at all (an untruncated chain OOMs in plan canonicalization
    // well before day 10).
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 200).select("doc_id", "text", "source")
    val cur = scala.collection.mutable.LinkedHashMap[Long, (String, String)]()
    base.collect().foreach(r => cur(r.getLong(0)) = (r.getString(1), r.getString(2)))
    def corpusDf = cur.toSeq.map { case (id, (t, s)) => (id, t, s) }
      .toDF("doc_id", "text", "source")
    var prev = corpusDf
    Scratch.scope {
      var state = CorpusOps.cleanState(prev)
      for (day <- 1 to 9) {
        // deterministic disjoint churn: one edit, one delete, one add
        val editId = 3L * day
        if (cur.contains(editId))
          cur(editId) = (cur(editId)._1 + s" day $day edit", cur(editId)._2)
        cur.remove(100L + day)
        cur(900000L + day) = (en(s"fresh arrival on day $day"), "s0")
        val nxt = corpusDf
        val (inc, st) = CorpusOps.cleanCorpusIncremental(
          nxt, state, CorpusOps.corpusDiff(prev, nxt))
        if (day == 4 || day == 9)
          assert(rows(inc) === rows(CorpusOps.cleanCorpus(nxt)),
            s"chained patch diverged from the rebuild at day ${day + 1}")
        prev = nxt
        state = st
      }
    }
  }

  test("persisted state round-trip: the disk-loaded base patches identically") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val v1 = base.filter(col("doc_id") % 7 =!= 0)
    val v2 = base.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("cleanstate").toString
    CorpusOps.writeCleanState(CorpusOps.cleanState(v1), "ics_rt", dir)
    val loaded = CorpusOps.readCleanState(spark, "ics_rt")
    val (inc, next) = CorpusOps.cleanCorpusIncremental(
      v2, loaded, CorpusOps.corpusDiff(v1, v2))
    assert(rows(inc) === rows(CorpusOps.cleanCorpus(v2)),
      "patching from the persisted state diverged from the rebuild")
    // and the returned v2 state persists in turn (the daily loop)
    CorpusOps.writeCleanState(next, "ics_rt2", dir + "2")
    assert(CorpusOps.readCleanState(spark, "ics_rt2")
      .gated.filter(col("is_rep")).count() ===
      next.gated.filter(col("is_rep")).count())
  }

  test("bucket-pruned patch: ≡ from-scratch, and the probes show SelectedBucketsCount") {
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val v1 = base.filter(col("doc_id") % 7 =!= 0)
    val v2 = base.filter(col("doc_id") % 5 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 11 === 0, upper(col("text")))
          .otherwise(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("cleanstate-pr").toString
    CorpusOps.writeCleanState(CorpusOps.cleanState(v1), "ics_pr", dir)
    val (inc, next) = CorpusOps.cleanCorpusIncrementalPruned(
      spark, v2, "ics_pr", CorpusOps.corpusDiff(v1, v2))
    assert(rows(inc) === rows(CorpusOps.cleanCorpus(v2)),
      "pruned patch diverged from the from-scratch rebuild")
    // the v2 state is the same state the generic patch returns
    val (_, nextGeneric) = CorpusOps.cleanCorpusIncremental(
      v2, CorpusOps.readCleanState(spark, "ics_pr"),
      CorpusOps.corpusDiff(v1, v2))
    assert(rows(next.gated) === rows(nextGeneric.gated), "gated face drifted")
    assert(rows(next.verdicts) === rows(nextGeneric.verdicts),
      "verdict face drifted")
    // the pruning is REAL: an InSet probe on the bucket column of a
    // state face plans a bucket-pruned scan (autoBucketedScan pinned off
    // exactly as the pruned patch pins it for its own probes)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled",
      "false")
    val probe = graft.ops.BucketedLayout.table(spark, "ics_pr_gated")
      .filter(col("content_hash")
        .isInCollection(Seq("00", "11").map(_ * 16)))
    probe.collect()
    spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"bucket pruning missing from the probe plan:\n$plan")
    val sel = """SelectedBucketsCount: (\d+) out of (\d+)""".r
      .findFirstMatchIn(plan)
    assert(sel.exists(m => m.group(1).toInt < m.group(2).toInt),
      s"probe must select a strict subset of buckets: $plan")
  }

  test("maxChurnKeys conf: a tiny bound falls the pruned patch back to the generic core, output identical") {
    val v1 = docs(
      (10L, en("omega version"), "s"),
      (20L, en("omega version"), "s"),
      (30L, en("unrelated body about rivers and mountains here"), "s"),
      (40L, en("another quite distinct body about forests and lakes"), "s"))
    val v2 = v1.filter(col("doc_id") =!= 10L)
      .withColumn("text", when(col("doc_id") === 30L,
        concat(col("text"), lit(" edited"))).otherwise(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("cleanstate-ck").toString
    CorpusOps.writeCleanState(CorpusOps.cleanState(v1), "ics_ck", dir)
    spark.conf.set(CorpusOps.PatchMaxChurnConf, "1")
    try {
      // churn (2 keys) exceeds the conf bound -> generic join core; the
      // equivalence contract is unchanged either way
      val (inc, _) = CorpusOps.cleanCorpusIncrementalPruned(
        spark, v2, "ics_ck", CorpusOps.corpusDiff(v1, v2))
      assert(rows(inc) === rows(CorpusOps.cleanCorpus(v2)),
        "conf-bounded fallback diverged from the rebuild")
    } finally spark.conf.unset(CorpusOps.PatchMaxChurnConf)
  }

  test("chunked literal probe: sorted ≤max-literal legs ≡ one filter, tight per-leg ranges") {
    val df = spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("t"), col("id")).as("text"))
    // 20 keys, max 8 literals per leg → 3 chunks; same rows as the
    // single-filter form, no duplicates (chunks are disjoint)
    val ids = (0L until 1000L by 50L).toSeq
    val chunked = CorpusOps.keepIdsPushdown(df, "doc_id", ids, maxLiteral = 8)
    assert(rows(chunked) === rows(df.filter(col("doc_id").isInCollection(ids))))
    assert(chunked.count() === ids.size.toLong)
    // beyond chunks × maxLiteral the probe becomes the broadcast join
    val joined = CorpusOps.keepIdsPushdown(df, "doc_id",
      (0L until 200L).toSeq, maxLiteral = 2)
    assert(joined.count() === 200L)
    assert(joined.queryExecution.optimizedPlan.toString.contains("Join"),
      "past the chunk ceiling the probe must fall back to the join form")
  }

  test("pruned patch edge: a pure-delete diff (no added/changed) patches exactly") {
    val v1 = docs(
      (10L, en("kappa version"), "s"),
      (20L, en("kappa version"), "s"),
      (30L, en("unrelated body about rivers and mountains here"), "s"))
    val v2 = v1.filter(col("doc_id") =!= 10L)
    val dir = java.nio.file.Files.createTempDirectory("cleanstate-pd").toString
    CorpusOps.writeCleanState(CorpusOps.cleanState(v1), "ics_pd", dir)
    val (inc, _) = CorpusOps.cleanCorpusIncrementalPruned(
      spark, v2, "ics_pd", CorpusOps.corpusDiff(v1, v2))
    assert(rows(inc) === rows(CorpusOps.cleanCorpus(v2)),
      "pure-delete pruned patch diverged (promotion must still replay)")
  }

  test("decontam patch: train churn rides frozen grams; bench churn forces the exact redo") {
    import graft.ops.PretrainOps
    val g8 = "alpha beta gamma delta epsilon zeta eta theta"
    // NO en() prefix on the bench doc: the shared English filler would
    // itself be an 8-gram overlap with every train doc
    val bench = (1L, "which of the following statements is true about " + g8,
      PretrainOps.BenchmarkSource)
    val leaked = (20L, en("a train document that leaked the span " + g8), "s1")
    val cleanDoc = (30L, en("an ordinary train document about rivers"), "s1")
    val v1 = docs(bench, leaked, cleanDoc)
    val st1 = CorpusOps.cleanStateDecontam(v1)
    // precondition: the planted 8-gram contaminates doc 20 in v1
    assert(st1.contamIds.collect().map(_.getLong(0)).toSet === Set(20L))

    // (a) train-only churn: doc 30 edited — the patch path (frozen grams)
    val v2a = docs(bench, leaked,
      (30L, en("an ordinary train document about mountains"), "s1"))
    val (incA, _) = CorpusOps.cleanCorpusIncrementalDecontam(
      v2a, st1, CorpusOps.corpusDiff(v1, v2a))
    assert(rows(incA) === rows(CorpusOps.cleanCorpusDecontam(v2a)))
    assert(!incA.select("doc_id").as[Long].collect().contains(20L),
      "the leaked doc must stay removed under frozen grams")

    // (b) benchmark churn: the bench doc LEAVES — its grams leave the
    // set, un-contaminating doc 20; only the full-redo path sees that
    val v2b = docs(leaked, cleanDoc)
    val (incB, stB) = CorpusOps.cleanCorpusIncrementalDecontam(
      v2b, st1, CorpusOps.corpusDiff(v1, v2b))
    assert(rows(incB) === rows(CorpusOps.cleanCorpusDecontam(v2b)))
    assert(incB.select("doc_id").as[Long].collect().toSet.contains(20L),
      "removing the benchmark doc must un-contaminate the leaked doc")
    assert(stB.contamIds.count() === 0L)
  }

  test("pruned decontam patch from persisted state ≡ from-scratch cleanCorpusDecontam(v2)") {
    import graft.ops.PretrainOps
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val isBench = col("source") === PretrainOps.BenchmarkSource
    val v1 = base.filter(col("doc_id") % 7 =!= 0 || isBench)
    val v2 = base.filter(col("doc_id") % 5 =!= 0 || isBench)
      .withColumn("text",
        when(col("doc_id") % 11 === 0 && !isBench, upper(col("text")))
          .otherwise(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("decontamstate").toString
    CorpusOps.writeDecontamState(CorpusOps.cleanStateDecontam(v1), "ics_dc", dir)
    val (inc, next) = CorpusOps.cleanCorpusIncrementalDecontamPruned(
      spark, v2, "ics_dc", dir, CorpusOps.corpusDiff(v1, v2))
    assert(rows(inc) === rows(CorpusOps.cleanCorpusDecontam(v2)),
      "pruned decontam patch diverged from the from-scratch rebuild")
    // the returned state persists in turn (the daily loop closes)
    CorpusOps.writeDecontamState(next, "ics_dc2", dir + "2")
    assert(CorpusOps.readDecontamState(spark, "ics_dc2", dir + "2")
      .contamIds.count() === next.contamIds.count())
  }

  test("decontam fixture parity: the key ≡ from-scratch cleanCorpusDecontam(v2)") {
    import graft.ops.PretrainOps
    val base = spark.read.parquet(s"$sf/documents.parquet")
    val isBench = col("source") === PretrainOps.BenchmarkSource
    val v2 = base.filter(col("doc_id") % 5 =!= 0 || isBench)
      .withColumn("text",
        when(col("doc_id") % 11 === 0 && !isBench, upper(col("text")))
          .otherwise(col("text")))
    assert(rows(CorpusOps.cleanIncrementalDecontamKey(base).run) ===
      rows(CorpusOps.cleanCorpusDecontam(v2)))
  }

  test("empty churn: identical versions patch to the identical corpus") {
    val v1 = docs(
      (80L, en("a stable body that does not change at all"), "s"),
      (81L, en("another stable body that also does not change"), "s"))
    val (inc, _) = incremental(v1, v1)
    assert(rows(inc) === rows(CorpusOps.cleanCorpus(v1)))
  }
}
