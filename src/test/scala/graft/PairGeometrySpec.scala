package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.ArrayFunctions.string_pairs
import graft.ops.{DedupOps, PretrainOps, SimilarityOps}

/** Round-15 equivalence pins for the pair-geometry optimizations (the r14
  * verdict's deferred trio):
  *
  *  - `string_pairs` kernel ≡ the nested transform/slice HOF expansion it
  *    replaced in [[PretrainOps.sourceOverlap]] (same pairs, same order);
  *  - [[PretrainOps.sourceOverlap]] end-to-end ≡ the pre-r15 two-exchange
  *    shape (distinct (source, g) table + separate size agg) on a planted
  *    multi-source frame — the fold-distinct-into-collect_set rewrite is
  *    algebra, not semantics;
  *  - [[DedupOps.dedupLshRecall]]'s count-based truth side ≡ brute-force
  *    exact-Jaccard ground truth on a planted near-dup corpus (stronger
  *    than refactor-equality: pins the SEMANTICS the count-based join must
  *    preserve — shared-gram count over sorted-distinct sets IS the
  *    intersection size);
  *  - [[SimilarityOps.contrastiveTripletsOn]] over a pre-built edge frame
  *    ≡ [[SimilarityOps.contrastiveTriplets]]'s inline build (the shared
  *    knn-graph artifact serving path).
  */
class PairGeometrySpec extends SparkSuite {
  import spark.implicits._

  private def hofPairs(ss: org.apache.spark.sql.Column) =
    flatten(transform(ss, (x, i) =>
      transform(slice(ss, i + lit(2), size(ss)), y =>
        struct(x.as("s1"), y.as("s2")))))

  test("string_pairs ≡ nested transform/slice HOF form, order included") {
    val arrays = Seq(
      Seq.empty[String],
      Seq("solo"),
      Seq("a", "b"),
      Seq("alpha", "beta", "gamma", "delta"),
      Seq("ünï", "ασδ", "中文", "z"),
      (1 to 12).map(i => f"s$i%02d"),
      // null slots stay null in the pair structs (s1/s2 are nullable),
      // never an empty string
      Seq("a", null, "b", null)
    )
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "ss")
    val rows = df.select(col("id"),
        hofPairs(col("ss")).as("hof"),
        string_pairs(col("ss")).as("kernel"))
      .selectExpr("id",
        "transform(hof, p -> concat(coalesce(p.s1, '<null>'), '|', coalesce(p.s2, '<null>'))) AS h",
        "transform(kernel, p -> concat(coalesce(p.s1, '<null>'), '|', coalesce(p.s2, '<null>'))) AS k")
      .collect()
    for (r <- rows)
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"id ${r.getLong(0)}: HOF ${r.getSeq[String](1)} != kernel ${r.getSeq[String](2)}")
  }

  test("sourceOverlap ≡ pre-r15 two-exchange shape on a planted frame") {
    // several sources with engineered overlap: wiki ⊂ web (containment),
    // forums disjoint-ish, empty-ish docs included
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "web", "completely unrelated web content about spark optimization"),
      (3L, "web", "shared boilerplate header appears in many sources verbatim"),
      (4L, "wiki", "the quick brown fox jumps over the lazy dog again and again"),
      (5L, "wiki", "shared boilerplate header appears in many sources verbatim"),
      (6L, "forums", "forum chatter with its own vocabulary entirely distinct"),
      (7L, "forums", "shared boilerplate header appears in many sources verbatim"),
      (8L, "tiny", "short")
    ).toDF("doc_id", "source", "text")
    val got = PretrainOps.sourceOverlap(docs)
      .orderBy("s1", "s2").collect()
    // pre-r15 shape, inline: distinct (source, g) + per-source count +
    // groupBy(g) + HOF pair expansion
    val gs = docs.select(col("source"),
        explode(PretrainOps.decontamGramsOf(graft.ops.TextOps.toksOf(docs))).as("g"))
      .distinct()
    val sizes = gs.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = gs.groupBy("g")
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(hofPairs(col("ss"))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n_inter"))
    val a = sizes.select(col("source").as("s1"), col("n").as("n_s1"))
    val b = sizes.select(col("source").as("s2"), col("n").as("n_s2"))
    val want = a.join(broadcast(b), col("s1") < col("s2"))
      .join(inter, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("n_s1"), col("n_s2"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_s1") + col("n_s2") - col("n_inter")).cast("double"))
      .withColumn("containment", col("n_inter").cast("double") /
        least(col("n_s1"), col("n_s2")).cast("double"))
      .orderBy("s1", "s2").collect()
    assert(got.length == want.length && got.length == 6) // C(4,2) pairs
    for ((g, w) <- got.zip(want)) assert(g == w, s"row $g != $w")
  }

  test("dedupLshRecall truth side ≡ brute-force exact Jaccard") {
    // near-dup pairs engineered to pass the Jaccard threshold plus
    // unrelated filler; brute force enumerates ALL pairs (no gram join)
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = (
      Seq(
        (1L, base),
        (2L, base + " extra"),
        (3L, base.replace("delta", "DELTA")),
        (4L, "wholly different content one two three four five six seven " +
          "eight nine ten eleven twelve thirteen fourteen"),
        (5L, "wholly different content one two three four five six seven " +
          "eight nine ten eleven twelve thirteen fourteen fifteen")
      ) ++ (6L to 20L).map(i =>
        (i, s"filler doc $i with its own words w${i}a w${i}b w${i}c w${i}d " +
          s"w${i}e w${i}f w${i}g w${i}h w${i}i w${i}j"))
    ).toDF("doc_id", "text").withColumn("source", lit("s"))
    val got = DedupOps.dedupLshRecall(docs).collect()(0)
    // brute-force n_true over the same shingle definition
    val sh = docs.select(col("doc_id"),
      org.apache.spark.sql.graftext.ArrayFunctions.sorted_distinct(
        org.apache.spark.sql.graftext.ArrayFunctions.word_shingle_hashes(
          graft.ops.TextOps.toksOf(docs), DedupOps.ShingleWords)).as("hs"))
    val nTrue = sh.as("a").crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(org.apache.spark.sql.graftext.ArrayFunctions
        .sorted_intersect_size(col("a.hs"), col("b.hs")).as("i"),
        size(col("a.hs")).as("na"), size(col("b.hs")).as("nb"))
      .filter(col("i").cast("double") / (col("na") + col("nb") - col("i"))
        >= DedupOps.MinhashJaccardThreshold)
      .count()
    assert(nTrue > 0, "planted corpus must contain true near-dup pairs")
    assert(got.getLong(0) == nTrue, s"n_true ${got.getLong(0)} != brute $nTrue")
    val nFound = DedupOps.dedupMinhashLsh(docs).count()
    assert(got.getLong(1) == nFound, s"n_found ${got.getLong(1)} != $nFound")
  }

  test("contrastiveTripletsOn(prebuilt edges) ≡ inline contrastiveTriplets") {
    val rnd = new scala.util.Random(7)
    val emb = (1 to 60).map { i =>
      val v = IndexedSeq.fill(64)((rnd.nextDouble() - 0.5).toFloat)
      (i.toLong, v, (i % 3).toLong)
    }.toDF("vec_id", "embedding", "label")
    val inline = SimilarityOps.contrastiveTriplets(emb)
      .orderBy("anchor_id").collect()
    val served = SimilarityOps.contrastiveTripletsOn(
      SimilarityOps.knnGraph(emb), emb)
      .orderBy("anchor_id").collect()
    assert(inline.length == served.length && inline.nonEmpty)
    for ((i, s) <- inline.zip(served)) assert(i == s, s"row $i != $s")
  }
}
