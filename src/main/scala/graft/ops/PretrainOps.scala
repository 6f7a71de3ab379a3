package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.ArrayFunctions.{sorted_distinct, string_pairs, word_shingle_hashes}

/** Pre-training corpus operators beyond the dedup/ANN/text families:
  * benchmark decontamination, repeated-span (substring) detection, PII
  * counting, repetition-based quality signals, deterministic stratified
  * sampling, per-source corpus stats, and embedding normalize/quantize.
  *
  * Scale shapes (the 100 TB design, per operator):
  *   - decontaminate: the benchmark n-gram set is tiny (benchmark suites
  *     are MBs against a 100 TB corpus) → broadcast hash join at the scan,
  *     then one map-side-combined groupBy(doc). The corpus side never
  *     shuffles its text — only (doc_id, gram_hash) pairs that HIT.
  *   - dedup_substring: one hash shuffle on the span hash with map-side
  *     combine — the same minimal shape as exact dedup.
  *   - pii_count / sample_stratified / embed_*: narrow codegen'd
  *     projections, zero shuffle; sampling filters at the scan.
  *   - quality_repetition: distinct-n-gram ratios ride narrow array ops;
  *     only the top-token mode pays a (doc_id, token) groupBy — both aggs
  *     are map-side combined and AQE coalesces the tail.
  *   - domain_stats: one groupBy on the block key (source/domain).
  *
  * Oracle parity follows the house rules (see TextOps): md5-derived
  * hashes, LEFT folds, exact integer arithmetic wherever a double sum
  * would depend on partition order — notably domain_stats sums QUANTIZED
  * quality micros (exact longs) instead of averaging doubles, because a
  * parallel double sum is order-dependent and would hash-mismatch DuckDB.
  */
object PretrainOps {
  import TextOps.{sqlTokenHash, sqlTokens, tokenHash, tokens}
  import DedupOps.fanout

  /** Decontamination n-gram width (words). Real pipelines use 8-13-gram
    * exact overlap (GPT-3 appendix C / Gopher A.2 style); the synthetic
    * docs are ~60 tokens so 5 keeps the oracle populated at sf0.001.
    */
  val DecontamGram = 5

  /** Production decontamination width: 8-gram exact overlap, the low end
    * of the published 8-13-gram range (GPT-3 Appendix C, Gopher A.2).
    */
  val DecontamGramProd = 8

  /** The `source` value treated as the held-out benchmark corpus. */
  val BenchmarkSource = "src0"

  /** Repeated-span width (words) for substring-level dedup. */
  val SpanWords = 8

  /** Stratified sampling: per-language keep-rate (percent of the hash
    * space). Shaped like a low-resource-upweighting schedule: the
    * high-resource language is downsampled hardest.
    */
  val StratRates: Seq[(String, Int)] =
    Seq("en" -> 20, "es" -> 40, "de" -> 60, "fr" -> 80, "zh" -> 100)

  /** Repetition-gate thresholds (Gopher-style repetition signals). */
  val TopTokenMax = 0.20
  val Dup2GramMax = 0.30

  /** Quality quantization step for exact-arithmetic aggregation:
    * micro-units (1e-6). */
  val QualityMicro = 1000000.0

  // -------------------------------------------------------- decontaminate

  /** Distinct [[DecontamGram]]-word shingle hashes of a text column
    * (one-pass sorted_distinct; consumers are order-insensitive).
    */
  private[graft] def decontamGrams(width: Int = DecontamGram): Column =
    decontamGramsOf(tokens(col("text")), width)

  /** [[decontamGrams]] over an arbitrary token-list column — the face the
    * batch callers use so a pre-tokenized shared token table
    * ([[TextOps.tokenize]]) skips re-tokenization.
    */
  private[graft] def decontamGramsOf(toks: Column, width: Int = DecontamGram): Column =
    sorted_distinct(word_shingle_hashes(toks, width))

  /** Positional (in-order, duplicates kept) gram hash stream — the raw
    * form winnowing windows over; [[sqlGramHashes]] is its
    * distinct-set face. Twin of the `word_shingle_hashes` kernel.
    */
  /** [[sqlGramHashesPositional]] over an arbitrary token-list expression
    * (the `word_shingle_hashes` kernel's twin, exactly).
    */
  private[ops] def sqlGramHashesPositionalOver(toks: String, width: Int): String =
    s"list_transform(range(1, greatest(len($toks) - ${width - 1}, 1) + 1), " +
      s"i -> ${sqlTokenHash(s"array_to_string(list_slice($toks, i, i + ${width - 1}), ' ')")})"

  private[ops] def sqlGramHashesPositional(width: Int): String =
    sqlGramHashesPositionalOver(sqlTokens("text"), width)

  private[ops] def sqlGramHashes(width: Int): String =
    s"list_distinct(${sqlGramHashesPositional(width)})"

  /** Benchmark decontamination: flag training docs sharing ≥ 1 exact
    * `gramWidth`-word gram with the held-out benchmark split
    * (`source = src0`). Output per contaminated doc: distinct-gram hit
    * count and contamination ratio. Default width [[DecontamGram]] keeps
    * the synthetic ~60-token docs populated; [[DecontamGramProd]] is the
    * production 8-gram setting (GPT-3 Appendix C / Gopher A.2 style
    * 8-13-gram exact overlap).
    *
    * The benchmark gram set is broadcast (it is small by construction —
    * eval suites don't grow with the corpus), so the training side is one
    * scan + broadcast semi-ish join + map-side-combined groupBy: no
    * shuffle of corpus text, ever. Both explodes are OUTER + null-filter:
    * inner generates would make the optimizer infer `size(gs) > 0` filters
    * and push the full gram computation below the fanout exchange (a
    * duplicated, pre-shuffle sketch build — see DedupOps.minhashSignature).
    */
  /** The distinct benchmark gram set of a corpus — [[decontaminate]]'s
    * broadcast side as a standalone artifact (the incremental clean
    * keeps it as state: benchmark suites are static between versions,
    * so churned docs re-check against the SAME set).
    */
  private[graft] def benchGramSetOf(docs: DataFrame,
      gramWidth: Int = DecontamGram): DataFrame =
    fanout(docs).filter(col("source") === BenchmarkSource)
      .select(explode_outer(
        decontamGramsOf(TextOps.toksOf(docs), gramWidth)).as("g"))
      .filter(col("g").isNotNull).distinct()

  /** Contaminated TRAIN-side doc ids of `docs` against a FROZEN
    * benchmark gram set — `contaminatedAgainst(docs,
    * benchGramSetOf(docs, w), w)` ≡ `decontaminate(docs, w)`'s id set
    * (same gram kernel, same benchmark-source exclusion), which is the
    * agreement the incremental patch rests on.
    */
  private[graft] def contaminatedAgainst(docs: DataFrame,
      benchGrams: DataFrame, gramWidth: Int): DataFrame =
    fanout(docs).filter(col("source") =!= BenchmarkSource)
      .select(col("doc_id"), explode_outer(
        decontamGramsOf(TextOps.toksOf(docs), gramWidth)).as("g"))
      .filter(col("g").isNotNull)
      .join(broadcast(benchGrams), "g")
      .select("doc_id").distinct()

  def decontaminate(docs: DataFrame, gramWidth: Int = DecontamGram): DataFrame = {
    val g = fanout(docs).select(col("doc_id"), col("source"),
      decontamGramsOf(TextOps.toksOf(docs), gramWidth).as("gs"))
    val bench = g.filter(col("source") === BenchmarkSource)
      .select(explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull).distinct()
    val train = g.filter(col("source") =!= BenchmarkSource)
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    train.join(broadcast(bench), "g")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("contamination"))
  }

  def sqlDecontaminate: String = sqlDecontaminateAt(DecontamGram)

  def sqlDecontaminateAt(gramWidth: Int): String =
    s"""WITH g AS (
       |  SELECT doc_id, source, ${sqlGramHashes(gramWidth)} AS gs FROM documents),
       |bench AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(gs) AS g FROM g WHERE source = '$BenchmarkSource')),
       |train AS (
       |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, unnest(gs) AS g
       |  FROM g WHERE source <> '$BenchmarkSource')
       |SELECT doc_id, n_grams, count(*) AS n_hits,
       |  CAST(count(*) AS DOUBLE) / n_grams AS contamination
       |FROM train JOIN bench USING (g)
       |GROUP BY doc_id, n_grams""".stripMargin

  // -------------------------------------------------- decontaminate_packed

  /** Packed-SEQUENCE decontamination — the leak [[decontaminate]]
    * cannot see: doc-level gating clears each doc in isolation, but
    * [[packSequences]] concatenates docs into [[SeqLen]]-token training
    * sequences, and a benchmark n-gram can SPAN the boundary between two
    * individually-clean docs — the model still trains on it. This is the
    * published sequence-level overlap check (GPT-3 Appendix C's spirit
    * applied to what the model actually consumes): rebuild each packed
    * sequence's token window, take its POSITIONAL `gramWidth`-grams
    * (duplicates kept — every leaked occurrence counts), test against
    * the broadcast benchmark gram set. Output one row per LEAKED
    * sequence: (source, seq_id, n_grams, leaked_grams). The benchmark
    * split is excluded from the packing (nobody trains on it), so
    * offsets here are the packed-TRAIN stream's.
    *
    * Scale shape: the sequence windows are assembled with ONE corpus
    * shuffle keyed (source, seq_id) — exactly the shuffle the packed-
    * dataset WRITER pays, no more (each doc explodes only into the
    * ceil(n/SeqLen)+1 sequences it touches, carrying just its overlap
    * slice); grams then hash in-row, the bench set is broadcast, and
    * past the join ONLY HIT rows shuffle into the final map-side-combined
    * agg. Packing arithmetic is [[packWindowCols]] — the one shared
    * definition — so the checked offsets are the loader's offsets.
    */
  /** The packed-TRAIN-stream positional gram rows shared by
    * [[decontaminatePacked]] (training-side gate) and
    * [[contaminationReportPacked]] (benchmark-side report): one row per
    * gram OCCURRENCE per packed sequence — (source, seq_id, n_grams, g).
    */
  /** The packed-stream sequence-window assembly over ANY (doc_id,
    * source, text) frame: one row per (source, seq_id) carrying the
    * sequence's token window `wtoks` in stream order — the packed-
    * dataset WRITER's core, shared by [[packMaterialize]] (all docs) and
    * the leakage checks (train split only).
    */
  private def packedWindows(docs: DataFrame): DataFrame = {
    val L = SeqLen
    val base = fanout(docs)
      .select(col("doc_id"), col("source"), TextOps.toksOf(docs).as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
    val startLocal = greatest(col("seq_id") * L - col("tok_start"), lit(0L))
    val endLocal = least((col("seq_id") + 1) * L - col("tok_start"), col("n_tokens"))
    val spans = packWindowCols(base)
      .select(col("source"), col("toks"), col("tok_start"), col("n_tokens"),
        explode_outer(sequence(col("seq_start"), col("seq_end"))).as("seq_id"))
      .filter(col("seq_id").isNotNull)
      .select(col("source"), col("seq_id"), col("tok_start"),
        slice(col("toks"), (startLocal + 1).cast("int"),
          (endLocal - startLocal).cast("int")).as("sl"))
    // stream order inside a sequence = tok_start order (struct sort —
    // tok_start is unique per contributor by construction)
    spans.groupBy("source", "seq_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("tok_start"), col("sl")))),
        x => x.getField("sl"))).as("wtoks"))
  }

  private def packedSeqGrams(docs: DataFrame, gramWidth: Int): DataFrame =
    packedWindows(docs.filter(col("source") =!= BenchmarkSource))
      .select(col("source"), col("seq_id"),
        word_shingle_hashes(col("wtoks"), gramWidth).as("ghs"))
      .select(col("source"), col("seq_id"),
        size(col("ghs")).cast("long").as("n_grams"),
        explode_outer(col("ghs")).as("g"))
      .filter(col("g").isNotNull)

  /** The packed dataset MATERIALIZED — the loader-facing output
    * [[packSequences]] only indexes: one row per (source, seq_id) with
    * the sequence's exact token count and its token stream joined back
    * to text. Every sequence is [[SeqLen]] tokens except each shard's
    * last. This is what a shard writer ships; [[sequenceManifest]] is
    * its provenance index and [[decontaminatePacked]] its leakage gate,
    * all sharing the same packing arithmetic ([[packWindowCols]]).
    *
    * Scale shape: the one corpus shuffle keyed (source, seq_id) a packed
    * writer pays by definition; everything else is in-row.
    */
  def packMaterialize(docs: DataFrame): DataFrame =
    packedWindows(docs)
      .select(col("source"), col("seq_id"),
        size(col("wtoks")).cast("long").as("seq_len"),
        concat_ws(" ", col("wtoks")).as("seq_text"))

  def decontaminatePacked(docs: DataFrame,
      gramWidth: Int = DecontamGram): DataFrame = {
    val bench = fanout(docs).filter(col("source") === BenchmarkSource)
      .select(explode_outer(decontamGramsOf(TextOps.toksOf(docs), gramWidth)).as("g"))
      .filter(col("g").isNotNull).distinct()
    packedSeqGrams(docs, gramWidth).join(broadcast(bench), "g")
      .groupBy("source", "seq_id", "n_grams")
      .agg(count(lit(1)).as("leaked_grams"))
      .select("source", "seq_id", "n_grams", "leaked_grams")
  }

  /** The benchmark-side face of [[decontaminatePacked]] (the
    * [[contaminationReport]] symmetry applied to what the model actually
    * consumes): one row per HELD-OUT item, reporting how far it leaks
    * into the PACKED training stream — distinct leaked grams, distinct
    * packed sequences reached, total gram occurrences, and the leakage
    * ratio over the item's distinct grams. Zero-leak items are included
    * (the report's row count is the benchmark size). Catches the same
    * boundary-spanning grams doc-level reporting is blind to.
    *
    * Scale shape: [[packedSeqGrams]]'s one packed-writer shuffle, then
    * the broadcast bench side and ONLY HIT rows shuffle into the
    * per-item agg.
    */
  def contaminationReportPacked(docs: DataFrame,
      gramWidth: Int = DecontamGram): DataFrame = {
    val benchDocs = fanout(docs).filter(col("source") === BenchmarkSource)
      .select(col("doc_id"), decontamGramsOf(TextOps.toksOf(docs), gramWidth).as("gs"))
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        col("gs"))
    val bench = benchDocs
      .select(col("doc_id"), col("n_grams"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    val hits = packedSeqGrams(docs, gramWidth)
      .select(col("source"), col("seq_id"), col("g"))
      .join(broadcast(bench), "g")
      .groupBy("doc_id", "n_grams")
      .agg(countDistinct(col("g")).as("n_leaked_grams"),
        countDistinct(concat_ws("#", col("source"), col("seq_id")))
          .as("n_seqs"),
        count(lit(1)).as("n_occurrences"))
    benchDocs.select("doc_id", "n_grams")
      .join(hits.select("doc_id", "n_leaked_grams", "n_seqs", "n_occurrences"),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_seqs"), lit(0L)).as("n_seqs"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"),
        (coalesce(col("n_leaked_grams"), lit(0L)).cast("double") / col("n_grams"))
          .as("leakage"))
  }

  /** The packed-stream window CTE chain (twin of [[packedWindows]]);
    * `where` filters the packed population ('' = all docs).
    */
  private def sqlPackedWindowCtes(where: String): String =
    s"""base AS (
       |  SELECT doc_id, source, toks, CAST(len(toks) AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, source, ${sqlTokens("text")} AS toks
       |        FROM documents $where)),
       |packed AS (
       |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
       |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |    0) AS BIGINT) AS tok_start
       |  FROM base),
       |spans AS (
       |  SELECT source, seq_id, tok_start,
       |    list_slice(toks, greatest(seq_id * $SeqLen - tok_start, 0) + 1,
       |      least((seq_id + 1) * $SeqLen - tok_start, n_tokens)) AS sl
       |  FROM (
       |    SELECT source, toks, n_tokens, tok_start,
       |      unnest(range(tok_start // $SeqLen,
       |        (tok_start + n_tokens - 1) // $SeqLen + 1)) AS seq_id
       |    FROM packed)),
       |win AS (
       |  SELECT source, seq_id, flatten(list(sl ORDER BY tok_start)) AS wtoks
       |  FROM spans GROUP BY source, seq_id)""".stripMargin

  /** The packed-stream gram CTE chain (twin of [[packedSeqGrams]]),
    * shared by both packed-leakage twins.
    */
  private def sqlPackedGramCtes(w: Int): String =
    s"""${sqlPackedWindowCtes(s"WHERE source <> '$BenchmarkSource'")},
       |grams AS (
       |  SELECT source, seq_id, CAST(len(ghs) AS BIGINT) AS n_grams,
       |    unnest(ghs) AS g
       |  FROM (SELECT source, seq_id,
       |          ${sqlGramHashesPositionalOver("wtoks", w)} AS ghs
       |        FROM win))""".stripMargin

  def sqlPackMaterialize: String =
    s"""WITH ${sqlPackedWindowCtes("")}
       |SELECT source, seq_id, CAST(len(wtoks) AS BIGINT) AS seq_len,
       |  array_to_string(wtoks, ' ') AS seq_text
       |FROM win""".stripMargin

  def sqlDecontaminatePacked: String = {
    val w = DecontamGram
    s"""WITH bench AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(${sqlGramHashes(w)}) AS g FROM documents
       |    WHERE source = '$BenchmarkSource')),
       |${sqlPackedGramCtes(w)}
       |SELECT source, seq_id, n_grams, count(*) AS leaked_grams
       |FROM grams JOIN bench USING (g)
       |GROUP BY source, seq_id, n_grams""".stripMargin
  }

  def sqlContaminationReportPacked: String = {
    val w = DecontamGram
    s"""WITH bd AS (
       |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, gs
       |  FROM (SELECT doc_id, ${sqlGramHashes(w)} AS gs FROM documents
       |        WHERE source = '$BenchmarkSource')),
       |bench AS (
       |  SELECT doc_id, n_grams, unnest(gs) AS g FROM bd),
       |${sqlPackedGramCtes(w)},
       |hits AS (
       |  SELECT b.doc_id,
       |    count(DISTINCT b.g) AS n_leaked_grams,
       |    count(DISTINCT gr.source || '#' || gr.seq_id) AS n_seqs,
       |    count(*) AS n_occurrences
       |  FROM grams gr JOIN bench b USING (g)
       |  GROUP BY b.doc_id)
       |SELECT bd.doc_id, bd.n_grams,
       |  coalesce(h.n_leaked_grams, 0) AS n_leaked_grams,
       |  coalesce(h.n_seqs, 0) AS n_seqs,
       |  coalesce(h.n_occurrences, 0) AS n_occurrences,
       |  CAST(coalesce(h.n_leaked_grams, 0) AS DOUBLE) / bd.n_grams AS leakage
       |FROM bd LEFT JOIN hits h USING (doc_id)""".stripMargin
  }

  // ------------------------------------------- decontaminate (bloom prune)

  /** Bloom sizing: m bits / k hash probes. At m=2^16, k=3 and the few
    * thousand grams of a benchmark suite, the false-positive rate is
    * ~(1-e^(-kn/m))^k ≲ 0.2% — tune m up with the benchmark, it only
    * costs m/8 bytes of broadcast.
    */
  val BloomBits = 1 << 16
  val BloomHashes = 3
  val BloomWords: Int = BloomBits / 64

  /** Decontamination for benchmarks too big to broadcast as a hash set:
    * identical OUTPUT to [[decontaminate]] (the oracle is the same SQL),
    * different 100 TB plan. The exact path broadcasts the bench gram SET —
    * O(|bench|) executor memory, fine for eval suites, fatal when the
    * "benchmark" is itself web-scale (dedup against a held-out index). This
    * path broadcasts a BLOOM of the bench grams instead — O(m) = [[BloomBits]]
    * bits by construction, independent of |bench| — prunes training grams
    * with three codegen'd bit tests, then confirms the survivors with a
    * plain shuffled equi-join against the bench grams. Blooms have no false
    * negatives, so prune→confirm is exact; false positives only cost
    * shuffled rows (~0.2% at the default sizing).
    *
    * The bloom itself is a ≤[[BloomWords]]-row (word_idx, bits) table built
    * by one map-side-combined bit_or agg over the bench grams — never more
    * than m/64 rows reach any single place, and the build stays lazy (no
    * driver-side collect; the `broadcast` hint is principled because the
    * table is ≤ m/8 bytes BY CONSTRUCTION, not by estimate).
    */
  def decontaminateBloom(docs: DataFrame, gramWidth: Int = DecontamGram): DataFrame = {
    val g = fanout(docs).select(col("doc_id"), col("source"),
      decontamGramsOf(TextOps.toksOf(docs), gramWidth).as("gs"))
    // materialized: the bench gram set feeds TWO branches (bloom build +
    // exact-confirm join) — without it the full benchmark-side scan +
    // gram sketch + distinct runs twice, and the benchmark side being
    // huge is this operator's entire reason to exist
    val bench = DedupOps.materialize(
      g.filter(col("source") === BenchmarkSource)
        .select(explode_outer(col("gs")).as("g"))
        .filter(col("g").isNotNull).distinct(),
      "decontam_bench_grams")
    def pos(i: Int): Column = pmod(hash(col("g"), lit(i)), lit(BloomBits))
    // materialized: three probe joins would otherwise each rebuild the agg
    // (three more scans of the bench side)
    val bloom = DedupOps.materialize(
      bench
        .select(explode(array((0 until BloomHashes).map(pos): _*)).as("p"))
        .groupBy(expr("p DIV 64").as("w"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), p % 64))").as("bits")),
      "decontam_bloom")
    val train = g.filter(col("source") =!= BenchmarkSource)
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    // three bit tests = three broadcast joins against the ≤1024-row bloom
    // table; a gram whose word index is absent has bit 0 → inner join prunes
    val candidates = (0 until BloomHashes).foldLeft(train) { (df, i) =>
      df.withColumn("p", pos(i))
        .withColumn("w", expr("p DIV 64"))
        .join(broadcast(bloom), "w")
        .filter(expr("(bits & shiftleft(CAST(1 AS BIGINT), p % 64)) != 0"))
        .drop("p", "w", "bits")
    }
    candidates.join(bench, "g")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("contamination"))
  }

  // ------------------------------------------------------ dedup_substring

  /** Repeated-span detection — the shuffle-native stand-in for
    * suffix-array exact-substring dedup: any [[SpanWords]]-word span
    * appearing in ≥ 2 distinct documents, with its occurrence count and
    * smallest containing doc. One hash shuffle on the span hash (map-side
    * combined); the verbatim span text never leaves the mapper.
    */
  def dedupSubstring(docs: DataFrame): DataFrame =
    fanout(docs)
      .select(col("doc_id"),
        explode_outer(sorted_distinct(word_shingle_hashes(TextOps.toksOf(docs), SpanWords)))
          .as("span_hash"))
      .filter(col("span_hash").isNotNull)
      .groupBy("span_hash")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("rep_doc_id"))
      .filter(col("n_docs") >= 2)

  def sqlDedupSubstring: String =
    s"""SELECT span_hash, count(*) AS n_docs, min(doc_id) AS rep_doc_id
       |FROM (
       |  SELECT doc_id, unnest(${sqlGramHashes(SpanWords)}) AS span_hash
       |  FROM documents)
       |GROUP BY span_hash HAVING count(*) >= 2""".stripMargin

  // --------------------------------------------------- substring_coverage

  /** Per-document repeated-span coverage: the fraction of a doc's tokens
    * lying inside at least one [[SpanWords]]-word span that also appears
    * in ANOTHER document — the per-doc dedup SIGNAL that
    * [[dedupSubstring]]'s span inventory doesn't give you (a doc 90%
    * assembled from boilerplate scores 0.9 here; the published
    * exact-substring dedup pipelines drop or trim on exactly this
    * number). Output: (doc_id, n_tokens, covered_tokens, coverage).
    *
    * Scale shape: the span table keeps POSITIONS (one row per span
    * occurrence, the positional twin of dedup_substring's distinct
    * spans), is materialized once, and feeds (a) the span-hash agg that
    * finds cross-doc repeats and (b) the coverage join. Only spans that
    * ARE repeated explode into token positions (fan-out w× repeated
    * spans, not w× corpus), then one distinct + per-doc count. Three
    * map-side-combined aggs, shuffles keyed on span_hash / (doc, tok) /
    * doc — never corpus text.
    */
  /** Positional span table shared by [[substringCoverage]] and
    * [[dedupSubstringTrim]]: one row per span OCCURRENCE
    * (doc_id, n_tokens, 1-based start pos, span hash), materialized once
    * per query (identical plans share the cache entry in-session).
    */
  private def spanTable(docs: DataFrame): DataFrame = {
    val toksC = TextOps.toksOf(docs)
    DedupOps.materialize(
      fanout(docs).select(col("doc_id"),
          size(toksC).cast("long").as("n"),
          word_shingle_hashes(toksC, SpanWords).as("hs"))
        .select(col("doc_id"), col("n"), posexplode_outer(col("hs")))
        .filter(col("col").isNotNull)
        .select(col("doc_id"), col("n"),
          (col("pos") + 1).cast("long").as("pos"), col("col").as("span_hash")),
      "substring_spans")
  }

  /** Span hashes appearing in ≥ 2 distinct docs (the cross-doc repeats). */
  private def repeatedSpans(sp: DataFrame): DataFrame =
    sp.groupBy("span_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("span_hash")

  /** The (doc_id, n_tokens) spine of the span family, derived from the
    * DOC table instead of `sp.select("doc_id", "n").distinct()` (round 15,
    * §2.4): the distinct was a full exchange + hash-agg over the exploded
    * span table just to recover one row per doc. Row-set equivalence:
    * [[HashKernels.wordShingle]] emits max(n−w+1, 1) ≥ 1 hashes for every
    * non-null token array (short docs get one window), and the span
    * table's posexplode_outer + null filter keeps exactly the docs whose
    * token array is non-null — so `toks IS NOT NULL` here reproduces the
    * span table's distinct doc set, with `n` computed by the same
    * `size(toks)` expression.
    */
  private def docSpine(docs: DataFrame): DataFrame = {
    val toksC = TextOps.toksOf(docs)
    docs.select(col("doc_id"), size(toksC).cast("long").as("n"))
      .filter(col("n").isNotNull)
  }

  def substringCoverage(docs: DataFrame): DataFrame = {
    val w = SpanWords
    val sp = spanTable(docs)
    val rep = repeatedSpans(sp)
    val cov = sp.join(rep, "span_hash")
      .select(col("doc_id"),
        explode_outer(sequence(col("pos"), least(col("pos") + lit(w - 1), col("n"))))
          .as("tok"))
      .filter(col("tok").isNotNull)
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    docSpine(docs)
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered_tokens"),
        (coalesce(col("covered"), lit(0L)).cast("double") / col("n")).as("coverage"))
  }

  def sqlSubstringCoverage: String = {
    val w = SpanWords
    val toks = sqlTokens("text")
    val spanHash =
      sqlTokenHash(s"array_to_string(list_slice(toks, i, i + ${w - 1}), ' ')")
    s"""WITH s AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
       |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
       |sp AS (
       |  SELECT doc_id, n,
       |    unnest(range(1, greatest(n - ${w - 1}, 1) + 1)) AS pos,
       |    unnest(list_transform(range(1, greatest(n - ${w - 1}, 1) + 1),
       |      i -> $spanHash)) AS span_hash
       |  FROM s),
       |rep AS (
       |  SELECT span_hash FROM (
       |    SELECT span_hash, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
       |  WHERE nd >= 2),
       |cov AS (
       |  SELECT doc_id, count(*) AS covered FROM (
       |    SELECT DISTINCT doc_id, tok FROM (
       |      SELECT sp.doc_id,
       |        unnest(range(sp.pos, least(sp.pos + ${w - 1}, sp.n) + 1)) AS tok
       |      FROM sp JOIN rep USING (span_hash)))
       |  GROUP BY doc_id)
       |SELECT b.doc_id, b.n AS n_tokens,
       |  CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
       |  CAST(coalesce(c.covered, 0) AS DOUBLE) / b.n AS coverage
       |FROM (SELECT DISTINCT doc_id, n FROM sp) b
       |LEFT JOIN cov c USING (doc_id)""".stripMargin
  }

  // ------------------------------------------------- dedup_substring_trim

  /** Exact-substring dedup with ACTIONABLE trim output — the step the
    * published pipelines take after scoring (Lee et al. 2021,
    * "Deduplicating Training Data Makes Language Models Better": repeated
    * spans are DROPPED from the corpus, not just counted). Per doc: the
    * MERGED 1-based token ranges covered by cross-doc repeated
    * [[SpanWords]]-word spans (adjacent/overlapping occurrences coalesce
    * into one trim instruction, serialized "s-e,s-e,…" in start order),
    * how many tokens those ranges remove, and the surviving token count.
    * A doc with no repeated spans survives whole (empty `ranges`).
    *
    * Scale shape: the positional span table is shared with
    * [[substringCoverage]] (materialized once); only repeated-span
    * OCCURRENCES — not w× fan-out token positions — reach the merge. The
    * merge itself is the classic linear interval sweep expressed as two
    * doc-partitioned window functions (running-max end → new-range flag →
    * running-sum range id), so it distributes by doc and never collects:
    * per-doc span counts are bounded by doc length, not corpus size.
    */
  /** Merged (coalesced) repeated-span token ranges per doc — one row per
    * maximal covered interval (doc_id, n, grp, rs, re). The classic
    * linear interval sweep expressed as two doc-partitioned window
    * functions (running-max end → new-range flag → running-sum range id):
    * a range starts where coverage breaks, i.e. start beyond running-max
    * end + 1 (adjacent token ranges [1,8][9,16] coalesce — contiguous
    * coverage). Distributes by doc, never collects; per-doc span counts
    * are bounded by doc length, not corpus size. Shared by
    * [[dedupSubstringTrim]] (reports the ranges) and
    * [[dedupSubstringApply]] (applies them to the text).
    */
  private def mergedRanges(sp: DataFrame): DataFrame = {
    val w = SpanWords
    mergeIntervals(sp.join(repeatedSpans(sp), "span_hash")
      .select(col("doc_id"), col("n"), col("pos").as("s"),
        least(col("pos") + lit(w - 1), col("n")).as("e"))
      .distinct())
  }

  /** The interval sweep itself, factored for every consumer that turns
    * per-doc 1-based [s, e] intervals into maximal merged ranges — the
    * token-span trim family here and [[SuffixOps.dedupSubstringSaOn]]'s
    * exact char-range twin. Input (doc_id, n, s, e); output
    * (doc_id, n, grp, rs, re), one row per maximal covered interval.
    */
  private[ops] def mergeIntervals(iv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("s", "e")
    val prevMax = max(col("e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("new_grp",
        when(col("s") > coalesce(prevMax, lit(0L)) + 1, 1L).otherwise(0L))
      .withColumn("grp",
        sum(col("new_grp")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("n"), col("grp"))
      .agg(min(col("s")).as("rs"), max(col("e")).as("re"))
  }

  def dedupSubstringTrim(docs: DataFrame): DataFrame = {
    val sp = spanTable(docs)
    val perDoc = mergedRanges(sp).groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_ranges"),
        sum(col("re") - col("rs") + 1).as("trimmed"),
        // collect_list order is nondeterministic → sort the (rs, re)
        // structs (field order makes that start-ordered) before rendering
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("rs"), col("re")))),
          x => concat(x.getField("rs").cast("string"), lit("-"),
            x.getField("re").cast("string")))).as("ranges"))
    docSpine(docs)
      .join(perDoc, Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n").as("n_tokens"),
        coalesce(col("n_ranges"), lit(0L)).as("n_ranges"),
        coalesce(col("trimmed"), lit(0L)).as("trimmed_tokens"),
        (col("n") - coalesce(col("trimmed"), lit(0L))).as("surviving_tokens"),
        coalesce(col("ranges"), lit("")).as("ranges"))
  }

  /** Shared CTE chain for the oracle twins of [[dedupSubstringTrim]],
    * [[dedupSubstringApply]] and [[CorpusOps.corpusToSequences]]:
    * tokenized docs → positional span table → cross-doc repeats →
    * interval sweep → merged ranges `r(doc_id, n, grp, rs, re)`. Mirrors
    * [[spanTable]] + [[mergedRanges]] exactly; `table` rebases the chain
    * onto a CTE (the survivors set) instead of the raw `documents`.
    */
  private[ops] def sqlMergedRangeCtes(table: String = "documents"): String = {
    val w = SpanWords
    val toks = sqlTokens("text")
    val spanHash =
      sqlTokenHash(s"array_to_string(list_slice(toks, i, i + ${w - 1}), ' ')")
    s"""WITH s AS (
       |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n
       |  FROM (SELECT doc_id, $toks AS toks FROM $table)),
       |sp AS (
       |  SELECT doc_id, n,
       |    unnest(range(1, greatest(n - ${w - 1}, 1) + 1)) AS pos,
       |    unnest(list_transform(range(1, greatest(n - ${w - 1}, 1) + 1),
       |      i -> $spanHash)) AS span_hash
       |  FROM s),
       |rep AS (
       |  SELECT span_hash FROM (
       |    SELECT span_hash, count(DISTINCT doc_id) AS nd FROM sp GROUP BY 1)
       |  WHERE nd >= 2),
       |iv AS (
       |  SELECT DISTINCT doc_id, n, pos AS s, least(pos + ${w - 1}, n) AS e
       |  FROM sp JOIN rep USING (span_hash)),
       |flagged AS (
       |  SELECT doc_id, n, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
       |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) + 1 THEN 1 ELSE 0 END AS new_grp
       |  FROM iv),
       |grp AS (
       |  SELECT doc_id, n, s, e,
       |    sum(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM flagged),
       |r AS (
       |  SELECT doc_id, n, grp, min(s) AS rs, max(e) AS re
       |  FROM grp GROUP BY doc_id, n, grp)""".stripMargin
  }

  def sqlDedupSubstringTrim: String =
    s"""${sqlMergedRangeCtes()},
       |per AS (
       |  SELECT doc_id, n, CAST(count(*) AS BIGINT) AS n_ranges,
       |    CAST(sum(re - rs + 1) AS BIGINT) AS trimmed,
       |    string_agg(rs || '-' || re, ',' ORDER BY rs) AS ranges
       |  FROM r GROUP BY doc_id, n)
       |SELECT b.doc_id, b.n AS n_tokens,
       |  coalesce(p.n_ranges, 0) AS n_ranges,
       |  coalesce(p.trimmed, 0) AS trimmed_tokens,
       |  b.n - coalesce(p.trimmed, 0) AS surviving_tokens,
       |  coalesce(p.ranges, '') AS ranges
       |FROM (SELECT DISTINCT doc_id, n FROM sp) b
       |LEFT JOIN per p USING (doc_id, n)""".stripMargin

  // ------------------------------------------------ dedup_substring_apply

  /** Exact-substring dedup APPLIED — the final step of the Lee et al.
    * 2021 pipeline: reconstruct each document's surviving text with the
    * cross-doc repeated spans removed. Tokens whose 1-based position
    * falls inside any merged trim range ([[mergedRanges]], the same
    * ranges [[dedupSubstringTrim]] reports) are dropped; survivors are
    * re-joined with single spaces. A doc with no repeated spans passes
    * through whole; a doc fully covered by repeats survives as ''.
    *
    * Scale shape: the heavy work (span table + interval merge) is shared
    * with the trim/coverage family; the apply step itself is ONE
    * doc_id-keyed equi-join of the per-doc range arrays back to the
    * corpus (range arrays are bounded by doc length — at 100 TB the
    * ranges side is a small fraction of corpus bytes since only docs
    * with cross-doc repeats carry rows), then a narrow per-row
    * higher-order filter over the token array — no token-level fan-out,
    * no window over corpus text, nothing collects.
    */
  def dedupSubstringApply(docs: DataFrame): DataFrame = {
    val sp = spanTable(docs)
    val rngs = mergedRanges(sp).groupBy(col("doc_id"))
      // collect_list order is nondeterministic → array_sort the (rs, re)
      // structs (field order makes that start-ordered)
      .agg(array_sort(collect_list(struct(col("rs"), col("re")))).as("rngs"))
    // project toks THROUGH the join (as `toks` either way) — selecting
    // (doc_id, text) then re-deriving would drop a pre-computed column
    docs.select(col("doc_id"), col("text"), TextOps.toksOf(docs).as("toks"))
      .join(rngs, Seq("doc_id"), "left")
      .withColumn("surv",
        when(col("rngs").isNull, col("toks")).otherwise(
          filter(col("toks"), (_, i) => !exists(col("rngs"), r =>
            (i + 1) >= r.getField("rs") && (i + 1) <= r.getField("re")))))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        size(col("surv")).cast("long").as("surviving_tokens"),
        concat_ws(" ", col("surv")).as("surviving_text"))
  }

  def sqlDedupSubstringApply: String =
    s"""${sqlMergedRangeCtes()},
       |per AS (
       |  SELECT doc_id, list_sort(list(struct_pack(rs := rs, re := re))) AS rngs
       |  FROM r GROUP BY doc_id),
       |surv AS (
       |  SELECT s.doc_id, s.n,
       |    CASE WHEN p.rngs IS NULL THEN s.toks
       |         ELSE list_filter(s.toks, (x, i) ->
       |           len(list_filter(p.rngs, r -> i >= r.rs AND i <= r.re)) = 0)
       |    END AS sv
       |  FROM s LEFT JOIN per p USING (doc_id))
       |SELECT doc_id, n AS n_tokens,
       |  CAST(len(sv) AS BIGINT) AS surviving_tokens,
       |  -- array_to_string([]) is NULL in DuckDB; concat_ws([]) is '' in
       |  -- Spark — coalesce aligns the fully-trimmed-doc case
       |  coalesce(array_to_string(sv, ' '), '') AS surviving_text
       |FROM surv""".stripMargin

  // ------------------------------------------------------------ pii_count

  /** Phone / IPv4 literals (RE2- and Java-compatible; anchored loosely —
    * the scrub pass in TextOps owns redaction, this op owns auditing).
    */
  val PhonePattern = "\\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Per-document PII audit: counts per category (email / URL / phone /
    * IPv4 / long digit run) + a has_pii flag. Narrow codegen'd projection;
    * pairs with [[TextOps.textScrub]] (which redacts) as the measure
    * side of a scrub-then-verify pipeline.
    */
  def piiCount(docs: DataFrame): DataFrame = {
    val nEmail = regexp_count(col("text"), lit(TextOps.EmailPattern)).cast("long")
    val nUrl = regexp_count(col("text"), lit(TextOps.UrlPattern)).cast("long")
    val nPhone = regexp_count(col("text"), lit(PhonePattern)).cast("long")
    val nIp = regexp_count(col("text"), lit(Ipv4Pattern)).cast("long")
    val nNum = regexp_count(col("text"), lit(TextOps.NumPattern)).cast("long")
    docs.select(col("doc_id"),
      nEmail.as("n_emails"), nUrl.as("n_urls"), nPhone.as("n_phones"),
      nIp.as("n_ips"), nNum.as("n_longnums"),
      (nEmail + nUrl + nPhone + nIp + nNum > 0).as("has_pii"))
  }

  def sqlPiiCount: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '${TextOps.UrlPattern}')) AS BIGINT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '$PhonePattern')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(text, '$Ipv4Pattern')) AS BIGINT) AS n_ips,
       |  CAST(len(regexp_extract_all(text, '${TextOps.NumPattern}')) AS BIGINT) AS n_longnums,
       |  len(regexp_extract_all(text, '${TextOps.EmailPattern}')) +
       |    len(regexp_extract_all(text, '${TextOps.UrlPattern}')) +
       |    len(regexp_extract_all(text, '$PhonePattern')) +
       |    len(regexp_extract_all(text, '$Ipv4Pattern')) +
       |    len(regexp_extract_all(text, '${TextOps.NumPattern}')) > 0 AS has_pii
       |FROM documents""".stripMargin

  // --------------------------------------------------- quality_repetition

  /** Gopher-style repetition signals: duplicate-2/3-gram ratios (narrow
    * distinct-array arithmetic) + top-token mode share (the one shuffle:
    * (doc_id, token-hash) count, then per-doc max/sum — both map-side
    * combined). `is_repetitive` gates on [[TopTokenMax]]/[[Dup2GramMax]].
    *
    * One md5 per TOKEN total: tokens are hashed once
    * (md5_prefix_hashes), n-gram hashes derive from the token-hash array
    * by the [[TextOps.FpMult]]/[[TextOps.P]] polynomial fold (the
    * doc_fingerprint scheme), and the mode share groups on the token
    * HASH — long shuffle keys instead of strings. The oracle mirrors
    * every step, so a hash collision collapses identically in both
    * engines.
    */
  def qualityRepetition(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.ArrayFunctions.{md5_prefix_hashes, rolling_window_hashes}
    val ths = md5_prefix_hashes(TextOps.toksOf(docs))
    def dupRatio(g: Column): Column =
      lit(1.0) - size(array_distinct(g)).cast("double") / size(g)
    val narrow = fanout(docs)
      .select(col("doc_id"), ths.as("ths"))
      .select(
        col("doc_id"),
        size(col("ths")).cast("long").as("n_tokens"),
        dupRatio(rolling_window_hashes(col("ths"), 2, TextOps.FpMult, TextOps.P))
          .as("dup_2gram_ratio"),
        dupRatio(rolling_window_hashes(col("ths"), 3, TextOps.FpMult, TextOps.P))
          .as("dup_3gram_ratio"),
        explode_outer(col("ths")).as("th"))
      .filter(col("th").isNotNull)
    val top = narrow
      .groupBy("doc_id", "n_tokens", "dup_2gram_ratio", "dup_3gram_ratio", "th")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_tokens", "dup_2gram_ratio", "dup_3gram_ratio")
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("top_token_ratio"))
    top.select(col("doc_id"), col("n_tokens"), col("top_token_ratio"),
      col("dup_2gram_ratio"), col("dup_3gram_ratio"),
      (col("top_token_ratio") > TopTokenMax || col("dup_2gram_ratio") > Dup2GramMax)
        .as("is_repetitive"))
  }

  def sqlQualityRepetition: String = {
    // same derivation as the Spark side: per-token md5 hashes, n-gram
    // hashes from the polynomial fold over hash windows — a collision
    // collapses the same two grams in both engines
    def dupRatio(w: Int): String = {
      val grams = s"list_transform(range(1, greatest(len(ths) - ${w - 1}, 1) + 1), " +
        s"i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(ths, i, i + ${w - 1})), " +
        s"(a,x) -> (a * ${TextOps.FpMult} + x) % ${TextOps.P}))"
      s"1.0 - CAST(len(list_distinct($grams)) AS DOUBLE) / len($grams)"
    }
    s"""WITH hashed AS (
       |  SELECT doc_id, list_transform(${sqlTokens("text")}, t -> ${sqlTokenHash("t")}) AS ths
       |  FROM documents),
       |narrow AS (
       |  SELECT doc_id,
       |    CAST(len(ths) AS BIGINT) AS n_tokens,
       |    ${dupRatio(2)} AS dup_2gram_ratio,
       |    ${dupRatio(3)} AS dup_3gram_ratio,
       |    unnest(ths) AS th
       |  FROM hashed),
       |tf AS (
       |  SELECT doc_id, n_tokens, dup_2gram_ratio, dup_3gram_ratio, th, count(*) AS c
       |  FROM narrow GROUP BY ALL),
       |top AS (
       |  SELECT doc_id, n_tokens, dup_2gram_ratio, dup_3gram_ratio,
       |    CAST(max(c) AS DOUBLE) / sum(c) AS top_token_ratio
       |  FROM tf GROUP BY ALL)
       |SELECT doc_id, n_tokens, top_token_ratio, dup_2gram_ratio, dup_3gram_ratio,
       |  top_token_ratio > $TopTokenMax OR dup_2gram_ratio > $Dup2GramMax AS is_repetitive
       |FROM top""".stripMargin
  }

  // ---------------------------------------------------- sample_stratified

  /** Deterministic stratified sampling: an md5-derived hash of the doc id
    * lands each doc in a [0,100) bucket; a doc survives iff its bucket is
    * under its language's [[StratRates]] keep-rate. `weight` is the
    * inverse keep-probability (the loss/count reweighting factor).
    * Narrow projection + filter — the sample decision runs at the scan,
    * no shuffle, reproducible across runs and engines (no RNG).
    */
  def sampleStratified(docs: DataFrame): DataFrame = {
    val bucket = pmod(tokenHash(concat(lit("strat:"), col("doc_id").cast("string"))), lit(100L))
    val rate = StratRates.tail.foldLeft(
      when(col("lang") === StratRates.head._1, lit(StratRates.head._2))) {
      case (acc, (l, r)) => acc.when(col("lang") === l, lit(r))
    }.otherwise(lit(100))
    docs.select(col("doc_id"), col("lang"), col("source"),
        bucket.as("bucket"), rate.cast("long").as("keep_rate"))
      .filter(col("bucket") < col("keep_rate"))
      .withColumn("weight", lit(100.0) / col("keep_rate"))
  }

  def sqlSampleStratified: String = {
    val cases = StratRates.map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
    s"""SELECT *, 100.0 / keep_rate AS weight FROM (
       |  SELECT doc_id, lang, source,
       |    ${sqlTokenHash("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
       |    CAST(CASE lang $cases ELSE 100 END AS BIGINT) AS keep_rate
       |  FROM documents)
       |WHERE bucket < keep_rate""".stripMargin
  }

  // ----------------------------------------------------- sample_reservoir

  /** Fixed-size cap per stratum for [[sampleReservoir]]. */
  val ReservoirN = 50L

  /** Deterministic reservoir sampling: exactly min(N, |stratum|) docs
    * per language — the loader-manifest counterpart of
    * [[sampleStratified]]'s keep-RATE (an eval/holdout manifest wants
    * an exact per-stratum COUNT, not a rate). Every doc's "random" key
    * is an md5-derived hash of its id, so the reservoir is a true
    * uniform-without-replacement sample yet stable across runs, engines
    * and cluster layouts — no RNG, no seed plumbing.
    *
    * Scale shape: one window keyed by the stratum; the `rank <= N`
    * filter is the form Spark's WindowGroupLimit rewrites into
    * per-partition top-N before the shuffle, so a billion-doc stratum
    * ships N rows per input partition, never sorts fully.
    */
  def sampleReservoir(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = tokenHash(concat(lit("resv:"), col("doc_id").cast("string")))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"), h.as("h"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= ReservoirN)
  }

  def sqlSampleReservoir: String =
    s"""SELECT doc_id, lang, source, h, rk FROM (
       |  SELECT doc_id, lang, source, h,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rk
       |  FROM (
       |    SELECT doc_id, lang, source,
       |      ${sqlTokenHash("'resv:' || CAST(doc_id AS VARCHAR)")} AS h
       |    FROM documents))
       |WHERE rk <= $ReservoirN""".stripMargin

  // --------------------------------------------------------- domain_stats

  /** Per-source (≙ per-domain) corpus stats: doc/language counts, total
    * tokens, and mean quality. One groupBy on the block key, map-side
    * combined. Quality is quantized to exact micro-units BEFORE the sum:
    * a double sum's value depends on partition order (fp addition is not
    * associative), so summing longs is the only way the distributed
    * aggregate stays bit-identical to the single-threaded oracle.
    */
  /** Micro-quantized quality score — ONE Scala definition (the twin of
    * [[sqlQualityMicroCte]]'s `q_micro`) shared by [[domainStats]] and
    * [[mixtureReweightStep]], so the two can never disagree on the
    * rounding or the null rule.
    */
  private def qualityMicroCol: Column = {
    val (_, quality) = TextOps.qualityCols(col("text"))
    when(quality.isNull, lit(null).cast("long"))
      .otherwise(floor(quality * lit(QualityMicro) + lit(0.5)).cast("long"))
  }

  def domainStats(docs: DataFrame): DataFrame = {
    val (nTok, quality) = TextOps.qualityCols(col("text"))
    val qMicro = qualityMicroCol
    docs
      .select(col("source"), col("lang"), nTok.as("n_tok"), qMicro.as("q_micro"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tok")).as("sum_tokens"),
        count(col("q_micro")).as("n_scored"),
        sum(col("q_micro")).as("sum_quality_micro"))
      .withColumn("mean_quality",
        col("sum_quality_micro") / lit(QualityMicro) / col("n_scored"))
  }

  /** The (source, lang, n_tokens, q_micro) CTE body shared by
    * [[sqlDomainStats]] and [[sqlMixtureReweightStep]] — one definition
    * of the micro-quantized quality score, so the data-card stats and
    * the mixture step can never disagree on what "quality" means.
    */
  private def sqlQualityMicroCte: String = {
    val set = TextOps.StopwordProfiles.head._2.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""q AS (
       |  SELECT source, lang, n_tokens,
       |    CASE WHEN n_chars_m = 0 THEN NULL ELSE CAST(floor((
       |      0.4 * least(n_tokens / 64.0, 1.0) +
       |      0.3 * least((CAST(n_stop AS DOUBLE) / n_tokens) * 4.0, 1.0) +
       |      0.3 * (CAST(n_alpha AS DOUBLE) / n_chars_m)) * $QualityMicro + 0.5) AS BIGINT)
       |    END AS q_micro
       |  FROM (
       |    SELECT source, lang,
       |      CAST(len(toks) AS BIGINT) AS n_tokens,
       |      CAST(len(list_filter(toks, t -> list_contains($set, t))) AS BIGINT) AS n_stop,
       |      CAST(len(regexp_extract_all(text, '[A-Za-z]')) AS BIGINT) AS n_alpha,
       |      CAST(length(text) AS BIGINT) AS n_chars_m
       |    FROM (SELECT source, lang, text, ${sqlTokens("text")} AS toks FROM documents)))""".stripMargin
  }

  def sqlDomainStats: String = {
    s"""WITH $sqlQualityMicroCte
       |SELECT source, count(*) AS n_docs,
       |  count(DISTINCT lang) AS n_langs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  count(q_micro) AS n_scored,
       |  CAST(sum(q_micro) AS BIGINT) AS sum_quality_micro,
       |  CAST(sum(q_micro) AS BIGINT) / $QualityMicro / count(q_micro) AS mean_quality
       |FROM q GROUP BY source""".stripMargin
  }

  // ------------------------------------------------------- pack_sequences

  /** Training-sequence length (tokens) for [[packSequences]]. */
  val SeqLen = 256L

  /** GPT-style contiguous sequence packing: per source (≙ shard), docs
    * concatenate in doc_id order into one token stream that is cut every
    * [[SeqLen]] tokens; each doc reports the sequences it spans
    * (`seq_start`..`seq_end`) and its offset inside its first sequence —
    * exactly the index a packed-dataset loader needs, with zero padding
    * waste (docs straddle sequence boundaries).
    *
    * Scale shape: one window partitioned by the shard key (`source`) —
    * the same per-shard cumulative sum every packed-dataset writer runs;
    * shards are bounded (a pathological single-shard corpus would fall
    * back to the two-pass partition-offset ordinals of
    * [[CdcOps.globalOrdinals]]). All arithmetic is exact long division —
    * no fp in sight.
    */
  /** The packing arithmetic itself, over any (doc_id, source, n_tokens)
    * frame — ONE definition shared by [[packSequences]] (counts from raw
    * text) and [[CorpusOps.corpusToSequences]] (surviving counts after
    * the clean+trim pipeline), so the two can never desynchronize on
    * SeqLen handling, ordering key or offset arithmetic.
    */
  /** The packing window + arithmetic over ANY frame carrying (doc_id,
    * source, n_tokens) — appends tok_start/seq_start/seq_end/seq_offset,
    * PRESERVING every other column (so [[decontaminatePacked]] can carry
    * token arrays through the same math). All consumers go through here:
    * one definition of SeqLen handling, ordering key, offset arithmetic.
    */
  private[ops] def packWindowCols(base: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("tok_start", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("seq_start", expr(s"tok_start div $SeqLen"))
      .withColumn("seq_end", expr(s"(tok_start + n_tokens - 1) div $SeqLen"))
      .withColumn("seq_offset", pmod(col("tok_start"), lit(SeqLen)))
  }

  private[ops] def packTokenCounts(base: DataFrame): DataFrame =
    packWindowCols(base).select("doc_id", "source", "n_tokens", "tok_start",
      "seq_start", "seq_end", "seq_offset")

  def packSequences(docs: DataFrame): DataFrame =
    packTokenCounts(fanout(docs).select(col("doc_id"), col("source"),
      size(TextOps.toksOf(docs)).cast("long").as("n_tokens")))

  /** SQL twin of [[packTokenCounts]] over an inner relation producing
    * (doc_id, source, n_tokens).
    */
  private[ops] def sqlPackOver(inner: String): String =
    s"""SELECT doc_id, source, n_tokens, tok_start,
       |  tok_start // $SeqLen AS seq_start,
       |  (tok_start + n_tokens - 1) // $SeqLen AS seq_end,
       |  tok_start % $SeqLen AS seq_offset
       |FROM (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
       |  FROM (
       |$inner))""".stripMargin

  def sqlPackSequences: String = sqlPackOver(
    s"""    SELECT doc_id, source, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
       |    FROM documents""".stripMargin)

  // --------------------------------------------------- sequence_manifest

  /** The loader-side INVERSE of [[packSequences]]: one row per packed
    * training sequence, listing the documents that fill it — the
    * manifest a packed-dataset reader uses to map a sequence back to its
    * provenance (and the attention-mask boundaries for
    * no-cross-document-attention training). Per (source, seq_id):
    * contributing doc count, exact filled token count (the last sequence
    * of each shard is the only one that may be short), and the doc ids
    * in stream order.
    *
    * Scale shape: each doc explodes into only the sequences it SPANS
    * (fan-out = ceil(doc_len / [[SeqLen]]), bounded by doc length), then
    * one map-side-combined agg on (source, seq_id). All arithmetic is
    * exact long overlap of [tok_start, tok_start+n) with the sequence
    * window — no fp anywhere.
    */
  def sequenceManifest(docs: DataFrame): DataFrame =
    sequenceManifestFrom(packSequences(docs))

  /** [[sequenceManifest]] over an ALREADY-PACKED table (doc_id, source,
    * n_tokens, tok_start, seq_start, seq_end, …) — the face the
    * streaming packer's fill accounting reuses, so batch and streamed
    * manifests are the same aggregation over their respective pack
    * tables.
    */
  def sequenceManifestFrom(pack: DataFrame): DataFrame = {
    val L = SeqLen
    pack
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_start"),
        explode_outer(sequence(col("seq_start"), col("seq_end"))).as("seq_id"))
      .filter(col("seq_id").isNotNull)
      .groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("tok_start") + col("n_tokens"), (col("seq_id") + 1) * L)
          - greatest(col("tok_start"), col("seq_id") * L)).as("filled_tokens"),
        // stream order = tok_start order (collect_list order is
        // nondeterministic → sort the structs before rendering)
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("tok_start"), col("doc_id")))),
          x => x.getField("doc_id").cast("string"))).as("doc_ids"))
  }

  def sqlSequenceManifest: String =
    s"""WITH packed AS (
       |${sqlPackSequences}
       |),
       |x AS (
       |  SELECT doc_id, source, n_tokens, tok_start,
       |    unnest(range(seq_start, seq_end + 1)) AS seq_id
       |  FROM packed WHERE n_tokens >= 1)
       |SELECT source, seq_id, count(*) AS n_docs,
       |  CAST(sum(least(tok_start + n_tokens, (seq_id + 1) * $SeqLen)
       |    - greatest(tok_start, seq_id * $SeqLen)) AS BIGINT) AS filled_tokens,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY tok_start, doc_id) AS doc_ids
       |FROM x GROUP BY source, seq_id""".stripMargin

  // ----------------------------------------------- pack_attention_spans

  /** The block-diagonal ATTENTION-MASK artifact of packed training — per
    * packed sequence, each contributing document's [start, end) token
    * span IN SEQUENCE-LOCAL offsets, ordered: exactly what a
    * no-cross-document-attention data loader consumes next to the token
    * shard ([[sequenceManifest]] answers "which docs"; this answers
    * "where each doc's attention block begins and ends"). Spans are
    * emitted as the deterministic string `"a:b,a:b,…"` (ordered by
    * start, then doc_id — the manifest's string_agg parity idiom), and
    * `covered` asserts the invariant a loader relies on: the spans
    * tile the sequence exactly (Σ lengths = filled tokens, no gaps, no
    * overlaps — packing is a partition of the stream).
    *
    * Scale shape: identical to [[sequenceManifest]] — each doc explodes
    * into only the sequences it spans, one map-side-combined agg on
    * (source, seq_id).
    */
  def packAttentionSpans(docs: DataFrame): DataFrame = {
    val L = SeqLen
    val x = packSequences(docs)
      .filter(col("n_tokens") >= 1)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("tok_start"),
        explode_outer(sequence(col("seq_start"), col("seq_end"))).as("seq_id"))
      .select(col("source"), col("seq_id"), col("doc_id"),
        (greatest(col("tok_start"), col("seq_id") * L) -
          col("seq_id") * L).as("a"),
        (least(col("tok_start") + col("n_tokens"), (col("seq_id") + 1) * L) -
          col("seq_id") * L).as("b"))
    val sortedSpans =
      sort_array(collect_list(struct(col("a"), col("doc_id"), col("b"))))
    val starts = transform(sortedSpans, s => s.getField("a"))
    val ends = transform(sortedSpans, s => s.getField("b"))
    x.groupBy("source", "seq_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("b") - col("a")).as("filled_tokens"),
        array_join(transform(sortedSpans,
          s => concat(s.getField("a").cast("string"), lit(":"),
            s.getField("b").cast("string"))), ",").as("spans"),
        // TRUE chain tiling, not the max−min == Σ surrogate (which an
        // overlap offset by an equal gap, or a leading gap, satisfies):
        // sorted starts must equal [0] ++ sorted ends dropped-last —
        // every span begins exactly where its predecessor stopped
        (starts === concat(array(lit(0L)),
          slice(ends, lit(1), size(ends) - 1))).as("covered"))
  }

  def sqlPackAttentionSpans: String =
    s"""WITH packed AS (
       |${sqlPackSequences.linesIterator.map("  " + _).mkString("\n")}
       |),
       |x AS (
       |  SELECT source, seq_id, doc_id,
       |    greatest(tok_start, seq_id * $SeqLen) - seq_id * $SeqLen AS a,
       |    least(tok_start + n_tokens, (seq_id + 1) * $SeqLen)
       |      - seq_id * $SeqLen AS b
       |  FROM (
       |    SELECT doc_id, source, n_tokens, tok_start,
       |      unnest(range(seq_start, seq_end + 1)) AS seq_id
       |    FROM packed WHERE n_tokens >= 1))
       |SELECT source, seq_id, count(*) AS n_docs,
       |  CAST(sum(b - a) AS BIGINT) AS filled_tokens,
       |  string_agg(CAST(a AS VARCHAR) || ':' || CAST(b AS VARCHAR), ','
       |    ORDER BY a, doc_id) AS spans,
       |  bool_and(chain_ok) AS covered
       |FROM (
       |  SELECT *, a = coalesce(lag(b) OVER (PARTITION BY source, seq_id
       |    ORDER BY a, doc_id), 0) AS chain_ok
       |  FROM x)
       |GROUP BY source, seq_id""".stripMargin

  // ----------------------------------------------------- shuffle_shards

  /** Shard count for the deterministic global training-order shuffle. */
  val ShuffleShards = 64L

  /** The salted shuffle key and shard id — ONE definition point shared by
    * [[shuffleShards]] and [[shardChecksums]]: the manifest is only an
    * integrity manifest if it describes exactly the shards the shuffle
    * published, so the two must be incapable of drifting.
    */
  private def shuffleKey: Column =
    tokenHash(concat(lit("shuf:"), col("doc_id").cast("string")))
  private def shardOf(skey: Column): Column = pmod(skey, lit(ShuffleShards))
  private def sqlShuffleKey: String =
    sqlTokenHash("'shuf:' || CAST(doc_id AS VARCHAR)")
  private def sqlShardOf(skey: String): String = s"$skey % $ShuffleShards"

  /** Deterministic global shuffle for training order: every doc gets a
    * (shard, position) from a salted md5 of its id — reproducible across
    * runs (no RNG state), resumable (positions are stable), and uniform
    * (md5 hash space). The standard "global shuffle then shard" step
    * every pretraining pipeline runs before packing; compose with
    * [[packSequences]] by substituting shard for source.
    *
    * Scale shape: a narrow codegen'd hash projection, then ONE window
    * per shard for the position — shards are fixed-count ([[
    * ShuffleShards]]); at 100 TB raise the constant so per-shard row
    * counts fit a task (the window is the same per-shard sort a shard
    * writer would do anyway).
    */
  def shuffleShards(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = fanout(docs).select(col("doc_id"), shuffleKey.as("skey"))
      .withColumn("shard", shardOf(col("skey")))
    val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    base.withColumn("pos", row_number().over(w).cast("long") - 1)
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  def sqlShuffleShards: String = {
    val h = sqlShuffleKey
    s"""SELECT doc_id, shard,
       |  CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id)
       |    AS BIGINT) - 1 AS pos
       |FROM (SELECT doc_id, $h AS skey, ${sqlShardOf(h)} AS shard
       |      FROM documents)""".stripMargin
  }

  // ------------------------------------------------------ shard_checksums

  /** Per-shard integrity manifest for dataset PUBLISHING — what a data
    * card ships beside the shard files so a consumer verifies
    * completeness without re-downloading in order: per [[shuffleShards]]
    * shard, the doc count, token count, and an ORDER-FREE multiset
    * checksum (bit_xor of per-doc content hashes). XOR is the standard
    * multiset checksum: commutative — shard order, partition order, and
    * parallel reduction order cannot perturb it — overflow-free, and any
    * single missing / duplicated / substituted document flips it.
    * Shape: the shuffle_shards assignment is a narrow hash; the manifest
    * is ONE shard-keyed map-side-combined agg — O(shards) output.
    */
  def shardChecksums(docs: DataFrame): DataFrame =
    fanout(docs).select(
        shardOf(shuffleKey).as("shard"),
        tokenHash(col("text")).as("content_hash"),
        size(TextOps.toksOf(docs)).cast("long").as("n_tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
        expr("bit_xor(content_hash)").as("checksum"))

  def sqlShardChecksums: String =
    s"""SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  bit_xor(content_hash) AS checksum
       |FROM (
       |  SELECT ${sqlShardOf(sqlShuffleKey)} AS shard,
       |    ${sqlTokenHash("text")} AS content_hash,
       |    CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok
       |  FROM documents)
       |GROUP BY shard""".stripMargin

  // ------------------------------------------------- unigram_commonness

  /** Corpus-unigram commonness score — the exact-arithmetic stand-in for
    * KenLM-style LM quality filtering (CCNet trains an LM and keeps
    * docs by perplexity band; a log-prob sum cannot hash-match across
    * engines — see tfidf's rational idf — so this scores each doc by the
    * MEAN CORPUS FREQUENCY of its tokens instead): sum over token
    * occurrences of that token's corpus count, divided by n_tokens ·
    * n_total in ONE final double division. Gibberish / rare-token docs
    * score low; stopword soup scores high — band-filter on both tails
    * like CCNet does with perplexity.
    *
    * Scale shape: the vocab is one map-side-combined count agg (Zipf
    * bounds distinct tokens far below corpus size); the occurrence⋈vocab
    * join is skewed at the Zipf head ('' / stopwords) — AQE skew-join
    * splits those partitions; per-doc re-agg is map-side combined. All
    * integer until the final division.
    */
  def unigramCommonness(docs: DataFrame): DataFrame = {
    val tok = fanout(docs).select(col("doc_id"),
      explode_outer(TextOps.toksOf(docs)).as("t"))
      .filter(col("t").isNotNull)
    // vocab feeds BOTH the totals agg and the occurrence join —
    // materialize it (Zipf keeps it far smaller than the corpus) so the
    // corpus is tokenized exactly twice (vocab build + join side), not
    // three times; the exploded `tok` itself is corpus-sized and NOT
    // worth caching
    val vocab = DedupOps.materialize(
      tok.groupBy("t").agg(count(lit(1)).as("cnt")), "unigram_vocab")
    val totals = vocab.agg(sum(col("cnt")).as("n_total"))
    tok.join(vocab, "t")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("cnt")).as("sum_counts"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_tokens"), col("sum_counts"), col("n_total"),
        (col("sum_counts").cast("double") /
          (col("n_tokens").cast("double") * col("n_total").cast("double")))
          .as("commonness"))
  }

  def sqlUnigramCommonness: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${sqlTokens("text")}) AS t FROM documents),
       |vocab AS (SELECT t, count(*) AS cnt FROM tok GROUP BY t),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM vocab),
       |per AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    CAST(sum(cnt) AS BIGINT) AS sum_counts
       |  FROM tok JOIN vocab USING (t) GROUP BY doc_id)
       |SELECT doc_id, n_tokens, sum_counts, n_total,
       |  CAST(sum_counts AS DOUBLE) /
       |    (CAST(n_tokens AS DOUBLE) * CAST(n_total AS DOUBLE)) AS commonness
       |FROM per, tot""".stripMargin

  // ------------------------------------------------------ span_corruption

  /** Denoising-mask window (tokens): one [[SpanLen]]-token span is masked
    * per full window, realizing rate = SpanLen/SpanWindow = 15%.
    */
  val SpanWindow = 20L
  /** Mean/fixed corrupted-span length (T5 §3.1.4 trains best near 3). */
  val SpanLen = 3L

  /** Deterministic span-corruption mask generation — the data-side half
    * of a T5-style denoising objective: per document, the token spans to
    * replace with sentinels. T5 samples spans i.i.d.; a DATA PIPELINE
    * wants the same masks on every run, engine and worker (resumable
    * preprocessing, reproducible ablations), so this uses the
    * deterministic-hash scheme the sampling ops use: the token stream
    * splits into fixed [[SpanWindow]]-token windows and each FULL window
    * masks one [[SpanLen]]-token span at offset
    * `md5("span:" || doc_id || ":" || window) mod (W − L + 1)` — exactly
    * the published 15% rate with mean span 3, non-overlapping by
    * construction, position-uniform within the window. A doc shorter
    * than one window emits no spans (under-masking only the tail,
    * bounded by W tokens per doc).
    *
    * Scale shape: a narrow generate — tokenize once, per-row window
    * count, explode bounded by n/W rows per doc. Zero shuffles.
    */
  /** Share of documents that get the FIM transform (7 of 10 — the
    * published FIM rate region, Bavarian et al. 2022 use 50–90%).
    */
  val FimRateMod = 10
  val FimRateKeep = 7

  /** Fill-in-the-middle (Bavarian et al. 2022): for a deterministic
    * [[FimRateKeep]]/[[FimRateMod]] share of docs, split the token
    * sequence at two hash-derived positions 0 ≤ a ≤ b ≤ n and emit the
    * PSM rendering `<PRE> prefix <SUF> suffix <MID> middle` — training
    * on this teaches infilling while the autoregressive loss machinery
    * stays unchanged, which is why every code model runs this exact
    * transform over a fixed share of the corpus. Unselected docs emit
    * the plain token join (`fim_applied` = false) so the output is the
    * full corpus in loader order, not a filtered slice.
    *
    * Scale shape: zero shuffles — split positions are md5-derived
    * in-row (the spanCorruption discipline: deterministic,
    * engine-independent), the three slices and the re-join are in-row
    * array ops over the shared token table.
    */
  def fimSplit(docs: DataFrame): DataFrame = {
    val toks = TextOps.toksOf(docs)
    val n = size(toks).cast("long")
    val selHash = pmod(tokenHash(concat(lit("fim:"),
      col("doc_id").cast("string"))), lit(FimRateMod.toLong))
    val a = pmod(tokenHash(concat(lit("fim_a:"),
      col("doc_id").cast("string"))), n + 1)
    val b = a + pmod(tokenHash(concat(lit("fim_b:"),
      col("doc_id").cast("string"))), n - a + 1)
    val joinSeg = (seg: Column) => array_join(seg, " ")
    docs.select(col("doc_id"), n.as("n_tokens"),
        (selHash < FimRateKeep).as("fim_applied"),
        when(selHash < FimRateKeep, a).otherwise(lit(null)).as("a"),
        when(selHash < FimRateKeep, b).otherwise(lit(null)).as("b"),
        when(selHash < FimRateKeep,
          // explicit concat, not concat_ws: DuckDB renders an empty
          // list join as NULL and concat_ws SKIPS it (one space) while
          // Spark keeps the empty string (two spaces) — coalesce + a
          // fixed separator layout keeps the bytes identical
          concat(lit("<PRE> "), joinSeg(slice(toks, lit(1), a)),
            lit(" <SUF> "), joinSeg(slice(toks, b + 1, n - b)),
            lit(" <MID> "), joinSeg(slice(toks, a + 1, b - a))))
          .otherwise(joinSeg(toks)).as("fim_text"))
  }

  def sqlFimSplit: String = {
    val selHash = s"${TextOps.sqlTokenHash("'fim:' || CAST(doc_id AS VARCHAR)")} % $FimRateMod"
    val aH = TextOps.sqlTokenHash("'fim_a:' || CAST(doc_id AS VARCHAR)")
    val bH = TextOps.sqlTokenHash("'fim_b:' || CAST(doc_id AS VARCHAR)")
    s"""SELECT doc_id, n AS n_tokens,
       |  sel < $FimRateKeep AS fim_applied,
       |  CASE WHEN sel < $FimRateKeep THEN a END AS a,
       |  CASE WHEN sel < $FimRateKeep THEN b END AS b,
       |  CASE WHEN sel < $FimRateKeep THEN
       |    '<PRE> ' || coalesce(array_to_string(toks[1:a], ' '), '') ||
       |    ' <SUF> ' || coalesce(array_to_string(toks[b+1:n], ' '), '') ||
       |    ' <MID> ' || coalesce(array_to_string(toks[a+1:b], ' '), '')
       |  ELSE array_to_string(toks, ' ') END AS fim_text
       |FROM (
       |  SELECT doc_id, toks, n, sel, a,
       |    a + ($bH % (n - a + 1)) AS b
       |  FROM (
       |    SELECT doc_id, toks, n, $selHash AS sel,
       |      ($aH % (n + 1)) AS a
       |    FROM (
       |      SELECT doc_id, ${TextOps.sqlTokens("text")} AS toks,
       |        CAST(len(${TextOps.sqlTokens("text")}) AS BIGINT) AS n
       |      FROM documents)))""".stripMargin
  }

  def spanCorruption(docs: DataFrame): DataFrame = {
    val nwin = col("n").divide(lit(SpanWindow)).cast("long")
    fanout(docs)
      .select(col("doc_id"), size(TextOps.toksOf(docs)).cast("long").as("n"))
      .withColumn("w", explode_outer(when(nwin >= 1L,
        sequence(lit(0L), nwin - 1)).otherwise(array().cast("array<long>"))))
      .filter(col("w").isNotNull)
      .select(col("doc_id"), col("w").as("span_id"),
        (col("w") * SpanWindow + pmod(
          tokenHash(concat(lit("span:"), col("doc_id").cast("string"),
            lit(":"), col("w").cast("string"))),
          lit(SpanWindow - SpanLen + 1))).as("span_start"),
        lit(SpanLen).as("span_len"),
        col("n").as("n_tokens"))
  }

  def sqlSpanCorruption: String = {
    val offs = sqlTokenHash(
      "'span:' || CAST(doc_id AS VARCHAR) || ':' || CAST(w AS VARCHAR)")
    s"""SELECT doc_id, w AS span_id,
       |  w * $SpanWindow + $offs % ${SpanWindow - SpanLen + 1} AS span_start,
       |  CAST($SpanLen AS BIGINT) AS span_len, n AS n_tokens
       |FROM (
       |  SELECT doc_id, n, unnest(range(0, n // $SpanWindow)) AS w
       |  FROM (
       |    SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n
       |    FROM documents))""".stripMargin
  }

  // ---------------------------------------------------- contamination_report

  /** The benchmark-side inverse of [[decontaminate]]: one row per
    * HELD-OUT doc, reporting how far it has leaked into the training
    * corpus — distinct leaked grams, distinct training docs reached, and
    * the leakage ratio. [[decontaminate]] answers "which training docs
    * must go"; this answers the eval owner's question, "which benchmark
    * items are burned and how badly" (a fully-leaked item measures
    * memorization, not capability). Zero-leak items are reported with
    * zeros — the report's row count is the benchmark size, not the hit
    * count.
    *
    * Scale shape: the same asymmetry as [[decontaminate]], exploited in
    * the same direction — the benchmark gram set is broadcast-scale, the
    * corpus is not, so the corpus gram stream joins the broadcast bench
    * side and ONLY HIT ROWS ever shuffle (for the per-item distinct
    * counts). The corpus text itself never shuffles at any scale.
    */
  def contaminationReport(docs: DataFrame,
      gramWidth: Int = DecontamGramProd): DataFrame = {
    val g = fanout(docs).select(col("doc_id"), col("source"),
      decontamGramsOf(TextOps.toksOf(docs), gramWidth).as("gs"))
    // gs is sorted_distinct, so n_grams is the doc's DISTINCT gram count
    // and leakage = n_leaked/n_grams is bounded in [0, 1]. The division
    // is safe under ANSI: the shingle kernel emits max(n-w+1, 1) grams
    // (HashKernels.wordShingle) and tokens('') = [''], so n_grams >= 1
    // for EVERY doc, benchmark items shorter than the gram width included
    val benchDocs = g.filter(col("source") === BenchmarkSource)
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"), col("gs"))
    val bench = benchDocs
      .select(col("doc_id"), col("n_grams"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    val train = g.filter(col("source") =!= BenchmarkSource)
      .select(col("doc_id").as("train_doc_id"), explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    val hits = train.join(broadcast(bench), "g")
      .groupBy("doc_id", "n_grams")
      .agg(countDistinct("g").as("n_leaked_grams"),
        countDistinct("train_doc_id").as("n_train_docs"))
    benchDocs.select("doc_id", "n_grams")
      .join(hits.select("doc_id", "n_leaked_grams", "n_train_docs"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        (coalesce(col("n_leaked_grams"), lit(0L)).cast("double") / col("n_grams"))
          .as("leakage"))
  }

  def sqlContaminationReport: String =
    s"""WITH g AS (
       |  SELECT doc_id, source, ${sqlGramHashes(DecontamGramProd)} AS gs FROM documents),
       |bench AS (
       |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, unnest(gs) AS g
       |  FROM g WHERE source = '$BenchmarkSource'),
       |train AS (
       |  SELECT doc_id AS train_doc_id, unnest(gs) AS g
       |  FROM g WHERE source <> '$BenchmarkSource'),
       |hits AS (
       |  SELECT b.doc_id, count(DISTINCT b.g) AS n_leaked_grams,
       |    count(DISTINCT t.train_doc_id) AS n_train_docs
       |  FROM bench b JOIN train t USING (g) GROUP BY b.doc_id)
       |SELECT bd.doc_id, bd.n_grams,
       |  coalesce(h.n_leaked_grams, 0) AS n_leaked_grams,
       |  coalesce(h.n_train_docs, 0) AS n_train_docs,
       |  CAST(coalesce(h.n_leaked_grams, 0) AS DOUBLE) / bd.n_grams AS leakage
       |FROM (
       |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams
       |  FROM g WHERE source = '$BenchmarkSource') bd
       |LEFT JOIN hits h USING (doc_id)""".stripMargin

  // ---------------------------------------------------- sample_temperature

  /** Temperature-flattened source sampling — the multilingual-corpus
    * balancing rule (mT5 / XLM-R style): sampled shares follow
    * q_s ∝ p_s^α with α = 1/2, flattening the head so low-resource
    * sources are not drowned. The per-source keep-rate is
    * r_s ∝ p_s^(α−1) scaled to max 1, which for α = 1/2 collapses to
    * `r_s = sqrt(t_min / t_s)` — the corpus total cancels, so the rate
    * is a pure ratio of exact per-source token counts under one sqrt.
    *
    * α is FIXED at 1/2 on the oracle path deliberately: `pow(x, α)` for
    * general α is libm-dependent (engines may round the last ulp
    * differently) while sqrt is IEEE-754 correctly rounded everywhere —
    * the same determinism rule as the micro-quantized sums. A general-α
    * variant would collect the sources-sized totals and inject
    * driver-computed rates as literals (the [[embedPcaProject]]
    * component-literal shape).
    *
    * Scale shape: identical to [[sampleMixture]] — one map-side agg to a
    * sources-sized frame, a 1-row broadcast min, then a narrow scan +
    * broadcast rate join + deterministic-bucket filter. The corpus never
    * shuffles on a key.
    */
  def sampleTemperature(docs: DataFrame): DataFrame = {
    val stats = mixTokenTotals(docs)
    val tmin = stats.agg(min("src_tokens").as("tmin"))
    val rates = stats.crossJoin(broadcast(tmin))
      .select(col("source"),
        sqrt(col("tmin").cast("double") / col("src_tokens").cast("double"))
          .as("keep_rate"))
    fanout(docs).select(col("doc_id"), col("source"), mixBucket("temp:").as("bucket"))
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("keep_rate") * lit(MixBuckets.toDouble))
      .select(col("doc_id"), col("source"), col("bucket"), col("keep_rate"),
        (lit(1.0) / col("keep_rate")).as("weight"))
  }

  def sqlSampleTemperature: String =
    s"""WITH st AS (
       |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens
       |  FROM (
       |    SELECT source, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok
       |    FROM documents)
       |  GROUP BY source),
       |tmin AS (SELECT min(src_tokens) AS tmin FROM st),
       |rates AS (
       |  SELECT source,
       |    sqrt(CAST(tmin AS DOUBLE) / CAST(src_tokens AS DOUBLE)) AS keep_rate
       |  FROM st CROSS JOIN tmin)
       |SELECT d.doc_id, d.source, d.bucket, r.keep_rate, 1.0 / r.keep_rate AS weight
       |FROM (
       |  SELECT doc_id, source,
       |    ${sqlTokenHash("'temp:' || CAST(doc_id AS VARCHAR)")} % $MixBuckets AS bucket
       |  FROM documents) d
       |JOIN rates r USING (source)
       |WHERE d.bucket < r.keep_rate * $MixBuckets.0""".stripMargin

  // ------------------------------------------------------ epoch_schedule

  /** Training-token budget as a multiple of the corpus: >1 means some
    * sources repeat (epochs > 1) — the regime of every published
    * pretraining data card.
    */
  val EpochBudgetMultiple = 2L

  /** The per-source EPOCHS column of a pretraining data card (GPT-3
    * Table 2.2, LLaMA Table 1): given the α=1/2 temperature shares
    * ([[sampleTemperature]]'s balancing rule, share_s ∝ √tokens_s) and a
    * token budget of [[EpochBudgetMultiple]]× the corpus, how many passes
    * over each source the loader makes — `epochs_s = share_s·B / tokens_s`.
    * Rare sources get epochs > 1 (upweighted, repeated), huge sources < 1
    * (subsampled); this is the number reviewers check for overfitting
    * risk on small high-quality sources.
    *
    * Parity discipline: √tokens is micro-quantized per source BEFORE the
    * cross-source denominator sum, so the share is a ratio of exact longs
    * — the [[QualityMicro]] house rule; every double here derives from
    * exact integers in one deterministic expression. Scale shape: one
    * sources-sized agg + a broadcast of one row; nothing corpus-scale
    * shuffles beyond [[mixTokenTotals]]'s map-side-combined token agg.
    */
  def epochSchedule(docs: DataFrame): DataFrame = {
    val smicro = mixTokenTotals(docs).withColumn("sqrt_micro",
      floor(sqrt(col("src_tokens").cast("double")) * lit(1000000.0) + lit(0.5))
        .cast("long"))
    val tot = smicro.agg(sum("sqrt_micro").as("denom_micro"),
      sum("src_tokens").as("total_tokens"))
    smicro.crossJoin(broadcast(tot))
      .withColumn("share",
        col("sqrt_micro").cast("double") / col("denom_micro").cast("double"))
      .withColumn("tokens_wanted",
        col("share") * col("total_tokens").cast("double") *
          lit(EpochBudgetMultiple.toDouble))
      .withColumn("epochs", col("tokens_wanted") / col("src_tokens").cast("double"))
      .select("source", "src_tokens", "share", "tokens_wanted", "epochs")
  }

  def sqlEpochSchedule: String =
    s"""WITH st AS (
       |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens
       |  FROM (
       |    SELECT source, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok
       |    FROM documents)
       |  GROUP BY source),
       |sm AS (
       |  SELECT source, src_tokens,
       |    CAST(floor(sqrt(CAST(src_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
       |      AS sqrt_micro
       |  FROM st),
       |tot AS (
       |  SELECT CAST(sum(sqrt_micro) AS BIGINT) AS denom_micro,
       |    CAST(sum(src_tokens) AS BIGINT) AS total_tokens
       |  FROM sm)
       |SELECT source, src_tokens,
       |  CAST(sqrt_micro AS DOUBLE) / CAST(denom_micro AS DOUBLE) AS share,
       |  (CAST(sqrt_micro AS DOUBLE) / CAST(denom_micro AS DOUBLE))
       |    * CAST(total_tokens AS DOUBLE) * $EpochBudgetMultiple.0 AS tokens_wanted,
       |  (CAST(sqrt_micro AS DOUBLE) / CAST(denom_micro AS DOUBLE))
       |    * CAST(total_tokens AS DOUBLE) * $EpochBudgetMultiple.0
       |    / CAST(src_tokens AS DOUBLE) AS epochs
       |FROM sm CROSS JOIN tot""".stripMargin

  // ------------------------------------------------- embed_covariance

  /** Corpus embedding covariance — the D×D input every PCA / whitening /
    * dimension-reduction step needs before touching 100 TB of vectors
    * (upper triangle; dims 0-based). Per (dim_i ≤ dim_j): count, the
    * exact micro-quantized second-moment sum, and the covariance
    * `E[xy] − E[x]E[y]` assembled from exact longs in one deterministic
    * double expression. Element products are quantized
    * `floor(x·y·1e6 + 0.5)` BEFORE summing (the [[QualityMicro]] /
    * rational-idf house rule: a parallel double sum is partition-order
    * dependent and would hash-mismatch the oracle; floor(+0.5) because
    * engines disagree on round()'s mode). Vectors with null elements are
    * excluded; dims are assumed uniform (the embeddings table is).
    *
    * Scale shape: the D²/2 pair expansion happens IN-ROW (narrow
    * higher-order transform, no self-join, no corpus shuffle); the only
    * exchanges carry D² and D keyed partial sums — output size is D²
    * regardless of corpus size, and the final assembly joins three
    * D²-bounded frames. This is the op whose 100 TB cost is exactly one
    * corpus scan.
    */
  def embedCovariance(emb: DataFrame): DataFrame = {
    val base = fanout(emb).filter(col("embedding").isNotNull)
      .select(transform(col("embedding"), x => x.cast("double")).as("emb_d"))
      .filter(!exists(col("emb_d"), x => x.isNull))
    // only the upper triangle is ever BUILT — one codegen'd kernel pass
    // (round 14): the nested transform/slice HOF pair evaluated
    // INTERPRETED (higher-order lambdas are CodegenFallback) at a boxed
    // allocation per element, the measured CPU term of the covariance
    // family (embed_pca_power_iter 21.5 CPU-s in-sweep). Bit-identical
    // to the HOF form below (CovKernelSpec).
    val pairs = base.select(explode_outer(
        org.apache.spark.sql.graftext.ArrayFunctions.cov_pairs_micro(
          col("emb_d"), QualityMicro)).as("p"))
      .filter(col("p").isNotNull)
    val moments = pairs
      .select(col("p.di").as("dim_i"), col("p.dj").as("dim_j"), col("p.xy_micro").as("xy_micro"))
      .groupBy("dim_i", "dim_j")
      .agg(count(col("xy_micro")).as("n"), sum(col("xy_micro")).as("sum_xy_micro"))
    val dims = base.select(posexplode_outer(col("emb_d")))
      .filter(col("pos").isNotNull)
      .select(col("pos").cast("long").as("dim"),
        floor(col("col") * lit(QualityMicro) + lit(0.5)).cast("long").as("x_micro"))
      .groupBy("dim").agg(sum(col("x_micro")).as("sum_micro"))
    moments
      .join(dims.select(col("dim").as("dim_i"), col("sum_micro").as("si")), "dim_i")
      .join(dims.select(col("dim").as("dim_j"), col("sum_micro").as("sj")), "dim_j")
      .select(col("dim_i"), col("dim_j"), col("n"), col("sum_xy_micro"),
        ((col("sum_xy_micro").cast("double") / lit(QualityMicro)
          - (col("si").cast("double") / lit(QualityMicro))
            * (col("sj").cast("double") / lit(QualityMicro))
            / col("n").cast("double"))
          / col("n").cast("double")).as("cov"))
  }

  def sqlEmbedCovariance: String =
    s"""WITH e AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
       |  FROM embeddings WHERE embedding IS NOT NULL
       |    AND len(list_filter(embedding, x -> x IS NULL)) = 0),
       |a AS (SELECT emb_d, unnest(range(1, len(emb_d) + 1)) AS i FROM e),
       |p AS (SELECT emb_d, i, unnest(range(i, len(emb_d) + 1)) AS j FROM a),
       |pairs AS (
       |  SELECT i - 1 AS dim_i, j - 1 AS dim_j,
       |    CAST(floor(emb_d[i] * emb_d[j] * $QualityMicro + 0.5) AS BIGINT) AS xy_micro
       |  FROM p),
       |moments AS (
       |  SELECT dim_i, dim_j, count(xy_micro) AS n,
       |    CAST(sum(xy_micro) AS BIGINT) AS sum_xy_micro
       |  FROM pairs GROUP BY dim_i, dim_j),
       |b AS (SELECT emb_d, unnest(range(1, len(emb_d) + 1)) AS i FROM e),
       |dims AS (
       |  SELECT i - 1 AS dim,
       |    CAST(sum(CAST(floor(emb_d[i] * $QualityMicro + 0.5) AS BIGINT)) AS BIGINT)
       |      AS sum_micro
       |  FROM b GROUP BY dim)
       |SELECT m.dim_i, m.dim_j, m.n, m.sum_xy_micro,
       |  (CAST(m.sum_xy_micro AS DOUBLE) / $QualityMicro
       |   - (CAST(x.sum_micro AS DOUBLE) / $QualityMicro)
       |     * (CAST(y.sum_micro AS DOUBLE) / $QualityMicro)
       |     / CAST(m.n AS DOUBLE))
       |  / CAST(m.n AS DOUBLE) AS cov
       |FROM moments m
       |JOIN dims x ON x.dim = m.dim_i
       |JOIN dims y ON y.dim = m.dim_j""".stripMargin

  // ----------------------------------------------- embed_pca_power_iter

  /** One power-iteration step toward the corpus embeddings' top principal
    * component, from the uniform start vector — the oracle-checkable face
    * of [[pcaTrain]]'s driver loop (the [[graft.ops.SimilarityOps]]
    * `ivf_train_step`/`ivfTrain` pattern). With v₀ = 1/√D·𝟙, the unnormalized
    * step y = C·v₀ is (up to the constant, which normalization cancels)
    * the covariance row sums; the emitted `component` is y/‖y‖.
    *
    * Parity rule: the covariance entries are micro-quantized to longs
    * BEFORE the row sum, so the cross-dim sum is exact-integer
    * (partition-order independent — a parallel double sum would
    * hash-mismatch the oracle); `component` is then one deterministic
    * double expression over exact longs. Scale shape: one corpus scan
    * (inside [[embedCovariance]]), then everything downstream is
    * D²-bounded metadata.
    */
  def embedPcaPowerIter(emb: DataFrame): DataFrame = {
    val cm = embedCovariance(emb)
      .select(col("dim_i"), col("dim_j"),
        floor(col("cov") * lit(QualityMicro) + lit(0.5)).cast("long").as("cov_micro"))
    // mirror the stored upper triangle to full C for the row sums
    val full = cm.unionByName(cm.filter(col("dim_i") =!= col("dim_j"))
      .select(col("dim_j").as("dim_i"), col("dim_i").as("dim_j"), col("cov_micro")))
    val y = full.groupBy(col("dim_i").as("dim"))
      .agg(sum("cov_micro").as("y_micro"))
    val norm = y.agg(sum(col("y_micro") * col("y_micro")).as("nsq"))
    // nsq = 0 (every covariance entry micro-quantizes to zero — constant
    // or all-zero embeddings) must yield a zero component, not an ANSI
    // divide-by-zero job kill / engine-divergent NaN
    y.crossJoin(broadcast(norm))
      .select(col("dim"), col("y_micro"),
        when(col("nsq") > 0L,
          col("y_micro").cast("double") / sqrt(col("nsq").cast("double")))
          .otherwise(lit(0.0)).as("component"))
  }

  /** Oracle twin of [[embedPcaPowerIter]]. `cm` is referenced by both
    * branches of the mirror UNION — `AS MATERIALIZED` keeps an inlining
    * planner from running the whole covariance pipeline twice.
    */
  def sqlEmbedPcaPowerIter: String =
    s"""WITH cm AS MATERIALIZED (
       |  SELECT dim_i, dim_j,
       |    CAST(floor(cov * $QualityMicro + 0.5) AS BIGINT) AS cov_micro
       |  FROM ($sqlEmbedCovariance)),
       |full_m AS (
       |  SELECT dim_i, dim_j, cov_micro FROM cm
       |  UNION ALL
       |  SELECT dim_j AS dim_i, dim_i AS dim_j, cov_micro FROM cm
       |  WHERE dim_i <> dim_j),
       |y AS (
       |  SELECT dim_i AS dim, CAST(sum(cov_micro) AS BIGINT) AS y_micro
       |  FROM full_m GROUP BY dim_i),
       |n AS (SELECT CAST(sum(y_micro * y_micro) AS BIGINT) AS nsq FROM y)
       |SELECT dim, y_micro,
       |  CASE WHEN nsq > 0 THEN CAST(y_micro AS DOUBLE) / sqrt(CAST(nsq AS DOUBLE))
       |    ELSE 0.0 END AS component
       |FROM y, n""".stripMargin

  /** One learned principal component: 0-based rank (0 = top), its
    * eigenvalue (variance explained), and the unit eigenvector.
    */
  final case class PcaComponent(rank: Int, eigenvalue: Double, vector: Seq[Double])

  /** Top-k PCA of the corpus embeddings, the 100 TB way: ONE distributed
    * corpus scan builds the exact D×D covariance ([[embedCovariance]]),
    * D² doubles come to the driver (D=64 ⇒ 32 KB — metadata scale, the
    * ivfTrain k×D shape), and the eigensolve is plain driver-side power
    * iteration with Hotelling deflation (C ← C − λvvᵀ after each
    * component). Covariance matrices are PSD, so power iteration
    * converges to the dominant eigenpair from any start not orthogonal
    * to it; the deterministic uniform start keeps runs reproducible.
    * Never a distributed iteration: iterating on the cluster would pay
    * a job per matvec for a matrix that fits in a cache line budget.
    */
  def pcaTrain(emb: DataFrame, k: Int = 4, iters: Int = 100): Seq[PcaComponent] = {
    val rows = embedCovariance(emb).select("dim_i", "dim_j", "cov").collect()
    require(rows.nonEmpty, "empty covariance — no usable embeddings")
    val d = rows.iterator.map(r => math.max(r.getLong(0), r.getLong(1))).max.toInt + 1
    val c = Array.ofDim[Double](d, d)
    rows.foreach { r =>
      val (i, j, v) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      c(i)(j) = v; c(j)(i) = v
    }
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => (0 until d).foldLeft(0.0)((a, j) => a + c(i)(j) * v(j)))
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      if (n == 0.0) v else v.map(_ / n)
    }
    (0 until k).map { rank =>
      var v = normalize(Array.fill(d)(1.0))
      var it = 0
      while (it < iters) { v = normalize(matvec(v)); it += 1 }
      val cv = matvec(v)
      val lambda = v.indices.foldLeft(0.0)((a, i) => a + v(i) * cv(i))
      for (i <- 0 until d; j <- 0 until d) c(i)(j) -= lambda * v(i) * v(j)
      PcaComponent(rank, lambda, v.toSeq)
    }
  }

  /** Project every embedding onto learned components — the
    * dimension-reduction the trained PCA exists for (and the whitening /
    * SemDeDup-style clustering input). Pure narrow map: the components
    * arrive as expression literals (k×D doubles — broadcast-scale; the
    * [[graft.ops.TokenizerOps.tokenizeBpe]] merge-literal argument), each
    * score is an in-row LEFT-fold dot product, zero shuffles at any
    * corpus size. Output (vec_id, label, scores[k]).
    */
  def embedPcaProject(emb: DataFrame, components: Seq[Seq[Double]]): DataFrame = {
    require(components.nonEmpty, "no components to project onto")
    val embD = transform(col("embedding"), x => x.cast("double"))
    // codegen'd dot kernel, not aggregate(zip_with(...)): the HOF pair is
    // interpreted per element and this fold runs k times per row on the
    // hot projection path. Same ascending left fold — bit-identical.
    val scores = array(components.map { comp =>
      SimilarityOps.dot(array(comp.map(lit): _*), col("emb_d"))
    }: _*)
    fanout(emb).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), embD.as("emb_d"))
      .filter(!exists(col("emb_d"), x => x.isNull))
      .select(col("vec_id"), col("label"), scores.as("scores"))
  }

  /** Retained components for the oracle-keyed projection face. */
  val PcaK = 4

  /** Pinned deterministic stand-in components (k=[[PcaK]] × D=[[
    * graft.ops.SimilarityOps.Dim]]) — the [[graft.ops.SimilarityOps
    * .defaultPqCodebook]] discipline: [[pcaTrain]]'s power iteration is
    * a driver-side eigensolve no SQL oracle can twin, but the APPLY step
    * is pure arithmetic given components, so both engines share the same
    * literal values and the projection itself gets a hash-exact check.
    * Swapping in trained components changes no operator shape.
    */
  lazy val defaultPcaComponents: IndexedSeq[IndexedSeq[Double]] =
    (0 until PcaK).map(r => (0 until SimilarityOps.Dim).map(d =>
      (((r * SimilarityOps.Dim + d + 1) * 2654435761L) % 2001L - 1000L) / 1000.0))

  private[ops] def sqlPcaCompLit(r: Int): String =
    defaultPcaComponents(r).map(_.toString).mkString("([", ", ", "]::DOUBLE[])")

  /** Per-component projection SQL list `[⟨c_0,e⟩, …, ⟨c_{k−1},e⟩]`. */
  private[ops] def sqlPcaProjList(embD: String): String =
    (0 until PcaK).map(r => SimilarityOps.sqlDot(sqlPcaCompLit(r), embD))
      .mkString("[", ", ", "]")

  /** Oracle-keyed face of [[embedPcaProject]]: project onto the pinned
    * [[defaultPcaComponents]], one row per (vector, component) with the
    * coordinate micro-quantized AFTER the in-row fold (the fold itself is
    * order-identical in both engines, so the quantization is pure
    * hash-stabilization of the emitted double). Same zero-shuffle narrow
    * map as the parameterized form.
    */
  def embedPcaProjectDefault(emb: DataFrame): DataFrame =
    embedPcaProject(emb, defaultPcaComponents)
      .select(col("vec_id"), col("label"), posexplode(col("scores")))
      .toDF("vec_id", "label", "rank", "score")
      .select(col("vec_id"), col("label"), col("rank").cast("long").as("rank"),
        floor(col("score") * lit(QualityMicro) + lit(0.5)).cast("long")
          .as("score_micro"))

  def sqlEmbedPcaProject: String =
    s"""SELECT vec_id, label, CAST(r.i AS BIGINT) AS rank,
       |  CAST(floor(scores[r.i + 1] * $QualityMicro + 0.5) AS BIGINT) AS score_micro
       |FROM (
       |  SELECT vec_id, label, ${sqlPcaProjList("emb_d")} AS scores
       |  FROM (SELECT vec_id, label,
       |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
       |        FROM embeddings WHERE embedding IS NOT NULL
       |          AND len(list_filter(embedding, x -> x IS NULL)) = 0)),
       |  (SELECT unnest(range($PcaK)) AS i) r""".stripMargin

  // ----------------------------------------------------- embed_outlier_score

  /** Pinned deterministic eigenvalue stand-ins (λ > 0) paired with
    * [[defaultPcaComponents]] — [[pcaTrain]]'s real eigenpairs slot in
    * without a shape change.
    */
  lazy val defaultPcaEigenvalues: IndexedSeq[Double] =
    (0 until PcaK).map(r => (((r + 1) * 48271) % 199 + 1) / 100.0)

  /** Components pre-scaled by 1/√λ — computed once driver-side and
    * injected as the SAME literals into both engines (the
    * [[graft.ops.DedupOps.defaultPcaCentroids]] discipline), so the
    * whitening division never has to agree across engines at runtime.
    */
  lazy val defaultWhitenedComponents: IndexedSeq[IndexedSeq[Double]] =
    defaultPcaComponents.zip(defaultPcaEigenvalues).map { case (c, ev) =>
      c.map(_ / math.sqrt(ev))
    }

  /** Squared-Mahalanobis cut for the outlier flag: E[m²] = k for clean
    * data under the model, so flag at 4× the expectation.
    */
  val OutlierM2Threshold: Double = PcaK * 4.0

  /** Embedding outlier scoring — the QC gate that catches corrupt /
    * out-of-distribution vectors before they poison ANN indexes and
    * semantic dedup: squared Mahalanobis distance in the retained PCA
    * subspace, m² = Σᵣ ⟨cᵣ/√λᵣ, e⟩² (whitened coordinates make every
    * retained direction unit-variance, so one threshold means the same
    * thing in all of them — the [[embedPcaWhiten]] rationale, applied).
    * Output per vector: micro-quantized m² and the 4k-threshold flag.
    *
    * Scale shape: k in-row codegen'd dot folds + a square-accumulate,
    * zero shuffles at any corpus size.
    */
  def embedOutlierScore(emb: DataFrame): DataFrame = {
    val embD = transform(col("embedding"), x => x.cast("double"))
    val m2 = defaultWhitenedComponents.map { c =>
      val w = SimilarityOps.dot(array(c.map(lit): _*), col("emb_d"))
      w * w
    }.reduce(_ + _)
    fanout(emb).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("label"), embD.as("emb_d"))
      .filter(!exists(col("emb_d"), x => x.isNull))
      .select(col("vec_id"), col("label"),
        floor(m2 * lit(QualityMicro) + lit(0.5)).cast("long").as("m2_micro"))
      .withColumn("outlier",
        col("m2_micro") > (OutlierM2Threshold * QualityMicro).toLong)
  }

  def sqlEmbedOutlierScore: String = {
    val sq = defaultWhitenedComponents.indices.map { r =>
      val lit = defaultWhitenedComponents(r).map(_.toString)
        .mkString("([", ", ", "]::DOUBLE[])")
      val d = SimilarityOps.sqlDot(lit, "emb_d")
      s"($d) * ($d)"
    }.mkString("(", " + ", ")")
    s"""SELECT vec_id, label,
       |  CAST(floor($sq * $QualityMicro + 0.5) AS BIGINT) AS m2_micro,
       |  CAST(floor($sq * $QualityMicro + 0.5) AS BIGINT)
       |    > ${(OutlierM2Threshold * QualityMicro).toLong} AS outlier
       |FROM (SELECT vec_id, label,
       |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb_d
       |      FROM embeddings WHERE embedding IS NOT NULL
       |        AND len(list_filter(embedding, x -> x IS NULL)) = 0)""".stripMargin
  }

  /** PCA WHITENING: [[embedPcaProject]] with each score divided by
    * sqrt(eigenvalue), so every retained component carries unit variance
    * — the preconditioning step before cosine/Euclidean methods
    * (SemDeDup-style semantic clustering, Mahalanobis outlier scoring)
    * so high-variance directions stop dominating the metric. Components
    * with eigenvalue ≤ 0 (numerically dead directions) are rejected
    * rather than silently dividing by ~0 into overflow. Same shape as
    * the projection: literal weights, in-row folds, zero shuffles.
    */
  def embedPcaWhiten(emb: DataFrame, components: Seq[PcaComponent]): DataFrame = {
    require(components.forall(_.eigenvalue > 0.0),
      "whitening needs strictly positive eigenvalues — drop dead components first")
    val scaled = components.map(c =>
      c.vector.map(_ / math.sqrt(c.eigenvalue)))
    embedPcaProject(emb, scaled)
  }

  // --------------------------------------------- quality_bigram_fluency

  /** Mean conditional bigram probability — the 2-gram LM analog of
    * [[unigramCommonness]] (the next step up the n-gram LM ladder CCNet
    * walks with KenLM): for each in-document bigram (w1, w2), the
    * corpus-level P(w2 | w1) = count(w1 w2) / count(w1 ·), averaged per
    * doc. Word-salad scores low (its transitions never recur in the
    * corpus); natural phrasing scores high. Exactness: each occurrence's
    * probability is micro-quantized with INTEGER division
    * (cnt2·1e6 div cnt1 — exact in both engines, no fp), summed as
    * longs, one final double division. (cnt2 ≤ total corpus bigrams, so
    * cnt2·1e6 needs cnt2 < 9.2e12 — holds until ~10¹³ bigrams; shrink
    * the quantum at larger corpora.) Docs with < 2 tokens have no
    * bigrams and are absent (both engines).
    *
    * Scale shape: bigrams zip IN-ROW (two slices, zip_with — no
    * positional self-join); the (w1,w2) and w1-prefix count tables are
    * map-side-combined aggs; the occurrence joins are Zipf-skewed on
    * the head like every vocab join — AQE skew handling applies. The
    * corpus tokenizes twice (count build + score side), same deliberate
    * trade as [[unigramCommonness]].
    */
  /** Doc-id'd bigram occurrences (doc_id, w1, w2) — the in-row zip all
    * three LM-fluency rungs explode and score over.
    */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    val toksC = TextOps.toksOf(docs)
    fanout(docs).select(col("doc_id"),
        explode_outer(zip_with(
          // slice throws on a negative length: clamp at 0 so 0/1-token
          // docs yield no bigrams instead of failing the whole stage
          slice(toksC, lit(1), greatest(size(toksC) - 1, lit(0))),
          slice(toksC, lit(2), greatest(size(toksC) - 1, lit(0))),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .filter(col("p").isNotNull)
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
  }

  /** The corpus bigram-TYPE count table (w1, w2, c2) — the ONE
    * statistics table every LM-fluency rung derives from (raw ML:
    * c2/c1; Kneser–Ney: discounts + continuation counts; the JM
    * trigram's bigram back-off level). A deployment materializes its
    * n-gram count tables once beside the corpus (KenLM's counts pass is
    * exactly this); [[graft.SparkEntry]] ships it as a sweep-lifetime
    * shared artifact (round 13 — each rung previously re-aggregated the
    * same table per measurement, ~1 s apiece at sf0.1), and the DuckDB
    * oracles re-derive it per query, so hash parity proves the sharing
    * is semantics-free.
    */
  def bigramCounts(docs: DataFrame): DataFrame =
    bigramPairs(docs).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))

  def qualityBigramFluency(docs: DataFrame): DataFrame =
    qualityBigramFluencyOn(docs,
      DedupOps.materialize(bigramCounts(docs), "bigram_counts"))

  /** [[qualityBigramFluency]] over a PRE-BUILT count table. */
  def qualityBigramFluencyOn(docs: DataFrame, cnt2: DataFrame): DataFrame = {
    val bi = bigramPairs(docs)
    val cnt1 = cnt2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    bi.join(cnt2, Seq("w1", "w2")).join(cnt1, Seq("w1"))
      .select(col("doc_id"), expr("(c2 * 1000000) div c1").as("p_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_micro"),
        (col("sum_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(QualityMicro))).as("fluency"))
  }

  def sqlQualityBigramFluency: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
       |    unnest(list_slice(toks, 2, len(toks))) AS w2
       |  FROM t WHERE len(toks) >= 2),
       |cnt2 AS (SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
       |cnt1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM cnt2 GROUP BY w1)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum((c2 * 1000000) // c1) AS BIGINT) AS sum_micro,
       |  CAST(sum((c2 * 1000000) // c1) AS DOUBLE) /
       |    (CAST(count(*) AS DOUBLE) * $QualityMicro) AS fluency
       |FROM bi JOIN cnt2 USING (w1, w2) JOIN cnt1 USING (w1)
       |GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------ vocab_coverage

  /** Vocabulary size for [[vocabCoverage]] — small enough to be a real
    * filter on the synthetic 31-word corpus; production uses the
    * tokenizer's vocab size.
    */
  val VocabTopK = 16L

  /** Top-K-vocabulary coverage — the closed-vocab QC gate: what fraction
    * of a doc's tokens fall inside the corpus's [[VocabTopK]] most
    * frequent words? Low coverage ⇒ the doc is written in tokens the
    * tokenizer/vocab will fragment (gibberish, foreign-script,
    * boilerplate IDs) — the cheap proxy for fertility-based filtering.
    * Deterministic ranking: (count DESC, word) — no RNG, no fp.
    *
    * Scale shape: the vocab is one Zipf-bounded map-side-combined agg +
    * a TakeOrderedAndProject top-K (per-partition top-K, driver merges
    * K×P rows — no global sort, no unpartitioned window); the doc side
    * LEFT-joins the K-row broadcast and re-aggregates per doc. One final double division for the
    * ratio; empty docs keep a NULL coverage (0/0) in both engines.
    */
  def vocabCoverage(docs: DataFrame): DataFrame = {
    val tok = fanout(docs).select(col("doc_id"),
        explode_outer(TextOps.toksOf(docs)).as("t"))
      .filter(col("t").isNotNull)
      .filter(col("t") =!= "")
    // orderBy+limit, NOT a global row_number window: this plans as
    // TakeOrderedAndProject (per-partition top-K, driver merge of K×P
    // rows) — no unpartitioned window, no global sort
    val vocab = tok.groupBy("t").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t")).limit(VocabTopK.toInt)
      .select(col("t"), lit(true).as("in_vocab"))
    docs.select(col("doc_id")).distinct()
      .join(
        tok.join(broadcast(vocab), Seq("t"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
            count(col("in_vocab")).as("n_in_vocab")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_in_vocab"), lit(0L)).as("n_in_vocab"),
        when(col("n_tokens") > 0,
          col("n_in_vocab").cast("double") / col("n_tokens").cast("double"))
          .as("coverage"))
  }

  def sqlVocabCoverage: String =
    s"""WITH tok AS (
       |  SELECT doc_id, word FROM (
       |    SELECT doc_id, unnest(${sqlTokens("text")}) AS word FROM documents)
       |  WHERE word <> ''),
       |vocab AS (
       |  SELECT word FROM tok GROUP BY word
       |  ORDER BY count(*) DESC, word LIMIT $VocabTopK),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |    count(v.word) AS n_in_vocab
       |  FROM tok LEFT JOIN vocab v USING (word)
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(p.n_in_vocab, 0) AS BIGINT) AS n_in_vocab,
       |  CASE WHEN coalesce(p.n_tokens, 0) > 0
       |    THEN CAST(p.n_in_vocab AS DOUBLE) / p.n_tokens END AS coverage
       |FROM (SELECT DISTINCT doc_id FROM documents) d
       |LEFT JOIN per_doc p USING (doc_id)""".stripMargin

  // -------------------------------------------- quality_trigram_fluency

  /** Mean INTERPOLATED trigram probability — the top rung of the n-gram
    * LM-quality ladder ([[unigramCommonness]] → [[qualityBigramFluency]]
    * → this): per in-document trigram (w1,w2,w3), Jelinek–Mercer
    * interpolation of the maximum-likelihood orders
    * `P = 0.6·P(w3|w1w2) + 0.3·P(w3|w2) + 0.1·P(w3)` — the fixed-λ
    * form of the published interpolated LMs (raw trigram ML alone is
    * near-degenerate on a corpus that contains the scored doc: most
    * trigrams are singletons, so c3/d3 ≈ 1/1 for junk and prose alike;
    * the lower orders are what separate them). λ is rational on
    * purpose: each ML term micro-quantizes by INTEGER division
    * (cnt·1e6 div denom), the three terms combine as
    * `(6·t3 + 3·t2 + 1·t1) div 10` — still exact integers in both
    * engines — and only the final per-doc mean divides as a double.
    * Docs with < 3 tokens have no trigrams and are absent.
    *
    * Denominators are continuation counts from the n-gram tables
    * themselves (d3 = Σ_w c3(w1,w2,w), d2 = Σ_w c2(w2,w), d1 = N), so
    * every term is a true conditional ML estimate. Scale shape: all
    * three gram streams zip IN-ROW (slices + zip_with, no positional
    * self-join); count tables are map-side-combined vocab-sized aggs
    * (trigram table ≤ corpus positions, Zipf-truncated in practice);
    * the occurrence joins skew at the Zipf head — AQE skew-join
    * territory, like every vocab join in this file. N is a 1-row
    * broadcast. Lazy: building this launches zero jobs.
    */
  def qualityTrigramFluency(docs: DataFrame): DataFrame =
    qualityTrigramFluencyOn(docs,
      DedupOps.materialize(bigramCounts(docs), "trigram_bigram_counts")
        .select(col("w1").as("v1"), col("w2").as("v2"), col("c2")))

  /** [[qualityTrigramFluency]] over a PRE-BUILT bigram count table
    * ((v1, v2, c2) — the back-off level; the trigram and unigram count
    * tables stay per-query, they have no second consumer).
    */
  def qualityTrigramFluencyOn(docs: DataFrame, cnt2: DataFrame): DataFrame = {
    val toksC = TextOps.toksOf(docs)
    val len3 = greatest(size(toksC) - 2, lit(0))
    val tri = fanout(docs).select(col("doc_id"),
        explode_outer(zip_with(
          zip_with(
            slice(toksC, lit(1), len3),
            slice(toksC, lit(2), len3),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(toksC, lit(3), len3),
          (p, c) => struct(p.getField("w1").as("w1"),
            p.getField("w2").as("w2"), c.as("w3")))).as("t"))
      .filter(col("t").isNotNull)
      .select(col("doc_id"), col("t.w1").as("w1"), col("t.w2").as("w2"),
        col("t.w3").as("w3"))
    val uni = fanout(docs).select(explode_outer(toksC).as("u"))
      .filter(col("u").isNotNull)
    val cnt3 = DedupOps.materialize(
      tri.groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c3")), "trigram_counts")
    val ctx3 = cnt3.groupBy("w1", "w2").agg(sum(col("c3")).as("d3"))
    val ctx2 = cnt2.groupBy("v1").agg(sum(col("c2")).as("d2"))
    val cnt1 = uni.groupBy("u").agg(count(lit(1)).as("c1"))
    val n = cnt1.agg(sum(col("c1")).as("n_total"))
    tri
      .join(cnt3, Seq("w1", "w2", "w3"))
      .join(ctx3, Seq("w1", "w2"))
      .join(cnt2.withColumnRenamed("v1", "w2").withColumnRenamed("v2", "w3"),
        Seq("w2", "w3"))
      .join(ctx2.withColumnRenamed("v1", "w2"), Seq("w2"))
      .join(cnt1.withColumnRenamed("u", "w3"), Seq("w3"))
      .crossJoin(broadcast(n))
      .select(col("doc_id"),
        expr("(6 * ((c3 * 1000000) div d3) + 3 * ((c2 * 1000000) div d2)" +
          " + ((c1 * 1000000) div n_total)) div 10").as("p_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"), sum(col("p_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_trigrams"), col("sum_micro"),
        (col("sum_micro").cast("double") /
          (col("n_trigrams").cast("double") * lit(QualityMicro))).as("fluency"))
  }

  def sqlQualityTrigramFluency: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |tri AS (
       |  SELECT doc_id,
       |    unnest(list_slice(toks, 1, len(toks) - 2)) AS w1,
       |    unnest(list_slice(toks, 2, len(toks) - 1)) AS w2,
       |    unnest(list_slice(toks, 3, len(toks))) AS w3
       |  FROM t WHERE len(toks) >= 3),
       |bi AS (
       |  SELECT
       |    unnest(list_slice(toks, 1, len(toks) - 1)) AS v1,
       |    unnest(list_slice(toks, 2, len(toks))) AS v2
       |  FROM t WHERE len(toks) >= 2),
       |uni AS (SELECT unnest(toks) AS u FROM t),
       |cnt3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tri GROUP BY w1, w2, w3),
       |ctx3 AS (SELECT w1, w2, CAST(sum(c3) AS BIGINT) AS d3 FROM cnt3 GROUP BY w1, w2),
       |cnt2 AS (SELECT v1, v2, count(*) AS c2 FROM bi GROUP BY v1, v2),
       |ctx2 AS (SELECT v1, CAST(sum(c2) AS BIGINT) AS d2 FROM cnt2 GROUP BY v1),
       |cnt1 AS (SELECT u, count(*) AS c1 FROM uni GROUP BY u),
       |n AS (SELECT CAST(sum(c1) AS BIGINT) AS n_total FROM cnt1)
       |SELECT doc_id, count(*) AS n_trigrams,
       |  CAST(sum(p_micro) AS BIGINT) AS sum_micro,
       |  CAST(sum(p_micro) AS DOUBLE) /
       |    (CAST(count(*) AS DOUBLE) * $QualityMicro) AS fluency
       |FROM (
       |  SELECT doc_id,
       |    (6 * ((c3 * 1000000) // d3) + 3 * ((c2 * 1000000) // d2)
       |     + ((c1 * 1000000) // n_total)) // 10 AS p_micro
       |  FROM tri
       |  JOIN cnt3 USING (w1, w2, w3)
       |  JOIN ctx3 USING (w1, w2)
       |  JOIN cnt2 ON cnt2.v1 = tri.w2 AND cnt2.v2 = tri.w3
       |  JOIN ctx2 ON ctx2.v1 = tri.w2
       |  JOIN cnt1 ON cnt1.u = tri.w3
       |  CROSS JOIN n)
       |GROUP BY doc_id""".stripMargin

  // -------------------------------------------- quality_perplexity_bucket

  /** CCNet-style head/middle/tail split: bucket each document by its
    * LM score RELATIVE TO ITS SOURCE — the published recipe (CCNet,
    * reused by LLaMA) trains a small LM, sorts each snapshot/language
    * shard by perplexity, and cuts it into thirds; "head" feeds the
    * highest-quality mixture tier, "tail" is dropped or down-sampled.
    * Here the LM score is [[qualityTrigramFluency]]'s interpolated
    * trigram probability (higher = more fluent = lower perplexity), so
    * head = the top-fluency third. Per-source cuts matter: a web-scrape
    * source and a curated source have incomparable absolute scores, and
    * a global cut would just rank sources, not documents.
    *
    * Determinism: the per-doc score is the exact integer mean micro
    * `sum_micro div n_trigrams` (one more integer division on the
    * already-exact fluency sums — a double mean would hang parity on fp
    * association order). Thresholds are DISCRETE value-at-position
    * order statistics (the [[TextOps.lengthPercentiles]] rule): the
    * score at ordered position `ceil(n/3)` and `ceil(2n/3)` with a
    * doc_id tiebreak. Bucket by strict `>` against the cut values, so
    * ties at a threshold land deterministically in the lower bucket
    * (bucket sizes are exactly n/3 only when scores are distinct — the
    * cuts are VALUES, not ranks, which is what makes them reusable as
    * standalone per-source quality bars). A single-doc source has both
    * cuts equal to its one score → that doc is "tail" (no relative
    * evidence to promote it). Docs with < 3 tokens have no trigram
    * score and are absent, matching the fluency contract.
    *
    * Scale shape: the fluency aggregate dominates; scores materialize
    * once ([[DedupOps.materialize]] — the threshold branch and the
    * bucket branch both read them), ranking is ONE per-source window
    * (rank + count ride the same shuffle), and the cut table is
    * sources-sized → broadcast back. The window partitions by source —
    * same dominant-source skew note as lengthPercentiles, with the same
    * production swap (approx_percentile cuts, no window) when one
    * source is most of 100 TB.
    */
  /** The per-doc (source, mean-fluency-micro) score table ALL THREE
    * bucket variants read. The trio's only corpus-proportional work is
    * this fluency aggregate, so the production sweep computes it ONCE —
    * `SparkEntry` persists it per corpus dir (the token-table
    * discipline) and feeds the `...On` forms below; the single-query
    * faces materialize it themselves ([[pplScored]]).
    */
  private[graft] def pplScoreTable(docs: DataFrame): DataFrame =
    qualityTrigramFluency(docs)
      .select(col("doc_id"), expr("sum_micro div n_trigrams").as("p_mean_micro"))
      .join(fanout(docs).select(col("doc_id"), col("source")), Seq("doc_id"))

  private def pplScored(docs: DataFrame): DataFrame =
    DedupOps.materialize(pplScoreTable(docs), "ppl_bucket_scored")

  def qualityPerplexityBuckets(docs: DataFrame): DataFrame =
    qualityPerplexityBucketsOn(pplScored(docs))

  /** [[qualityPerplexityBuckets]] over an already-materialized
    * [[pplScoreTable]] — the shared-score-table form the sweep drives.
    */
  def qualityPerplexityBucketsOn(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("p_mean_micro").asc, col("doc_id").asc)
    val ranked = scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
    val th = ranked.groupBy("source").agg(
      max(when(col("rn") === ceil(col("cnt") / lit(3.0)), col("p_mean_micro")))
        .as("t33"),
      max(when(col("rn") === ceil(col("cnt") * lit(2) / lit(3.0)),
        col("p_mean_micro"))).as("t67"))
    scored.join(broadcast(th), Seq("source"))
      .select(col("doc_id"), col("source"), col("p_mean_micro"),
        when(col("p_mean_micro") > col("t67"), lit("head"))
          .when(col("p_mean_micro") > col("t33"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** DuckDB twin — nests the full fluency statement as a MATERIALIZED
    * CTE (DuckDB supports a WITH inside a CTE body), so the score
    * definition cannot drift from [[sqlQualityTrigramFluency]].
    */
  def sqlQualityPerplexityBuckets: String =
    s"""WITH flu AS MATERIALIZED (
       |$sqlQualityTrigramFluency
       |),
       |scored AS (
       |  SELECT d.source, flu.doc_id,
       |    (sum_micro // n_trigrams) AS p_mean_micro
       |  FROM flu JOIN documents d USING (doc_id)),
       |ranked AS (
       |  SELECT source, doc_id, p_mean_micro,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY p_mean_micro, doc_id) AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM scored),
       |th AS (
       |  SELECT source,
       |    max(CASE WHEN rn = ceil(cnt / 3.0) THEN p_mean_micro END) AS t33,
       |    max(CASE WHEN rn = ceil(cnt * 2 / 3.0) THEN p_mean_micro END) AS t67
       |  FROM ranked GROUP BY source)
       |SELECT s.doc_id, s.source, s.p_mean_micro,
       |  CASE WHEN s.p_mean_micro > th.t67 THEN 'head'
       |       WHEN s.p_mean_micro > th.t33 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM scored s JOIN th USING (source)""".stripMargin

  /** [[qualityPerplexityBuckets]] with the cuts from the DETERMINISTIC
    * rank sketch instead of the per-source full-sort window — closing
    * the production swap both bucket ops' doc comments defer to
    * (`approx_percentile` can't be oracle-checked; the hash-level
    * sketch can): [[TextOps.sketchLevelsOf]] draws each doc's level
    * from its id hash (value-agnostic), [[TextOps.sketchCompact]]
    * reduces every source to ≤cap retained scores via one map-side-
    * combined level histogram, and the t33/t67 cut VALUES are the
    * smallest retained scores whose estimated rank reaches the exact
    * ceil(n/3) / ceil(2n/3) targets (n rides the sketch exactly).
    * Bucketing then applies the same strict-> rule to every doc — the
    * cut table is sources-sized and broadcasts, and the dominant-
    * source single-task sort partition is GONE: the only corpus-wide
    * stages are the fluency aggregate the operator already pays and
    * one (source, lvl) count. Cut-rank error concentrates around
    * n/√cap (spec-bounded vs the exact cuts); the emitted t33/t67
    * columns are the reusable standalone quality bars.
    */
  def qualityPerplexityBucketsSketch(docs: DataFrame): DataFrame =
    qualityPerplexityBucketsSketchOn(pplScored(docs))

  /** Shared-score-table form (see [[qualityPerplexityBucketsOn]]). */
  def qualityPerplexityBucketsSketchOn(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val state = TextOps.sketchCompact(
      TextOps.sketchLevelsOf(scored.select(col("source"), col("doc_id"),
        col("p_mean_micro").as("n"))),
      None)
    val wRank = Window.partitionBy("source")
      .orderBy(col("n").asc, col("doc_id").asc)
    val est = state
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .withColumn("est_rank",
        col("rk") * pow(lit(2.0), col("t")).cast("long"))
    def cutAt(target: Column, name: String) =
      coalesce(min(when(col("est_rank") >= target, col("n"))),
        max(col("n"))).as(name)
    val cuts = est.groupBy("source").agg(
      cutAt(ceil(col("n_docs") / lit(3.0)), "t33"),
      cutAt(ceil(col("n_docs") * lit(2) / lit(3.0)), "t67"))
    scored.join(broadcast(cuts), Seq("source"))
      .select(col("doc_id"), col("source"), col("p_mean_micro"),
        when(col("p_mean_micro") > col("t67"), lit("head"))
          .when(col("p_mean_micro") > col("t33"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"),
        col("t33"), col("t67"))
  }

  def sqlQualityPerplexityBucketsSketch: String = {
    val h = TextOps.sqlTokenHash("CAST(doc_id AS VARCHAR)")
    s"""WITH flu AS MATERIALIZED (
       |$sqlQualityTrigramFluency
       |),
       |scored AS MATERIALIZED (
       |  SELECT d.source, flu.doc_id,
       |    (sum_micro // n_trigrams) AS n
       |  FROM flu JOIN documents d USING (doc_id)),
       |lv AS (
       |  SELECT source, doc_id, n,
       |    CASE WHEN h = 0 THEN 32 ELSE CAST(log2(h & -h) AS INT) END AS lvl
       |  FROM (SELECT source, doc_id, n, $h AS h FROM scored)),
       |ts AS (
       |  SELECT source,
       |    coalesce(max(CASE WHEN surv > ${TextOps.SketchCap} THEN lvl + 1 END), 0) AS t,
       |    CAST(sum(c) AS BIGINT) AS n_docs
       |  FROM (
       |    SELECT source, lvl, c,
       |      sum(c) OVER (PARTITION BY source ORDER BY lvl DESC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS surv
       |    FROM (SELECT source, lvl, count(*) AS c FROM lv GROUP BY source, lvl))
       |  GROUP BY source),
       |est AS (
       |  SELECT lv.source, lv.n, ts.n_docs,
       |    CAST(row_number() OVER (PARTITION BY lv.source ORDER BY lv.n, lv.doc_id)
       |      AS BIGINT) * CAST(power(2.0, ts.t) AS BIGINT) AS est_rank
       |  FROM lv JOIN ts USING (source)
       |  WHERE lv.lvl >= ts.t),
       |cuts AS (
       |  SELECT source,
       |    coalesce(CAST(min(CASE WHEN est_rank >= ceil(n_docs / 3.0)
       |      THEN n END) AS BIGINT), CAST(max(n) AS BIGINT)) AS t33,
       |    coalesce(CAST(min(CASE WHEN est_rank >= ceil(n_docs * 2 / 3.0)
       |      THEN n END) AS BIGINT), CAST(max(n) AS BIGINT)) AS t67
       |  FROM est GROUP BY source)
       |SELECT s.doc_id, s.source, s.n AS p_mean_micro,
       |  CASE WHEN s.n > c.t67 THEN 'head'
       |       WHEN s.n > c.t33 THEN 'middle'
       |       ELSE 'tail' END AS bucket,
       |  c.t33, c.t67
       |FROM scored s JOIN cuts c USING (source)""".stripMargin
  }

  // ------------------------------------- quality_perplexity_bucket_rank

  /** RANK-based per-source thirds — CCNet's actual volume rule, the
    * production sibling of [[qualityPerplexityBuckets]]' value-cut: each
    * source's docs rank by (score, doc_id) and split at ⌈n/3⌉ / ⌈2n/3⌉
    * POSITIONS, so bucket volumes are exactly ~n/3 REGARDLESS of score
    * ties (the value-cut sinks a tied group wholesale — a fully-tied
    * source goes 100% tail there; here the doc_id tiebreak spreads it
    * deterministically). Use this variant when a downstream mixture
    * tier is sized on head volume; use the value-cut when the cut
    * thresholds themselves are the product (per-source quality bars).
    * Shape: identical to the value variant minus the threshold
    * broadcast — the scores materialize once ([[pplScored]], shared
    * with the value variant in-session), ONE per-source window carries
    * rank and count together, and the bucket label is an in-row CASE.
    * Takes the shared score table (see [[qualityPerplexityBucketsOn]]).
    */
  def qualityPerplexityBucketsRankOn(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("p_mean_micro").asc, col("doc_id").asc)
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("doc_id"), col("source"), col("p_mean_micro"),
        when(col("rn") > ceil(col("cnt") * lit(2) / lit(3.0)), lit("head"))
          .when(col("rn") > ceil(col("cnt") / lit(3.0)), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  def sqlQualityPerplexityBucketsRank: String =
    s"""WITH flu AS MATERIALIZED (
       |$sqlQualityTrigramFluency
       |),
       |scored AS (
       |  SELECT d.source, flu.doc_id,
       |    (sum_micro // n_trigrams) AS p_mean_micro
       |  FROM flu JOIN documents d USING (doc_id)),
       |ranked AS (
       |  SELECT source, doc_id, p_mean_micro,
       |    CAST(row_number() OVER (PARTITION BY source
       |      ORDER BY p_mean_micro, doc_id) AS BIGINT) AS rn,
       |    count(*) OVER (PARTITION BY source) AS cnt
       |  FROM scored)
       |SELECT doc_id, source, p_mean_micro,
       |  CASE WHEN rn > ceil(cnt * 2 / 3.0) THEN 'head'
       |       WHEN rn > ceil(cnt / 3.0) THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM ranked""".stripMargin

  // ------------------------------------------------------- sample_mixture

  /** Domain-mixture targets: relative sampling weight per source (unnamed
    * sources weigh 1.0). The realized mixture is ∝ these weights, scaled
    * to the largest total budget no source can exceed (keep-rate ≤ 1).
    */
  val MixTargets: Seq[(String, Double)] = Seq("src1" -> 3.0, "src2" -> 2.0, "src3" -> 0.5)

  /** Hash-space resolution for the deterministic keep decision. */
  val MixBuckets = 1000000L

  /** Domain-mixture sampling: re-weight the corpus so sampled token
    * counts are ∝ [[MixTargets]], at the largest budget where every
    * source's keep-rate stays ≤ 1 — i.e. `rate_s = (t_s / T_s) ·
    * min_u(T_u / t_u)` (the budget term cancels, so no normalization
    * pass is needed). The keep decision is the same deterministic
    * md5-bucket scheme as [[sampleStratified]]; `weight` is the
    * inverse-probability correction.
    *
    * Scale shape: per-source token totals are one map-side-combined agg
    * into a sources-sized frame; the global min is a 1-row broadcast off
    * that frame (lazy — building this launches zero jobs); the corpus
    * side is a narrow scan + broadcast rate join + filter. The corpus
    * never shuffles.
    */
  /** Per-source keep-rates from a (source, src_tokens) totals frame —
    * the rate algebra of [[sampleMixture]] factored out so the
    * streaming face ([[graft.stream.SampleStream.runMixture]]) derives
    * rates from RUNNING totals with the same arithmetic.
    */
  private[graft] def mixtureRates(stats0: DataFrame): DataFrame = {
    val t = MixTargets.tail.foldLeft(
      when(col("source") === MixTargets.head._1, lit(MixTargets.head._2))) {
      case (acc, (s2, tw)) => acc.when(col("source") === s2, lit(tw))
    }.otherwise(lit(1.0))
    val stats = stats0.withColumn("target_w", t)
    val rmin = stats.agg(min(col("src_tokens") / col("target_w")).as("rmin"))
    stats.crossJoin(broadcast(rmin))
      .select(col("source"),
        least(lit(1.0), col("target_w") * col("rmin") / col("src_tokens"))
          .as("keep_rate"))
  }

  /** Deterministic md5-bucket of a doc id in [0, [[MixBuckets]]) — the
    * salt prefix decorrelates independent sampling decisions over the
    * same ids ("mix:" for mixture, "temp:" for temperature).
    */
  private[graft] def mixBucket(prefix: String = "mix:"): Column = pmod(
    tokenHash(concat(lit(prefix), col("doc_id").cast("string"))), lit(MixBuckets))

  /** Per-source (source, src_tokens) whitespace-token totals. */
  private[graft] def mixTokenTotals(docs: DataFrame): DataFrame = docs
    .select(col("source"), size(TextOps.toksOf(docs)).cast("long").as("n_tok"))
    .groupBy("source").agg(sum("n_tok").as("src_tokens"))

  def sampleMixture(docs: DataFrame): DataFrame = {
    val rates = mixtureRates(mixTokenTotals(docs))
    fanout(docs).select(col("doc_id"), col("source"), mixBucket().as("bucket"))
      .join(broadcast(rates), "source")
      .filter(col("bucket") < col("keep_rate") * lit(MixBuckets.toDouble))
      .select(col("doc_id"), col("source"), col("bucket"), col("keep_rate"),
        (lit(1.0) / col("keep_rate")).as("weight"))
  }

  def sqlSampleMixture: String = {
    val cases = MixTargets.map { case (s, tw) => s"WHEN '$s' THEN $tw" }.mkString(" ")
    s"""WITH st AS (
       |  SELECT source, CAST(sum(n_tok) AS BIGINT) AS src_tokens,
       |    CASE source $cases ELSE 1.0 END AS target_w
       |  FROM (
       |    SELECT source, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tok
       |    FROM documents)
       |  GROUP BY source),
       |rmin AS (SELECT min(src_tokens / target_w) AS rmin FROM st),
       |rates AS (
       |  SELECT source, least(1.0, target_w * rmin / src_tokens) AS keep_rate
       |  FROM st CROSS JOIN rmin)
       |SELECT d.doc_id, d.source, d.bucket, r.keep_rate, 1.0 / r.keep_rate AS weight
       |FROM (
       |  SELECT doc_id, source,
       |    ${sqlTokenHash("'mix:' || CAST(doc_id AS VARCHAR)")} % $MixBuckets AS bucket
       |  FROM documents) d
       |JOIN rates r USING (source)
       |WHERE d.bucket < r.keep_rate * $MixBuckets.0""".stripMargin
  }

  // ------------------------------------------------------ mixture_realized

  /** The mixture sampler's closing monitor: DECLARED per-source targets
    * ([[MixTargets]]) beside the REALIZED token shares of the admitted
    * set — the row a training run reads before trusting its data mix.
    * Realized ≈ target⁄Σtargets only while no source is CLAMPED
    * (keep_rate = 1 means the source ran out of tokens at the feasible
    * budget and its share falls short — [[sampleMixture]]'s documented
    * largest-feasible-budget semantics), so the keep_rate column rides
    * along: a clamped row explains its own deviation.
    *
    * Shape: the sampler's own admitted set (already one broadcast-rate
    * filter over the corpus), one source-keyed token agg, a 1-row total
    * broadcast — shares divide exact longs once, both engines bit-equal.
    */
  def mixtureRealized(docs: DataFrame): DataFrame = {
    val kept = sampleMixture(docs).select(col("doc_id"), col("keep_rate"))
    val tok = docs.select(col("doc_id"), col("source"),
      size(TextOps.toksOf(docs)).cast("long").as("n_tok"))
    val realized = tok.join(kept, "doc_id")
      .groupBy(col("source"))
      .agg(sum(col("n_tok")).as("kept_tokens"),
        max(col("keep_rate")).as("keep_rate"))
    val t = MixTargets.tail.foldLeft(
      when(col("source") === MixTargets.head._1, lit(MixTargets.head._2))) {
      case (acc, (s2, tw)) => acc.when(col("source") === s2, lit(tw))
    }.otherwise(lit(1.0))
    realized
      .crossJoin(broadcast(realized.agg(sum(col("kept_tokens")).as("tot"))))
      .select(col("source"), t.as("target_w"), col("keep_rate"),
        col("kept_tokens"),
        (col("kept_tokens").cast("double") / col("tot").cast("double"))
          .as("realized_share"))
  }

  def sqlMixtureRealized: String = {
    val cases = MixTargets.map { case (s, tw) => s"WHEN '$s' THEN $tw" }.mkString(" ")
    "WITH kept AS (" + sqlSampleMixture + "),\n" +
      s"""tok AS (
         |  SELECT doc_id, source,
         |    CAST(len(${TextOps.sqlTokens("text")}) AS BIGINT) AS n_tok
         |  FROM documents),
         |realized AS (
         |  SELECT t.source, CAST(sum(t.n_tok) AS BIGINT) AS kept_tokens,
         |    max(k.keep_rate) AS keep_rate
         |  FROM tok t JOIN kept k USING (doc_id)
         |  GROUP BY t.source),
         |tot AS (SELECT CAST(sum(kept_tokens) AS BIGINT) AS tot FROM realized)
         |SELECT source, CASE source $cases ELSE 1.0 END AS target_w,
         |  keep_rate, kept_tokens,
         |  CAST(kept_tokens AS DOUBLE) / CAST(tot AS DOUBLE) AS realized_share
         |FROM realized CROSS JOIN tot""".stripMargin
  }

  // ----------------------------------------------------- token_budget_fill

  /** Per-source token budget for [[tokenBudgetFill]] — deliberately below
    * every source's fixture total (~1.1–1.7k tokens at sf0.01) so the
    * boundary doc and the rejected tail are both exercised at every SF.
    * The production value is "target mixture tokens ÷ sources" (e.g.
    * 1T ÷ |sources|).
    */
  val TokenBudget = 800L

  /** Prefix-sum decomposition width for [[tokenBudgetFill]]: admission
    * order is (bucket, doc_id) with bucket = hash(doc_id) % this, so the
    * per-source running total splits into a buckets-sized ladder plus
    * bucket-local windows.
    */
  val BudgetBuckets = 64L

  /** Greedy per-source token-budget fill — the "cut a 1T-token mixture"
    * operator: documents are admitted in a deterministic per-source order
    * (md5-bucket, then doc_id — the [[sampleMixture]] decorrelation
    * discipline with its own "budget:" salt) while the running token
    * total BEFORE the doc is under [[TokenBudget]]. The admitted set is
    * an order-prefix (the cumsum is monotone), so the boundary doc may
    * overshoot — the standard greedy fill; budget-exact trimming is
    * [[chunkSplit]]'s job downstream.
    *
    * Scale shape — the decomposed prefix sum: a naive
    * `sum() OVER (PARTITION BY source ORDER BY …)` serializes each
    * source's ENTIRE corpus through one window partition (a top source
    * at 100 TB is tens of billions of rows through one task). Instead:
    * (1) one map-side-combined agg to per-(source, bucket) token
    * subtotals — S·[[BudgetBuckets]] rows; (2) the running offset ladder
    * over that tiny frame (the only cross-bucket window, S·64 rows);
    * (3) broadcast the ladder back and finish with bucket-LOCAL windows —
    * S·64 independent partitions, each 1/64th of a source. The oracle
    * computes the same values with the naive single window, proving the
    * decomposition exact.
    */
  def tokenBudgetFill(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = fanout(docs).select(
      col("doc_id"), col("source"),
      size(TextOps.toksOf(docs)).cast("long").as("n_tok"),
      pmod(tokenHash(concat(lit("budget:"), col("doc_id").cast("string"))),
        lit(BudgetBuckets)).as("bucket"))
    val ladder = t.groupBy("source", "bucket")
      .agg(sum("n_tok").as("bkt_tokens"))
      .withColumn("offset",
        coalesce(sum(col("bkt_tokens")).over(
          Window.partitionBy("source").orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source"), col("bucket"), col("offset"))
    val inBucket = Window.partitionBy("source", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.join(broadcast(ladder), Seq("source", "bucket"))
      .withColumn("cum_before",
        col("offset") + coalesce(sum(col("n_tok")).over(inBucket), lit(0L)))
      .filter(col("cum_before") < TokenBudget)
      .select(col("doc_id"), col("source"), col("n_tok"), col("cum_before"))
  }

  def sqlTokenBudgetFill: String =
    s"""SELECT doc_id, source, n_tok, cum_before
       |FROM (
       |  SELECT doc_id, source, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (
       |      PARTITION BY source ORDER BY bucket, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM (
       |    SELECT doc_id, source,
       |      CAST(len(${TextOps.sqlTokens("text")}) AS BIGINT) AS n_tok,
       |      ${TextOps.sqlTokenHash("'budget:' || CAST(doc_id AS VARCHAR)")}
       |        % $BudgetBuckets AS bucket
       |    FROM documents))
       |WHERE cum_before < $TokenBudget""".stripMargin

  // ------------------------------------------------------ embed_normalize

  /** L2 normalization, emitted one row per dimension (vec_id, norm,
    * dim_idx, u) — the exploded layout keeps the oracle hash-comparable
    * (array cells aren't) and is what a columnar ANN index ingests anyway.
    * Narrow per-row map + generate; zero vectors are filtered (an Inf/NaN
    * unit vector is not a unit vector).
    */
  def embedNormalize(emb: DataFrame): DataFrame =
    SimilarityOps.withNorm(emb)
      .filter(col("norm") =!= 0)
      .select(col("vec_id"), col("norm"),
        posexplode_outer(transform(col("emb_d"), x => x / col("norm"))))
      // drop only the OUTER-added row (null pos) — filtering on `col`
      // would also delete rows for legitimately-null array ELEMENTS,
      // which an inner explode (and the oracle) keeps
      .filter(col("pos").isNotNull)
      .select(col("vec_id"), col("norm"),
        col("pos").cast("long").as("dim_idx"), col("col").as("u"))

  def sqlEmbedNormalize: String =
    s"""WITH e AS (${SimilarityOps.sqlWithNorm("embeddings")})
       |SELECT vec_id, norm, CAST(i - 1 AS BIGINT) AS dim_idx, emb_d[i] / norm AS u
       |FROM (
       |  SELECT vec_id, norm, emb_d, unnest(range(1, len(emb_d) + 1)) AS i
       |  FROM e WHERE norm <> 0)""".stripMargin

  // -------------------------------------------------- embed_norm_histogram

  /** Bin cap for [[embedNormHistogram]] (bin width 0.1, everything
    * ≥ 2.0 folds into the top bin) — fixed output shape regardless of
    * outliers.
    */
  val NormHistCap = 20L

  /** Embedding-norm histogram — the vector-health card beside
    * [[embedDrift]]'s mean monitor: a healthy encoder emits norms in a
    * tight band; a spike at 0 is collapsed/zero vectors (they break
    * cosine), a fat right tail is un-normalized mixing of encoder
    * versions. Bin = ⌊norm·10⌋ clamped to [[NormHistCap]] — sqrt and
    * floor are IEEE-deterministic, so both engines bin identically.
    * ONE map-side-combined agg to ≤ 21 rows at any corpus size.
    */
  def embedNormHistogram(emb: DataFrame): DataFrame =
    SimilarityOps.withNorm(emb)
      .select(least(floor(col("norm") * 10).cast("long"), lit(NormHistCap))
        .as("bin"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_vecs"))
      .withColumn("bin_lo", col("bin").cast("double") / 10.0)

  def sqlEmbedNormHistogram: String =
    s"""SELECT bin, count(*) AS n_vecs, CAST(bin AS DOUBLE) / 10.0 AS bin_lo
       |FROM (
       |  SELECT least(CAST(floor(norm * 10) AS BIGINT), $NormHistCap) AS bin
       |  FROM (${SimilarityOps.sqlWithNorm("embeddings")}))
       |GROUP BY bin""".stripMargin

  // -------------------------------------------------- source_distinct_hll

  /** HLL precision: 2^7 = 128 registers per source — chosen so the raw
    * estimator's validity range (n ≳ 2.5·m = 320) covers the fixture's
    * per-source trigram vocabularies (~360); production bumps p for
    * lower variance once cardinalities are far above the threshold
    * (σ ≈ 1.04/√m).
    */
  val HllP = 7
  val HllM = 1 << HllP

  /** HyperLogLog distinct-cardinality sketch with EXACT cross-engine
    * parity — per source, the estimated number of distinct char-trigram
    * hashes, beside the exact count it approximates (the sketch
    * self-evaluation, like `knn_recall`/`ann_recall`). Neither engine's
    * native `approx_count_distinct` can be oracle-checked (different
    * sketches, different seeds); this one can, because every ingredient
    * is deterministic: the md5-derived 32-bit hash splits into an
    * [[HllP]]-bit register index (top bits) and a (32−p)-bit tail whose
    * ρ = leading-zero count + 1 computes INTEGERLY via the binary-string
    * length (`bin()`, identical in both engines, w=0 ⇒ ρ=25); registers
    * are a max-agg; and the harmonic estimator folds 2^(−M_j) over the
    * full register array IN INDEX ORDER — negative powers of two are
    * exactly representable doubles, so the fold sequence is bit-identical
    * across engines. Raw estimator only (the ln-based small-range
    * correction would hang parity on libm): valid for
    * n ≳ 2.5·m = 320, which trigram vocabularies clear; `n_zero` is
    * emitted so a consumer can see when linear counting would apply.
    *
    * Scale shape — the reason sketches exist: the register build is ONE
    * map-side-combined (source, bucket) max-agg — S·[[HllM]] rows out of any
    * corpus size, NO distinct shuffle. The exact side (the evaluation
    * column) pays the real distinct; production drops it and keeps the
    * sketch. Registers union across shards/batches by max — the
    * streaming/merge story is free (associative, commutative,
    * idempotent).
    */
  /** The (source, bucket, m) register table of a documents frame — one
    * map-side-combined max-agg, S·[[HllM]] rows out of any corpus.
    * Registers MERGE BY MAX (associative/commutative/idempotent), which
    * is the whole shard/streaming story
    * ([[graft.stream.HllStream]] accumulates exactly these).
    */
  /** Register derivation from a (source, h) gram-hash frame — ONE
    * definition point for the batch key and [[hllRegisters]]: a
    * precision change touching only one copy would silently
    * desynchronize the streaming face from the oracle-keyed batch op.
    */
  private def registersOf(grams: DataFrame): DataFrame =
    grams
      .select(col("source"),
        expr(s"h div ${1L << (32 - HllP)}").as("bucket"),
        (col("h") % (1L << (32 - HllP))).as("w"))
      .select(col("source"), col("bucket"),
        when(col("w") === 0, lit((32 - HllP) + 1))
          .otherwise(lit((32 - HllP) + 1) - length(bin(col("w"))))
          .cast("long").as("rho"))
      .groupBy("source", "bucket").agg(max(col("rho")).as("m"))

  def hllRegisters(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.ArrayFunctions.char_gram_hashes
    registersOf(fanout(docs).select(col("source"),
      explode(char_gram_hashes(coalesce(col("text"), lit("")), 3))
        .as("h")))
  }

  /** Raw-HLL estimates from a register table: per source, the harmonic
    * estimate and the zero-register count (folded in index order —
    * exactly-representable powers of two, both engines identical).
    */
  def hllEstimates(regs: DataFrame): DataFrame = {
    val perSource = regs.groupBy("source")
      .agg(map_from_arrays(collect_list(col("bucket")),
        collect_list(col("m"))).as("mm"))
    val harm = aggregate(
      transform(sequence(lit(0), lit(HllM - 1)),
        j => pow(lit(2.0), -coalesce(element_at(col("mm"), j.cast("long")),
          lit(0L)).cast("double"))),
      lit(0.0), (a, x) => a + x)
    val est = lit(0.7213 / (1.0 + 1.079 / HllM)) * lit(HllM.toLong * HllM) / harm
    perSource.select(col("source"), est.as("hll_est"),
      aggregate(transform(sequence(lit(0), lit(HllM - 1)),
          j => when(element_at(col("mm"), j.cast("long")).isNull, 1L)
            .otherwise(0L)),
        lit(0L), (a, x) => a + x).as("n_zero"))
  }

  def sourceDistinctHll(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftext.ArrayFunctions.char_gram_hashes
    val g = DedupOps.materialize(
      fanout(docs).select(col("source"),
        explode(char_gram_hashes(coalesce(col("text"), lit("")), 3))
          .as("h")),
      "hll_grams")
    val exact = g.groupBy("source")
      .agg(count_distinct(col("h")).as("n_exact"))
    hllEstimates(registersOf(g))
      .join(exact, Seq("source"))
      .withColumn("rel_err",
        abs(col("hll_est") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"))
      .select("source", "n_exact", "hll_est", "n_zero", "rel_err")
  }

  def sqlSourceDistinctHll: String = {
    val tail = 1L << (32 - HllP)
    val alpha = 0.7213 / (1.0 + 1.079 / HllM)
    s"""WITH g AS MATERIALIZED (
       |  SELECT source, gh AS h FROM (
       |    SELECT source,
       |      unnest(list_transform(
       |        range(1, greatest(length(coalesce(text, '')) - 2, 1) + 1),
       |        i -> ${TextOps.sqlTokenHash("substr(coalesce(text, ''), i, 3)")})) AS gh
       |    FROM documents)),
       |regs AS (
       |  SELECT source, h // $tail AS bucket,
       |    CAST(max(CASE WHEN h % $tail = 0 THEN ${32 - HllP + 1}
       |      ELSE ${32 - HllP + 1} - length(bin(h % $tail)) END) AS BIGINT) AS m
       |  FROM g GROUP BY source, h // $tail),
       |per AS (
       |  SELECT source, map(list(bucket), list(m)) AS mm
       |  FROM regs GROUP BY source),
       |est AS (
       |  SELECT source,
       |    CAST($alpha AS DOUBLE) * ${HllM.toLong * HllM}.0 / list_reduce(list_prepend(
       |      CAST(0 AS DOUBLE),
       |      list_transform(range(0, $HllM),
       |        j -> pow(2.0, -CAST(coalesce(mm[j][1], 0) AS DOUBLE)))),
       |      (a, x) -> a + x) AS hll_est,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(range(0, $HllM),
       |        j -> CASE WHEN mm[j][1] IS NULL THEN 1 ELSE 0 END)),
       |      (a, x) -> a + x) AS BIGINT) AS n_zero
       |  FROM per),
       |ex AS (
       |  SELECT source, count(DISTINCT h) AS n_exact FROM g GROUP BY source)
       |SELECT e.source, x.n_exact, e.hll_est, e.n_zero,
       |  abs(e.hll_est - CAST(x.n_exact AS DOUBLE)) / x.n_exact AS rel_err
       |FROM est e JOIN ex x ON e.source = x.source""".stripMargin
  }

  // ------------------------------------------------------- token_freq_cms

  /** Count-Min Sketch geometry: d hash rows × w counters, and the
    * evaluation top-K. ε ≈ e/w ≈ 1% of total mass at w=256; production
    * widens w for tighter overcounts.
    */
  val CmsD = 4
  val CmsW = 256
  val CmsTopK = 16

  /** Count-Min Sketch token-frequency estimation with exact oracle
    * parity — the FREQUENCY sibling of [[sourceDistinctHll]]: d
    * independently-salted md5 hash rows of w counters each; a token's
    * estimate is the MIN of its d counters; everything is integer, so
    * parity is trivial. Self-evaluating like the HLL key: the corpus's
    * top-[[CmsTopK]] tokens (exact count desc, token asc) are point-
    * queried against the sketch and reported beside their true counts
    * with the overcount — CMS NEVER undercounts (estimate ≥ truth, a
    * structural guarantee the spec asserts), and heavy hitters' relative
    * overcount is small because collisions add at most ~ε of total mass
    * per row and the min takes the luckiest row.
    *
    * Scale shape — the sketch's reason to exist: counter build is ONE
    * map-side-combined agg to d·w rows regardless of vocabulary
    * (Heaps'-law state without the vocabulary-sized shuffle
    * `ngram_topk` pays); point queries join the d·w-row BROADCAST.
    * Counters merge by SUM (associative) — shard unions and streaming
    * accumulation free, the [[graft.stream.HllStream]] delta pattern
    * with sum in place of max. The exact top-K side is the evaluation
    * column; production keeps the sketch and drops it.
    */
  /** The d row-bucket coordinates of one token — shared by the batch
    * sketch and [[graft.stream.CmsStream]]'s per-batch counter build.
    */
  private def cmsBuckets(t: Column, w: Int): Column =
    array((0 until CmsD).map(r =>
      struct(lit(r).as("r"),
        (tokenHash(concat(lit(s"cms$r:"), t)) % w).as("b"))): _*)

  /** CMS counter table (r, b, c) of a corpus slice — the sketch STATE:
    * one map-side-combined agg to d·w rows regardless of vocabulary.
    * Counters merge by SUM (associative), which is the entire shard and
    * streaming story — [[graft.stream.CmsStream]] folds per-batch
    * counters into a compacted running version exactly like
    * [[graft.stream.HllStream]] does with max.
    */
  def cmsCounters(docs: DataFrame, w: Int = CmsW): DataFrame =
    fanout(docs).select(explode(TextOps.toksOf(docs)).as("t"))
      .filter(col("t") =!= "")
      .select(explode(cmsBuckets(col("t"), w)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** Point-query a counter table for `tokens`: estimate = MIN of the d
    * counters (never undercounts). Missing buckets count 0.
    */
  def cmsPointQuery(counters: DataFrame, tokens: Seq[String],
      w: Int = CmsW): DataFrame = {
    val spark = counters.sparkSession
    import spark.implicits._
    tokens.toDF("token")
      .select(col("token"), explode(cmsBuckets(col("token"), w)).as("rb"))
      .join(broadcast(counters),
        col("rb.r") === col("r") && col("rb.b") === col("b"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("c"), lit(0L))).as("cms_est"))
  }

  def tokenFreqCms(docs: DataFrame, w: Int = CmsW): DataFrame = {
    def bucket(r: Int, t: Column): Column =
      tokenHash(concat(lit(s"cms$r:"), t)) % w
    val occ = DedupOps.materialize(
      fanout(docs).select(explode(TextOps.toksOf(docs)).as("t"))
        .filter(col("t") =!= ""),
      "cms_tokens")
    val counters = occ
      .select(explode(array((0 until CmsD).map(r =>
        struct(lit(r).as("r"), bucket(r, col("t")).as("b"))): _*)).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val topk = occ.groupBy("t").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("t")).limit(CmsTopK)
    topk
      .select(col("t"), col("n_exact"),
        explode(array((0 until CmsD).map(r =>
          struct(lit(r).as("r"), bucket(r, col("t")).as("b"))): _*)).as("rb"))
      .join(broadcast(counters),
        col("rb.r") === col("r") && col("rb.b") === col("b"))
      .groupBy("t", "n_exact").agg(min(col("c")).as("cms_est"))
      .select(col("t").as("token"), col("n_exact"), col("cms_est"),
        (col("cms_est") - col("n_exact")).as("overcount"))
  }

  /** Oracle twin of [[tokenFreqCms]] at the default width. */
  def sqlTokenFreqCms: String = sqlTokenFreqCmsAt(CmsW)

  /** Width-parameterized oracle twin — mirrors [[tokenFreqCms]]'s `w`
    * parameter (the `sqlDecontaminateAt` discipline) so a caller running
    * the sketch at a non-default width keeps oracle parity for that
    * configuration instead of silently comparing against w=[[CmsW]].
    */
  def sqlTokenFreqCmsAt(w: Int): String = {
    def bucket(r: Int, e: String): String =
      s"${sqlTokenHash(s"'cms$r:' || $e")} % $w"
    val bucketStructs = (0 until CmsD).map(r =>
      s"{'r': $r, 'b': ${bucket(r, "t")}}").mkString("[", ", ", "]")
    s"""WITH occ AS MATERIALIZED (
       |  SELECT t FROM (
       |    SELECT unnest(${sqlTokens("text")}) AS t FROM documents)
       |  WHERE t <> ''),
       |counters AS (
       |  SELECT rb.r AS r, rb.b AS b, count(*) AS c FROM (
       |    SELECT unnest($bucketStructs) AS rb FROM occ)
       |  GROUP BY rb.r, rb.b),
       |topk AS (
       |  SELECT t, count(*) AS n_exact FROM occ GROUP BY t
       |  ORDER BY count(*) DESC, t LIMIT $CmsTopK),
       |q AS (
       |  SELECT t, n_exact, unnest($bucketStructs) AS rb FROM topk)
       |SELECT q.t AS token, CAST(q.n_exact AS BIGINT) AS n_exact,
       |  CAST(min(c.c) AS BIGINT) AS cms_est,
       |  CAST(min(c.c) - q.n_exact AS BIGINT) AS overcount
       |FROM q JOIN counters c ON c.r = q.rb.r AND c.b = q.rb.b
       |GROUP BY q.t, q.n_exact""".stripMargin
  }

  // --------------------------------------------------------- embed_drift

  /** Per-dimension drift flag threshold (micros): |Δmean| above this
    * marks the dimension drifted. 0.05 in unit terms — wide enough that
    * the sf0.001 fixture's 250-per-split sampling noise (measured up to
    * ~0.032) stays quiet while a real shift trips it. Production sets
    * this from the split sizes (|Δ| > z·σ·√(2/n), the two-sample bound)
    * rather than a constant; the operator's shape is
    * threshold-independent.
    */
  val DriftThresholdMicro = 50000L

  /** Embedding distribution DRIFT monitor — the ML-ops check between a
    * reference corpus and an incoming batch (yesterday's embeddings vs
    * today's crawl, or pre/post encoder upgrade): per dimension, the
    * mean under each split and their delta, flagged against
    * [[DriftThresholdMicro]]. Upstream encoder drift silently poisons
    * every cosine-threshold operator in this library (semantic dedup,
    * ANN recall, cluster assignments all assume one embedding space) —
    * this is the gate that catches it before they run. The split here is
    * the content-free `vec_id % 2` stand-in (the [[splitAssign]] rule);
    * production passes two real snapshots through the same plan.
    *
    * Exactness: each element micro-quantizes (floor(x·1e6 + 0.5), the
    * [[domainStats]] discipline) BEFORE the sum — a distributed double
    * sum depends on partition order and would hash-mismatch the oracle —
    * and the mean is INTEGER division of exact longs. Scale shape: one
    * posexplode → ONE (dim)-keyed map-side-combined agg with conditional
    * sums — D output rows at any corpus size; the narrow fan-out rides
    * the scan like every embed_* op.
    */
  def embedDrift(emb: DataFrame): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    fanout(emb).filter(col("embedding").isNotNull)
      .select(col("vec_id"), posexplode(d))
      .select((col("vec_id") % 2 === 0).as("is_ref"),
        col("pos").cast("long").as("dim_idx"),
        floor(col("col") * lit(QualityMicro) + lit(0.5)).cast("long")
          .as("m"))
      // null ELEMENTS drop (the embed_outlier discipline): counting a
      // row whose value the sum skips would shift the mean
      .filter(col("m").isNotNull)
      .groupBy("dim_idx")
      .agg(
        count(when(col("is_ref"), 1)).as("n_ref"),
        count(when(!col("is_ref"), 1)).as("n_new"),
        sum(when(col("is_ref"), col("m")).otherwise(0L)).as("s_ref"),
        sum(when(!col("is_ref"), col("m")).otherwise(0L)).as("s_new"))
      // an empty split keeps NULL means (ANSI div-by-zero would kill the
      // job on a corpus whose ids are all one parity)
      .select(col("dim_idx"), col("n_ref"), col("n_new"),
        expr("CASE WHEN n_ref > 0 THEN s_ref div n_ref END")
          .as("mean_ref_micro"),
        expr("CASE WHEN n_new > 0 THEN s_new div n_new END")
          .as("mean_new_micro"))
      .withColumn("delta_micro",
        col("mean_new_micro") - col("mean_ref_micro"))
      .withColumn("drifted", abs(col("delta_micro")) > DriftThresholdMicro)
  }

  /** The frozen REFERENCE side of the drift monitor: per-dim mean micros
    * of a reference corpus, collected driver-side (D rows — the
    * ivfTrain driver-decides pattern). This is the artifact a
    * deployment ships to [[graft.stream.DriftStream]].
    */
  def embedDriftRef(emb: DataFrame): Map[Long, Long] = {
    val d = transform(col("embedding"), x => x.cast("double"))
    fanout(emb).filter(col("embedding").isNotNull)
      .select(posexplode(d))
      .select(col("pos").cast("long").as("dim_idx"),
        floor(col("col") * lit(QualityMicro) + lit(0.5)).cast("long").as("m"))
      .filter(col("m").isNotNull)
      .groupBy("dim_idx")
      .agg(count(lit(1)).as("n"), sum(col("m")).as("s"))
      .filter(col("n") > 0)
      .select(col("dim_idx"), expr("s div n").as("mean_micro"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** [[embedDrift]] with a FROZEN reference — the apply-only face: the
    * incoming frame's per-dim means (same exact-integer discipline)
    * against the shipped reference table. Against the odd parity half
    * with a reference trained on the even half, this reproduces
    * [[embedDrift]]'s deltas EXACTLY (spec-asserted) — the two faces
    * are one monitor. Dimensions absent from the reference (encoder
    * width change — the loudest drift of all) keep NULL ref/delta and
    * flag `drifted`.
    */
  def embedDriftWith(emb: DataFrame, refMicro: Map[Long, Long]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = transform(col("embedding"), x => x.cast("double"))
    val batchDims = fanout(emb).filter(col("embedding").isNotNull)
      .select(posexplode(d))
      .select(col("pos").cast("long").as("dim_idx"),
        floor(col("col") * lit(QualityMicro) + lit(0.5)).cast("long").as("m"))
      .filter(col("m").isNotNull)
      .groupBy("dim_idx")
      .agg(count(lit(1)).as("n_new"), sum(col("m")).as("s"))
    // FULL OUTER against the reference's dims: an encoder that NARROWS
    // (reference dim absent from every batch row) must flag, not vanish
    // — that direction is just as much a width change as widening, and
    // the monitor exists for exactly that event
    val refDims = refMicro.toSeq.toDF("dim_idx", "ref_micro")
    batchDims.join(broadcast(refDims), Seq("dim_idx"), "full_outer")
      .select(col("dim_idx"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        expr("CASE WHEN n_new > 0 THEN s div n_new END").as("mean_new_micro"),
        col("ref_micro").as("mean_ref_micro"))
      .withColumn("delta_micro",
        col("mean_new_micro") - col("mean_ref_micro"))
      .withColumn("drifted",
        coalesce(abs(col("delta_micro")) > DriftThresholdMicro, lit(true)))
  }

  def sqlEmbedDrift: String =
    s"""SELECT dim_idx, n_ref, n_new,
       |  mean_ref_micro, mean_new_micro,
       |  mean_new_micro - mean_ref_micro AS delta_micro,
       |  abs(mean_new_micro - mean_ref_micro) > $DriftThresholdMicro
       |    AS drifted
       |FROM (
       |  SELECT dim_idx, n_ref, n_new,
       |    CASE WHEN n_ref > 0 THEN s_ref // n_ref END AS mean_ref_micro,
       |    CASE WHEN n_new > 0 THEN s_new // n_new END AS mean_new_micro
       |  FROM (
       |    SELECT dim_idx,
       |      count(CASE WHEN is_ref THEN 1 END) AS n_ref,
       |      count(CASE WHEN NOT is_ref THEN 1 END) AS n_new,
       |      CAST(sum(CASE WHEN is_ref THEN m ELSE 0 END) AS BIGINT) AS s_ref,
       |      CAST(sum(CASE WHEN NOT is_ref THEN m ELSE 0 END) AS BIGINT) AS s_new
       |    FROM (
       |      SELECT vec_id % 2 = 0 AS is_ref,
       |        CAST(i - 1 AS BIGINT) AS dim_idx,
       |        CAST(floor(CAST(embedding[i] AS DOUBLE) * $QualityMicro + 0.5)
       |          AS BIGINT) AS m
       |      FROM (SELECT vec_id, embedding,
       |              unnest(range(1, len(embedding) + 1)) AS i
       |            FROM embeddings WHERE embedding IS NOT NULL))
       |    WHERE m IS NOT NULL
       |    GROUP BY dim_idx))""".stripMargin

  // ------------------------------------------------------- embed_quantize

  /** Symmetric int8 quantization: scale = 127/max|x|, q_i = ⌊x_i·scale +
    * 0.5⌋ (explicit floor(+0.5), not round() — engines disagree on
    * rounding mode, floor does not). Output keeps the scale for exact
    * dequantization. Narrow map, no shuffle; the int8 vectors are the
    * memory-bound ANN path's storage format at scale (4× smaller than
    * float32, 8× smaller than the double working form).
    */
  def embedQuantize(emb: DataFrame): DataFrame = {
    val d = transform(col("embedding"), x => x.cast("double"))
    fanout(emb).select(col("vec_id"), d.as("emb_d"))
      .withColumn("amax", array_max(transform(col("emb_d"), x => abs(x))))
      .filter(col("amax") =!= 0)
      .withColumn("scale", lit(127.0) / col("amax"))
      .select(col("vec_id"), col("amax"), col("scale"),
        posexplode_outer(transform(col("emb_d"),
          x => floor(x * col("scale") + lit(0.5)).cast("long"))))
      // null-pos filter, not null-col: keep null ELEMENT rows like an
      // inner explode would (see embedNormalize)
      .filter(col("pos").isNotNull)
      .select(col("vec_id"), col("amax"), col("scale"),
        col("pos").cast("long").as("dim_idx"), col("col").as("qv"))
  }

  def sqlEmbedQuantize: String =
    s"""SELECT vec_id, amax, 127.0 / amax AS scale, CAST(i - 1 AS BIGINT) AS dim_idx,
       |  CAST(floor(emb_d[i] * (127.0 / amax) + 0.5) AS BIGINT) AS qv
       |FROM (
       |  SELECT vec_id, emb_d, amax, unnest(range(1, len(emb_d) + 1)) AS i
       |  FROM (
       |    SELECT vec_id, emb_d,
       |      list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(emb_d, x -> abs(x))), (a,x) -> greatest(a,x)) AS amax
       |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb_d FROM embeddings))
       |  WHERE amax <> 0)""".stripMargin

  // ---------------------------------------------------------- split_assign

  /** Held-out fraction (percent of the hash space) for the train/val
    * split.
    */
  val SplitValPct = 10

  /** Deterministic split label for a doc — a salted md5 of the doc id,
    * NOT a random() or a row position: reproducible across engines,
    * re-runs, and repartitions, and independent of scan order (the only
    * split rule that survives a 100 TB re-shard). The salt keeps the
    * split decorrelated from every other doc_id-hash use (sampling,
    * shuffling) so held-out membership is not accidentally aligned with
    * a sampling stratum.
    */
  private[ops] def splitCol: Column =
    when(pmod(TextOps.tokenHash(concat(lit("split:"), col("doc_id").cast("string"))),
      lit(100L)) < lit(100L - SplitValPct), lit("train")).otherwise(lit("val"))

  private[ops] def sqlSplitCol: String =
    s"CASE WHEN (${TextOps.sqlTokenHash("'split:' || CAST(doc_id AS VARCHAR)")}) % 100" +
      s" < ${100 - SplitValPct} THEN 'train' ELSE 'val' END"

  /** Train/validation split assignment + the per-split data card: doc and
    * token counts per split. One narrow projection (the split label is a
    * per-row hash, no shuffle) + one 2-row agg — the corpus never
    * key-shuffles. The assignment itself is `splitCol`; downstream ops
    * filter on it at the scan.
    */
  def splitAssign(docs: DataFrame): DataFrame =
    fanout(docs)
      .select(splitCol.as("split"),
        size(filter(TextOps.toksOf(docs), w => w =!= ""))
          .cast("long").as("n_toks"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("n_tokens"))

  def sqlSplitAssign: String =
    s"""SELECT split, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT $sqlSplitCol AS split,
       |    len(list_filter(${TextOps.sqlTokens("text")}, w -> w <> '')) AS n_toks
       |  FROM documents)
       |GROUP BY split""".stripMargin

  // --------------------------------------------------------- split_leakage

  /** Cross-split exact-gram leakage: validation docs sharing at least one
    * [[DecontamGram]]-word gram with ANY training doc — the published
    * sequence-level held-out hygiene check, run split-vs-split instead of
    * corpus-vs-benchmark ([[decontaminate]]'s shape with the benchmark
    * side replaced by the hash split). Output per leaking val doc:
    * distinct-gram hit count and leakage ratio.
    *
    * Scale shape differs from decontaminate on purpose: the train side is
    * ~90% of the corpus — there is no small side to broadcast. Both sides
    * reduce to (doc_id, gram_hash) longs and meet in ONE shuffle
    * hash-join on the gram hash (text never shuffles); the train side is
    * pre-distinct'd (map-side combined) so each gram crosses the wire
    * once, not df times. At 100 TB you'd put [[decontaminateBloom]]'s
    * bloom prefilter in front of the same join; this exact form is the
    * ground truth the prefilter must conserve.
    */
  def splitLeakage(docs: DataFrame): DataFrame = {
    val g = fanout(docs).select(col("doc_id"), splitCol.as("split"),
      decontamGramsOf(TextOps.toksOf(docs)).as("gs"))
    val train = g.filter(col("split") === "train")
      .select(explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull).distinct()
    val vals = g.filter(col("split") === "val")
      .select(col("doc_id"), size(col("gs")).cast("long").as("n_grams"),
        explode_outer(col("gs")).as("g"))
      .filter(col("g").isNotNull)
    vals.join(train, "g")
      .groupBy("doc_id", "n_grams")
      .agg(count(lit(1)).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("leakage"))
  }

  def sqlSplitLeakage: String =
    s"""WITH g AS (
       |  SELECT doc_id, $sqlSplitCol AS split,
       |    ${sqlGramHashes(DecontamGram)} AS gs FROM documents),
       |train AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(gs) AS g FROM g WHERE split = 'train')),
       |v AS (
       |  SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams, unnest(gs) AS g
       |  FROM g WHERE split = 'val')
       |SELECT doc_id, n_grams, count(*) AS n_hits,
       |  CAST(count(*) AS DOUBLE) / n_grams AS leakage
       |FROM v JOIN train USING (g)
       |GROUP BY doc_id, n_grams""".stripMargin

  // ------------------------------------------------------------ ngram_topk

  /** [[ngramTopk]] gram width (words) and result size. */
  val NgramTopkWidth = 2
  val NgramTopkK = 50

  /** In-order gram TEXTS of a token list (the verbatim face of the
    * `word_shingle_hashes` kernel — same windows, same short-doc rule:
    * a doc shorter than `w` yields its single truncated gram).
    */
  private def gramTexts(toks: Column, w: Int): Column =
    transform(sequence(lit(1), greatest(size(toks) - (w - 1), lit(1))),
      i => array_join(slice(toks, i, lit(w)), " "))

  private def sqlGramTexts(toks: String, w: Int): String =
    s"list_transform(range(1, greatest(len($toks) - ${w - 1}, 1) + 1), " +
      s"i -> array_to_string(list_slice($toks, i, i + ${w - 1}), ' '))"

  /** Corpus-level top-K most frequent [[NgramTopkWidth]]-grams with their
    * occurrence counts — the vocabulary/boilerplate/contamination-candidate
    * report every corpus card publishes (and the seed list for stopword
    * and boilerplate filters).
    *
    * Word-count shape, ONE corpus pass: aggregate by gram TEXT with
    * map-side combine — the shuffle carries each task's DISTINCT grams
    * (vocabulary-sized by Heaps' law, ≪ occurrences; a 2-gram is ~2
    * words, not a [[SpanWords]]-word span), never the occurrence stream.
    * The 32-bit gram hash (the join key the contamination ops use) is
    * computed AFTER the agg — one md5 per distinct gram, not per
    * occurrence; a first-cut two-pass variant that counted by hash and
    * re-scanned to recover text paid that md5 across two full corpus
    * passes and measured 9× wall at 32× data — this shape measures ~4×.
    * Top-K via orderBy+limit: TakeOrderedAndProject, per-partition top-K
    * with a K×P-row driver merge — no global sort, no unpartitioned
    * window.
    */
  def ngramTopk(docs: DataFrame, w: Int = NgramTopkWidth,
      k: Int = NgramTopkK): DataFrame =
    fanout(docs)
      .select(explode_outer(gramTexts(TextOps.toksOf(docs), w)).as("gram"))
      .filter(col("gram").isNotNull)
      .groupBy("gram").agg(count(lit(1)).as("n_occurrences"))
      .select(TextOps.tokenHash(col("gram")).as("gram_hash"),
        col("gram"), col("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram_hash")).limit(k)

  def sqlNgramTopk: String =
    s"""SELECT ${TextOps.sqlTokenHash("gram")} AS gram_hash, gram, n_occurrences
       |FROM (
       |  SELECT gram, count(*) AS n_occurrences FROM (
       |    SELECT unnest(${sqlGramTexts(TextOps.sqlTokens("text"), NgramTopkWidth)}) AS gram
       |    FROM documents)
       |  GROUP BY gram)
       |ORDER BY n_occurrences DESC, gram_hash LIMIT $NgramTopkK""".stripMargin

  // -------------------------------------------------- mixture_reweight_step

  /** Multiplicative-weights step size: factor micros added per micro of
    * quality excess (η=4 → a source scoring +0.25 above the corpus mean
    * doubles its unnormalized factor).
    */
  val MixtureEta = 4L

  /** One multiplicative-weights update of the per-source mixture — the
    * DoReMi-shaped reweighting loop (Xie et al. 2023) with the reference
    * model's excess loss stood in by the corpus-relative quality excess
    * (the signal the engine already computes; a real excess-loss column
    * drops into the same plan). From uniform weights:
    * factor_s = max(0, 1 + η·(mean_quality_s − mean_quality_corpus)),
    * normalized across sources. LINEARIZED update (1 + η·x, not
    * exp(η·x)) on purpose: libm exp is not bit-identical across engines,
    * while the rational form stays in exact integer micros until the
    * single normalizing division — the [[sampleTemperature]] parity
    * discipline. Iterating the step re-derives DoReMi's domain weights;
    * each iteration is this one plan.
    *
    * Scale shape: one corpus scan into a sources-sized agg (map-side
    * combined); the corpus mean and the factor total are 1-row
    * broadcasts over the sources-sized frame. The corpus never
    * key-shuffles and only O(sources) rows exist past the first agg.
    */
  def mixtureReweightStep(docs: DataFrame): DataFrame = {
    val qMicro = qualityMicroCol
    // the corpus scan + source agg feeds THREE branches (the per-source
    // rows, the corpus total, the factor total) — materialize the
    // sources-sized result once or each branch re-runs the scan
    val per = DedupOps.materialize(
      fanout(docs).select(col("source"), qMicro.as("q_micro"))
        .groupBy("source")
        .agg(count(col("q_micro")).as("n_scored"),
          sum(col("q_micro")).as("sum_q"))
        .withColumn("mean_quality_micro",
          when(col("n_scored") > 0, expr("sum_q DIV n_scored"))),
      "mixture_per_source")
    val tot = per.agg(sum("sum_q").as("tot_q"), sum("n_scored").as("tot_n"))
    val f = per.crossJoin(broadcast(tot))
      .withColumn("excess_micro",
        col("mean_quality_micro") -
          when(col("tot_n") > 0, expr("tot_q DIV tot_n")))
      .withColumn("factor_micro",
        greatest(lit(0L), lit(QualityMicro.toLong) +
          lit(MixtureEta) * col("excess_micro")))
    val totF = f.agg(sum("factor_micro").as("tot_factor"))
    f.crossJoin(broadcast(totF))
      .select(col("source"), col("n_scored"), col("mean_quality_micro"),
        col("excess_micro"), col("factor_micro"),
        when(col("tot_factor") > 0,
          col("factor_micro").cast("double") / col("tot_factor").cast("double"))
          .as("weight"))
  }

  def sqlMixtureReweightStep: String =
    s"""WITH $sqlQualityMicroCte,
       |per AS (
       |  SELECT source, count(q_micro) AS n_scored,
       |    CAST(sum(q_micro) AS BIGINT) AS sum_q
       |  FROM q GROUP BY source),
       |per2 AS (
       |  SELECT source, n_scored, sum_q,
       |    CASE WHEN n_scored > 0 THEN sum_q // n_scored END AS mean_quality_micro
       |  FROM per),
       |tot AS (
       |  SELECT CAST(sum(sum_q) AS BIGINT) AS tot_q,
       |    CAST(sum(n_scored) AS BIGINT) AS tot_n FROM per),
       |f AS (
       |  SELECT source, n_scored, mean_quality_micro,
       |    mean_quality_micro - (CASE WHEN tot_n > 0 THEN tot_q // tot_n END)
       |      AS excess_micro
       |  FROM per2, tot),
       |g AS (
       |  SELECT source, n_scored, mean_quality_micro, excess_micro,
       |    greatest(0, ${QualityMicro.toLong} + $MixtureEta * excess_micro)
       |      AS factor_micro
       |  FROM f),
       |tf AS (SELECT CAST(sum(factor_micro) AS BIGINT) AS tot_factor FROM g)
       |SELECT source, n_scored, mean_quality_micro, excess_micro,
       |  CAST(factor_micro AS BIGINT) AS factor_micro,
       |  CASE WHEN tot_factor > 0
       |    THEN CAST(factor_micro AS DOUBLE) / CAST(tot_factor AS DOUBLE)
       |  END AS weight
       |FROM g, tf""".stripMargin

  // ---------------------------------------------------- quality_kn_fluency

  /** Kneser–Ney smoothed bigram fluency — the smoothing the production
    * n-gram rung actually ships (KenLM implements modified KN; Chen &
    * Goodman 1998 is the canonical reference): absolute discounting of
    * the bigram ML estimate, with the stolen mass backed off to the
    * CONTINUATION unigram ("in how many distinct contexts does w2
    * complete a bigram?") rather than the raw unigram — the fix for
    * high-count-but-single-context words ("Francisco" is frequent but
    * only ever follows "San", so its continuation probability is tiny).
    * Sits beside [[qualityBigramFluency]] (raw ML) and
    * [[qualityTrigramFluency]] (fixed-λ Jelinek–Mercer) as the third,
    * published-form rung of the LM-quality ladder.
    *
    * With discount D = 3/4 (the canonical "count minus discount" choice;
    * rational on purpose):
    * {{{
    *   P_KN(w2|w1) = max(c2 - D, 0)/c1  +  (D · N1+(w1·)/c1) · Pcont(w2)
    *   Pcont(w2)   = N1+(·w2) / N1+(··)
    * }}}
    * where c2 = count(w1 w2), c1 = Σ_w c2(w1, w), N1+(w1·) = distinct
    * continuations of w1, N1+(·w2) = distinct contexts of w2, N1+(··) =
    * distinct bigram types. Multiplying through by 4 keeps every term
    * integral: per occurrence,
    * `p_micro = ((4·c2 − 3)·1e6) div (4·c1) + (3·n1f·pcont_micro) div (4·c1)`
    * with `pcont_micro = (n1b·1e6) div n1_total` — exact integer
    * arithmetic in both engines (the [[qualityBigramFluency]] micro
    * discipline), longs summed per doc, one final double division.
    * Overflow bound: n1f ≤ c1 and pcont ≤ 1e6, so the second numerator
    * ≤ 3e6·c1 — same ~10¹² headroom note as the other fluency rungs.
    * Docs with < 2 tokens have no bigrams and are absent (both engines).
    *
    * Scale shape: identical to [[qualityBigramFluency]] — bigrams zip
    * IN-ROW; ALL four statistics tables (c2, prefix c1+N1+fwd, backward
    * N1+, total types) derive from the ONE materialized bigram-type
    * table, so the corpus pays a single gram aggregation; n1_total is a
    * 1-row broadcast; the occurrence joins skew at the Zipf head (AQE
    * skew-join territory, like every vocab join in this file).
    */
  def qualityKnFluency(docs: DataFrame): DataFrame =
    qualityKnFluencyOn(docs,
      DedupOps.materialize(bigramCounts(docs), "kn_bigram_counts"))

  /** [[qualityKnFluency]] over a PRE-BUILT count table (all four KN
    * statistics tables derive from it).
    */
  def qualityKnFluencyOn(docs: DataFrame, cnt2: DataFrame): DataFrame = {
    val bi = bigramPairs(docs)
    val pre = cnt2.groupBy("w1")
      .agg(sum(col("c2")).as("c1"), count(lit(1)).as("n1f"))
    val bwd = cnt2.groupBy("w2").agg(count(lit(1)).as("n1b"))
    val tot = cnt2.agg(count(lit(1)).as("n1_total"))
    bi.join(cnt2, Seq("w1", "w2")).join(pre, Seq("w1")).join(bwd, Seq("w2"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        expr("((greatest(4 * c2 - 3, 0) * 1000000) div (4 * c1))" +
          " + ((3 * n1f * ((n1b * 1000000) div n1_total)) div (4 * c1))")
          .as("p_micro"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("p_micro")).as("sum_micro"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_micro"),
        (col("sum_micro").cast("double") /
          (col("n_bigrams").cast("double") * lit(QualityMicro))).as("fluency"))
  }

  def sqlQualityKnFluency: String =
    s"""WITH t AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
       |    unnest(list_slice(toks, 2, len(toks))) AS w2
       |  FROM t WHERE len(toks) >= 2),
       |cnt2 AS MATERIALIZED (
       |  SELECT w1, w2, count(*) AS c2 FROM bi GROUP BY w1, w2),
       |pre AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1f
       |        FROM cnt2 GROUP BY w1),
       |bwd AS (SELECT w2, count(*) AS n1b FROM cnt2 GROUP BY w2),
       |tot AS (SELECT count(*) AS n1_total FROM cnt2)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(p_micro) AS BIGINT) AS sum_micro,
       |  CAST(sum(p_micro) AS DOUBLE) /
       |    (CAST(count(*) AS DOUBLE) * $QualityMicro) AS fluency
       |FROM (
       |  SELECT doc_id,
       |    ((greatest(4 * c2 - 3, 0) * 1000000) // (4 * c1))
       |     + ((3 * n1f * ((n1b * 1000000) // n1_total)) // (4 * c1)) AS p_micro
       |  FROM bi JOIN cnt2 USING (w1, w2) JOIN pre USING (w1)
       |  JOIN bwd USING (w2) CROSS JOIN tot)
       |GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------------- dsir_weight

  /** DSIR feature-space size (hashed-bigram buckets). The paper (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling") uses 10k buckets over unigrams+bigrams; 256 keeps every
    * bucket populated on the synthetic corpus. Production swaps the
    * constant — the plan is bucket-count-independent (the λ table stays a
    * broadcast until B ~ 10⁸).
    */
  val DsirBuckets = 256L

  /** The `lang` value whose documents act as the DSIR target corpus (the
    * "high-quality exemplar" distribution — Wikipedia/books in the paper;
    * the majority language here keeps the fixture's target well
    * populated).
    */
  val DsirTargetLang = "en"

  /** DSIR importance weights — hashed n-gram importance resampling (Xie
    * et al. 2023): score every raw document by how much more likely its
    * hashed-bigram features are under a TARGET distribution than under
    * the raw corpus distribution, then resample/filter by weight. This is
    * the principled replacement for binary quality classification when
    * the goal is "make the kept data LOOK LIKE the target corpus"
    * (the data-selection rung between heuristic gates and trained
    * classifiers in a curation pipeline).
    *
    * Features: positional bigram hashes ([[TextOps.tokenHash]] via the
    * `word_shingle_hashes` kernel, width 2) mod [[DsirBuckets]] —
    * occurrences, not distinct grams (the paper's bag-of-ngrams).
    * Bucket b's add-one-smoothed probabilities are
    * `p_t = (ct+1)/(Tt+B)` (target = `lang = ` [[DsirTargetLang]]) and
    * `p_r = (cr+1)/(Tr+B)` (raw = whole corpus). The per-bucket score is
    * the BOUNDED RATIONAL log-ratio surrogate
    * `λ = (p_t − p_r)/(p_t + p_r)` — monotone in the true ratio, the
    * same fast-sigmoid discipline [[TextOps]]'s trainer uses to keep
    * both engines exact-integer (no `ln` — engine libm rounding could
    * flip a floor). Cross-multiplying clears every denominator:
    * `λ_micro(b) = ((ct+1)·(Tr+B)·1e6) div den − 500000`, with
    * `den = (ct+1)·(Tr+B) + (cr+1)·(Tt+B)` — all operands non-negative,
    * so `div`/`//` agree. The doc's weight is the exact-long sum of its
    * occurrences' λ_micro (production note: at ≳10⁹ occurrences per side
    * the cross-products need 128-bit or a double λ table — at that scale
    * the oracle-exactness constraint is gone and real `ln` drops in).
    *
    * Scale shape: the gram stream materializes ONCE and feeds all three
    * consumers (target agg, raw agg, per-doc·bucket counts); both
    * distribution aggs are B-row map-side-combined reductions; the λ
    * table is a ≤B-row broadcast joined back to per-doc bucket counts
    * (never to raw occurrences); one groupBy(doc) ends the plan. Docs
    * with no grams are absent (like the fluency rungs).
    */
  def dsirWeight(docs: DataFrame): DataFrame = {
    val g = DedupOps.materialize(
      fanout(docs).select(col("doc_id"), col("lang"),
          explode(word_shingle_hashes(TextOps.toksOf(docs), 2)).as("gh"))
        .select(col("doc_id"), col("lang"),
          (col("gh") % DsirBuckets).as("b")),
      "dsir_grams")
    val perDocB = g.groupBy("doc_id", "b").agg(count(lit(1)).as("n"))
    val cr = g.groupBy("b").agg(count(lit(1)).as("cr"),
      count(when(col("lang") === DsirTargetLang, 1)).as("ct"))
    val totals = g.agg(count(lit(1)).as("tr"),
      count(when(col("lang") === DsirTargetLang, 1)).as("tt"))
    val lam = cr.crossJoin(broadcast(totals))
      .select(col("b"),
        expr(s"(((ct + 1) * (tr + $DsirBuckets) * 1000000)" +
          s" div ((ct + 1) * (tr + $DsirBuckets)" +
          s" + (cr + 1) * (tt + $DsirBuckets))) - 500000").as("lam_micro"))
    perDocB.join(broadcast(lam), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("n")).as("n_grams"),
        sum(col("n") * col("lam_micro")).as("weight_micro"))
      .select(col("doc_id"), col("n_grams"), col("weight_micro"),
        (col("weight_micro").cast("double") /
          (col("n_grams").cast("double") * lit(QualityMicro))).as("weight"))
  }

  def sqlDsirWeight: String =
    s"""WITH t AS (
       |  SELECT doc_id, lang, ${sqlTokens("text")} AS toks FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, lang, gh % $DsirBuckets AS b FROM (
       |    SELECT doc_id, lang,
       |      unnest(${sqlGramHashesPositionalOver("toks", 2)}) AS gh
       |    FROM t)),
       |per_doc_b AS (
       |  SELECT doc_id, b, count(*) AS n FROM g GROUP BY doc_id, b),
       |cr AS (
       |  SELECT b, count(*) AS cr,
       |    count(CASE WHEN lang = '$DsirTargetLang' THEN 1 END) AS ct
       |  FROM g GROUP BY b),
       |tot AS (
       |  SELECT count(*) AS tr,
       |    count(CASE WHEN lang = '$DsirTargetLang' THEN 1 END) AS tt
       |  FROM g),
       |lam AS (
       |  SELECT b,
       |    (((ct + 1) * (tr + $DsirBuckets) * 1000000)
       |     // ((ct + 1) * (tr + $DsirBuckets)
       |        + (cr + 1) * (tt + $DsirBuckets))) - 500000 AS lam_micro
       |  FROM cr CROSS JOIN tot)
       |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_grams,
       |  CAST(sum(n * lam_micro) AS BIGINT) AS weight_micro,
       |  CAST(sum(n * lam_micro) AS DOUBLE) /
       |    (CAST(sum(n) AS DOUBLE) * $QualityMicro) AS weight
       |FROM per_doc_b JOIN lam USING (b)
       |GROUP BY doc_id""".stripMargin

  /** The COMPLETE λ table (all [[DsirBuckets]] buckets, including
    * corpus-absent ones at ct=cr=0) as a driver-side map — the artifact
    * a "train batch-side, freeze, apply anywhere" deployment ships. The
    * counting runs through the SAME Spark aggs as [[dsirWeight]] (≤B+1
    * rows reach the driver — the ivfTrain driver-decides pattern); the λ
    * arithmetic is the operator's exact integer formula, applied here to
    * every bucket so an UNSEEN bucket in later data gets the smoothed
    * ct=0/cr=0 score instead of a hole.
    */
  def dsirLambdaFull(docs: DataFrame): Map[Long, Long] = {
    val g = fanout(docs).select(col("lang"),
        explode(word_shingle_hashes(TextOps.toksOf(docs), 2)).as("gh"))
      .select(col("lang"), (col("gh") % DsirBuckets).as("b"))
    val rows = g.groupBy("b").agg(count(lit(1)).as("cr"),
      count(when(col("lang") === DsirTargetLang, 1)).as("ct")).collect()
    val counts = rows.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tr = counts.values.map(_._1).sum
    val tt = counts.values.map(_._2).sum
    (0L until DsirBuckets).map { b =>
      val (cr, ct) = counts.getOrElse(b, (0L, 0L))
      val num = (ct + 1) * (tr + DsirBuckets)
      val den = num + (cr + 1) * (tt + DsirBuckets)
      b -> ((num * 1000000L) / den - 500000L)
    }.toMap
  }

  /** [[dsirWeight]] with a FROZEN λ table — the apply-only face: with λ
    * as a literal map, the whole score is an IN-ROW fold (gram hashes →
    * bucket → λ lookup → exact-long sum), a zero-shuffle narrow
    * projection exactly like [[TextOps.qualityLinearScoreWith]]. This is
    * the plan both the scoring side of a frozen-model batch sweep and
    * the streaming face ([[graft.stream.ScoreStream]]) run; against the
    * training corpus itself it is spec-equal to [[dsirWeight]].
    */
  def dsirWeightWith(docs: DataFrame, lamMicro: Map[Long, Long]): DataFrame = {
    require(lamMicro.keySet == (0L until DsirBuckets).toSet,
      s"dsirWeightWith needs the full $DsirBuckets-bucket λ table " +
        "(dsirLambdaFull) — a partial map would null unseen buckets")
    val hs = word_shingle_hashes(TextOps.toksOf(docs), 2)
    docs.select(col("doc_id"),
        size(hs).cast("long").as("n_grams"),
        aggregate(transform(hs, gh =>
            element_at(typedlit(lamMicro), gh % lit(DsirBuckets))),
          lit(0L), (a, x) => a + x).as("weight_micro"))
      .withColumn("weight", col("weight_micro").cast("double") /
        (col("n_grams").cast("double") * lit(QualityMicro)))
  }

  /** Fixed per-source keep count for [[dsirResample]] — the fixture-scale
    * stand-in for the paper's global sample budget; production sets it
    * from the token budget per mixture component.
    */
  val DsirKeepPerSource = 10L

  /** The DSIR SELECTION step — [[dsirWeight]] carried into the sampling
    * family: keep the top-[[DsirKeepPerSource]] docs PER SOURCE by
    * importance weight (ties broken by doc_id). Stratifying by source
    * keeps the selection from collapsing onto one mixture component the
    * target distribution happens to resemble — the same reason
    * [[sampleReservoir]] strata by language — and keeps the rank window
    * BOUNDED: row_number over (source) plans as WindowGroupLimit
    * (per-map-task pre-limit before the exchange), never a global sort.
    * The paper's global-budget form is this with one more
    * sources-weighted allocation table on top.
    */
  def dsirResample(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source")
      .orderBy(col("weight_micro").desc, col("doc_id"))
    dsirWeight(docs)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("weight_micro"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= DsirKeepPerSource)
  }

  def sqlDsirResample: String =
    s"""WITH dw AS ($sqlDsirWeight)
       |SELECT doc_id, source, weight_micro, rk FROM (
       |  SELECT dw.doc_id, d.source, dw.weight_micro,
       |    CAST(row_number() OVER (PARTITION BY d.source
       |      ORDER BY dw.weight_micro DESC, dw.doc_id) AS BIGINT) AS rk
       |  FROM dw JOIN documents d ON d.doc_id = dw.doc_id)
       |WHERE rk <= $DsirKeepPerSource""".stripMargin

  // -------------------------------------------------------- source_overlap

  /** Cross-source contamination matrix — pairwise distinct-gram overlap
    * between every pair of corpus mixture components: Jaccard (symmetric
    * near-duplication of the components) and containment
    * (|A∩B| / min(|A|,|B|) — catches a small source that is a SUBSET of a
    * big one, which Jaccard hides). The corpus-composition analog of
    * [[decontaminate]]: where decontaminate asks "does training data leak
    * the benchmark?", this asks "how much do my mixture components leak
    * into EACH OTHER?" — double-counted mass across sources silently
    * re-weights the mixture a sampler like [[sampleMixture]] thinks it
    * set. Grams are the [[DecontamGram]]-word distinct shingle hashes
    * (the decontamination vocabulary, deliberately shared).
    *
    * Output: one row per unordered source pair (s1 < s2), ZERO-overlap
    * pairs included — the full C(S,2) matrix, so a downstream gate can
    * assert "no pair above τ" without absent-row special-casing.
    *
    * Scale shape: the (source, gram) distinct table is one hash shuffle
    * (grams of 100 TB ≈ signature bytes, the exact-dedup footprint, NOT
    * text). Pair expansion groups by gram and expands IN-ROW from the
    * sorted source set — bounded by S per gram, never a gram⋈gram
    * self-join (the all-pairs trap); a gram shared by k sources costs
    * k(k−1)/2 in-row rows, Zipf-bounded by S(S−1)/2. The S²-row matrix
    * assembles from a broadcast of the S-row size table. S here is
    * MIXTURE COMPONENTS (dozens–hundreds); per-DOMAIN overlap at web
    * scale (millions of keys) goes through the minhash family instead —
    * this operator's contract is the curated-mixture audit.
    */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    // ONE gram-keyed exchange (round 15, §2.4 remove shuffles outright):
    // collect_set dedups map-side, so the former `.distinct()` pre-pass
    // (a full second exchange + hash-agg over the occurrence table) folds
    // into the same aggregation — source ∈ ss(g) ⟺ (source, g) was in
    // the old distinct table, so the per-source gram counts are recovered
    // from the per-gram source sets by one explode of the S-bounded sets.
    // Pair expansion is ONE codegen'd kernel call (string_pairs) instead
    // of the nested transform/slice HOF tree — HOF lambdas are
    // CodegenFallback (interpreted per element, a fresh slice array per
    // outer element); same pairs in the same order (spec-pinned).
    val bySets = DedupOps.materialize(
      fanout(docs).select(col("source"),
          explode(decontamGramsOf(TextOps.toksOf(docs))).as("g"))
        .groupBy("g").agg(sort_array(collect_set(col("source"))).as("ss")),
      "source_gram_sets")
    val sizes = bySets.select(explode(col("ss")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n"))
    val inter = bySets
      .filter(size(col("ss")) >= 2)
      .select(explode(string_pairs(col("ss"))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n_inter"))
    val a = sizes.select(col("source").as("s1"), col("n").as("n_s1"))
    val b = sizes.select(col("source").as("s2"), col("n").as("n_s2"))
    a.join(broadcast(b), col("s1") < col("s2"))
      .join(inter, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"), col("n_s1"), col("n_s2"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (col("n_s1") + col("n_s2") - col("n_inter")).cast("double"))
      .withColumn("containment", col("n_inter").cast("double") /
        least(col("n_s1"), col("n_s2")).cast("double"))
  }

  def sqlSourceOverlap: String =
    s"""WITH t AS (
       |  SELECT source, ${sqlTokens("text")} AS toks FROM documents),
       |gs AS MATERIALIZED (
       |  SELECT DISTINCT source, g FROM (
       |    SELECT source,
       |      unnest(list_distinct(${sqlGramHashesPositionalOver("toks", DecontamGram)})) AS g
       |    FROM t)),
       |sizes AS (SELECT source, count(*) AS n FROM gs GROUP BY source),
       |inter AS (
       |  SELECT x.source AS s1, y.source AS s2, count(*) AS n_inter
       |  FROM gs x JOIN gs y ON x.g = y.g AND x.source < y.source
       |  GROUP BY 1, 2)
       |SELECT a.source AS s1, b.source AS s2,
       |  a.n AS n_s1, b.n AS n_s2,
       |  CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |  CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
       |    CAST(a.n + b.n - coalesce(i.n_inter, 0) AS DOUBLE) AS jaccard,
       |  CAST(coalesce(i.n_inter, 0) AS DOUBLE) /
       |    CAST(least(a.n, b.n) AS DOUBLE) AS containment
       |FROM sizes a JOIN sizes b ON a.source < b.source
       |LEFT JOIN inter i ON i.s1 = a.source AND i.s2 = b.source""".stripMargin
}
