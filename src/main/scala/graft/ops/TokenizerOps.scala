package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Scratch

/** BPE tokenizer training over the corpus — the step a training-data
  * pipeline runs BEFORE token counting/packing means anything: learn the
  * merge table from the data (Sennrich et al. 2016, "Neural Machine
  * Translation of Rare Words with Subword Units"). Spark-native shape:
  * the corpus collapses to its DISTINCT-WORD frequency table once (Zipf
  * makes it orders of magnitude smaller than the corpus — this is why
  * classic BPE trainers are feasible at all), then every merge iteration
  * is one pair-count aggregation over that small vocab table plus a
  * 1-row argmax to the driver — the same driver-decides/executors-count
  * loop as [[SimilarityOps]]' k-means (`ivfTrain`).
  *
  * Oracle surface: [[bpePairCounts]] (iteration #1's full pair-count
  * table — its argmax IS the first merge) has a DuckDB twin;
  * [[bpeTrain]] is the iterative driver loop, spec-keyed on the
  * canonical low/lower/newest/widest example.
  */
object TokenizerOps {
  import TextOps.sqlTokens
  import DedupOps.fanout

  /** Distinct-word frequency table (word, cnt) — one map-side-combined
    * agg; the '' token (empty/null docs) carries no pairs and is cut.
    */
  private def wordFreq(docs: DataFrame): DataFrame =
    fanout(docs).select(explode_outer(TextOps.toksOf(docs)).as("word"))
      .filter(col("word").isNotNull && col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Adjacent symbol pairs of a symbol-array column, zipped IN-ROW. */
  private def pairCol(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("p1"), b.as("p2")))

  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("cnt"), explode_outer(pairCol(col("syms"))).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum(col("cnt")).as("cnt"))

  /** BPE iteration #1's pair statistics: adjacent CHARACTER-pair counts
    * over the char-split corpus vocabulary, weighted by word frequency.
    * The argmax of this table is the first merge; the full table is the
    * oracle-checkable face of the training loop. Single-char words carry
    * no pairs and are absent.
    */
  def bpePairCounts(docs: DataFrame): DataFrame =
    pairCounts(wordFreq(docs).withColumn("syms", split(col("word"), "")))

  def sqlBpePairCounts: String =
    s"""WITH w AS (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(${sqlTokens("text")}) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |s AS (SELECT cnt, string_split(word, '') AS c FROM w),
       |p AS (
       |  SELECT cnt,
       |    unnest(list_slice(c, 1, len(c) - 1)) AS p1,
       |    unnest(list_slice(c, 2, len(c))) AS p2
       |  FROM s WHERE len(c) >= 2)
       |SELECT p1, p2, CAST(sum(cnt) AS BIGINT) AS cnt
       |FROM p GROUP BY p1, p2""".stripMargin

  /** Greedy left-to-right merge of pair (a, b) inside a symbol array —
    * the canonical BPE application order ("aaa" + (a,a) → [aa, a]): a
    * left fold that either fuses the incoming symbol into the
    * accumulator's tail or appends it.
    */
  private def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 &&
          element_at(acc, size(acc)) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** One learned merge: (left symbol, right symbol, weighted count). */
  final case class BpeMerge(p1: String, p2: String, count: Long)

  /** Train `nMerges` BPE merges on the corpus. Each iteration: one
    * pair-count agg over the (cached, vocab-sized) word table, ONE row
    * collected to the driver (the argmax, ties broken lexicographically
    * for determinism), then a narrow in-row merge rewrite of the symbol
    * column, re-materialized per step so the plan stays flat (the table
    * is Zipf-small — this is metadata-scale, not corpus-scale, work).
    * Stops early when no adjacent pair remains.
    */
  /** Merge count for the oracle-keyed [[tokenizeBpe]] /
    * [[packSequencesBpe]] queries: small enough that the DuckDB twin can
    * UNROLL the training loop (8 chained argmax+apply CTEs), large
    * enough that the learned merges visibly change token counts vs
    * char-splitting.
    */
  val NumMerges = 8

  /** Apply a learned merge list to one word's characters, in training
    * order — Sennrich's sequential application semantics: merge #1
    * rewrites the whole symbol array (greedy left-to-right), then merge
    * #2 runs over the result, and so on. Earlier merges can never
    * depend on later ones (their operand symbols did not exist yet at
    * training time), so sequential order IS the canonical priority
    * order. The merges arrive as expression literals: a merge table is
    * tokenizer-vocab-sized (tens of k), broadcast-scale data — at the 8
    * used here it inlines straight into the expression tree; a
    * production 50k-merge table would move to one generated expression
    * per merge the same way, chunked, or a custom Expression holding
    * the table — never a join against the corpus.
    */
  private def applyMerges(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(split(word, "")) { case (syms, (a, b)) => mergePair(syms, a, b) }

  /** Tokenize the corpus WITH the learned merges — the step that makes
    * every downstream token count a real tokenizer count instead of a
    * whitespace proxy. Pure narrow map: per doc, per word, an in-row
    * fold chain applies the merges and only the per-doc totals survive
    * — zero shuffles, embarrassingly parallel at 100 TB (per-occurrence
    * recompute trades CPU for never joining the corpus against a vocab
    * table). Output (doc_id, source, n_words, n_tokens): `n_tokens` is
    * the BPE token count, named to drop straight into
    * [[PretrainOps.packTokenCounts]].
    */
  def tokenizeBpe(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val ms = merges.map(m => (m.p1, m.p2))
    val toks = filter(TextOps.toksOf(docs), w => w =!= "")
    // round 8: the per-word merge application runs as ONE codegen'd
    // kernel (graftext.BpeTokenCount) instead of NumMerges nested
    // interpreted `aggregate` HOFs — semantically identical (the spec
    // asserts equality against the fold), and the measured 10 s x32
    // floor under the BPE family drops to the tokenize+scan cost
    fanout(docs).select(col("doc_id"), col("source"), toks.as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_words"),
        org.apache.spark.sql.graftext.ArrayFunctions
          .bpe_token_count(col("toks"), ms).as("n_tokens"))
  }

  /** The HOF-fold form [[tokenizeBpe]] replaced — kept (test-visible)
    * as the executable spec of [[graftext.BpeTokenCount]]'s semantics:
    * the equality test runs both on the real corpus + trained merges.
    */
  private[graft] def tokenizeBpeFold(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame = {
    val ms = merges.map(m => (m.p1, m.p2))
    val toks = filter(TextOps.toksOf(docs), w => w =!= "")
    fanout(docs).select(col("doc_id"), col("source"), toks.as("toks"))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_words"),
        aggregate(col("toks"), lit(0L),
          (acc, w) => acc + size(applyMerges(w, ms)).cast("long")).as("n_tokens"))
  }

  /** GPT-style sequence packing driven by REAL tokenizer counts:
    * [[PretrainOps.packTokenCounts]] reused unchanged over
    * [[tokenizeBpe]]'s per-doc BPE counts — the packing arithmetic
    * (SeqLen, ordering key, offset math) stays defined at one point.
    */
  def packSequencesBpe(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame =
    PretrainOps.packTokenCounts(
      tokenizeBpe(docs, merges).select("doc_id", "source", "n_tokens"))

  /** CTE chain LEARNING `k` merges in SQL — the training loop unrolled:
    * `w` (word, cnt), `v0` (char-split), then per step `m{i}` (the
    * argmax pair of `v{i-1}`, ties broken (cnt DESC, p1, p2) exactly
    * like [[bpeTrain]]) and `v{i}` (the fold applying it). LEFT JOIN ON
    * true keeps `v{i}` = `v{i-1}` when no pair remains (early-stop
    * parity with [[bpeTrain]]). DuckDB's `list_reduce` has no initial
    * accumulator, so symbols lift to single-element lists first — the
    * first element becomes the accumulator, which matches the Spark
    * fold (a first symbol can never merge into an empty accumulator).
    *
    * Every `v{i}` is `AS MATERIALIZED`: each is referenced TWICE (by
    * `m{i+1}` and `v{i+1}`), so an inlining planner doubles the chain
    * per step — 2^k copies of the base relation. Harmless when `table`
    * is a raw scan; fatal when it is [[CorpusOps
    * .sqlCorpusToSequencesBpe]]'s survivor pipeline. Materialization
    * makes the unrolled loop linear, like the Spark driver loop it
    * mirrors.
    */
  private[ops] def sqlLearnCtes(k: Int, table: String = "documents"): String = {
    val base =
      s"""w AS (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(${sqlTokens("text")}) AS word FROM $table)
         |  WHERE word <> '' GROUP BY word),
         |v0 AS MATERIALIZED (SELECT word, cnt, string_split(word, '') AS syms FROM w)""".stripMargin
    val steps = (1 to k).map { i =>
      val p = i - 1
      s"""m$i AS (
         |  SELECT p1, p2 FROM (
         |    SELECT cnt,
         |      unnest(list_slice(syms, 1, len(syms) - 1)) AS p1,
         |      unnest(list_slice(syms, 2, len(syms))) AS p2
         |    FROM v$p WHERE len(syms) >= 2)
         |  GROUP BY p1, p2 ORDER BY sum(cnt) DESC, p1, p2 LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT word, cnt,
         |    CASE WHEN m.p1 IS NULL THEN syms ELSE
         |      list_reduce(list_transform(syms, s -> [s]), (acc, x) ->
         |        CASE WHEN len(acc) > 0 AND acc[len(acc)] = m.p1 AND x[1] = m.p2
         |          THEN list_append(list_slice(acc, 1, len(acc) - 1), m.p1 || m.p2)
         |          ELSE list_concat(acc, x) END)
         |    END AS syms
         |  FROM v$p LEFT JOIN m$i m ON true)""".stripMargin
    }
    (base +: steps).mkString(",\n")
  }

  /** Per-doc word stream joined back to the learned vocab's final symbol
    * counts. Every doc keeps ≥1 row ('' for empty/null text, which the
    * vocab never contains → LEFT JOIN null → coalesce 0), so empty docs
    * survive with (n_words 0, n_tokens 0) like the Spark side.
    */
  private[ops] def sqlDocCounts(k: Int, table: String = "documents"): String =
    s"""    SELECT doc_id, source,
       |      CAST(count(*) FILTER (WHERE word <> '') AS BIGINT) AS n_words,
       |      CAST(coalesce(sum(len(v.syms)), 0) AS BIGINT) AS n_tokens
       |    FROM (
       |      SELECT doc_id, source, unnest(${sqlTokens("text")}) AS word
       |      FROM $table) d
       |    LEFT JOIN v$k v USING (word)
       |    GROUP BY doc_id, source""".stripMargin

  def sqlTokenizeBpe: String =
    s"""WITH ${sqlLearnCtes(NumMerges)}
       |SELECT doc_id, source, n_words, n_tokens FROM (
       |${sqlDocCounts(NumMerges)})""".stripMargin

  def sqlPackSequencesBpe: String =
    s"WITH ${sqlLearnCtes(NumMerges)}\n" +
      PretrainOps.sqlPackOver(
        s"""    SELECT doc_id, source, n_tokens FROM (
           |${sqlDocCounts(NumMerges)})""".stripMargin)

  // --------------------------------------------------------- bpe_fertility

  /** Tokenizer fertility per source: BPE tokens per whitespace word —
    * THE published tokenizer-evaluation metric (a fertility of 2 means
    * the tokenizer splits an average word in two; multilingual tokenizer
    * papers report exactly this per language/domain to expose
    * under-served scripts). Computed from [[tokenizeBpe]]'s per-doc
    * counts with ONE sources-sized agg; the ratio is exact integer
    * micro-arithmetic on the SUMS (one division after aggregation — a
    * per-doc double ratio averaged in parallel would be partition-order
    * dependent and hash-mismatch the oracle).
    *
    * Scale shape: the corpus never key-shuffles — tokenization is
    * [[tokenizeBpe]]'s zero-shuffle in-row fold, and the only exchange
    * is the final groupBy(source) whose map-side combine reduces each
    * task to O(sources) rows.
    */
  /** floor(n·10⁶ / d) in STAGED exact integer arithmetic: a direct
    * `n * 1000000` overflows Long at n ≈ 9.2e12 — BELOW a 100 TB
    * source's token count, and under ANSI mode one oversized source
    * kills the whole job. Splitting into whole part + two ×1000 stages
    * of the remainder keeps every intermediate ≤ max(result, d·1000):
    * exact whenever n, d < 9.2e15 (a thousand 100 TB corpora) AND the
    * result n·10⁶/d itself fits int64 — past that NO long-returning
    * engine can represent the answer, and the expression dies loudly
    * under ANSI instead of wrapping (property-tested both ways).
    * Derivation:
    * r·10⁶/d = (q₁ + s₁/d)·1000 with r·1000 = q₁·d + s₁, so
    * floor(n·10⁶/d) = (n div d)·10⁶ + q₁·1000 + (s₁·1000) div d.
    */
  private[graft] def microRatio(n: String, d: String): String =
    s"($n DIV $d) * 1000000L + (($n % $d) * 1000L DIV $d) * 1000L + " +
      s"((($n % $d) * 1000L % $d) * 1000L DIV $d)"

  private def sqlMicroRatio(n: String, d: String): String =
    s"($n // $d) * 1000000 + (($n % $d) * 1000 // $d) * 1000 + " +
      s"((($n % $d) * 1000 % $d) * 1000 // $d)"

  def bpeFertility(docs: DataFrame, merges: Seq[BpeMerge]): DataFrame =
    tokenizeBpe(docs, merges)
      .groupBy("source")
      .agg(sum("n_words").as("n_words"), sum("n_tokens").as("n_tokens"))
      .select(col("source"), col("n_words"), col("n_tokens"),
        when(col("n_words") > 0,
          expr(microRatio("n_tokens", "n_words"))).otherwise(lit(0L))
          .as("fertility_micro"))

  def sqlBpeFertility: String =
    s"""WITH ${sqlLearnCtes(NumMerges)},
       |per_doc AS (
       |${sqlDocCounts(NumMerges)})
       |SELECT source, n_words, n_tokens,
       |  CASE WHEN n_words > 0 THEN ${sqlMicroRatio("n_tokens", "n_words")}
       |    ELSE 0 END AS fertility_micro
       |FROM (
       |  SELECT source, CAST(sum(n_words) AS BIGINT) AS n_words,
       |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |  FROM per_doc GROUP BY source)""".stripMargin

  def bpeTrain(docs: DataFrame, nMerges: Int): Seq[BpeMerge] = Scratch.rounds { loop =>
    // Each step must TRUNCATE the logical plan, not merely cache:
    // caching truncates execution but every action still re-ANALYZES the
    // full lineage, and an iteration built by withColumn on the previous
    // frame chains that lineage through all earlier steps down to the
    // corpus plan — fed a survivor pipeline ([[graft.ops.CorpusOps
    // .corpusToSequencesBpe]]), the 8 iterations each re-analyzed the
    // whole clean/LSH/decontam tree (~2 s/step of pure driver time, 7×
    // the query's executor work). `truncateIter` is the house mechanism
    // (the connectedComponents loop): eager localCheckpoint locally, the
    // durable parquet round-trip under [[DedupOps.CheckpointDirConf]];
    // both reset analysis to a leaf. Eagerness also means each step is
    // materialized before `loop.next` frees its parent's blocks.
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def step(df: DataFrame, name: String): DataFrame =
      DedupOps.truncateIter(df, s"bpe-$runId", name)
    var vocab = loop.next(step(
      wordFreq(docs).withColumn("syms", split(col("word"), "")), "bpe_vocab"))
    val merges = Seq.newBuilder[BpeMerge]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("p1"), col("p2")).limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += BpeMerge(a, b, c)
        // alternating names: this round's table is read lazily by the
        // NEXT round's eager write, which must not clobber it first
        vocab = loop.next(step(
          vocab.withColumn("syms", mergePair(col("syms"), a, b)),
          s"bpe_vocab_${i % 2}"))
      }
      i += 1
    }
    merges.result()
  }

  // ------------------------------------------------------ unigram tokenizer

  /** Max piece length for the unigram-LM tokenizer — the DP fold keeps a
    * rolling window of this many positions, and both engines unroll
    * exactly this many candidates per position.
    */
  val UniMaxPieceLen = 4

  /** Seed pool size for multi-char candidate pieces (top weighted char
    * n-grams), and the per-round prune targets of the EM loop — the
    * SentencePiece shape: seed BIG from substring statistics, then prune
    * toward the target vocab, always keeping single chars for coverage.
    */
  val UniSeedMulti = 64
  val UniPruneSizes: Seq[Int] = Seq(48, 32)

  /** Per-char fallback cost for a character outside the vocab (cannot
    * happen on the training corpus — every corpus char is seeded — but
    * keeps tokenization total on unseen text, emitting per-char UNKs).
    */
  val UniUnkCost = 10000000L
  private val UniInf = Long.MaxValue / 2

  /** One vocab entry: the piece and its integer score (usage count). */
  final case class UnigramPiece(piece: String, score: Long)

  /** Integer piece cost from an integer score: 10⁶ − ⌊log₂ score⌋. The
    * objective this induces — minimize Σ costs — is an integer-EXACT
    * surrogate for the unigram negative log-likelihood: the 10⁶ base
    * makes PIECE COUNT dominate (every extra piece costs at least one
    * −log p, the dominant term when piece probabilities share a scale)
    * and the binary order of magnitude of the score refines among
    * equal-length segmentations. A transcendental log at micro precision
    * would differ between engines at floor boundaries (1-ulp libm
    * differences), which the hash-exact oracle discipline cannot
    * tolerate; ⌊log₂⌋ is the largest log both engines compute exactly
    * (`length(bin(s)) - 1` in SQL, `63 − numberOfLeadingZeros` here).
    */
  private def pieceCost(score: Long): Long =
    1000000L - (63 - java.lang.Long.numberOfLeadingZeros(math.max(score, 1L)))

  /** Best unigram segmentation of one word under `cost` — Viterbi as a
    * BOUNDED in-row fold: the DP over positions keeps only the last
    * [[UniMaxPieceLen]] states (cost + best path each), so the
    * accumulator is constant-size and the fold is one pass over the
    * word's chars. Candidates scan longest-first with strict-improve
    * replacement — equal-cost ties resolve to the LONGER piece,
    * deterministically, in both engines (the oracle's `list_reduce`
    * scans the same candidate order with the same strict `<`).
    * Multi-char pieces outside the vocab are inadmissible; unknown
    * single chars cost [[UniUnkCost]].
    */
  private def unigramSegment(word: Column, cost: Map[String, Long]): Column = {
    val P = UniMaxPieceLen
    val cmap = typedLit(cost)
    val emptyPath = array().cast("array<string>")
    val inf = lit(UniInf)
    val init = struct(
      array(inf, inf, inf, lit(0L)).as("costs"),
      array(emptyPath, emptyPath, emptyPath, emptyPath).as("paths"))
    def step(acc: Column, i: Column): Column = {
      val cands = (P to 1 by -1).map { l =>
        val piece = word.substr(i - (l - 1), lit(l))
        val prevC = element_at(acc.getField("costs"), P + 1 - l)
        val prevP = element_at(acc.getField("paths"), P + 1 - l)
        val admissible =
          if (l == 1) i >= l
          else i >= l && element_at(cmap, piece).isNotNull
        val c =
          if (l == 1) prevC + coalesce(element_at(cmap, piece), lit(UniUnkCost))
          else prevC + element_at(cmap, piece)
        when(admissible, struct(c.as("c"),
            concat(prevP, array(piece)).as("p")))
          .otherwise(struct(inf.as("c"), emptyPath.as("p")))
      }
      val best = cands.reduceLeft((a, b) =>
        when(b.getField("c") < a.getField("c"), b).otherwise(a))
      struct(
        array(element_at(acc.getField("costs"), 2),
          element_at(acc.getField("costs"), 3),
          element_at(acc.getField("costs"), 4),
          best.getField("c")).as("costs"),
        array(element_at(acc.getField("paths"), 2),
          element_at(acc.getField("paths"), 3),
          element_at(acc.getField("paths"), 4),
          best.getField("p")).as("paths"))
    }
    when(length(word) === 0, emptyPath).otherwise(
      aggregate(sequence(lit(1), length(word)), init, step,
        acc => element_at(acc.getField("paths"), P)))
  }

  /** Weighted single-char and 2..[[UniMaxPieceLen]]-gram counts of the
    * distinct-word table — the unigram seed statistics (SentencePiece
    * seeds from frequent substrings; over whitespace words, word char
    * n-grams ARE the frequent substrings).
    */
  private def charCounts(wf: DataFrame): DataFrame =
    wf.select(col("cnt"), explode(split(col("word"), "")).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("s"))

  private def gramCounts(wf: DataFrame): DataFrame =
    wf.select(col("cnt"), explode(flatten(
        transform(sequence(lit(2), lit(UniMaxPieceLen)), n =>
          when(length(col("word")) >= n,
            transform(sequence(lit(1), length(col("word")) - n + 1),
              i => col("word").substr(i, n)))
            .otherwise(array().cast("array<string>"))))).as("piece"))
      .groupBy("piece").agg(sum(col("cnt")).as("s"))

  /** Train the unigram-LM tokenizer — the SentencePiece-family loop
    * (Kudo 2018) at the [[bpeTrain]]/`pqTrain` driver altitude: seed a
    * large candidate vocab from substring statistics, then iterate
    * E-step (per-word Viterbi under current scores — a distributed fold
    * over the Zipf-small DISTINCT-WORD table, never the corpus) and
    * M-step (piece-usage counts: ONE vocab-keyed agg, ≤ vocab rows to
    * the driver — the driver-decides-small pattern), pruning the
    * lowest-usage multi-char pieces each round while single chars stay
    * for coverage. Scores are integer usage counts end-to-end, so the
    * DuckDB twin re-learns the identical vocab by unrolling the same
    * rounds ([[sqlUnigramCtes]]) — train + apply hash-exact across
    * engines, the `quality_linear_score_trained` discipline.
    */
  def unigramTrain(docs: DataFrame): Seq[UnigramPiece] = {
    val wf = DedupOps.materialize(wordFreq(docs), "unigram_words")
    val chars = charCounts(wf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (chars.isEmpty) return Seq.empty
    val seedMulti = gramCounts(wf)
      .orderBy(col("s").desc, col("piece")).limit(UniSeedMulti).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var vocab: Map[String, Long] = chars ++ seedMulti
    UniPruneSizes.foreach { keep =>
      val costs = vocab.map { case (p, s) => p -> pieceCost(s) }
      val usage = wf
        .select(col("cnt"),
          explode(unigramSegment(col("word"), costs)).as("piece"))
        .groupBy("piece").agg(sum(col("cnt")).as("s"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val keptMulti = usage.filter(_._1.length > 1).toSeq
        .sortBy { case (p, s) => (-s, p) }.take(keep)
      vocab = chars.keys.map(c => c -> usage.getOrElse(c, 0L)).toMap ++ keptMulti
    }
    vocab.toSeq.sortBy(_._1).map { case (p, s) => UnigramPiece(p, s) }
  }

  /** Per-distinct-word unigram piece counts under a trained vocab — the
    * word-table face every corpus-scale consumer joins against: the
    * Viterbi fold runs ONCE per distinct word (the Zipf amortization —
    * per-occurrence recompute would re-fold the corpus), and corpus
    * tokenization becomes a broadcast-scale hash-join probe.
    */
  private def wordPieceCounts(wf: DataFrame,
      vocab: Seq[UnigramPiece]): DataFrame = {
    val costs = vocab.map(u => u.piece -> pieceCost(u.score)).toMap
    wf.select(col("word"),
      size(unigramSegment(col("word"), costs)).cast("long").as("n_p"))
  }

  /** Tokenize the corpus with the TRAINED unigram vocab — output shape
    * identical to [[tokenizeBpe]] (doc_id, source, n_words, n_tokens) so
    * the packing/fertility consumers take either tokenizer unchanged.
    * Unlike BPE's zero-shuffle per-occurrence kernel, the unigram fold
    * is priced per DISTINCT word and joined back (broadcast — the word
    * table is Zipf-small), trading one broadcast probe for never folding
    * the same word twice.
    */
  def tokenizeUnigram(docs: DataFrame, vocab: Seq[UnigramPiece]): DataFrame = {
    val wf = wordFreq(docs)
    val wp = broadcast(wordPieceCounts(wf, vocab))
    fanout(docs)
      .select(col("doc_id"), col("source"),
        explode_outer(TextOps.toksOf(docs)).as("word"))
      .join(wp, Seq("word"), "left")
      .groupBy("doc_id", "source")
      .agg(count(when(col("word") =!= "", 1)).as("n_words"),
        coalesce(sum(col("n_p")), lit(0L)).as("n_tokens"))
  }

  /** [[tokenizeUnigram]] with BYTE FALLBACK — the production tokenizer
    * contract (SentencePiece `--byte_fallback`, every Llama-family
    * tokenizer): no OOV by construction. A character outside the vocab
    * does not emit one opaque UNK; it decomposes into its UTF-8 bytes,
    * each a byte token from the always-present 256-entry byte alphabet.
    * Structurally the Viterbi PATH is unchanged — an uncovered char can
    * only ever be covered by its own single-char step (no multi-char
    * vocab piece contains it) — so fallback changes the COUNTING, not
    * the segmentation: an uncovered char contributes octet_length(char)
    * tokens. Surfaced per doc: `n_fallback_chars` / `n_fallback_bytes`
    * and `fb_rate_micro` (fallback bytes per million tokens) — the
    * tokenizer-health number: a rising rate means the corpus drifted
    * off the vocab's training distribution.
    *
    * Same scale shape as [[tokenizeUnigram]]: the fold runs per
    * DISTINCT word, fallback accounting rides the same in-row pass, and
    * the corpus side is one broadcast probe.
    */
  def tokenizeUnigramByteFb(docs: DataFrame,
      vocab: Seq[UnigramPiece]): DataFrame = {
    val wp = broadcast(wordByteFbCounts(wordFreq(docs), vocab))
    fanout(docs)
      .select(col("doc_id"), col("source"),
        explode_outer(TextOps.toksOf(docs)).as("word"))
      .join(wp, Seq("word"), "left")
      .groupBy("doc_id", "source")
      .agg(count(when(col("word") =!= "", 1)).as("n_words"),
        coalesce(sum(col("n_pieces") - col("n_fb_chars") + col("n_fb_bytes")),
          lit(0L)).as("n_tokens"),
        coalesce(sum(col("n_fb_chars")), lit(0L)).as("n_fallback_chars"),
        coalesce(sum(col("n_fb_bytes")), lit(0L)).as("n_fallback_bytes"))
      .withColumn("fb_rate_micro",
        when(col("n_tokens") > 0,
          expr(microRatio("n_fallback_bytes", "n_tokens")))
          .otherwise(lit(0L)))
  }

  /** Per-distinct-word byte-fallback accounting: piece count plus the
    * uncovered-piece (char, byte) tallies — one in-row pass over the
    * Viterbi path, vocab membership via the same map the fold read.
    */
  private def wordByteFbCounts(wf: DataFrame,
      vocab: Seq[UnigramPiece]): DataFrame = {
    val costs = vocab.map(u => u.piece -> pieceCost(u.score)).toMap
    val cmap = typedLit(costs)
    wf.select(col("word"),
        unigramSegment(col("word"), costs).as("path"))
      .withColumn("fb",
        filter(col("path"), p => element_at(cmap, p).isNull))
      .select(col("word"),
        size(col("path")).cast("long").as("n_pieces"),
        size(col("fb")).cast("long").as("n_fb_chars"),
        coalesce(aggregate(col("fb"), lit(0L),
          (a, p) => a + length(encode(p, "UTF-8")).cast("long")), lit(0L))
          .as("n_fb_bytes"))
  }

  /** Oracle key: vocab trained on the RAW corpus, applied to the corpus
    * with a deterministic planted OOV tail (`" å§"` on doc_id % 10 == 0
    * — two chars outside the English fixture's char alphabet, two UTF-8
    * bytes each; the multimodal declared-fake discipline, so fallback
    * fires verifiably in both engines).
    */
  def tokenizeUnigramByteFbKey(docs: DataFrame,
      vocab: Seq[UnigramPiece]): DataFrame = {
    val planted = docs.drop(TextOps.ToksCol)
      .withColumn("text",
        when(col("doc_id") % 10 === 0,
          concat(coalesce(col("text"), lit("")), lit(" å§")))
          .otherwise(col("text")))
    tokenizeUnigramByteFb(planted, vocab)
  }

  def sqlTokenizeUnigramByteFb: String = {
    val rounds = UniPruneSizes.length
    s"""WITH ${sqlUnigramCtes()},
       |planted AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 10 = 0 THEN coalesce(text, '') || ' å§'
       |         ELSE text END AS text
       |  FROM documents),
       |pw AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(${sqlTokens("text")}) AS word FROM planted)
       |  WHERE word <> '' GROUP BY word),
       |pe AS MATERIALIZED (
       |  SELECT word,
       |    CAST(len(path) AS BIGINT) AS n_pieces,
       |    CAST(len(fb) AS BIGINT) AS n_fb_chars,
       |    CAST(coalesce(list_sum(list_transform(fb, p -> strlen(p))), 0)
       |      AS BIGINT) AS n_fb_bytes
       |  FROM (
       |    SELECT word, path, list_filter(path, p -> len(mp[p]) = 0) AS fb
       |    FROM (SELECT word, mp, ${sqlUniFold} AS path
       |          FROM pw, umap$rounds)))
       |SELECT doc_id, source,
       |  CAST(count(*) FILTER (WHERE word <> '') AS BIGINT) AS n_words,
       |  CAST(coalesce(sum(p.n_pieces - p.n_fb_chars + p.n_fb_bytes), 0)
       |    AS BIGINT) AS n_tokens,
       |  CAST(coalesce(sum(p.n_fb_chars), 0) AS BIGINT) AS n_fallback_chars,
       |  CAST(coalesce(sum(p.n_fb_bytes), 0) AS BIGINT) AS n_fallback_bytes,
       |  CASE WHEN coalesce(sum(p.n_pieces - p.n_fb_chars + p.n_fb_bytes), 0) > 0
       |    THEN ${sqlMicroRatio(
                "CAST(coalesce(sum(p.n_fb_bytes), 0) AS BIGINT)",
                "CAST(coalesce(sum(p.n_pieces - p.n_fb_chars + p.n_fb_bytes), 0) AS BIGINT)")}
       |    ELSE 0 END AS fb_rate_micro
       |FROM (
       |  SELECT doc_id, source, unnest(${sqlTokens("text")}) AS word
       |  FROM planted) d
       |LEFT JOIN pe p USING (word)
       |GROUP BY doc_id, source""".stripMargin
  }

  /** Side-by-side fertility of the two trained tokenizers per source —
    * the evaluation row a tokenizer bake-off reports: same corpus, same
    * word counts, BPE vs unigram tokens-per-word in exact micros.
    */
  def tokenizerFertilityCompare(docs: DataFrame, merges: Seq[BpeMerge],
      vocab: Seq[UnigramPiece]): DataFrame = {
    val bpe = bpeFertility(docs, merges)
      .select(col("source"), col("n_words"),
        col("n_tokens").as("bpe_tokens"),
        col("fertility_micro").as("bpe_fertility_micro"))
    val uni = tokenizeUnigramByteFb(docs, vocab)
      .groupBy("source")
      .agg(sum("n_tokens").as("unigram_tokens"),
        sum("n_fallback_bytes").as("u_fb_bytes"))
    bpe.join(uni, Seq("source"))
      .select(col("source"), col("n_words"), col("bpe_tokens"),
        col("unigram_tokens"), col("bpe_fertility_micro"),
        when(col("n_words") > 0,
          expr(microRatio("unigram_tokens", "n_words"))).otherwise(lit(0L))
          .as("unigram_fertility_micro"),
        // tokenizer health: fallback bytes per million unigram tokens —
        // 0 when the vocab covers the corpus alphabet (always true when
        // tokenizing the training corpus itself); nonzero means the
        // corpus drifted off the vocab's training distribution
        when(col("unigram_tokens") > 0,
          expr(microRatio("u_fb_bytes", "unigram_tokens"))).otherwise(lit(0L))
          .as("unigram_fallback_micro"))
  }

  /** The Viterbi fold of [[unigramSegment]] in DuckDB — same rolling
    * 4-state DP, same longest-first strict-`<` candidate scan, over a
    * piece→cost map column `mp` (cost already baked in at map build).
    * Accumulator and elements share one struct type (DuckDB's
    * `list_reduce` has no initial-accumulator form — the [[sqlLearnCtes]]
    * lifting discipline); `best` binds through a single-element
    * `list_transform`, the lambda-scope substitute for a subquery.
    */
  private def sqlUniFold: String = {
    val inf = UniInf
    def cand(l: Int): String = {
      val piece = s"substr(word, CAST(x.pos AS INT) - ${l - 1}, $l)"
      if (l == 1)
        s"struct_pack(c := acc.costs[4] + coalesce(mp[$piece][1], $UniUnkCost), " +
          s"p := list_append(acc.paths[4], $piece))"
      else
        s"CASE WHEN x.pos >= $l AND len(mp[$piece]) > 0 THEN " +
          s"struct_pack(c := acc.costs[${5 - l}] + mp[$piece][1], " +
          s"p := list_append(acc.paths[${5 - l}], $piece)) " +
          s"ELSE struct_pack(c := CAST($inf AS BIGINT), p := []::VARCHAR[]) END"
    }
    val cands = (UniMaxPieceLen to 1 by -1).map(cand).mkString(", ")
    s"""list_reduce(
       |      list_prepend(
       |        struct_pack(pos := CAST(0 AS BIGINT),
       |          costs := [CAST($inf AS BIGINT), $inf, $inf, 0],
       |          paths := [[],[],[],[]]::VARCHAR[][]),
       |        list_transform(range(1, length(word) + 1), i ->
       |          struct_pack(pos := i, costs := NULL::BIGINT[],
       |            paths := NULL::VARCHAR[][]))),
       |      (acc, x) -> list_transform(
       |        [list_reduce([$cands],
       |          (ca, cb) -> CASE WHEN cb.c < ca.c THEN cb ELSE ca END)],
       |        best -> struct_pack(pos := x.pos,
       |          costs := [acc.costs[2], acc.costs[3], acc.costs[4], best.c],
       |          paths := [acc.paths[2], acc.paths[3], acc.paths[4], best.p]))[1]
       |    ).paths[4]""".stripMargin
  }

  /** CTE chain re-learning the unigram vocab in SQL — the training loop
    * unrolled exactly as the Spark driver runs it: `uw` (word, cnt),
    * seed chars + top-[[UniSeedMulti]] grams, then per round a map
    * build, an E-step fold, an M-step usage agg, and the prune — ending
    * at `uvocab${rounds}` (the final vocab) and `ue${rounds+1}` /
    * `uwp` (the final per-word segmentation + piece counts). Words with
    * empty text never enter `uw` ('' is cut), mirroring [[wordFreq]].
    */
  private[ops] def sqlUnigramCtes(table: String = "documents"): String = {
    val rounds = UniPruneSizes.length
    val base =
      s"""uw AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(${sqlTokens("text")}) AS word FROM $table)
         |  WHERE word <> '' GROUP BY word),
         |uch AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS s FROM (
         |    SELECT cnt, unnest(string_split(word, '')) AS piece FROM uw)
         |  GROUP BY piece),
         |ugr AS (
         |  SELECT piece, s FROM (
         |    SELECT piece, CAST(sum(cnt) AS BIGINT) AS s FROM (
         |      SELECT cnt, unnest(flatten(list_transform(
         |        range(2, ${UniMaxPieceLen + 1}), n ->
         |          CASE WHEN length(word) >= n THEN
         |            list_transform(range(1, length(word) - n + 2), i ->
         |              substr(word, CAST(i AS INT), CAST(n AS INT)))
         |          ELSE []::VARCHAR[] END))) AS piece
         |      FROM uw)
         |    GROUP BY piece)
         |  ORDER BY s DESC, piece LIMIT $UniSeedMulti),
         |uvocab0 AS (SELECT piece, s FROM uch UNION ALL SELECT piece, s FROM ugr)""".stripMargin
    val steps = (1 to rounds).map { r =>
      val keep = UniPruneSizes(r - 1)
      s"""umap${r - 1} AS (
         |  SELECT map_from_entries(list(struct_pack(k := piece,
         |    v := 1000000 - (length(bin(greatest(s, 1))) - 1)))) AS mp
         |  FROM uvocab${r - 1}),
         |ue$r AS MATERIALIZED (
         |  SELECT word, cnt,
         |    ${sqlUniFold} AS path
         |  FROM uw, umap${r - 1}),
         |um$r AS (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS s FROM (
         |    SELECT cnt, unnest(path) AS piece FROM ue$r)
         |  GROUP BY piece),
         |uvocab$r AS (
         |  SELECT c.piece, CAST(coalesce(u.s, 0) AS BIGINT) AS s
         |  FROM uch c LEFT JOIN um$r u USING (piece)
         |  UNION ALL
         |  SELECT piece, s FROM (
         |    SELECT piece, s FROM um$r WHERE length(piece) > 1
         |    ORDER BY s DESC, piece LIMIT $keep))""".stripMargin
    }
    val finalSeg =
      s"""umap$rounds AS (
         |  SELECT map_from_entries(list(struct_pack(k := piece,
         |    v := 1000000 - (length(bin(greatest(s, 1))) - 1)))) AS mp
         |  FROM uvocab$rounds),
         |ue${rounds + 1} AS MATERIALIZED (
         |  SELECT word, cnt, mp,
         |    ${sqlUniFold} AS path
         |  FROM uw, umap$rounds),
         |uwp AS (
         |  SELECT word, CAST(len(path) AS BIGINT) AS n_p,
         |    CAST(len(fb) AS BIGINT) AS n_fb_chars,
         |    CAST(coalesce(list_sum(list_transform(fb, p -> strlen(p))), 0)
         |      AS BIGINT) AS n_fb_bytes
         |  FROM (
         |    SELECT word, path, list_filter(path, p -> len(mp[p]) = 0) AS fb
         |    FROM ue${rounds + 1}))""".stripMargin
    (base +: steps :+ finalSeg).mkString(",\n")
  }

  def sqlUnigramTrain: String =
    s"""WITH ${sqlUnigramCtes()}
       |SELECT piece, s AS score FROM uvocab${UniPruneSizes.length}""".stripMargin

  def sqlTokenizeUnigram: String =
    s"""WITH ${sqlUnigramCtes()}
       |SELECT doc_id, source,
       |  CAST(count(*) FILTER (WHERE word <> '') AS BIGINT) AS n_words,
       |  CAST(coalesce(sum(p.n_p), 0) AS BIGINT) AS n_tokens
       |FROM (
       |  SELECT doc_id, source, unnest(${sqlTokens("text")}) AS word
       |  FROM documents) d
       |LEFT JOIN uwp p USING (word)
       |GROUP BY doc_id, source""".stripMargin

  def sqlTokenizerFertilityCompare: String =
    s"""WITH ${sqlLearnCtes(NumMerges)},
       |${sqlUnigramCtes()},
       |occ AS MATERIALIZED (
       |  SELECT doc_id, source, unnest(${sqlTokens("text")}) AS word
       |  FROM documents),
       |bpeagg AS (
       |  SELECT source,
       |    CAST(count(*) FILTER (WHERE word <> '') AS BIGINT) AS n_words,
       |    CAST(coalesce(sum(len(v.syms)), 0) AS BIGINT) AS bpe_tokens
       |  FROM occ LEFT JOIN v$NumMerges v USING (word)
       |  GROUP BY source),
       |uniagg AS (
       |  SELECT source,
       |    CAST(coalesce(sum(p.n_p - p.n_fb_chars + p.n_fb_bytes), 0)
       |      AS BIGINT) AS unigram_tokens,
       |    CAST(coalesce(sum(p.n_fb_bytes), 0) AS BIGINT) AS u_fb_bytes
       |  FROM occ LEFT JOIN uwp p USING (word)
       |  GROUP BY source)
       |SELECT b.source, b.n_words, b.bpe_tokens, u.unigram_tokens,
       |  CASE WHEN b.n_words > 0
       |    THEN ${sqlMicroRatio("b.bpe_tokens", "b.n_words")} ELSE 0 END
       |    AS bpe_fertility_micro,
       |  CASE WHEN b.n_words > 0
       |    THEN ${sqlMicroRatio("u.unigram_tokens", "b.n_words")} ELSE 0 END
       |    AS unigram_fertility_micro,
       |  CASE WHEN u.unigram_tokens > 0
       |    THEN ${sqlMicroRatio("u.u_fb_bytes", "u.unigram_tokens")} ELSE 0 END
       |    AS unigram_fallback_micro
       |FROM bpeagg b JOIN uniagg u USING (source)""".stripMargin

  /** Persist a learned merge table — the tokenizer's model artifact, so
    * training runs ONCE and every downstream job (tokenize, pack, data
    * card) loads the same merges instead of retraining (the
    * [[SimilarityOps.writeIvfIndex]] train-once/serve-many discipline).
    * `rank` is the training order, which IS Sennrich's application
    * priority order (see [[tokenizeBpe]]) — the round-trip must preserve
    * it exactly, hence an explicit column rather than file order.
    */
  def writeBpeModel(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[BpeMerge], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case (m, i) => (i.toLong, m.p1, m.p2, m.count) }
      .toDF("rank", "p1", "p2", "count")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted merge table in training order. */
  def readBpeModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[BpeMerge] =
    spark.read.parquet(path).select("rank", "p1", "p2", "count")
      .collect()
      .sortBy(_.getLong(0))
      .map(r => BpeMerge(r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq
}
