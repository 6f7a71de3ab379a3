package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.ArrayFunctions.common_prefix_len
import org.apache.spark.sql.graftext.Scratch

/** Corpus SUFFIX ARRAY by distributed prefix doubling, and its first
  * consumer — the exact-repeat detector that underpins substring-level
  * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
  * Models Better": ExactSubstr builds a suffix array over the corpus
  * and removes long repeats). The [[PretrainOps]] span/winnow family is
  * the HASH approximation of this; the suffix array is the exact
  * instrument.
  *
  * Algorithm (Manber–Myers doubling, the standard distributed SA
  * construction): rank every position by its character, then repeatedly
  * re-rank by the pair (rank[i], rank[i+k]) with k doubling — after
  * ⌈log₂ maxlen⌉ rounds ranks order suffixes exactly. Each round is
  * TWO bounded shuffles (the shifted-rank self-join and the dense
  * re-rank) — no suffix STRING ever moves; the shuffled rows are
  * (doc_id, pos, rank) longs. The dense re-rank deliberately avoids an
  * unpartitioned window: distinct keys are range-SORTED as an RDD and
  * `zipWithIndex`'d (a distributed sort + O(partitions) offset pass),
  * which is also how the FINAL total order is emitted. A suffix array
  * IS a sorted order — the log-round sorts are the operator's honest
  * cost, and the literature's (at 100 TB, production ExactSubstr builds
  * per-shard arrays and merges, which this per-doc-corpus form
  * composes into).
  *
  * Parity: initial character ranks sort the alphabet by CODEPOINT
  * (NOT Java's UTF-16 code-unit order — they disagree above the BMP),
  * because DuckDB's binary collation is UTF-8 byte order = codepoint
  * order; every later comparison is integer ranks in both engines.
  * Shorter-prefix suffixes win ties via the −1 missing-rank sentinel;
  * IDENTICAL suffixes (identical docs exist in any real corpus) can
  * never be separated by content and take the (doc_id, pos) tiebreak
  * in both engines.
  */
object SuffixOps {

  /** Probe width (chars) for [[saLongestRepeat]]'s LCP — capped so both
    * engines pay O(cap) per adjacent pair instead of O(maxlen²) oracle
    * cost; a repeat reaching the cap reports `capped = true` (the
    * production setting mirrors the dedup span width of interest).
    */
  val SaLcpCap = 64

  /** Doubling seed width: initial ranks come from the [[SaSeedWidth]]-
    * char window at each position (string-sorted — a fixed window near
    * the doc end IS the true remaining suffix, so prefix-first string
    * order is exactly suffix order there), which removes log₂(width)
    * doubling rounds outright. Each round is job-overhead-bound at
    * interactive scale, so fewer rounds is the lever: 16 cuts 10 rounds
    * to 6 on ~600-char docs (measured 15 → ~9 s on the sf0.1 shard).
    */
  val SaSeedWidth = 16

  /** Suffix comparisons happen in UTF-8 BYTE order (Java String order is
    * UTF-16 code-unit order — they disagree above the BMP, and the
    * oracle's binary collation is byte order); shared by the shard build
    * and the cross-shard merge.
    */
  private val byteOrd: Ordering[Array[Byte]] = new Ordering[Array[Byte]]
      with Serializable {
    override def compare(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      var c = 0
      while (i < n && c == 0) {
        c = (a(i) & 0xff) - (b(i) & 0xff)
        i += 1
      }
      if (c != 0) c else a.length - b.length
    }
  }

  /** The global suffix array: one row per character position, ordered
    * by suffix string (byte order), ties by (doc_id, pos). Output:
    * (sa_rank, doc_id, pos) with 0-based pos.
    */
  def suffixArray(docs: DataFrame): DataFrame = Scratch.rounds { loop =>
    val spark = docs.sparkSession
    import spark.implicits._
    // seed windows in ONE kernel pass per doc (char_windows) — the
    // per-position `substring(t, pos+1, w)` idiom re-scans the string
    // from byte 0 per position: O(n²) bytes per document
    val chars = DedupOps.fanout(docs)
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graftext.ArrayFunctions
          .char_windows(col("t"), SaSeedWidth)))
      .toDF("doc_id", "pos", "w")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w"))
    // per-round lineage truncation (the connectedComponents discipline):
    // elems feeds BOTH sides of the shift join AND the re-rank, so
    // without truncation the logical plan TRIPLES per round — ~3^10
    // nodes by convergence, which is an analysis-time/driver-heap
    // explosion long before any executor works (measured: rounds went
    // 1 s → 30+ s on the 150k-char fixture). localCheckpoint resets the
    // plan to computed blocks; CheckpointDirConf swaps in the durable
    // parquet round-trip on a real cluster.
    val runId = java.util.UUID.randomUUID().toString.take(8)
    def truncate(df: DataFrame, name: String): DataFrame =
      DedupOps.truncateIter(df, s"sa-$runId", name)
    val seedRanks = chars.select("w").distinct().as[String].rdd
      .map(w => (w.getBytes(java.nio.charset.StandardCharsets.UTF_8), w))
      .sortBy(_._1)(byteOrd, implicitly[scala.reflect.ClassTag[Array[Byte]]])
      .zipWithIndex()
      .map { case ((_, w), i) => (w, i) }
      .toDF("w", "r0")
    var elems = loop.next(truncate(
      chars.join(seedRanks, Seq("w"))
        .select(col("doc_id"), col("pos"), col("r0").as("r")),
      "sa_iter_0"))
    // 0 for an empty corpus: no rounds, and the emit yields an empty array
    val maxLen = docs.agg(coalesce(max(length(coalesce(col("text"), lit("")))),
      lit(0))).head().getInt(0).toLong
    // fixed ⌈log₂(maxLen/seed)⌉ rounds — no per-round convergence count:
    // the early-exit check cost a job per round and only fires on
    // corpora with NO repeated structure (real text converges in the
    // last rounds; the fixture measured 147k/153k distinct at k=256)
    var k = SaSeedWidth.toLong
    while (k < maxLen) {
      val shifted = elems.select(col("doc_id"),
        (col("pos") - k).as("pos"), col("r").as("r2"))
      val paired = elems.join(shifted, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"), col("r"),
          coalesce(col("r2"), lit(-1L)).as("r2"))
      // dense re-rank of the (r, r2) keys: distinct → range sort →
      // zipWithIndex (deterministic: keys are unique) → join back
      val rankedKeys = paired.select("r", "r2").distinct()
        .as[(Long, Long)].rdd
        .sortBy(identity).zipWithIndex()
        .map { case ((a, b), i) => (a, b, i) }
        .toDF("r", "r2", "nr")
      elems = loop.next(truncate(
        paired.join(rankedKeys, Seq("r", "r2"))
          .select(col("doc_id"), col("pos"), col("nr").as("r")),
        s"sa_iter_$k"))
      k *= 2
    }
    // final emit: ranks order suffix CONTENT; (doc_id, pos) breaks the
    // identical-suffix ties — a unique key, so the sort is deterministic
    loop.out(elems).as[(Long, Long, Long)].rdd
      .map { case (d, p, r) => (r, d, p) }
      .sortBy(identity).zipWithIndex()
      .map { case ((_, d, p), i) => (i, d, p) }
      .toDF("sa_rank", "doc_id", "pos")
  }

  def sqlSuffixArray: String =
    s"""SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT)
       |    AS sa_rank,
       |  doc_id, CAST(pos - 1 AS BIGINT) AS pos
       |FROM (
       |  SELECT doc_id, i AS pos, substr(text, i) AS suf
       |  FROM (SELECT doc_id, coalesce(text, '') AS text,
       |          unnest(range(1, length(coalesce(text, '')) + 1)) AS i
       |        FROM documents WHERE doc_id % 10 = 0))""".stripMargin

  /** The classic suffix-array application: the longest repeated
    * substring in the corpus (cross- or within-doc), found as the
    * maximal LCP of ADJACENT suffix-array entries — any repeat's two
    * occurrences sort adjacent-or-contiguous, so only N−1 pairs are
    * probed, each to [[SaLcpCap]] chars (`capped` says the repeat
    * reaches the probe width). Output: one row (lcp, capped, and the
    * two occurrences). This is ExactSubstr's detection half; the
    * REMOVAL half is [[PretrainOps.dedupSubstringApply]]'s span
    * surgery, which this feeds at the exact (not hashed) level.
    *
    * Scale shape: the pairing is a self-join on sa_rank = sa_rank+1
    * (one shuffle of (rank, doc, pos) longs); only then do the ≤cap-char
    * windows join in from the doc table (2 narrow joins), so suffix
    * strings never ride the big exchange; the argmax is
    * TakeOrderedAndProject.
    */
  def saLongestRepeat(docs: DataFrame): DataFrame =
    saLongestRepeatOn(suffixArray(docs), docs)

  /** [[saLongestRepeat]] over an ALREADY-BUILT suffix array — the face a
    * sweep uses so every SA consumer amortizes one build (the shared
    * token-table discipline; the oracle rebuilds per query, so hash
    * parity proves the sharing is semantics-free).
    */
  def saLongestRepeatOn(sa: DataFrame, docs: DataFrame): DataFrame =
    adjacentLcp(sa, docs)
      .orderBy(col("lcp").desc, col("sa_rank").asc)
      .limit(1)
      .select("lcp", "capped", "doc_a", "pos_a", "doc_b", "pos_b")

  /** Adjacent SA entries with their capped LCP — shared by the
    * longest-repeat argmax and the repeat-coverage union.
    */
  private def adjacentLcp(sa: DataFrame, docs: DataFrame): DataFrame = {
    // LCP windows built ONCE per doc by the char_windows kernel and
    // exploded to (doc, pos, w) rows — O(n·cap) bytes total. Joining the
    // text and substring-ing per SA row would re-scan O(n) bytes per
    // position (quadratic per doc); shipping the whole window ARRAY per
    // SA row would be quadratic in shuffle bytes instead.
    val wins = DedupOps.materialize(
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
        .select(col("doc_id"),
          posexplode(org.apache.spark.sql.graftext.ArrayFunctions
            .char_windows(col("t"), SaLcpCap)))
        .toDF("doc_id", "pos", "w")
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w")),
      "sa_lcp_windows")
    def win(saDf: DataFrame, suffix: String): DataFrame =
      saDf.join(wins, Seq("doc_id", "pos"))
        .select(col("sa_rank"),
          col("doc_id").as(s"doc_$suffix"), col("pos").as(s"pos_$suffix"),
          col("w").as(s"w_$suffix"))
    val a = win(sa, "a")
    val b = win(sa.withColumn("sa_rank", col("sa_rank") - 1), "b")
    a.join(b, Seq("sa_rank"))
      .select(col("sa_rank"), col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"),
        common_prefix_len(col("w_a"), col("w_b")).cast("long").as("lcp"))
      .withColumn("capped", col("lcp") === SaLcpCap)
  }

  /** Minimum repeat length (chars) for [[saRepeatCoverage]] — the
    * ExactSubstr paper removes repeats ≥ 50 BPE tokens; 20 chars keeps
    * the synthetic corpus populated.
    */
  val SaRepeatMin = 20

  /** EXACT-repeat coverage per document — the corpus diagnostic behind
    * ExactSubstr dedup: what fraction of each doc's characters sits
    * inside an exact repeated substring of ≥ [[SaRepeatMin]] chars
    * (found as adjacent-SA LCP intervals; the probe caps at
    * [[SaLcpCap]], and a longer repeat is still fully covered because
    * EVERY position inside it heads its own adjacent pair — the
    * interval union closes over the chain). Zero-coverage docs are
    * present with 0 — a gate can assert "coverage < τ" corpus-wide.
    *
    * Scale shape: pairs as [[saLongestRepeat]]; qualifying intervals
    * explode into covered positions (bounded by total repeat VOLUME,
    * which is the quantity being measured — a corpus where this
    * explodes is a corpus that needed the dedup), then one distinct +
    * one per-doc agg.
    */
  def saRepeatCoverage(docs: DataFrame): DataFrame =
    saRepeatCoverageOn(suffixArray(docs), docs)

  def saRepeatCoverageOn(sa: DataFrame, docs: DataFrame): DataFrame = {
    val rep = adjacentLcp(sa, docs).filter(col("lcp") >= SaRepeatMin)
    val covered = rep.select(col("doc_a").as("doc_id"),
        explode(sequence(col("pos_a"), col("pos_a") + col("lcp") - 1))
          .as("p"))
      .union(rep.select(col("doc_b").as("doc_id"),
        explode(sequence(col("pos_b"), col("pos_b") + col("lcp") - 1))
          .as("p")))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    docs.select(col("doc_id"),
        length(coalesce(col("text"), lit(""))).cast("long").as("n_chars"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
      .withColumn("coverage",
        when(col("n_chars") > 0,
          col("n_covered").cast("double") / col("n_chars").cast("double")))
  }

  def sqlSaRepeatCoverage: String =
    s"""WITH sa AS (
       |  SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT)
       |      AS sa_rank,
       |    doc_id, CAST(pos - 1 AS BIGINT) AS pos,
       |    substr(suf, 1, $SaLcpCap) AS w
       |  FROM (
       |    SELECT doc_id, i AS pos, substr(text, i) AS suf
       |    FROM (SELECT doc_id, coalesce(text, '') AS text,
       |            unnest(range(1, length(coalesce(text, '')) + 1)) AS i
       |          FROM documents WHERE doc_id % 10 = 0))),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
       |    b.doc_id AS doc_b, b.pos AS pos_b,
       |    CAST(list_max(list_prepend(0,
       |      list_filter(range(1, least(length(a.w), length(b.w)) + 1),
       |        i -> substr(a.w, 1, i) = substr(b.w, 1, i)))) AS BIGINT) AS lcp
       |  FROM sa a JOIN sa b ON b.sa_rank = a.sa_rank + 1),
       |rep AS (SELECT * FROM pairs WHERE lcp >= $SaRepeatMin),
       |covered AS (
       |  SELECT doc_id, count(*) AS n_covered FROM (
       |    SELECT DISTINCT doc_id, p FROM (
       |      SELECT doc_a AS doc_id, unnest(range(pos_a, pos_a + lcp)) AS p
       |      FROM rep
       |      UNION ALL
       |      SELECT doc_b AS doc_id, unnest(range(pos_b, pos_b + lcp)) AS p
       |      FROM rep))
       |  GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(length(coalesce(d.text, '')) AS BIGINT) AS n_chars,
       |  CAST(coalesce(c.n_covered, 0) AS BIGINT) AS n_covered,
       |  CASE WHEN length(coalesce(d.text, '')) > 0
       |    THEN CAST(coalesce(c.n_covered, 0) AS DOUBLE)
       |      / length(coalesce(d.text, '')) END AS coverage
       |FROM documents d LEFT JOIN covered c USING (doc_id)
       |WHERE d.doc_id % 10 = 0""".stripMargin

  def sqlSaLongestRepeat: String =
    s"""WITH sa AS (
       |  SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT)
       |      AS sa_rank,
       |    doc_id, CAST(pos - 1 AS BIGINT) AS pos,
       |    substr(suf, 1, $SaLcpCap) AS w
       |  FROM (
       |    SELECT doc_id, i AS pos, substr(text, i) AS suf
       |    FROM (SELECT doc_id, coalesce(text, '') AS text,
       |            unnest(range(1, length(coalesce(text, '')) + 1)) AS i
       |          FROM documents WHERE doc_id % 10 = 0))),
       |pairs AS (
       |  SELECT a.sa_rank, a.doc_id AS doc_a, a.pos AS pos_a,
       |    b.doc_id AS doc_b, b.pos AS pos_b,
       |    CAST(list_max(list_prepend(0,
       |      list_filter(range(1, least(length(a.w), length(b.w)) + 1),
       |        i -> substr(a.w, 1, i) = substr(b.w, 1, i)))) AS BIGINT) AS lcp
       |  FROM sa a JOIN sa b ON b.sa_rank = a.sa_rank + 1)
       |SELECT lcp, lcp = $SaLcpCap AS capped,
       |  doc_a, pos_a, doc_b, pos_b
       |FROM pairs
       |ORDER BY lcp DESC, sa_rank ASC
       |LIMIT 1""".stripMargin

  // ---------------------------------------------------- cross-shard merge

  /** EXACT k-way merge of per-shard suffix arrays into the global array
    * of the union corpus — the half of the sharded-build discipline the
    * per-shard keys alone leave open (a repeat whose two occurrences
    * land in different shards is invisible to any single shard's array;
    * production ExactSubstr builds per-shard arrays precisely so THIS
    * step can combine them, Lee et al. 2022 §4).
    *
    * Shard-local ranks are incomparable across shards, so any merge must
    * compare CONTENT for cross-shard decisions — the single-node
    * production merge compares suffix bytes directly; the distributed
    * analog grows a per-entry COMPARISON KEY, window by window, only
    * while the entry's order is still ambiguous:
    *
    *  1. seed: every entry's key is its [[SaLcpCap]]-char window at its
    *     own position (the char_windows kernel — one pass per doc).
    *     Suffix order IS byte order of these keys except WITHIN a group
    *     of key-equal entries.
    *  2. round d: only groups that are still AMBIGUOUS — more than one
    *     member, spanning ≥ 2 shards, with ≥ 1 suffix extending past
    *     d·cap (decided from doc lengths, no probe I/O) — append their
    *     window at offset d·cap to the key (a suffix that ends first
    *     appends nothing, leaving its key a strict PREFIX of its
    *     group-mates' — byte order then puts it first, which IS
    *     shorter-suffix-first suffix order). Everyone else PARKS: a
    *     group confined to one shard never probes at all, because the
    *     shard's own array already orders it exactly (local rank is
    *     full suffix order there) — this is what the per-shard builds
    *     buy the merge. Rounds therefore touch ONLY the suffixes inside
    *     long cross-shard repeats, a set that collapses after the first
    *     extension on any real corpus.
    *  3. exit when no ambiguous group remains: surviving multi-shard
    *     key-ties are byte-identical suffixes and take the (doc_id,
    *     pos) tiebreak, exactly the tiebreak identical suffixes take in
    *     [[suffixArray]] and the oracle. ONE global range-sort by
    *     (key bytes, group tiebreak) + zipWithIndex then emits the
    *     merged ranks — Spark's range-partitioned sort is the k-way
    *     merge network.
    *
    * The result is the TRUE suffix array of the union — spec-asserted
    * row-identical to [[suffixArray]] on the unioned corpus. Cost
    * shape: one groupBy over the entries (the seed ambiguity check),
    * ⌈L/cap⌉ rounds touching only still-ambiguous entries (L = the
    * longest cross-shard repeat, NOT the longest doc), and one global
    * sort whose key payload is cap bytes per entry plus the repeat
    * volume — the deep keys belong to exactly the entries inside long
    * cross-shard repeats, the quantity ExactSubstr exists to remove. A
    * pathological corpus (two identical 1 MB docs in different shards)
    * degrades to L/cap rounds over those docs' positions only — the
    * honest linear cost of comparing L equal bytes, paid cap at a time.
    *
    * `sas` are (sa_rank, doc_id, pos) per-shard arrays; `docs` is the
    * UNION of the shard corpora (doc_id, text). Output like
    * [[suffixArray]]: (sa_rank, doc_id, pos).
    */
  def mergeShardArrays(sas: Seq[DataFrame], docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(sas.nonEmpty, "mergeShardArrays: no shard arrays")
    val cap = SaLcpCap.toLong
    val docLens = docs.select(col("doc_id"),
      length(coalesce(col("text"), lit(""))).cast("long").as("n"))
    // every (doc_id, pos, window) — the probe table, one kernel pass/doc
    val wins = DedupOps.materializeScoped(
      docs.select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
        .select(col("doc_id"),
          posexplode(org.apache.spark.sql.graftext.ArrayFunctions
            .char_windows(col("t"), SaLcpCap)))
        .toDF("doc_id", "pos", "w")
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("w")),
      "sa_merge_windows")
    val entries = sas.zipWithIndex.map { case (sa, i) =>
      sa.select(lit(i).as("shard"), col("sa_rank").as("lr"),
        col("doc_id"), col("pos"))
    }.reduce(_ unionByName _)
      .join(docLens, "doc_id")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    // every round goes to the caller's scope: the parked frames read
    // them lazily until the caller's action
    def truncate(df: DataFrame, name: String): DataFrame =
      Scratch.keep(DedupOps.truncateIter(df, s"sa-merge-$runId", name))
    // ambiguity of a key-equal group, decided from counts + doc lengths
    def ambiguity(df: DataFrame, off: Long): DataFrame =
      df.groupBy("key").agg(
        (count(lit(1)) > 1 && countDistinct(col("shard")) > 1 &&
          max((col("pos") + off) < col("n"))).as("ambiguous"))
    val seeded = truncate(
      entries.join(wins, Seq("doc_id", "pos")).withColumnRenamed("w", "key"),
      "merge_seed")
    // geometric deepening: round r appends 2^(r-1) probe windows to the
    // still-ambiguous keys, so a cross-shard repeat of length L resolves
    // in O(log(L/cap)) ROUNDS while total probe I/O stays O(L/cap)
    // windows per deep entry (plus ≤ 2× overshoot on the final round) —
    // at interactive scale the round count, not the probe bytes, is the
    // cost (the SaSeedWidth lesson), and each round touches ONLY the
    // entries still inside unresolved cross-shard repeats. Parked
    // frames stay LAZY: their lineage is one join off the checkpointed
    // round, so re-evaluation at the final union re-runs only that
    // round's small ambiguity agg instead of checkpointing every
    // parked row eagerly.
    var parked = Seq.empty[DataFrame]
    var active = seeded
    var nextOff = cap
    var batch = 1
    var d = 1
    var remaining = true
    while (remaining) {
      val flagged = active.join(ambiguity(active, nextOff), "key")
      parked = parked :+ flagged.filter(!col("ambiguous")).drop("ambiguous")
      var extended = flagged.filter(col("ambiguous")).drop("ambiguous")
      var b = 0
      while (b < batch) {
        val off = nextOff + b * cap
        val probeW = wins.select(col("doc_id"),
          (col("pos") - off).as("pos"), col("w").as("wd"))
        extended = extended.join(probeW, Seq("doc_id", "pos"), "left")
          .withColumn("key", concat(col("key"), coalesce(col("wd"), lit(""))))
          .drop("wd")
        b += 1
      }
      val nextActive = truncate(extended, s"merge_active_$d")
      if (nextActive.isEmpty) remaining = false
      else {
        active = nextActive
        nextOff += batch * cap
        batch *= 2
        d += 1
      }
    }
    val all = parked.reduce(_ unionByName _)
    // group tiebreak: single-shard groups resolve by local rank (full
    // suffix order within a shard); multi-shard key-ties are identical
    // suffixes → (doc_id, pos)
    val multi = all.groupBy("key")
      .agg((countDistinct(col("shard")) > 1).as("multi"))
    val keyed = all.join(multi, "key")
      .select(col("key"),
        when(col("multi"), col("doc_id")).otherwise(col("lr")).as("t1"),
        when(col("multi"), col("pos")).otherwise(lit(0L)).as("t2"),
        col("doc_id"), col("pos"))
    val ord: Ordering[(Array[Byte], Long, Long)] =
      new Ordering[(Array[Byte], Long, Long)] with Serializable {
        override def compare(a: (Array[Byte], Long, Long),
            b: (Array[Byte], Long, Long)): Int = {
          val c = byteOrd.compare(a._1, b._1)
          if (c != 0) c
          else {
            val c2 = java.lang.Long.compare(a._2, b._2)
            if (c2 != 0) c2 else java.lang.Long.compare(a._3, b._3)
          }
        }
      }
    keyed.as[(String, Long, Long, Long, Long)].rdd
      .map { case (k, t1, t2, dId, p) =>
        ((k.getBytes(java.nio.charset.StandardCharsets.UTF_8), t1, t2),
          (dId, p))
      }
      .sortBy(_._1)(ord,
        implicitly[scala.reflect.ClassTag[(Array[Byte], Long, Long)]])
      .zipWithIndex()
      .map { case ((_, (dId, p)), i) => (i, dId, p) }
      .toDF("sa_rank", "doc_id", "pos")
  }

  /** Oracle twin of a merged build over `pred`-selected documents: the
    * true suffix array IS the merge's contract, so the SQL is the plain
    * full suffix order with the shard-union predicate at the scan.
    */
  def sqlSuffixArrayFor(pred: String): String =
    s"""SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT)
       |    AS sa_rank,
       |  doc_id, CAST(pos - 1 AS BIGINT) AS pos
       |FROM (
       |  SELECT doc_id, i AS pos, substr(text, i) AS suf
       |  FROM (SELECT doc_id, coalesce(text, '') AS text,
       |          unnest(range(1, length(coalesce(text, '')) + 1)) AS i
       |        FROM documents WHERE $pred))""".stripMargin

  // ---------------------------------------------------- dedup_substring_sa

  /** ExactSubstr's ACTION at the exact level — the suffix-array-driven
    * twin of [[PretrainOps.dedupSubstringTrim]]'s hash stand-in (Lee et
    * al. 2022: remove long repeats found via the suffix array): per doc,
    * the MERGED 1-based CHAR ranges covered by exact repeats of
    * ≥ [[SaRepeatMin]] chars (adjacent-SA LCP intervals from BOTH
    * occurrences, the [[saRepeatCoverage]] inventory, coalesced by the
    * shared interval sweep [[PretrainOps.mergeIntervals]]), how many
    * chars they remove, and the survivors. A doc with no exact repeat
    * survives whole (empty `ranges`). Run over a MERGED array
    * ([[mergeShardArrays]]) this closes the sharded discipline
    * end-to-end: a cross-shard repeat lands in the trim instructions of
    * both its docs, which no per-shard run can produce.
    *
    * Scale shape: repeat intervals are bounded by total repeat VOLUME
    * (the quantity being removed); the sweep distributes by doc; the
    * zero-coverage join is doc_id-keyed.
    */
  def dedupSubstringSaOn(sa: DataFrame, docs: DataFrame): DataFrame = {
    val docLens = docs.select(col("doc_id"),
      length(coalesce(col("text"), lit(""))).cast("long").as("n"))
    val rep = adjacentLcp(sa, docs).filter(col("lcp") >= SaRepeatMin)
    val iv = rep.select(col("doc_a").as("doc_id"),
        (col("pos_a") + 1).as("s"), (col("pos_a") + col("lcp")).as("e"))
      .union(rep.select(col("doc_b").as("doc_id"),
        (col("pos_b") + 1).as("s"), (col("pos_b") + col("lcp")).as("e")))
      .distinct()
      .join(docLens, "doc_id")
      .select("doc_id", "n", "s", "e")
    val perDoc = PretrainOps.mergeIntervals(iv)
      .groupBy(col("doc_id"), col("n"))
      .agg(count(lit(1)).as("n_ranges"),
        sum(col("re") - col("rs") + 1).as("trimmed"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("rs"), col("re")))),
          x => concat(x.getField("rs").cast("string"), lit("-"),
            x.getField("re").cast("string")))).as("ranges"))
    docLens.join(perDoc.drop("n"), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n").as("n_chars"),
        coalesce(col("n_ranges"), lit(0L)).as("n_ranges"),
        coalesce(col("trimmed"), lit(0L)).as("trimmed_chars"),
        (col("n") - coalesce(col("trimmed"), lit(0L))).as("surviving_chars"),
        coalesce(col("ranges"), lit("")).as("ranges"))
  }

  /** Oracle twin of [[dedupSubstringSaOn]] over `pred`-selected docs:
    * the full SA → adjacent capped LCP → ≥min intervals (both sides) →
    * interval sweep → per-doc merged ranges chain in one SQL statement.
    */
  def sqlDedupSubstringSaFor(pred: String): String =
    s"""WITH sa AS (
       |  SELECT CAST(row_number() OVER (ORDER BY suf, doc_id, pos) - 1 AS BIGINT)
       |      AS sa_rank,
       |    doc_id, CAST(pos - 1 AS BIGINT) AS pos,
       |    substr(suf, 1, $SaLcpCap) AS w
       |  FROM (
       |    SELECT doc_id, i AS pos, substr(text, i) AS suf
       |    FROM (SELECT doc_id, coalesce(text, '') AS text,
       |            unnest(range(1, length(coalesce(text, '')) + 1)) AS i
       |          FROM documents WHERE $pred))),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, a.pos AS pos_a,
       |    b.doc_id AS doc_b, b.pos AS pos_b,
       |    CAST(list_max(list_prepend(0,
       |      list_filter(range(1, least(length(a.w), length(b.w)) + 1),
       |        i -> substr(a.w, 1, i) = substr(b.w, 1, i)))) AS BIGINT) AS lcp
       |  FROM sa a JOIN sa b ON b.sa_rank = a.sa_rank + 1),
       |rep AS (SELECT * FROM pairs WHERE lcp >= $SaRepeatMin),
       |iv AS (
       |  SELECT DISTINCT doc_id, s, e FROM (
       |    SELECT doc_a AS doc_id, pos_a + 1 AS s, pos_a + lcp AS e FROM rep
       |    UNION ALL
       |    SELECT doc_b AS doc_id, pos_b + 1 AS s, pos_b + lcp AS e FROM rep)),
       |flagged AS (
       |  SELECT doc_id, s, e,
       |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
       |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) + 1 THEN 1 ELSE 0 END AS new_grp
       |  FROM iv),
       |grp AS (
       |  SELECT doc_id, s, e,
       |    sum(new_grp) OVER (PARTITION BY doc_id ORDER BY s, e
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM flagged),
       |r AS (
       |  SELECT doc_id, grp, min(s) AS rs, max(e) AS re
       |  FROM grp GROUP BY doc_id, grp),
       |per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ranges,
       |    CAST(sum(re - rs + 1) AS BIGINT) AS trimmed,
       |    string_agg(rs || '-' || re, ',' ORDER BY rs) AS ranges
       |  FROM r GROUP BY doc_id)
       |SELECT d.doc_id,
       |  CAST(length(coalesce(d.text, '')) AS BIGINT) AS n_chars,
       |  coalesce(p.n_ranges, 0) AS n_ranges,
       |  coalesce(p.trimmed, 0) AS trimmed_chars,
       |  CAST(length(coalesce(d.text, '')) AS BIGINT) - coalesce(p.trimmed, 0)
       |    AS surviving_chars,
       |  coalesce(p.ranges, '') AS ranges
       |FROM documents d LEFT JOIN per p USING (doc_id)
       |WHERE $pred""".stripMargin
}
