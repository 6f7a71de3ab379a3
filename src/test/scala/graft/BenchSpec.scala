package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Sweep, Timing}

/** The bench's and Verify's renders, without a Spark session: the two
  * stdout lines and `bench/last_run.json` over a synthetic sweep, the
  * baseline loader over the committed `bench/baseline.json`, and the
  * `oracle_sql.json` escape.
  */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  // every real key name, longest first, padded to 190 with the longest
  // one suffixed, plus one failed key (cpu = -1)
  private val names = {
    val real = SparkEntry.queries.keys.toSeq.sortBy(-_.length)
    (real ++ (0 until 190).map(i => s"${real.head}_$i")).distinct.take(190)
  }
  private val sweep = Sweep(
    results = names.zipWithIndex.map { case (k, i) =>
      k -> Timing(wall = 1.0 + i * 0.0137, cpu = 4.0 + i * 0.05, load = 2.5,
        failed = false, retimed = i % 17 == 0, gc = 0.01,
        dropped = i.toLong, storageMb = 3.25)
    }.toMap + ("failed_key_" + "x" * 40 ->
      Timing(wall = 0.2, cpu = -1.0, load = 2.5, failed = true)),
    medianEff = 3.0,
    baseline = names.map(_ -> 1.0).toMap,
    cpus = 32, sf = "/data/graft/sf0.1", loadAtStart = 1.5, heapMaxMb = 8192,
    stages = Map("corpus_clean_incremental" -> Map("v1_build" -> 3.0, "patch" -> 5.5)))

  test("summary line: ≤1500 chars for 191 keys, parses, carries the six fields") {
    val line = Bench.summaryLine(sweep)
    assert(line.length <= 1500, line)
    assert(!line.contains("\n"))
    val n = json.readTree(line)
    assert(n.get("metric").asText == "total")
    for (f <- Seq("value", "cpu_total_sec", "failed", "median_wall_vs_baseline",
        "cpus", "sf"))
      assert(n.has(f), s"$f missing: $line")
    assert(n.get("failed").asInt == 1)
    assert(n.get("cpus").asInt == 32)
    assert(n.get("sf").asText == "/data/graft/sf0.1")
    assert(math.abs(n.get("value").asDouble - sweep.total) < 0.01)
    // one key or 191: the line does not grow with the key count
    val one = sweep.copy(results = sweep.results.take(1))
    assert(Bench.summaryLine(one).length <= line.length + 8)
  }

  test("compact line: every key's wall at 2 decimals, one line") {
    val line = Bench.compactLine(sweep)
    assert(!line.contains("\n"))
    val q = json.readTree(line).get("queries")
    assert(q.size == sweep.results.size)
    sweep.results.foreach { case (k, t) =>
      assert(q.get(k).asText.matches("""\d+(\.\d{1,2})?"""), k)
      assert(math.abs(q.get(k).asDouble - t.wall) <= 0.005 + 1e-9, k)
    }
  }

  test("last_run.json: _meta plus one entry per key with the fields bench_diff.py reads") {
    val root = json.readTree(Bench.lastRunJson(sweep))
    val meta = root.get("_meta")
    for (f <- Seq("total_sec", "cpu_total_sec", "n_queries", "failed",
        "contended", "starved", "low_par", "low_par_hot_load",
        "median_eff_cores", "median_wall_vs_baseline", "top5", "top5_clean",
        "stages"))
      assert(meta.has(f), s"_meta.$f missing")
    assert(meta.get("n_queries").asInt == 191)
    assert(meta.get("top5").size == 5)
    assert(meta.get("stages").get("corpus_clean_incremental")
      .get("patch").asDouble == 5.5)
    val entries = root.properties().asScala.filter(_.getKey != "_meta")
    assert(entries.size == 191)
    entries.foreach { e =>
      for (f <- Seq("wall", "cpu", "load", "eff_cores", "gc_sec",
          "blocks_dropped", "storage_mb", "contended", "low_par",
          "div_baseline", "retimed", "failed"))
        assert(e.getValue.has(f), s"${e.getKey}.$f missing")
    }
    assert(root.get("failed_key_" + "x" * 40).get("failed").asBoolean)
    assert(root.get("failed_key_" + "x" * 40).get("cpu").asDouble == -1.0)
  }

  test("baseline loader: every non-_meta entry, pretty-printed or compact") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench/baseline.json"))
    val tree = json.readTree(text)
    val expected = tree.properties().asScala.collect {
      case e if e.getKey != "_meta" => e.getKey -> e.getValue.get("wall").asDouble
    }.toMap
    // top-level keys of the pretty-printed file, read without Jackson
    val topLevel = "\n \"([^\"]+)\": \\{".r.findAllMatchIn(text)
      .map(_.group(1)).toSet - "_meta"
    assert(topLevel.size >= 190, "the committed baseline is pretty-printed")
    assert(expected.keySet == topLevel)
    assert(Bench.loadBaseline(text) == expected)
    val compact = json.writeValueAsString(tree)
    assert(!compact.contains("\n"))
    assert(Bench.loadBaseline(compact) == expected)
  }

  test("baseline gate: judged only at the baseline's sf and cpus, null otherwise") {
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get("bench/baseline.json"))
    val meta = json.readTree(text).get("_meta")
    val (sf, cpus) = (meta.get("sf").asText, meta.get("cpus").asInt)
    // the sf dir matches by basename, wherever the corpus lives
    val sfDir = "/data/graft/" + sf.stripSuffix("/").split('/').last + "/"
    assert(Bench.baselineFor(text, sfDir, cpus) == Right(Bench.loadBaseline(text)))
    for ((dir, c) <- Seq((sfDir, cpus + 1), ("/data/graft/sf0.001", cpus),
        ("/data/graft/sf0.001", 4)))
      assert(Bench.baselineFor(text, dir, c).left.exists(_.contains("null")), s"$dir $c")
    // matched: numbers; unmatched (no baseline): nulls, and one fewer
    // judgement per key, nothing else
    val judged = json.readTree(Bench.summaryLine(sweep))
    assert(judged.get("median_wall_vs_baseline").isNumber)
    val blind = sweep.copy(baseline = Map.empty)
    assert(json.readTree(Bench.summaryLine(blind)).get("median_wall_vs_baseline").isNull)
    val root = json.readTree(Bench.lastRunJson(blind))
    assert(root.get("_meta").get("div_baseline").isNull)
    assert(root.get("_meta").get("median_wall_vs_baseline").isNull)
    root.properties().asScala.filter(_.getKey != "_meta").foreach { e =>
      assert(e.getValue.get("div_baseline").isNull, e.getKey)
      assert(e.getValue.get("wall").isNumber, e.getKey)
    }
    val full = json.readTree(Bench.lastRunJson(sweep))
    assert(full.get("_meta").get("div_baseline").isNumber)
    assert(full.get(names.head).get("div_baseline").isBoolean)
  }

  test("Verify oracle_sql.json: tab, CR, quote, backslash and \\u0001 round-trip") {
    val sql = "SELECT\t'a\"b' AS q,\r\n 'c\\d' AS bs, '\u0001' AS ctl FROM t"
    val out = Verify.oracleJson(Map("k" -> sql, "plain" -> "SELECT 1"))
    assert(!out.exists(c => c < ' '), "control chars must be escaped")
    val n = json.readTree(out)
    assert(n.get("k").asText == sql)
    assert(n.get("plain").asText == "SELECT 1")
  }
}
