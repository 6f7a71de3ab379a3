package graft

import org.apache.spark.sql.functions._
import graft.ops.CdcOps

/** Unit specs for the CDC operator family (SURVEY.md §2 T1-T8, B1-B7),
  * mirroring the reference's unit-test surface plus the semantics its
  * integration tests assert (connector_test.go, snapshot_test.go).
  */
class CdcOpsSpec extends SparkSuite {
  import spark.implicits._

  private def events = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sf/events.parquet")
  }
  private lazy val typed = CdcOps.typedMessages(events).cache()

  test("T1 typing drops unknown event types, keeps the four variants") {
    val kinds = typed.select("msg_type").distinct().as[String].collect().toSet
    assert(kinds == Set("INSERT", "UPDATE", "DELETE", "SNAPSHOT"))
    val raw = events.count()
    assert(typed.count() < raw) // 'click' events dropped
  }

  test("ts schema drift: long-nanos, TIMESTAMP_NTZ and TIMESTAMP layouts type identically") {
    // the harness's events table has shipped in different physical layouts
    // across testdata generations (TIMESTAMP(NANOS)→long via legacy conf,
    // then TIMESTAMP(MICROS)/NTZ); normalizeEvents must fold every layout
    // to the same long-nanos contract so typing/routing are layout-blind
    val base = Seq(
      (1L, 1706745600000000L, 10L, "purchase", 1.0, "{}"), // 2024-02-01 UTC
      (2L, 1704067199999999L, 11L, "signup", 2.0, "{}") // 2023-12-31 23:59:59.999999
    ).toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val asLong = base.withColumn("ts", $"ts_us" * 1000L).drop("ts_us")
    val asNtz = base.withColumn("ts",
      expr("timestampadd(MICROSECOND, ts_us, TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      .drop("ts_us")
    val asLtz = base.withColumn("ts", timestamp_micros($"ts_us")).drop("ts_us")
    val outs = Seq(asLong, asNtz, asLtz).map { df =>
      CdcOps.typedMessages(df)
        .select("event_id", "event_time_us", "table_name")
        .as[(Long, Long, String)].collect().toSet
    }
    assert(outs(0) == Set((1L, 1706745600000000L, "orders_2024_02"),
      (2L, 1704067199999999L, "users")))
    assert(outs(1) == outs(0), "TIMESTAMP_NTZ layout diverged from long nanos")
    assert(outs(2) == outs(0), "TIMESTAMP layout diverged from long nanos")
  }

  test("T2 exact routing skips unmapped tables (skip+ack, connector.go:146-152)") {
    val routed = CdcOps.routeExact(typed)
    assert(routed.filter($"table_name" === "audit_log").count() == 0)
    val idx = routed.select("index_name").distinct().as[String].collect().toSet
    assert(idx == Set("users_idx"))
  }

  test("T3 partition-parent resolution: shortest prefix first (connector.go:239-246)") {
    val df = Seq(
      ("public", "orders_2024_01"), // partitioned → orders
      ("public", "orders"), // exact
      ("public", "users"), // exact
      ("public", "unknown_table") // unmapped → dropped
    ).toDF("table_namespace", "table_name")
    val got = CdcOps.resolveParentTable(df)
      .select("table_name", "parent_table", "index_name")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("orders_2024_01", "orders", "orders_idx"),
      ("orders", "orders", "orders_idx"),
      ("users", "users", "users_idx")))
  }

  test("T3 priority: exact full name beats prefix; hypertable chunk routes via registry; deep prefixes resolve (connector.go:174-199)") {
    val mapping = Map(
      "public.orders" -> "orders_idx",
      "public.orders_2024_02" -> "orders_feb_idx", // exact partition mapping
      "public.a_b_c_d_e" -> "deep_idx") // 5-part parent (old cap was 4)
    val hyper = Map("public._hyper_1_2_chunk" -> "public.orders")
    val df = Seq(
      ("public", "orders_2024_02"), // exact hit must WIN over prefix 'orders'
      ("public", "orders_2024_03"), // prefix tier → orders
      ("public", "_hyper_1_2_chunk"), // hypertable tier → orders
      ("public", "a_b_c_d_e_f") // 6-part partition of a 5-part parent
    ).toDF("table_namespace", "table_name")
    val got = CdcOps.resolveParentTable(df, mapping, hyper)
      .select("table_name", "parent_table", "index_name")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("orders_2024_02", "orders_2024_02", "orders_feb_idx"),
      ("orders_2024_03", "orders", "orders_idx"),
      ("_hyper_1_2_chunk", "orders", "orders_idx"),
      ("a_b_c_d_e_f", "a_b_c_d_e", "deep_idx")))
  }

  test("T3 empty mapping routes nothing (connector.go:176-178), no crash") {
    val df = Seq(("public", "users"), ("public", "orders_2024_01"))
      .toDF("table_namespace", "table_name")
    assert(CdcOps.resolveParentTable(df, Map.empty).count() == 0)
  }

  test("T8 ordinals keep null-group rows as their own group (no silent drop)") {
    val actions = Seq(
      (1L, "index", "a", "users_idx", "{}"),
      (2L, "index", "b", null.asInstanceOf[String], "{}"), // null index_name
      (3L, "index", "c", "users_idx", "{}"),
      (4L, "index", "d", null.asInstanceOf[String], "{}")
    ).toDF("event_id", "action_type", "doc_id", "index_name", "source")
    val chunks = CdcOps.chunkSplit(actions, 100)
    // all 4 rows accounted for: 2 in users_idx, 2 in the null group
    assert(chunks.agg(sum("n_actions")).as[Long].head() == 4L)
    assert(chunks.filter($"index_name".isNull)
      .agg(sum("n_actions")).as[Long].head() == 2L)
  }

  test("T8/B2/B5 ordinal ops: the caller's Scratch.scope releases their slim cache") {
    // each op caches a slim projection its two-pass ordinals re-read;
    // unscoped, every call leaves one CacheManager entry and one
    // persistent RDD behind for the life of the session
    val actions = (1L to 40L).map(i =>
      (i, "index", s"d${i % 7}", if (i % 3 == 0) "orders_idx" else "users_idx", "{}"))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")
    Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "chunkSplit" -> (CdcOps.chunkSplit(_, 8)),
      "batchAccumulate" -> (CdcOps.batchAccumulate(_, 8)),
      "concurrentPartition" -> (CdcOps.concurrentPartition(_, 3))
    ).foreach { case (name, op) =>
      val before = cacheFootprint
      val rows = org.apache.spark.sql.graftext.Scratch.scope(op(actions).collect())
      assert(rows.nonEmpty, name)
      assert(cacheFootprint === before, s"$name left its slim cache behind")
    }
  }

  test("B1 LWW dedup keeps the LATEST action per (doc_id, index) preserving key set") {
    val actions = Seq(
      (1L, "index", "7", "users_idx", "v1"),
      (5L, "index", "7", "users_idx", "v2"), // later wins
      (3L, "delete", "8", "users_idx", null)
    ).toDF("event_id", "action_type", "doc_id", "index_name", "source")
    val got = CdcOps.dedupLastWriteWins(actions)
      .select("event_id", "doc_id", "source")
      .as[(Long, String, Option[String])].collect().toSet
    assert(got == Set((5L, "7", Some("v2")), (3L, "8", None)))
  }

  test("B1 dedup key includes routing when present (key = id:index[:routing], bulk.go:413-418)") {
    val actions = Seq(
      (1L, "index", "7", "users_idx", "r1", "v1"),
      (2L, "index", "7", "users_idx", "r2", "v2"), // different routing → different doc
      (3L, "index", "7", "users_idx", "r1", "v3")  // replaces event 1
    ).toDF("event_id", "action_type", "doc_id", "index_name", "routing", "source")
    val got = CdcOps.dedupLastWriteWins(actions)
      .select("event_id", "routing").as[(Long, String)].collect().toSet
    assert(got == Set((3L, "r1"), (2L, "r2")))
  }

  test("B3 NDJSON meta carries routing inside the action object (bulk.go:216-220)") {
    val actions = Seq(
      (1L, "index", "k", "idx", "shard-7", "{}"),
      (2L, "index", "k2", "idx", null.asInstanceOf[String], "{}"))
      .toDF("event_id", "action_type", "doc_id", "index_name", "routing", "source")
    val metas = CdcOps.ndjsonEncode(actions)
      .select("doc_id", "meta").as[(String, String)].collect().toMap
    assert(metas("k") == """{"index":{"_index":"idx","_id":"k","routing":"shard-7"}}""")
    assert(metas("k2") == """{"index":{"_index":"idx","_id":"k2"}}""")
  }

  test("T2/T3 routing honors a custom table→index mapping (config wiring)") {
    val df = Seq(("public", "products_2024_03"), ("public", "users"))
      .toDF("table_namespace", "table_name")
    val got = CdcOps.resolveParentTable(df, Map("public.products" -> "products_idx"))
      .select("table_name", "index_name").as[(String, String)].collect().toSet
    assert(got == Set(("products_2024_03", "products_idx")))
  }

  test("B7 parseSizeCol matches parseSize grammar (short forms, unknown → NULL)") {
    val got = Seq("10k", "3m", "1gb", "5xb").toDF("s")
      .select(CdcOps.parseSizeCol($"s")).as[Option[Long]].collect().toSeq
    assert(got == Seq(Some(10L << 10), Some(3L << 20), Some(1L << 30), None))
  }

  test("B7 parseSizeCol: malformed/overflow inputs yield NULL, never an ANSI exception") {
    // '' cast, >18-digit cast, and num×multiplier overflow all throw under
    // Spark 4's default ANSI mode without their guards — one bad string
    // must not kill the job
    val got = Seq("", "abc", "9999999999999999999b", "999999999999999999kb")
      .toDF("s").select(CdcOps.parseSizeCol($"s")).as[Option[Long]].collect().toSeq
    assert(got == Seq(None, None, None, None), s"got $got")
  }

  test("B7 parseSize: units, case, long forms (bytes.go:57-82)") {
    assert(CdcOps.parseSize("10mb") == 10L << 20)
    assert(CdcOps.parseSize("1GB") == 1L << 30)
    assert(CdcOps.parseSize("512 kb") == 512L << 10)
    assert(CdcOps.parseSize("7b") == 7L)
    assert(CdcOps.parseSize("2tb") == 2L << 40)
    intercept[IllegalArgumentException](CdcOps.parseSize("10xb"))
    intercept[IllegalArgumentException](CdcOps.parseSize("mb"))
  }

  test("B4 id escape backslash-escapes quotes (escape.go:10-21)") {
    val got = Seq("""a"b""", "plain").toDF("s")
      .select(CdcOps.escapeDocId($"s")).as[String].collect()
    assert(got.toSeq == Seq("""a\"b""", "plain"))
  }

  test("B3 NDJSON meta line shape (bulk.go:176-245)") {
    val actions = Seq((1L, "index", "k1", "idx_a", """{"x":1}"""))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")
    val meta = CdcOps.ndjsonEncode(actions).select("meta").as[String].head()
    assert(meta == """{"index":{"_index":"idx_a","_id":"k1"}}""")
  }

  test("X2 _type gating: only ES major < 8 carries _type (bulk.go:194-206)") {
    val actions = Seq(
      (1L, "index", "a", "i1", "{}"),
      (2L, "index", "b", "i1", "{}"))
      .toDF("event_id", "action_type", "doc_id", "index_name", "source")
    val metas = CdcOps.versionGatedMeta(actions, when($"doc_id" === "a", 7).otherwise(8))
      .select("doc_id", "meta").as[(String, String)].collect().toMap
    assert(metas("a").contains("\"_type\":\"_doc\""))
    assert(!metas("b").contains("_type"))
  }
}
