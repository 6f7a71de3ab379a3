package graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ops.{CdcOps, PgOutputOps}
import graft.sources.PgWire
import graft.stream.PgCaptureStream

/** pgoutput protocol decode — frames hand-crafted byte-for-byte from the
  * PUBLIC message-format documentation (PostgreSQL §55.10, protocol
  * version 1), driven through decode → relationalize → route → NDJSON:
  * the reference's go-pq-cdc message layer (connector.go:54-58) minus
  * only the walsender socket.
  */
class PgOutputSpec extends SparkSuite {
  import spark.implicits._

  // ------------------------------------------------------- frame builders

  private def bytes(f: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos) // big-endian, like the protocol
    f(out)
    out.flush()
    bos.toByteArray
  }
  private def cstr(out: DataOutputStream, s: String): Unit = {
    out.write(s.getBytes("UTF-8")); out.writeByte(0)
  }
  /** µs since 2000-01-01 for a unix-µs instant (the wire's timestamp). */
  private def pgTs(unixMicros: Long): Long =
    unixMicros - PgWire.PgEpochOffsetMicros

  private def xlog(walStart: Long, walEnd: Long, sendUnixUs: Long,
      payload: Array[Byte]): Array[Byte] = bytes { o =>
    o.writeByte('w'); o.writeLong(walStart); o.writeLong(walEnd)
    o.writeLong(pgTs(sendUnixUs)); o.write(payload)
  }
  private def begin(finalLsn: Long, commitUnixUs: Long, xid: Int): Array[Byte] =
    bytes { o =>
      o.writeByte('B'); o.writeLong(finalLsn)
      o.writeLong(pgTs(commitUnixUs)); o.writeInt(xid)
    }
  private def commit(lsn: Long, endLsn: Long, unixUs: Long): Array[Byte] =
    bytes { o =>
      o.writeByte('C'); o.writeByte(0); o.writeLong(lsn)
      o.writeLong(endLsn); o.writeLong(pgTs(unixUs))
    }
  private def relation(oid: Int, ns: String, name: String,
      cols: Seq[(String, Boolean, Int)]): Array[Byte] = bytes { o =>
    o.writeByte('R'); o.writeInt(oid); cstr(o, ns); cstr(o, name)
    o.writeByte('d'); o.writeShort(cols.size)
    cols.foreach { case (cn, key, typeOid) =>
      o.writeByte(if (key) 1 else 0); cstr(o, cn)
      o.writeInt(typeOid); o.writeInt(-1)
    }
  }
  /** TupleData: Some(Left(text)) | Some(Right(binary)) | None (null). */
  private def tuple(o: DataOutputStream,
      vals: Seq[Option[Either[String, Array[Byte]]]]): Unit = {
    o.writeShort(vals.size)
    vals.foreach {
      case None => o.writeByte('n')
      case Some(Left(t)) =>
        val b = t.getBytes("UTF-8")
        o.writeByte('t'); o.writeInt(b.length); o.write(b)
      case Some(Right(b)) =>
        o.writeByte('b'); o.writeInt(b.length); o.write(b)
    }
  }
  private def t(s: String): Option[Either[String, Array[Byte]]] = Some(Left(s))
  private def insert(oid: Int,
      vals: Seq[Option[Either[String, Array[Byte]]]]): Array[Byte] =
    bytes { o => o.writeByte('I'); o.writeInt(oid); o.writeByte('N'); tuple(o, vals) }
  private def update(oid: Int,
      old: Option[(Char, Seq[Option[Either[String, Array[Byte]]]])],
      nw: Seq[Option[Either[String, Array[Byte]]]]): Array[Byte] = bytes { o =>
    o.writeByte('U'); o.writeInt(oid)
    old.foreach { case (k, ov) => o.writeByte(k); tuple(o, ov) }
    o.writeByte('N'); tuple(o, nw)
  }
  private def delete(oid: Int, kind: Char,
      old: Seq[Option[Either[String, Array[Byte]]]]): Array[Byte] =
    bytes { o => o.writeByte('D'); o.writeInt(oid); o.writeByte(kind); tuple(o, old) }
  private def keepalive(walEnd: Long, unixUs: Long, reply: Boolean): Array[Byte] =
    bytes { o =>
      o.writeByte('k'); o.writeLong(walEnd); o.writeLong(pgTs(unixUs))
      o.writeByte(if (reply) 1 else 0)
    }
  private def truncateMsg(oids: Seq[Int], options: Int): Array[Byte] =
    bytes { o =>
      o.writeByte('T'); o.writeInt(oids.size); o.writeByte(options)
      oids.foreach(o.writeInt)
    }

  private val T0 = 1700000000000000L // 2023-11-14T22:13:20Z in unix µs

  private def framesDf(frames: Seq[Array[Byte]]): DataFrame =
    frames.zipWithIndex.map { case (f, i) => (i.toLong, f) }
      .toDF("seq", "frame")

  private def pgRows(frames: Seq[Array[Byte]]): Map[Long, Row] =
    PgOutputOps.decode(framesDf(frames)).select(col("seq"), col("pg.*"))
      .collect().map(r => r.getLong(0) -> r).toMap

  // --------------------------------------------------------------- decode

  test("decode: every message family field-exact, envelope LSNs and PG-epoch timestamps") {
    val userCols = Seq(("id", true, 20), ("name", false, 25))
    val frames = Seq(
      xlog(100L, 200L, T0, begin(999L, T0 + 5, 42)),
      xlog(101L, 200L, T0, relation(16385, "public", "users", userCols)),
      xlog(102L, 200L, T0, insert(16385, Seq(t("1"), t("alice")))),
      xlog(103L, 200L, T0,
        update(16385, Some(('K', Seq(t("1"), None))), Seq(t("1"), t("alicia")))),
      xlog(104L, 200L, T0, delete(16385, 'K', Seq(t("2"), None))),
      xlog(105L, 200L, T0, commit(999L, 1000L, T0 + 5)),
      keepalive(1000L, T0 + 6, reply = true),
      xlog(106L, 200L, T0, truncateMsg(Seq(16385, 16999), 3)),
      // binary tuple value -> hex; bare message (no envelope) also decodes
      insert(16385, Seq(t("3"), Some(Right(Array[Byte](0xde.toByte, 0xad.toByte))))))
    val rows = pgRows(frames)
    def f(seq: Long, name: String): Any =
      rows(seq).get(rows(seq).fieldIndex(name))

    assert(f(0, "msg_type") == "begin" && f(0, "lsn") == 999L &&
      f(0, "xid") == 42L && f(0, "commit_ts_micros") == T0 + 5)
    assert(f(0, "wal_start") == 100L && f(0, "wal_end") == 200L &&
      f(0, "send_ts_micros") == T0, "XLogData envelope fields")
    assert(f(1, "msg_type") == "relation" && f(1, "relation_oid") == 16385L &&
      f(1, "namespace") == "public" && f(1, "rel_name") == "users" &&
      f(1, "replica_identity") == "default")
    assert(rows(1).getSeq[String](rows(1).fieldIndex("col_names")) ==
      Seq("id", "name"))
    assert(rows(1).getSeq[Boolean](rows(1).fieldIndex("col_key_flags")) ==
      Seq(true, false))
    assert(rows(1).getSeq[Long](rows(1).fieldIndex("col_type_oids")) ==
      Seq(20L, 25L))
    assert(f(2, "msg_type") == "insert" &&
      rows(2).getSeq[String](rows(2).fieldIndex("new_values")) ==
        Seq("1", "alice"))
    assert(f(3, "msg_type") == "update" && f(3, "old_kind") == "key" &&
      rows(3).getSeq[String](rows(3).fieldIndex("old_values")) ==
        Seq("1", null) &&
      rows(3).getSeq[String](rows(3).fieldIndex("old_value_kinds")) ==
        Seq("t", "n") &&
      rows(3).getSeq[String](rows(3).fieldIndex("new_values")) ==
        Seq("1", "alicia"))
    assert(f(4, "msg_type") == "delete" && f(4, "old_kind") == "key")
    assert(f(5, "msg_type") == "commit" && f(5, "lsn") == 999L &&
      f(5, "end_lsn") == 1000L && f(5, "commit_ts_micros") == T0 + 5)
    assert(f(6, "msg_type") == "keepalive" && f(6, "wal_end") == 1000L &&
      f(6, "reply_requested") == true)
    assert(f(7, "msg_type") == "truncate" &&
      rows(7).getSeq[Long](rows(7).fieldIndex("truncate_oids")) ==
        Seq(16385L, 16999L) &&
      f(7, "truncate_cascade") == true && f(7, "truncate_restart") == true)
    assert(f(8, "msg_type") == "insert" && rows(8).isNullAt(
      rows(8).fieldIndex("wal_start")), "bare message: no envelope fields")
    assert(rows(8).getSeq[String](rows(8).fieldIndex("new_values")) ==
      Seq("3", "dead"), "binary tuple value surfaces as hex")
    assert(rows(8).getSeq[String](rows(8).fieldIndex("new_value_kinds")) ==
      Seq("t", "b"))
  }

  test("decode: malformed frames become dead-letterable rows, never exceptions") {
    val rows = pgRows(Seq(
      Array[Byte](), // empty
      Array[Byte]('Z', 1, 2), // unknown type
      xlog(1, 2, T0, Array[Byte]('I', 0, 0)))) // truncated insert
    assert(rows.values.forall(r =>
      r.getString(r.fieldIndex("msg_type")) == "malformed"))
    assert(rows(1).getString(rows(1).fieldIndex("msg_prefix"))
      .contains("unknown pgoutput message type"))
  }

  test("decode: corrupt length prefixes dead-letter WITHOUT allocating") {
    // each frame claims a length/count far beyond the bytes present —
    // pre-r13 these allocated first (a ~2 GB new Array) and the resulting
    // OutOfMemoryError, being an Error, escaped decodeRow's never-throws
    // contract; they must now land as ordinary malformed rows
    val hugeTextCol = bytes { o =>
      o.writeByte('I'); o.writeInt(16385); o.writeByte('N')
      o.writeShort(1); o.writeByte('t'); o.writeInt(Int.MaxValue)
    }
    val hugeTupleCount = bytes { o =>
      o.writeByte('I'); o.writeInt(16385); o.writeByte('N')
      o.writeShort(32767) // no column bytes follow
    }
    val hugeTruncate = bytes { o =>
      o.writeByte('T'); o.writeInt(Int.MaxValue); o.writeByte(0)
    }
    val hugeRelationCols = bytes { o =>
      o.writeByte('R'); o.writeInt(16385); cstr(o, "public"); cstr(o, "t")
      o.writeByte('d'); o.writeShort(32767)
    }
    val hugeMessage = bytes { o =>
      o.writeByte('M'); o.writeByte(0); o.writeLong(1L); cstr(o, "p")
      o.writeInt(Int.MaxValue)
    }
    val rows = pgRows(Seq(hugeTextCol, hugeTupleCount, hugeTruncate,
      hugeRelationCols, hugeMessage).map(p => xlog(1, 2, T0, p)))
    rows.values.foreach { r =>
      assert(r.getString(r.fieldIndex("msg_type")) == "malformed")
      assert(r.getString(r.fieldIndex("msg_prefix")).contains("exceeds"),
        s"bounds check names the oversize prefix: ${r.getString(r.fieldIndex("msg_prefix"))}")
    }
  }

  test("relationalize: key-changing UPDATE keys by the NEW image") {
    // reference handler keying (example/simple/main.go:109-130): INSERT
    // and UPDATE index by the NEW image's key; only DELETE keys by old.
    // Old key '1' arrives as a 'K' tuple; the new row's key is '2'.
    val frames = Seq(
      xlog(100, 900, T0, begin(900L, T0 + 5, 7)),
      xlog(101, 900, T0, relation(16385, "public", "users", usersCols)),
      xlog(102, 900, T0,
        update(16385, Some(('K', Seq(t("1"), None))), Seq(t("2"), t("moved")))),
      xlog(103, 900, T0, commit(900L, 901L, T0 + 5)))
    val rel = PgOutputOps.relationalize(PgOutputOps.decode(framesDf(frames)))
      .collect()
    assert(rel.length == 1)
    val upd = rel(0)
    assert(upd.getString(upd.fieldIndex("doc_id")) == "2",
      "key-changing update indexes under the NEW key")
    assert(upd.getMap[String, String](upd.fieldIndex("old_doc"))("id") == "1",
      "the old key image still rides in old_doc for enrichment")
  }

  // -------------------------------------------------------- relationalize

  private val usersCols = Seq(("id", true, 20), ("name", false, 25))

  test("relationalize: relation metadata + transaction carry, schema change mid-stream") {
    val frames = Seq(
      xlog(100, 900, T0, begin(900L, T0 + 5, 7)),
      xlog(101, 900, T0, relation(16385, "public", "users", usersCols)),
      xlog(102, 900, T0, insert(16385, Seq(t("1"), t("alice")))),
      xlog(103, 900, T0,
        update(16385, Some(('K', Seq(t("1"), None))), Seq(t("1"), t("alicia")))),
      xlog(104, 900, T0, delete(16385, 'K', Seq(t("2"), None))),
      xlog(105, 900, T0, commit(900L, 901L, T0 + 5)),
      // second tx: ALTER TABLE added a column -> pgoutput re-sends Relation
      xlog(106, 950, T0, begin(950L, T0 + 60, 8)),
      xlog(107, 950, T0, relation(16385, "public", "users",
        usersCols :+ (("email", false, 25)))),
      xlog(108, 950, T0, insert(16385, Seq(t("3"), t("bob"), t("b@x.io")))),
      xlog(109, 950, T0, commit(950L, 951L, T0 + 60)))
    val rel = PgOutputOps.relationalize(PgOutputOps.decode(framesDf(frames)))
      .orderBy("seq").collect()
    assert(rel.length == 4, "exactly the DML rows survive")
    val ins = rel(0)
    assert(ins.getString(ins.fieldIndex("msg_type")) == "INSERT" &&
      ins.getString(ins.fieldIndex("table_namespace")) == "public" &&
      ins.getString(ins.fieldIndex("table_name")) == "users" &&
      ins.getString(ins.fieldIndex("doc_id")) == "1" &&
      ins.getLong(ins.fieldIndex("xid")) == 7L &&
      ins.getLong(ins.fieldIndex("event_time_us")) == T0 + 5)
    assert(ins.getMap[String, String](ins.fieldIndex("new_doc")) ==
      Map("id" -> "1", "name" -> "alice"))
    val upd = rel(1)
    assert(upd.getString(upd.fieldIndex("doc_id")) == "1",
      "update keys by the NEW image (reference keying; old key rides in old_doc)")
    assert(upd.getMap[String, String](upd.fieldIndex("new_doc")) ==
      Map("id" -> "1", "name" -> "alicia"))
    val del = rel(2)
    assert(del.getString(del.fieldIndex("msg_type")) == "DELETE" &&
      del.getString(del.fieldIndex("doc_id")) == "2" &&
      del.isNullAt(del.fieldIndex("new_doc")))
    val ins2 = rel(3)
    assert(ins2.getLong(ins2.fieldIndex("xid")) == 8L &&
      ins2.getLong(ins2.fieldIndex("event_time_us")) == T0 + 60,
      "second transaction's Begin metadata carries")
    assert(ins2.getMap[String, String](ins2.fieldIndex("new_doc")) ==
      Map("id" -> "3", "name" -> "bob", "email" -> "b@x.io"),
      "the re-sent Relation's new column applies from its position on")
  }

  test("actions + NDJSON: routed index/delete pairs; unmapped tables drop") {
    val frames = Seq(
      xlog(100, 900, T0, begin(900L, T0 + 5, 7)),
      xlog(101, 900, T0, relation(16385, "public", "users", usersCols)),
      xlog(102, 900, T0, relation(16500, "public", "shadow", usersCols)),
      xlog(103, 900, T0, insert(16385, Seq(t("1"), t("alice")))),
      xlog(104, 900, T0, insert(16500, Seq(t("9"), t("ghost")))),
      xlog(105, 900, T0, delete(16385, 'K', Seq(t("2"), None))),
      xlog(106, 900, T0, commit(900L, 901L, T0 + 5)))
    val acts = PgOutputOps.actions(
      PgOutputOps.relationalize(PgOutputOps.decode(framesDf(frames))),
      Map("public.users" -> "users_idx")).orderBy("event_id")
    val rows = acts.collect()
    assert(rows.length == 2, "the unmapped table's insert drops (T2 skip)")
    assert(rows(0).getString(rows(0).fieldIndex("action_type")) == "index" &&
      rows(0).getString(rows(0).fieldIndex("index_name")) == "users_idx" &&
      rows(0).getString(rows(0).fieldIndex("source"))
        .contains("\"name\":\"alice\""))
    assert(rows(1).getString(rows(1).fieldIndex("action_type")) == "delete" &&
      rows(1).isNullAt(rows(1).fieldIndex("source")))
    // the shared NDJSON tail applies verbatim: delete = meta-only line
    val nd = CdcOps.ndjsonEncode(acts).orderBy("event_id").collect()
    assert(nd(0).getString(nd(0).fieldIndex("meta")) ==
      """{"index":{"_index":"users_idx","_id":"1"}}""")
    assert(nd(1).getString(nd(1).fieldIndex("meta")) ==
      """{"delete":{"_index":"users_idx","_id":"2"}}""")
  }

  // --------------------------------------------------------------- encode

  test("encoders are decodeRow's inverse per family; standby status update byte-exact") {
    // encode with PgWire, decode with the spec's INDEPENDENT builders'
    // counterpart (decodeRow) — same assertions as the hand-built frames
    val rows = pgRows(Seq(
      PgWire.encodeXLogData(100L, 200L, T0, PgWire.encodeBegin(999L, T0 + 5, 42)),
      PgWire.encodeRelation(16385L, "public", "users",
        Seq(("id", true, 20L), ("name", false, 25L))),
      PgWire.encodeDml(org.apache.spark.unsafe.types.UTF8String.fromString("insert"),
        16385L, null,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString("1"),
          org.apache.spark.unsafe.types.UTF8String.fromString("alice")))),
      PgWire.encodeCommit(999L, 1000L, T0 + 5),
      PgWire.encodeKeepalive(1000L, T0 + 6, replyRequested = true)))
    def f(seq: Long, name: String): Any =
      rows(seq).get(rows(seq).fieldIndex(name))
    assert(f(0, "msg_type") == "begin" && f(0, "wal_start") == 100L &&
      f(0, "commit_ts_micros") == T0 + 5 && f(0, "xid") == 42L)
    assert(f(1, "msg_type") == "relation" && f(1, "rel_name") == "users" &&
      rows(1).getSeq[Boolean](rows(1).fieldIndex("col_key_flags")) ==
        Seq(true, false))
    assert(f(2, "msg_type") == "insert" &&
      rows(2).getSeq[String](rows(2).fieldIndex("new_values")) ==
        Seq("1", "alice"))
    assert(f(3, "msg_type") == "commit" && f(3, "end_lsn") == 1000L)
    assert(f(4, "msg_type") == "keepalive" && f(4, "reply_requested") == true)

    // Standby Status Update ('r') — the client-side ack frame, pinned
    // byte-for-byte against the documented layout (1 + 8·4 + 1 bytes,
    // big-endian, PG-epoch clock)
    val ssu = PgWire.encodeStandbyStatusUpdate(
      written = 0x0102030405060708L, flushed = 0x1112131415161718L,
      applied = 0x2122232425262728L,
      clockUnixMicros = PgWire.PgEpochOffsetMicros + 1L,
      replyRequested = true)
    assert(ssu.length == 34)
    assert(ssu(0) == 'r'.toByte)
    assert(ssu.slice(1, 9).toSeq ==
      Seq(1, 2, 3, 4, 5, 6, 7, 8).map(_.toByte))
    assert(ssu.slice(9, 17).toSeq ==
      Seq(0x11, 0x12, 0x13, 0x14, 0x15, 0x16, 0x17, 0x18).map(_.toByte))
    assert(ssu.slice(25, 33).toSeq ==
      Seq(0, 0, 0, 0, 0, 0, 0, 1).map(_.toByte), "clock = pg-epoch micros")
    assert(ssu(33) == 1.toByte)
  }

  test("pg_roundtrip key: encode -> decode -> relationalize over events, update/delete forms included") {
    // the oracle key covers inserts end-to-end at sf scale; here the
    // update (old image present) and delete forms round-trip too
    val frames = Seq(
      (0L, PgWire.encodeXLogData(1, 9, T0, PgWire.encodeBegin(9L, T0, 5))),
      (1L, PgWire.encodeRelation(42L, "s", "t", Seq(("k", true, 20L), ("v", false, 25L)))),
      (2L, PgWire.encodeDml(
        org.apache.spark.unsafe.types.UTF8String.fromString("update"), 42L,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString("7"), null)),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString("7"),
          org.apache.spark.unsafe.types.UTF8String.fromString("new"))))),
      (3L, PgWire.encodeDml(
        org.apache.spark.unsafe.types.UTF8String.fromString("delete"), 42L,
        new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](
          org.apache.spark.unsafe.types.UTF8String.fromString("8"), null)),
        null)))
    val rel = PgOutputOps.relationalize(
      PgOutputOps.decode(frames.toDF("seq", "frame"))).orderBy("seq").collect()
    assert(rel.length == 2)
    assert(rel(0).getString(rel(0).fieldIndex("msg_type")) == "UPDATE" &&
      rel(0).getString(rel(0).fieldIndex("doc_id")) == "7" &&
      rel(0).getMap[String, String](rel(0).fieldIndex("new_doc")) ==
        Map("k" -> "7", "v" -> "new"))
    assert(rel(1).getString(rel(1).fieldIndex("msg_type")) == "DELETE" &&
      rel(1).getString(rel(1).fieldIndex("doc_id")) == "8")
  }

  test("wire sweep: adversarial tuple values, wide tuples, unsigned oids round-trip exactly") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(vals: Seq[String]): GenericArrayData =
      new GenericArrayData(vals.map(v =>
        if (v == null) null else UTF8String.fromString(v)).toArray[Any])
    val edgeVals: Seq[Seq[String]] = Seq(
      Seq(""),                               // empty string != null
      Seq("a\u0000b"),                       // NUL inside a length-prefixed value
      Seq("🦊 ünïcöde 中文"), // surrogate pair + CJK
      Seq("line1\nline2\t\"quoted\\"),       // control chars the NDJSON tail escapes later
      Seq("x" * 100000),                     // 100 KB value
      Seq(null, "", null),                   // null/empty interleave
      (0 until 300).map(i => s"v$i"))        // 300-column tuple
    // oid above Int.MaxValue: PostgreSQL oids are unsigned 32-bit
    val oids = Seq(1L, 4294967295L)
    for (vals <- edgeVals; oid <- oids) {
      val ins = PgWire.encodeDml(
        org.apache.spark.unsafe.types.UTF8String.fromString("insert"),
        oid, null, arr(vals))
      val rows = pgRows(Seq(ins))
      val r = rows(0L)
      assert(r.getString(r.fieldIndex("msg_type")) == "insert",
        s"oid=$oid vals=${vals.take(2)}")
      assert(r.getLong(r.fieldIndex("relation_oid")) == oid)
      assert(r.getSeq[String](r.fieldIndex("new_values")) == vals,
        s"tuple must round-trip exactly (n=${vals.size})")
    }
    // update with a full old image of edge values
    val upd = PgWire.encodeDml(
      org.apache.spark.unsafe.types.UTF8String.fromString("update"),
      7L, arr(Seq("old\u0000", null)), arr(Seq("", "🦊")))
    val r = pgRows(Seq(upd))(0L)
    assert(r.getString(r.fieldIndex("old_kind")) == "old")
    assert(r.getSeq[String](r.fieldIndex("old_values")) == Seq("old\u0000", null))
    assert(r.getSeq[String](r.fieldIndex("new_values")) == Seq("", "🦊"))
  }

  // ------------------------------------------------------- streaming face

  test("PgCaptureStream: relation registry carries across segments and a restart; malformed dead-letters") {
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val cap = tmp("pgcap-in")
    val bulk = tmp("pgcap-bulk")
    val dlq = tmp("pgcap-dlq")
    val ckpt = tmp("pgcap-ckpt")
    val mapping = Map("public.users" -> "users_idx")
    // segment 1 carries the session preamble (Relation) + one insert
    framesDf(Seq(
      xlog(100, 900, T0, begin(900L, T0 + 5, 7)),
      xlog(101, 900, T0, relation(16385, "public", "users", usersCols)),
      xlog(102, 900, T0, insert(16385, Seq(t("1"), t("alice")))),
      xlog(105, 900, T0, commit(900L, 901L, T0 + 5))))
      .coalesce(1).write.mode("append").parquet(cap)
    // segment 2: NO Relation message — resolves only via carried state —
    // plus one malformed frame that must dead-letter, not fail the batch
    framesDf(Seq(
      xlog(200, 990, T0, begin(990L, T0 + 60, 8)),
      xlog(201, 990, T0,
        update(16385, Some(('K', Seq(t("1"), None))), Seq(t("1"), t("alicia")))),
      xlog(202, 990, T0, Array[Byte]('Z', 9)),
      xlog(203, 990, T0, commit(990L, 991L, T0 + 60))))
      .withColumn("seq", col("seq") + 100)
      .coalesce(1).write.mode("append").parquet(cap)
    val stagesBefore = graft.obs.Stages.snapshot()
    awaitDone(PgCaptureStream.run(spark, cap, bulk, dlq, ckpt, mapping))
    // two batches, one malformed frame: every step once per batch, the
    // dead-letter write only for the batch that has one
    val pgStages = graft.obs.Stages.since(stagesBefore)
      .filter(_._1.startsWith("pgcapture.")).map { case (n, t) => n -> t.calls }
    assert(pgStages == Map("pgcapture.cache_build" -> 2L,
      "pgcapture.dead_letter" -> 1L, "pgcapture.sink_writeBatch" -> 2L,
      "pgcapture.registry_snapshot" -> 2L), pgStages)

    def ndjson(): Seq[String] = {
      import scala.jdk.CollectionConverters._
      Files.walk(java.nio.file.Paths.get(bulk)).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("part-") &&
          p.toString.contains("batch_"))
        .flatMap(p => Files.readAllLines(p).asScala)
        .toSeq.filter(_.nonEmpty)
    }
    val afterTwo = ndjson()
    assert(afterTwo.exists(_.contains("\"alice\"")), "segment-1 insert shipped")
    assert(afterTwo.exists(_.contains("\"alicia\"")),
      "segment-2 update resolved through the CARRIED relation registry")
    val dead = spark.read.parquet(s"$dlq/pg_malformed")
    assert(dead.count() == 1 &&
      dead.select("error").as[String].head().contains("unknown"),
      "malformed frame dead-letters with its reason")

    // segment 3 arrives after a RESTART: the registry must survive via
    // versioned state, not session memory
    framesDf(Seq(
      xlog(300, 1100, T0, begin(1100L, T0 + 120, 9)),
      xlog(301, 1100, T0, delete(16385, 'K', Seq(t("1"), None))),
      xlog(302, 1100, T0, commit(1100L, 1101L, T0 + 120))))
      .withColumn("seq", col("seq") + 200)
      .coalesce(1).write.mode("append").parquet(cap)
    awaitDone(PgCaptureStream.run(spark, cap, bulk, dlq, ckpt, mapping))
    assert(ndjson().exists(_.contains(
      """{"delete":{"_index":"users_idx","_id":"1"}}""")),
      "post-restart delete resolved through the persisted registry")
  }

  test("PgCaptureStream soak: 10 segments, two mid-stream schema changes, registry stays pruned") {
    // the long-horizon registry question (round 13): a capture session
    // that lives for many segments re-sends Relation only on schema
    // change. Rows BEFORE each change must decode with their as-of
    // schema, rows after with the new one — across segment boundaries
    // and restarts — and the registry state store must stay pruned to
    // the replay horizon (<=2 versions), one row per oid.
    import graft.stream.VersionedState
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val cap = tmp("pgsoak-cap")
    val bulk = tmp("pgsoak-bulk")
    val dlq = tmp("pgsoak-dlq")
    val ckpt = tmp("pgsoak-ckpt")
    val mapping = Map("public.users" -> "users_idx")
    val colsV1 = usersCols // (id, name)
    val colsV2 = usersCols :+ (("email", false, 25)) // ALTER TABLE ADD
    val colsV3 = Seq(("id", true, 20), ("email", false, 25)) // DROP name
    def seg(s: Int, frames: Seq[Array[Byte]]): Unit =
      framesDf(frames).withColumn("seq", col("seq") + lit(1000L * s))
        .coalesce(1).write.mode("append").parquet(cap)

    for (s <- 0 until 10) {
      val base: Seq[Array[Byte]] =
        Seq(xlog(100, 900 + s, T0, begin(900L + s, T0 + s, 100 + s)))
      val body: Seq[Array[Byte]] = s match {
        case 0 => Seq(
          xlog(101, 900, T0, relation(16385, "public", "users", colsV1)),
          xlog(102, 900, T0, insert(16385, Seq(t("u0"), t("ann")))))
        case 3 => Seq( // schema change: email column appears
          xlog(101, 903, T0, relation(16385, "public", "users", colsV2)),
          xlog(102, 903, T0, insert(16385, Seq(t("u3"), t("cat"), t("c@x.io")))))
        case 7 => Seq( // second change: name column dropped
          xlog(101, 907, T0, relation(16385, "public", "users", colsV3)),
          xlog(102, 907, T0, insert(16385, Seq(t("u7"), t("g@x.io")))))
        case k if k < 3 => Seq( // v1-shape rows, relation carried
          xlog(102, 900 + k, T0, insert(16385, Seq(t(s"u$k"), t("bob")))))
        case k if k < 7 => Seq(
          xlog(102, 900 + k, T0,
            insert(16385, Seq(t(s"u$k"), t("dan"), t("d@x.io")))))
        case k => Seq(
          xlog(102, 900 + k, T0, insert(16385, Seq(t(s"u$k"), t("h@x.io")))))
      }
      val commitF = Seq(
        xlog(110, 900 + s, T0, commit(900L + s, 901L + s, T0 + s)))
      seg(s, base ++ body ++ commitF)
      // restart every segment: fresh query, same checkpoint — the
      // registry must carry through the persisted state every time
      awaitDone(PgCaptureStream.run(spark, cap, bulk, dlq, ckpt, mapping))
    }
    import scala.jdk.CollectionConverters._
    val nd = Files.walk(java.nio.file.Paths.get(bulk)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.contains("batch_"))
      .flatMap(p => Files.readAllLines(p).asScala)
      .toSeq.filter(_.nonEmpty).mkString("\n")
    // as-of decode held on BOTH sides of each change
    assert(nd.contains("\"name\":\"bob\"") && !nd.contains("\"email\":\"b"),
      "pre-change rows decode with the v1 schema")
    assert(nd.contains("\"email\":\"d@x.io\"") && nd.contains("\"name\":\"dan\""),
      "post-ADD rows carry the new column through the carried registry")
    assert(nd.contains("\"email\":\"h@x.io\"") && !nd.contains("\"name\":\"h"),
      "post-DROP rows decode with the narrowed schema")
    // the registry store stays pruned: <=2 versions, one live row per
    // oid (+ the carried Begin row)
    val vs = VersionedState.idsBefore(spark, s"$bulk/_pgstate", Long.MaxValue)
    assert(vs.size <= 2, s"registry store must stay pruned, holds $vs")
    val snap = spark.read.parquet(
      VersionedState.versionDir(s"$bulk/_pgstate", vs.max))
    assert(snap.filter(col("msg_type") === "relation").count() === 1,
      "one live relation version per oid in the carried registry")
    val live = snap.filter(col("msg_type") === "relation").head()
    assert(live.getSeq[String](live.fieldIndex("col_names")) ===
      Seq("id", "email"), "the carried version is the NEWEST schema")
  }

  test("PgCaptureStream: a REPLAYED batch overwrites its own dead letters") {
    // foreachBatch is at-least-once: after a crash between sink write and
    // checkpoint commit, the same batchId replays. Dead letters write to
    // a per-batch partition dir with overwrite, so the replay clobbers
    // its prior output instead of appending duplicates.
    def tmp(p: String) = Files.createTempDirectory(p).toString
    val bulk = tmp("pgcap-replay-bulk")
    val dlq = tmp("pgcap-replay-dlq")
    val batch = framesDf(Seq(
      xlog(100, 900, T0, begin(900L, T0 + 5, 7)),
      xlog(101, 900, T0, relation(16385, "public", "users", usersCols)),
      xlog(102, 900, T0, insert(16385, Seq(t("1"), t("alice")))),
      xlog(103, 900, T0, Array[Byte]('Z', 9)), // malformed
      xlog(104, 900, T0, commit(900L, 901L, T0 + 5))))
    PgCaptureStream.processBatch(spark, batch, 0L, bulk, dlq,
      Map("public.users" -> "users_idx"), 1)
    PgCaptureStream.processBatch(spark, batch, 0L, bulk, dlq,
      Map("public.users" -> "users_idx"), 1) // the replay
    val dead = spark.read.parquet(s"$dlq/pg_malformed")
    assert(dead.count() == 1, "replayed batch does not duplicate dead letters")
    assert(dead.select("batch_id").as[Long].head() == 0L,
      "partition discovery restores the batch id")
  }
}
