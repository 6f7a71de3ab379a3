package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.PgWire

/** Seeded input generators. Every value is a pure function of (seed,
  * event id), so the same seed always yields the same segments. A
  * segment is one parquet file, written without a shuffle: each segment's
  * rows come from one `spark.range` partition, and a partitioned write
  * by segment gives it one file.
  */
object Gen {

  /** Uniform double in [0, 1) from (seed, salt, id). */
  def uniform(seed: Long, salt: Int, id: Column): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), id), 11).cast("double") *
      lit(math.pow(2, -53))

  /** First entry of `mix` whose cumulative weight exceeds `u`. */
  def pick(u: Column, mix: Seq[(String, Double)]): Column = {
    val bounds = mix.scanLeft(0.0)(_ + _._2).tail
    mix.map(_._1).zip(bounds).foldRight(lit(mix.last._1)) {
      case ((name, b), acc) => when(u < lit(b), lit(name)).otherwise(acc)
    }
  }

  /** Writes `df`, whose int column `seg` numbers segments `first` to
    * `first + segs - 1` and never splits one across partitions, as
    * `dir/seg-<n>.parquet`, one file per segment.
    */
  def writeSegments(df: DataFrame, segs: Int, first: Int, staging: Path, dir: Path): Seq[Path] = {
    df.write.mode("overwrite").partitionBy("seg").parquet(staging.toString)
    Files.createDirectories(dir)
    val out = (first until first + segs).map { s =>
      val files = Fs.dataFiles(staging.resolve(s"seg=$s"), ".parquet")
      require(files.size == 1, s"segment $s: ${files.size} files")
      val dst = dir.resolve(f"seg-$s%06d.parquet")
      Fs.move(files.head, dst)
      dst
    }
    Fs.rmrf(staging)
    out
  }

  /** Nanosecond base of every event timestamp (2024-01-23, UTC). */
  val TsBaseNs = 1706000000000000000L

  // ------------------------------------------------------------- events

  /** Event-type mix of the `events` segments: the four message kinds plus
    * `click`, which the connector drops as an unknown type.
    * signup → INSERT, purchase → UPDATE, error → DELETE, view → SNAPSHOT.
    * Even shares, as measured in the `events` table of the sf0.001–sf0.1
    * test data (each type 19.8–20.3%) and as `graft.StreamLoad` generates.
    */
  val EventMix: Seq[(String, Double)] = Seq(
    "signup" -> 0.2, "purchase" -> 0.2, "error" -> 0.2,
    "view" -> 0.2, "click" -> 0.2)

  /** Zipf(s) rank over [0, keys) by inverse-CDF of the continuous
    * approximation, scattered over the key space by a multiplicative
    * permutation (the multiplier is coprime to `keys` when `keys` has
    * only the prime factors 2 and 5).
    */
  def zipfKey(u: Column, keys: Long, s: Double): Column = {
    val a = 1.0 - s
    val rank = least(floor(pow(u * lit(math.pow(keys + 1.0, a) - 1.0) + lit(1.0),
      lit(1.0 / a))) - lit(1L), lit(keys - 1)).cast("long")
    pmod(rank * lit(2654435761L), lit(keys))
  }

  /** Segments below this many events are written by one task: per-file
    * task overhead would dominate them.
    */
  val SmallSegEvents = 5000

  /** Event segments in the `events` schema, written as `seg-<i>.parquet`
    * in `dir`: for each (count, size) run in `runs`, `count` segments of
    * `size` events, event ids consecutive from 0 across all of them.
    */
  def eventSegments(spark: SparkSession, seed: Long, runs: Seq[(Int, Int)], keys: Long,
      zipfS: Double, staging: Path, dir: Path): Seq[Path] = {
    val firstIds = runs.scanLeft(0L) { case (at, (n, per)) => at + n.toLong * per }
    val firstSegs = runs.scanLeft(0) { case (at, (n, _)) => at + n }
    runs.indices.flatMap { r =>
      val (n, per) = runs(r)
      val tasks = if (per < SmallSegEvents) 1 else n
      val seg = lit(firstSegs(r)) + ((col("id") - lit(firstIds(r))) / lit(per.toLong)).cast("int")
      val df = spark.range(firstIds(r), firstIds(r) + n.toLong * per, 1, tasks).select(
        seg.as("seg"),
        col("id").as("event_id"),
        (lit(TsBaseNs) + col("id") * lit(1000L)).as("ts"),
        zipfKey(uniform(seed, 1, col("id")), keys, zipfS).as("user_id"),
        pick(uniform(seed, 2, col("id")), EventMix).as("event_type"),
        (pmod(col("id"), lit(97L)) / 10.0).as("value"),
        lit("{}").as("props"))
      writeSegments(df, n, firstSegs(r), staging, dir)
    }
  }

  /** Expected end state of an events stream: per (index, doc id) the last
    * routed write — `index` with its document, or `delete`. signup and
    * error touch users_idx by user id, purchase touches orders_idx, view
    * (the unmapped audit_log) and click are not indexed.
    */
  def expectedEvents(events: DataFrame): DataFrame = {
    val routed = events
      .filter(col("event_type").isin("signup", "purchase", "error"))
      .select(
        when(col("event_type") === "purchase", "orders_idx")
          .otherwise("users_idx").as("index"),
        col("user_id").cast("string").as("id"),
        col("event_id"),
        when(col("event_type") === "error", "delete").otherwise("index").as("action"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(to_json(struct(
            col("user_id").as("id"),
            when(col("event_type") === "signup", "INSERT").otherwise("UPDATE").as("op"),
            expr("ts div 1000").as("event_time_us")))).as("source"))
    routed.groupBy("index", "id")
      .agg(max_by(struct(col("action"), col("source")), col("event_id")).as("w"))
      .select(col("index"), col("id"), col("w.action"), col("w.source"))
  }

  // ------------------------------------------------------------ pgoutput

  val RelOid = 51300L
  val PgIndex = "events_idx"
  val PgMapping = Map("public.events_t" -> PgIndex)

  /** Insert / update / delete mix of the capture segments. */
  val PgMix: Seq[(String, Double)] = Seq(
    "insert" -> 0.50, "update" -> 0.35, "delete" -> 0.15)

  /** Frame sequence base of segment `s` when each segment carries `per`
    * DML frames: Begin at base, Relation (segment 0 only) at base + 1,
    * DMLs from base + 2, Commit after them; bases never overlap.
    */
  def pgBase(s: Int, per: Int): Long = s.toLong * (per + 16)

  /** DML events of a capture, `per` per segment (one partition each)
    * over uniform keys: (seg, seq, op, key, etype, payload).
    */
  def pgEvents(spark: SparkSession, seed: Long, segs: Int, per: Int, keys: Long): DataFrame = {
    val seg = (col("id") / lit(per.toLong)).cast("int")
    spark.range(0L, segs.toLong * per, 1, segs).select(
      seg.as("seg"),
      (seg.cast("long") * lit(per + 16L) + lit(2L) + pmod(col("id"), lit(per.toLong))).as("seq"),
      pick(uniform(seed, 4, col("id")), PgMix).as("op"),
      floor(uniform(seed, 3, col("id")) * lit(keys.toDouble)).cast("long").cast("string").as("key"),
      concat(lit("evt"), pmod(col("id"), lit(5L)).cast("string")).as("etype"),
      concat(lit("{\"v\":"), pmod(col("id"), lit(97L)).cast("string"), lit("}")).as("payload"))
  }

  private def txt(s: String): UTF8String = UTF8String.fromString(s)

  /** One DML as an XLogData-enveloped pgoutput frame. */
  def dmlFrame(seq: Long, walEnd: Long, op: String, key: String,
      etype: String, payload: String): Array[Byte] = {
    val newVals = new GenericArrayData(Array[Any](txt(key), txt(etype), txt(payload)))
    val msg = op match {
      case "delete" => PgWire.encodeDml(txt("delete"), RelOid,
        new GenericArrayData(Array[Any](txt(key), null, null)), null)
      case _ => PgWire.encodeDml(txt(op), RelOid, null, newVals)
    }
    PgWire.encodeXLogData(seq, walEnd, TsBaseNs / 1000, msg)
  }

  /** Control frames of segment `s` as (seq, frame): Begin, the one
    * Relation message (segment 0 only — later segments resolve it through
    * the carried registry), and Commit last.
    */
  def controlFrames(s: Int, per: Int): Seq[(Long, Array[Byte])] = {
    val b = pgBase(s, per)
    val ts = TsBaseNs / 1000 + s
    val end = b + per + 2
    val begin = (b, PgWire.encodeXLogData(b, b, ts, PgWire.encodeBegin(end, ts, 1000 + s)))
    val rel =
      if (s == 0) Seq((b + 1, PgWire.encodeXLogData(b + 1, b, ts,
        PgWire.encodeRelation(RelOid, "public", "events_t", Seq(
          ("id", true, 25L), ("event_type", false, 25L), ("payload", false, 25L))))))
      else Nil
    val commit = (end, PgWire.encodeXLogData(end, b, ts, PgWire.encodeCommit(end, end + 1, ts)))
    (begin +: rel) :+ commit
  }

  /** Capture segments: one parquet file of (seq, frame) per segment, one
    * transaction each.
    */
  def pgCapture(spark: SparkSession, seed: Long, segs: Int, per: Int, keys: Long,
      staging: Path, dir: Path): Seq[Path] = {
    import spark.implicits._
    val frames = pgEvents(spark, seed, segs, per, keys)
      .as[(Int, Long, String, String, String, String)]
      .mapPartitions { it =>
        val rows = it.buffered
        if (!rows.hasNext) Iterator.empty
        else {
          val s = rows.head._1
          val ctl = controlFrames(s, per).map { case (seq, f) => (s, seq, f) }
          ctl.init.iterator ++ rows.map { case (_, seq, op, key, etype, payload) =>
            (s, seq, dmlFrame(seq, pgBase(s, per), op, key, etype, payload))
          } ++ Iterator(ctl.last)
        }
      }
    writeSegments(frames.toDF("seg", "seq", "frame"), segs, 0, staging, dir)
  }

  /** Expected end state of a capture: per key the last DML — `index`
    * with the new row as a JSON object, or `delete`.
    */
  def expectedPg(events: DataFrame): DataFrame =
    events.groupBy("key")
      .agg(max_by(struct(col("op"), col("etype"), col("payload")), col("seq")).as("w"))
      .select(
        lit(PgIndex).as("index"),
        col("key").as("id"),
        when(col("w.op") === "delete", "delete").otherwise("index").as("action"),
        when(col("w.op") === "delete", lit(null).cast("string"))
          .otherwise(to_json(map_from_arrays(
            array(lit("id"), lit("event_type"), lit("payload")),
            array(col("key"), col("w.etype"), col("w.payload"))))).as("source"))
}
