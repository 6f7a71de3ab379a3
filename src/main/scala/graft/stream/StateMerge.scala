package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftext.Slices
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ops.CdcOps

/** X1 streaming form — the reference's server-side scripted upsert
  * (example/script-update/main.go:132-182: version counter increment,
  * conditional field set, merge of new fields) re-expressed as Spark
  * custom state: `flatMapGroupsWithState` holds the per-document merge
  * state the reference delegates to ES's Painless engine, and the sink
  * emits the byte-identical scripted-upsert `_bulk` encoding
  * (`{"update":{...}}` + `{"script":…,"scripted_upsert":true}`,
  * bulk.go:237-241).
  *
  * State is keyed by document id, restored from the checkpoint on restart
  * (the version counter survives failover exactly like ES-side state
  * survives the reference's restarts). At scale the state store shuffles
  * once on the key and holds O(live keys) — the watermark on event time
  * bounds nothing here by design (document state is permanent), matching
  * the reference's unbounded ES documents.
  */
object StateMerge {

  case class Upd(userId: Long, eventId: Long, eventTimeUs: Long, value: Double)
  case class DocState(version: Long, lastValue: Double, updatedAtUs: Long)
  case class Upsert(docId: String, version: Long, lastValue: Double, updatedAtUs: Long)

  /** Merge a micro-batch of updates for one key into its running state —
    * the Painless script's semantics (script-update/main.go:134-143):
    * `version += 1` per update, last-value-wins field set.
    */
  private def merge(key: Long, rows: Iterator[Upd],
      state: GroupState[DocState]): Iterator[Upsert] = {
    val batch = rows.toSeq.sortBy(_.eventId)
    if (batch.isEmpty) Iterator.empty
    else {
      val prev = state.getOption.getOrElse(DocState(0L, 0.0, 0L))
      val next = DocState(
        version = prev.version + batch.size,
        lastValue = batch.last.value,
        updatedAtUs = math.max(prev.updatedAtUs, batch.map(_.eventTimeUs).max))
      state.update(next)
      Iterator(Upsert(key.toString, next.version, next.lastValue, next.updatedAtUs))
    }
  }

  /** UPDATE-typed events → per-doc upsert stream with persistent state. */
  def upsertStream(spark: SparkSession, eventsDir: String): DataFrame = {
    import spark.implicits._
    CdcOps.typedMessages(Pipeline.changeStream(spark, eventsDir))
      .filter(col("msg_type") === "UPDATE")
      .select(col("user_id").as("userId"), col("event_id").as("eventId"),
        col("event_time_us").as("eventTimeUs"), col("val").as("value"))
      .as[Upd]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(merge)
      .toDF()
  }

  /** The merge script the sink ships (≙ the Painless script of
    * script-update/main.go:134-143); params carry the merged state.
    */
  val UpsertScript: String =
    "ctx._source.version = params.version; " +
      "ctx._source.last_value = params.last_value; " +
      "ctx._source.updated_at_us = params.updated_at_us"

  /** The scripted-upsert `_bulk` NDJSON encoding, THROUGH the canonical
    * encoder (CdcOps.bulkLines handles the `update` action kind and the
    * `{"script":…,"scripted_upsert":true}` body wrap, bulk.go:237-241):
    * meta `{"update":{"_index":…,"_id":…}}`, script JSON in Go marshal
    * order (params, then source — action.go:21-24).
    */
  def encodeUpsert(upserts: DataFrame, indexName: String): DataFrame = {
    val params = concat(
      lit("""{"version":"""), col("version"),
      lit(""","last_value":"""), col("lastValue"),
      lit(""","updated_at_us":"""), col("updatedAtUs"), lit("}"))
    val actions = upserts.select(
      lit(graft.model.ActionType.ScriptUpdate).as("action_type"),
      col("docId").as("doc_id"),
      lit(indexName).as("index_name"),
      CdcOps.scriptJson(UpsertScript, params).as("source"))
    actions.select(CdcOps.bulkLines(actions, 8, "_doc").as("value"))
  }

  /** RocksDB state-store provider (ships with Spark 4): the scale path
    * for the per-document merge state — heap state is O(live keys) in
    * executor memory, RocksDB spills to local disk, and changelog
    * checkpointing (enabled here — it is OFF by Spark default) uploads
    * per-commit deltas instead of full snapshots, which is what an
    * unbounded document population needs. Session-wide conf, read when a
    * stateful query STARTS — set it before the first one.
    */
  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
  }

  /** The heap default (HDFS-backed snapshot files), for explicitly
    * switching a session back from [[useRocksDbStateStore]].
    */
  def useDefaultStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    spark.conf.unset(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
  }

  /** End-to-end: stateful merge → scripted-upsert bulk files, checkpointed
    * (version counters resume across restarts). `rocksDb`: `Some(true)`
    * selects the RocksDB provider, `Some(false)` the heap default, `None`
    * (default) leaves the session's provider conf untouched — the conf is
    * session-wide, so a boolean toggle would ratchet one way and
    * silently move OTHER stateful queries in the session.
    */
  def run(spark: SparkSession, eventsDir: String, bulkOutDir: String,
      checkpointDir: String, indexName: String = "users_idx",
      trigger: Trigger = Trigger.AvailableNow(),
      rocksDb: Option[Boolean] = None): StreamingQuery = {
    rocksDb.foreach(on =>
      if (on) useRocksDbStateStore(spark) else useDefaultStateStore(spark))
    Leg.start(upsertStream(spark, eventsDir), "script-update",
        checkpointDir, trigger) { (batch, batchId) =>
      Slices.writeText(encodeUpsert(batch, indexName), s"$bulkOutDir/batch_$batchId")
    }
  }
}
