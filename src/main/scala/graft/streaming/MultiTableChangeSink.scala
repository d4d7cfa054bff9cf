package graft.streaming

import graft.cdc.{BucketedSnapshot, ChangeLoader, Cursor, CursorStore, MultiTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** The reference's FULL sink loop — multi-table dispatch + atomic flush —
  * as a `foreachBatch` sink over the wire-shaped change feed
  * (`block, table, pk, op, fields map`).
  *
  * Reference semantics re-expressed (`sinker/sinker.go:136-174` dispatch,
  * `db/flush.go:12-63` one-transaction flush of all tables + cursor):
  *
  *   - the batch routes per table ([[MultiTable.forTable]]), collapses and
  *     applies per table, writing each table's next snapshot as a NEW
  *     pk-bucketed version keyed by batchId;
  *   - per-table cursors (`moduleHash#table`) track each table's newest
  *     version, so tables untouched by a batch are skipped (no rewrite);
  *   - the MODULE cursor commits LAST — it is the transaction's commit
  *     point. A crash before it leaves per-table writes that a replay
  *     deterministically overwrites (prior state resolves via
  *     [[graft.cdc.CursorLog.before]], never the half-written batch), so
  *     the observable state (module cursor → table versions) moves
  *     atomically: exactly-once under micro-batch replay.
  */
final class MultiTableChangeSink(
    baseDir: String,
    moduleHash: String,
    schemas: Map[String, StructType],
    buckets: Int = 8
) {

  private val prefix = {
    val h = MessageDigest.getInstance("MD5")
      .digest(s"$baseDir:$moduleHash".getBytes(StandardCharsets.UTF_8))
      .take(5).map("%02x".format(_)).mkString
    s"graft_mt_$h"
  }
  private[graft] def snapTable(table: String, batchId: Long) =
    s"${prefix}_${table}_v$batchId"

  private def tableCursorKey(table: String) = s"$moduleHash#$table"

  /** Each table's newest snapshot AS OF the module cursor — per-table
    * commits from a partially-flushed (crashed) batch stay invisible until
    * the module cursor lands, preserving the one-transaction reader view.
    */
  def latestSnapshots(spark: SparkSession): Map[String, DataFrame] = {
    val log = new CursorStore(s"$baseDir/cursor", spark).view()
    log.latest(moduleHash) match {
      case None => Map.empty
      case Some((_, moduleBid)) =>
        schemas.keys.flatMap { t =>
          log.before(tableCursorKey(t), moduleBid + 1).map { case (_, bid) =>
            t -> spark.table(snapTable(t, bid))
          }
        }.toMap
    }
  }

  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val store = new CursorStore(s"$baseDir/cursor", spark)
    val log = store.view()
    if (log.committed(moduleHash, batchId)) return // replay: durable already
    val t0 = System.currentTimeMillis()
    // One scan (the stats agg) fills the cache every table's route reads.
    val cached = batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val head = cached
        .agg(max("block"), count(lit(1)), countDistinct(col("table"), col("pk")),
          min("block")).collect()(0)
      if (head.getLong(1) == 0L) return
      schemas.foreach { case (t, sch) =>
        val typed = MultiTable.forTable(cached, t, sch)
        // a null max block: no row routes to this table, leave it untouched
        val mxRow = typed.agg(max("block")).collect()(0)
        if (!mxRow.isNullAt(0)) {
          val mx = mxRow.getLong(0)
          val fields = MultiTable.fieldCols(sch)
          val collapsed = ChangeLoader.collapse(typed, fields)
          // prior = the table's newest version from a batch STRICTLY before
          // this one (a replay after a partial flush must not read its own
          // half-written version)
          val prior = log.before(tableCursorKey(t), batchId) match {
            case Some((_, bid)) => spark.table(snapTable(t, bid))
            case None =>
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                collapsed.drop("last_block", "deleted", "revived").schema)
          }
          val next = ChangeLoader.applyBatch(prior, collapsed, fields)
          BucketedSnapshot.write(next, snapTable(t, batchId), buckets)
          store.commit(Cursor(tableCursorKey(t), s"cursor:$mx", mx, s"block:$mx"), batchId)
        }
      }
      val maxBlock = head.getLong(0)
      // the transaction commit point: everything above is invisible to
      // readers (latestSnapshots resolves through cursors) until this lands
      store.commit(Cursor(moduleHash, s"cursor:$maxBlock", maxBlock,
        s"block:$maxBlock"), batchId)
      val wall = math.max(1, System.currentTimeMillis() - t0)
      new SinkStats(s"$baseDir/stats", spark).record(FlushStat(
        moduleHash, batchId, maxBlock, head.getLong(3), head.getLong(1), head.getLong(2),
        flushMillis = wall, wallMillis = wall))
    } finally cached.unpersist()
  }

  /** Attach to a streaming wire-shaped changes frame. */
  def start(changes: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}
