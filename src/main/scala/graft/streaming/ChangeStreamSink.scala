package graft.streaming

import graft.PlanAudit
import graft.cdc.{BucketedSnapshot, ChangeLoader, Cursor, CursorLog, CursorStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** SURVEY §2.1 #8 — the reference's sink loop (`sinker/sinker.go:96-190` +
  * `db/flush.go`) as a Structured Streaming `foreachBatch` sink.
  *
  * Per micro-batch (the flush unit — the reference flushes every N blocks;
  * here the trigger interval plays that role):
  *
  *   0. if the cursor store already has (moduleHash, batchId) committed,
  *      return — a replayed batch's snapshot + cursor are already durable,
  *      so recovery is a true no-op (never recompute, never touch a path a
  *      concurrent plan might be reading),
  *   1. collapse the batch's changes per pk ([[ChangeLoader.collapse]] — the
  *      reference's in-batch op merge),
  *   2. read the prior snapshot, apply the collapsed ops
  *      ([[ChangeLoader.applyBatch]]), write the next snapshot version
  *      (a NEW pk-bucketed table per batchId — never overwriting a version
  *      being read),
  *   3. commit the cursor keyed by batchId ([[CursorStore.commit]] is a
  *      no-op on replay).
  *
  * Steps 2+3 give the reference's "ops + cursor in one transaction"
  * exactly-once guarantee under micro-batch replay.
  *
  * Scale: snapshot versions are pk-bucketed+sorted tables
  * ([[BucketedSnapshot]]), so the apply join's snapshot side arrives
  * pre-partitioned and ONLY the collapsed delta shuffles — per-flush network
  * is O(batch), not O(snapshot), the lake equivalent of the reference
  * target's ORDER BY pk MergeTree merge. (The snapshot files are still
  * rewritten on disk each flush — bounding that needs a compacting format's
  * merge-on-read; the shuffle, which is the cluster-wide cost, is delta-only.)
  */
/** The reference's flush cadence (`sinker/sinker.go:20-21,180-194`):
  * historical blocks flush every `HISTORICAL_BLOCK_FLUSH_EACH` (1000),
  * blocks at the live edge (≥ `headBlock`) flush EVERY block, and a
  * positive `flushInterval` overrides the historical modulo.
  */
final case class FlushPolicy(
    flushInterval: Long = 0L,
    headBlock: Long = Long.MaxValue
) {
  def modulo: Long =
    if (flushInterval > 0) flushInterval else FlushPolicy.HistoricalEach

  /** The flush unit a block belongs to. Historical units (block ÷ modulo)
    * are always numerically below live units (the block number itself, one
    * unit per block), so ascending unit order is ascending block order.
    */
  def unitOf(block: Long): Long =
    if (block >= headBlock) block else block / modulo
}

object FlushPolicy {
  val HistoricalEach = 1000L
  val LiveEach = 1L
}

/** Size-triggered compaction for the merge-on-read write path: the base
  * re-materializes when EITHER the pending-delta count reaches `maxDeltas`
  * (the read plan's depth bound) OR the deltas' accumulated on-disk bytes
  * reach `maxDeltaBytes`. Count alone (the fixed `compactEvery` cadence)
  * compacts a trickle of tiny deltas as eagerly as a burst of huge ones;
  * a byte threshold makes compaction track the actual read amplification.
  * Byte totals come from filesystem metadata (a driver-side listing of the
  * delta tables' files — no Spark job, no data read).
  */
final case class CompactionPolicy(
    maxDeltas: Int = Int.MaxValue,
    maxDeltaBytes: Long = Long.MaxValue
) {
  require(maxDeltas >= 1, "maxDeltas must be ≥ 1")
  require(maxDeltaBytes >= 1, "maxDeltaBytes must be ≥ 1")
  require(maxDeltas != Int.MaxValue || maxDeltaBytes != Long.MaxValue,
    "unbounded CompactionPolicy would never compact")
}

final class ChangeStreamSink(
    baseDir: String,
    moduleHash: String,
    fieldCols: Seq[String],
    buckets: Int = 8,
    policy: Option[FlushPolicy] = None,
    /** Merge-on-read cadence: 1 (default) materializes the full snapshot
      * every flush (simple, read-optimal); N > 1 writes only the COLLAPSED
      * DELTA for intermediate flushes — O(delta) disk I/O, the MergeTree-
      * style write path — and materializes every Nth flush (compaction).
      * Reads compose base + pending deltas, so the plan depth between
      * compactions is bounded by N.
      */
    compactEvery: Int = 1,
    /** When set, OVERRIDES `compactEvery`: merge-on-read deltas accumulate
      * until the [[CompactionPolicy]]'s count or byte threshold trips.
      */
    compaction: Option[CompactionPolicy] = None,
    /** When set, maintain an incremental materialized rollup alongside the
      * snapshot ([[graft.cdc.MaterializedAgg]]): each flush writes an
      * O(groups) agg-state version updated from ONLY the batch's pks —
      * prior rows subtract, post-apply rows add — committed under the same
      * batchId as the snapshot, so replay/rollback semantics carry over.
      */
    mv: Option[graft.cdc.MaterializedAgg.MvDef] = None
) {
  require(compactEvery >= 1, "compactEvery must be ≥ 1")

  /** Snapshot versions are catalog tables (bucketing metadata lives in the
    * catalog); the name is namespaced by (baseDir, moduleHash) so parallel
    * sinks never collide.
    */
  private val tablePrefix = {
    val h = MessageDigest.getInstance("MD5")
      .digest(s"$baseDir:$moduleHash".getBytes(StandardCharsets.UTF_8))
      .take(5).map("%02x".format(_)).mkString
    s"graft_snap_$h"
  }
  private[graft] def snapTable(batchId: Long) = s"${tablePrefix}_v$batchId"

  /** The last materializing flush's apply frame, kept unplanned so a
    * flush never pays for [[lastApplyAudit]].
    */
  @volatile private var lastApply: Option[DataFrame] = None

  /** Plan audit of the last flush's apply join, taken on request (spec
    * hook: proves the snapshot side contributed no shuffle).
    */
  private[graft] def lastApplyAudit: Option[PlanAudit.Audit] =
    lastApply.map(next => PlanAudit.audit(next.queryExecution.executedPlan))

  private def deltaTable(batchId: Long) = s"${tablePrefix}_d$batchId"

  private[graft] def mvTable(batchId: Long) = s"${tablePrefix}_m$batchId"

  private def store(spark: SparkSession) = new CursorStore(s"$baseDir/cursor", spark)

  private def isDelta(spark: SparkSession, batchId: Long): Boolean =
    spark.catalog.tableExists(deltaTable(batchId))

  /** On-disk bytes of a catalog table — a recursive file listing of its
    * location (driver-side metadata only; no job, no footer reads).
    */
  private def tableBytes(spark: SparkSession, table: String): Long = {
    val path = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graftshim.GraftSqlShim.tableLocation(spark, table))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var sum = 0L
    while (it.hasNext) sum += it.next().getLen
    sum
  }

  /** The newest committed snapshot (resolved through the cursor store).
    * With merge-on-read, pending deltas since the last materialized base
    * fold into the read plan oldest-first — at most `compactEvery − 1`
    * applies deep.
    */
  def latestSnapshot(spark: SparkSession): Option[DataFrame] = {
    val log = store(spark).view()
    log.latest(moduleHash).map { case (_, bid) => snapshotAt(spark, log, bid) }
  }

  /** The newest committed materialized-rollup state (only when the sink was
    * constructed with `mv`); [[graft.cdc.MaterializedAgg.view]] for the
    * reader-facing shape.
    */
  def latestMv(spark: SparkSession): Option[DataFrame] = mv.flatMap { _ =>
    store(spark).readWithBatch(moduleHash).collect {
      case (_, bid) if spark.catalog.tableExists(mvTable(bid)) =>
        spark.table(mvTable(bid))
    }
  }

  /** The snapshot as of a committed version: the version's base table, or —
    * for a delta version — the newest base with every pending delta folded
    * in oldest-first.
    */
  private def snapshotAt(spark: SparkSession, log: CursorLog, bid: Long): DataFrame =
    if (!isDelta(spark, bid)) spark.table(snapTable(bid))
    else {
      val bids = log.batches(moduleHash).filter(_ <= bid).reverse
      val (deltas, rest) = bids.span(isDelta(spark, _))
      val base = rest.headOption.map(b => spark.table(snapTable(b))).getOrElse {
        val schema = spark.table(deltaTable(deltas.last))
          .drop("last_block", "deleted", "revived").schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      }
      deltas.reverse.foldLeft(base) { (snap, b) =>
        ChangeLoader.applyBatch(snap, spark.table(deltaTable(b)), fieldCols)
      }
    }

  /** Max flush units per micro-batch when a [[FlushPolicy]] is set (the
    * synthetic version-id stride).
    */
  private val UnitStride = 4096L

  /** [[FlushPolicy.unitOf]] as a column — the data-side twin of the driver
    * method, so unit derivation runs distributed and the driver only ever
    * sees the ≤ [[UnitStride]] distinct unit ids.
    */
  private def unitCol(p: FlushPolicy): org.apache.spark.sql.Column =
    when(col("block") >= p.headBlock, col("block"))
      .otherwise(expr(s"block div ${p.modulo}"))

  def processBatch(batch: DataFrame, batchId: Long): Unit = policy match {
    case None => flushOne(batch, batchId)
    case Some(p) =>
      // The reference flushes whenever blockNum % modulo == 0
      // (`sinker.go:119`); the lake equivalent partitions the micro-batch
      // into contiguous block ranges (one per flush unit) and runs one
      // versioned flush per unit, in block order. Unit ids are data-derived
      // (deterministic), so a replayed micro-batch regenerates the same
      // sub-flushes and each one's committed-check skips what already
      // landed — mid-batch crash recovery resumes at the exact unit.
      //
      // Persist FIRST: the unit-derivation scan materializes the cache, and
      // every sub-flush filters the cached frame — one micro-batch source
      // scan total, however many units a historical backfill spans.
      val withUnit = batch.withColumn("_unit", unitCol(p))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // distinct over the UNIT expression, never raw blocks — a backfill
        // batch has modulo× more blocks than units; driver traffic is
        // O(units) ≤ UnitStride by the require below.
        val units = withUnit.select(col("_unit")).distinct()
          .collect().map(_.getLong(0)).sorted
        require(units.length <= UnitStride,
          s"micro-batch spans ${units.length} flush units (> $UnitStride); " +
            "raise the trigger rate or the flush interval")
        units.zipWithIndex.foreach { case (u, idx) =>
          flushOne(withUnit.filter(col("_unit") === u).drop("_unit"),
            batchId * UnitStride + idx)
        }
      } finally { withUnit.unpersist(blocking = false); () }
  }

  private def flushOne(batch: DataFrame, bid: Long): Unit = {
    val spark = batch.sparkSession
    val log = store(spark).view()
    if (log.committed(moduleHash, bid)) return // replay: durable already
    val t0 = System.currentTimeMillis()
    val head = batch
      .agg(max("block"), count(lit(1)), countDistinct(col("pk")), min("block")).collect()(0)
    if (head.getLong(1) == 0L) return
    val collapsed = ChangeLoader.collapse(batch, fieldCols)
    val pendingBids = log.batches(moduleHash).reverse.takeWhile(isDelta(spark, _))
    val materialize = compaction match {
      case Some(cp) =>
        pendingBids.size >= cp.maxDeltas ||
          (cp.maxDeltaBytes != Long.MaxValue &&
            pendingBids.map(b => tableBytes(spark, deltaTable(b))).sum >= cp.maxDeltaBytes)
      case None => compactEvery <= 1 || pendingBids.size >= compactEvery - 1
    }
    val tFlush = System.currentTimeMillis()
    lazy val prior = log.latest(moduleHash) match {
      case Some((_, b)) => snapshotAt(spark, log, b)
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          collapsed.drop("last_block", "deleted", "revived").schema)
    }
    if (materialize) {
      val next = ChangeLoader.applyBatch(prior, collapsed, fieldCols)
      lastApply = Some(next)
      BucketedSnapshot.write(next, snapTable(bid), buckets)
    } else {
      // merge-on-read delta flush: write ONLY the collapsed batch —
      // O(delta) disk, the MergeTree-style write path; readers fold it in
      BucketedSnapshot.write(collapsed, deltaTable(bid), buckets)
    }
    // incremental rollup: delta-merge from ONLY the batch's pks (prior rows
    // via a pk semi-join on the bucketed snapshot), versioned under this
    // batchId — written BEFORE the cursor commit, same durability order as
    // the snapshot itself (a crash in between replays into the overwrite)
    mv.foreach { d =>
      val priorAgg = log.latest(moduleHash) match {
        case Some((_, b)) if spark.catalog.tableExists(mvTable(b)) =>
          spark.table(mvTable(b))
        case _ => graft.cdc.MaterializedAgg.empty(collapsed, d)
      }
      val touched = collapsed.select("pk")
      val priorTouched = prior.join(touched, Seq("pk"), "left_semi")
      val newTouched = ChangeLoader.applyBatch(priorTouched, collapsed, fieldCols)
      graft.cdc.MaterializedAgg.merge(priorAgg, priorTouched, newTouched, d)
        .write.mode("overwrite").saveAsTable(mvTable(bid))
    }
    val maxBlock = if (head.isNullAt(0)) -1L else head.getLong(0)
    val minBlock = if (head.isNullAt(3)) -1L else head.getLong(3)
    store(spark).commit(Cursor(moduleHash, s"cursor:$maxBlock", maxBlock,
      s"block:$maxBlock"), bid)
    new SinkStats(s"$baseDir/stats", spark).record(FlushStat(
      moduleHash, bid, maxBlock, minBlock, head.getLong(1), head.getLong(2),
      flushMillis = System.currentTimeMillis() - tFlush,
      wallMillis = math.max(1, System.currentTimeMillis() - t0)))
    // live counters (the reference's process-wide metrics set)
    LiveSinkStats.of(moduleHash).recordFlush(head.getLong(1), maxBlock,
      (System.currentTimeMillis() - tFlush) * 1000000L)
  }

  /** Roll the sink back to an earlier committed batch (a chain-reorg /
    * BlockUndoSignal response). The reference refuses undo signals outright
    * (`sinker/sinker.go:176` errors on any undo); here versioned snapshots
    * make it a cursor re-commit — the snapshot written by `toBatchId`
    * becomes current again and later versions are ignored.
    *
    * The re-committed cursor carries the BLOCK number the rolled-back batch
    * originally committed (read from its cursor row), keeping blockNum-based
    * resolution (`readWithMismatch` warn mode) truthful. `newBatchId` must
    * exceed every committed batchId — a collision with a future Structured
    * Streaming batch would make that batch's commit a silent no-op — so it
    * fails fast instead.
    */
  def rollbackTo(spark: SparkSession, toBatchId: Long, newBatchId: Long): Unit = {
    val log = store(spark).view()
    val rolled = log.at(moduleHash, toBatchId).getOrElse(
      throw new IllegalArgumentException(s"no committed cursor for batch $toBatchId"))
    val maxCommitted = log.maxBatchId(moduleHash)
    require(newBatchId > maxCommitted,
      s"newBatchId $newBatchId must exceed every committed batchId (max $maxCommitted); " +
        "a collision would silently swallow a future micro-batch's commit")
    // re-commit the old snapshot under the new batch id so the cursor log
    // stays append-only and resolves (by commit order) to the rolled-back
    // state (snapshotAt materializes even if toBatchId was a delta version)
    BucketedSnapshot.write(snapshotAt(spark, log, toBatchId), snapTable(newBatchId), buckets)
    // the rollup rolls back with the snapshot: re-expose the old version's
    // agg state under the new batchId (every mv flush wrote one)
    mv.foreach { _ =>
      if (spark.catalog.tableExists(mvTable(toBatchId)))
        spark.table(mvTable(toBatchId)).write.mode("overwrite")
          .saveAsTable(mvTable(newBatchId))
    }
    store(spark).commit(Cursor(moduleHash, s"cursor:rollback:${rolled.blockNum}",
      rolled.blockNum, rolled.blockId), newBatchId)
  }

  /** Attach to a streaming changes frame. */
  def start(changes: DataFrame, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      // named after the module so LiveSinkStats.listener(queryName = ...)
      // can pick this query's progress events off the session-global bus.
      // A per-start nonce keeps active-query names unique: Spark rejects two
      // live queries with the same name, so a bare moduleHash would make
      // restart-while-prior-query-still-active (or two sinks sharing a
      // hash) throw. The listener matches on the moduleHash PREFIX.
      .queryName(s"$moduleHash-${java.util.UUID.randomUUID().toString.take(8)}")
      .foreachBatch((b: DataFrame, id: Long) => processBatch(b, id))
      .start()
}
