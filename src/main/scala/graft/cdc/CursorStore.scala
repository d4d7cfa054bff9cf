package graft.cdc

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** A stored stream cursor (reference `db/cursor.go` cursors table row). */
final case class Cursor(
    moduleHash: String,
    cursor: String,
    blockNum: Long,
    blockId: String
)

/** How to react when no cursor exists for the module hash but cursors exist
  * for OTHER hashes (the reference's `--on-module-hash-mistmatch`,
  * `sinker/sinker.go` + `db/cursor.go:95-137`).
  */
object MismatchMode {
  val Error = "error"
  val Warn = "warn"
  val Ignore = "ignore"
}

/** One read of the cursor log — the single place a cursor resolves.
  *
  * Every question a sink asks of the log (latest, strictly-before,
  * at-batch, committed, batches, max batchId, every module's resolved
  * cursor) is answered by one rule over the same rows: per module, the
  * row with the highest (batchId, blockNum) is current. Resolution is by
  * commit order (batchId), not block height — a rollback commit
  * legitimately moves the block number backwards.
  *
  * A view is immutable: it never sees a commit made after it was read.
  * [[withCommit]] extends it by a commit the caller just made.
  */
final class CursorLog private[cdc] (rows: Seq[(Cursor, Long)]) {

  // each module's rows, newest first by the resolution rule
  private val byModule: Map[String, Seq[(Cursor, Long)]] =
    rows.groupBy(_._1.moduleHash).map { case (m, rs) =>
      m -> rs.sortBy { case (c, bid) => (-bid, -c.blockNum) }
    }

  private def rowsOf(moduleHash: String) = byModule.getOrElse(moduleHash, Seq.empty)

  /** Current cursor plus the batchId that committed it. */
  def latest(moduleHash: String): Option[(Cursor, Long)] = rowsOf(moduleHash).headOption

  /** Newest cursor committed STRICTLY BEFORE `batchId`. */
  def before(moduleHash: String, batchId: Long): Option[(Cursor, Long)] =
    rowsOf(moduleHash).find(_._2 < batchId)

  /** The cursor row a specific batch committed. */
  def at(moduleHash: String, batchId: Long): Option[Cursor] =
    rowsOf(moduleHash).find(_._2 == batchId).map(_._1)

  def committed(moduleHash: String, batchId: Long): Boolean =
    at(moduleHash, batchId).isDefined

  /** Every batchId committed for the module, ascending. */
  def batches(moduleHash: String): Seq[Long] = rowsOf(moduleHash).map(_._2).distinct.reverse

  /** Highest batchId committed for the module (−1 when none). */
  def maxBatchId(moduleHash: String): Long = latest(moduleHash).fold(-1L)(_._2)

  /** The resolved (current) cursor of every module. */
  def resolved: Map[String, Cursor] = byModule.map { case (m, rs) => m -> rs.head._1 }

  /** This view plus a commit the caller has just made. */
  def withCommit(c: Cursor, batchId: Long): CursorLog = new CursorLog(rows :+ (c -> batchId))
}

/** Parquet-backed cursor store with idempotent, batch-scoped commits.
  *
  * Re-expresses the reference's cursor table (`db/cursor.go:27-137`): one
  * logical row per output-module hash, atomically advanced with each flush.
  * Storage is an append-only parquet log under `path`, one file per commit;
  * the current cursor resolves on read ([[CursorLog]]) — append + resolve
  * -on-read is the lake-native equivalent of the reference's UPDATE-in-txn,
  * and replaying a Structured Streaming batch (same batchId) is a no-op on
  * resolve, giving exactly-once cursor semantics under retries.
  *
  * One-read rule: [[view]] is the only read of the log — one Spark job
  * over the log's fixed five-column schema (no inference job), whose rows
  * the driver holds and [[CursorLog]] resolves in plain Scala. A flush
  * takes one view and asks it every question; the named lookups below
  * each take a fresh view, so a store never serves a stale read. The
  * driver holds one row per commit — the same rows the log's files hold,
  * one file each — so [[compact]] bounds both the log and the view.
  *
  * The admin surface ([[allCursors]]/[[delete]]/[[deleteAll]]) mirrors
  * the reference's `GetAllCursors`/`DeleteCursor`/`DeleteAllCursors`
  * (`db/cursor.go:26-46,129-143`).
  */
final class CursorStore(path: String, spark: SparkSession) {

  import spark.implicits._

  /** The whole log, read once (empty when no log exists yet). */
  def view(): CursorLog = new CursorLog(collectRows())

  /** Current cursor for the module hash, exact match only. */
  def read(moduleHash: String): Option[Cursor] = readWithBatch(moduleHash).map(_._1)

  /** Current cursor plus the micro-batch id that committed it. */
  def readWithBatch(moduleHash: String): Option[(Cursor, Long)] = view().latest(moduleHash)

  /** Newest cursor committed STRICTLY BEFORE `batchId`. The crash-replay-
    * safe prior resolution for a multi-step flush: a replayed batch whose
    * per-table commits partially landed must base itself on the PREVIOUS
    * batch's state, never on its own half-written one.
    */
  def readBatchBefore(moduleHash: String, batchId: Long): Option[(Cursor, Long)] =
    view().before(moduleHash, batchId)

  /** The cursor row a specific micro-batch committed (rollback resolution). */
  def cursorAt(moduleHash: String, batchId: Long): Option[Cursor] = view().at(moduleHash, batchId)

  /** Has this (moduleHash, batchId) already committed? The sink's replay
    * no-op check: a committed batch's snapshot + cursor are durable, so the
    * whole flush can be skipped.
    */
  def committed(moduleHash: String, batchId: Long): Boolean = view().committed(moduleHash, batchId)

  /** Every batchId committed for the module, ascending. */
  def allBatches(moduleHash: String): Seq[Long] = view().batches(moduleHash)

  /** Highest batchId committed for the module (−1 when none). */
  def maxBatchId(moduleHash: String): Long = view().maxBatchId(moduleHash)

  /** Reference `cursorAtHighestBlock` (db/cursor.go:48-104): on a
    * module-hash mismatch BOTH `warn` and `ignore` adopt the cursor at the
    * highest block across all hashes and use it as the starting point
    * (warn additionally logs; run.go's flag doc: "If 'warn' is used, it
    * does the same as 'ignore' but it will log a warning"); `error`
    * throws. r17 (ADVICE item 1): `ignore` previously started FRESH,
    * inverting the reference semantics. The candidate is the highest-block
    * cursor among each module's RESOLVED cursor (the reference scans
    * `GetAllCursors`), not the highest-block raw log row — an overwritten
    * old row must not win.
    */
  def readWithMismatch(moduleHash: String, mode: String): Option[Cursor] = {
    val log = view()
    log.latest(moduleHash).map(_._1).orElse {
      // deterministic tie-break on moduleHash (the reference iterates a Go
      // map — unspecified; determinism is strictly safer)
      val other = log.resolved.values.toSeq
        .sortBy(c => (-c.blockNum, c.moduleHash)).headOption
      (other, mode) match {
        case (None, _) => None
        case (Some(c), MismatchMode.Warn) =>
          System.err.println(
            s"warn: cursor module hash mismatch, continuing using cursor " +
              s"at highest block ${c.blockNum} (module ${c.moduleHash}, " +
              s"expected $moduleHash); silence with " +
              "--on-module-hash-mistmatch=ignore")
          Some(c)
        case (Some(c), MismatchMode.Ignore) => Some(c)
        case (Some(c), _) => throw new IllegalStateException(
          s"cursor exists for module ${c.moduleHash}, expected $moduleHash " +
            "(on-module-hash-mismatch=error)")
      }
    }
  }

  /** Idempotent commit: appending the same (moduleHash, batchId) twice
    * leaves the resolved cursor unchanged (replay-safe). The check reads
    * the log afresh — never a caller's view, which may predate a commit.
    */
  def commit(c: Cursor, batchId: Long): Unit =
    if (!committed(c.moduleHash, batchId)) writeRows(Seq(c -> batchId), SaveMode.Append)

  // ---- admin surface (reference db/cursor.go:26-46,129-143) --------------

  /** The resolved (current) cursor of every module — `GetAllCursors`. */
  def allCursors(): Map[String, Cursor] = view().resolved

  /** Drop every cursor row of one module — `DeleteCursor`. Returns the
    * number of rows removed (the reference errors on not-found; callers can
    * check == 0).
    */
  def delete(moduleHash: String): Long = rewrite(keep = _._1.moduleHash != moduleHash)

  /** Drop the whole store — `DeleteAllCursors`. */
  def deleteAll(): Long = rewrite(keep = _ => false)

  /** Bound log growth: keep only each module's newest `keepLast` commits.
    * The resolved cursor of every module is unchanged (resolution only ever
    * looks at the highest batchIds); older rows exist for audit/rollback, so
    * retention is the caller's policy.
    */
  def compact(keepLast: Int = 16): Long = {
    val rows = collectRows()
    val keep = rows.groupBy(_._1.moduleHash).valuesIterator
      .flatMap(_.sortBy(-_._2).take(keepLast)).toSeq
    writeRows(keep, SaveMode.Overwrite)
    (rows.size - keep.size).toLong
  }

  private def collectRows(): Seq[(Cursor, Long)] = {
    val log = try Some(spark.read.schema(CursorStore.Schema).parquet(path))
      catch { case _: Throwable => None }
    log.toSeq.flatMap(_.as[(String, String, Long, String, Long)].collect().map {
      case (m, c, b, id, bid) => (Cursor(m, c, b, id), bid)
    })
  }

  private def writeRows(rows: Seq[(Cursor, Long)], mode: SaveMode): Unit =
    rows.map { case (c, bid) => (c.moduleHash, c.cursor, c.blockNum, c.blockId, bid) }
      .toDF(CursorStore.Schema.fieldNames.toIndexedSeq: _*)
      .coalesce(1)
      .write.mode(mode).parquet(path)

  private def rewrite(keep: ((Cursor, Long)) => Boolean): Long = {
    val rows = collectRows()
    val kept = rows.filter(keep)
    writeRows(kept, SaveMode.Overwrite)
    (rows.size - kept.size).toLong
  }
}

object CursorStore {

  /** The log's columns, fixed since its first file. */
  private val Schema = StructType(Seq(
    StructField("moduleHash", StringType), StructField("cursor", StringType),
    StructField("blockNum", LongType), StructField("blockId", StringType),
    StructField("batchId", LongType)))
}
