package graft.streaming

import graft.cdc.{Cursor, CursorStore}
import graft.functions.GraftFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, IntegerType, StringType, StructField, StructType}

/** SURVEY §2.4 #261 — end-to-end streaming curation (`curate_stream`): the
  * LLM-data-pipeline composition (`Graft.curate`'s batch shape) as ONE
  * `foreachBatch` stream. Documents arrive in doc_id order (ordered
  * replay); each micro-batch runs the full screen stack —
  *
  *   1. quality scoring (#37, stateless per doc),
  *   2. exact dedup: md5 keep-first, within AND across batches,
  *   3. simhash near-dup screen: the #260 `stream_simhash_dedup` semantics
  *      (probe everything, index the first `cap` arrivals per pigeonhole
  *      band bucket, drop docs with a hamming≤2 earlier neighbor),
  *   4. benchmark decontamination (#73) against a STATIC 8-gram set,
  *
  * — and writes survivors to a per-batch `outDir/kept/batch=<bid>`
  * version. Cross-batch state is two parquet tables versioned per batch
  * under `outDir/state` (the object-store-native form a 100 TB
  * incremental curation run actually uses — state IS the corpus index,
  * not executor memory):
  *
  *   - `md5_seen_v<bid>`  (th): every canonical text hash ever seen,
  *   - `sim_index_v<bid>` (b, bkey, doc_id, sig): the first-cap band
  *     index, bounded at O(buckets × cap) rows by construction.
  *
  * r12: the whole flush rides the CDC sink's exactly-once contract
  * ([[ChangeStreamSink]] / reference `db/flush.go:13-69`): kept docs and
  * state versions are per-batch idempotent overwrites, a [[CursorStore]]
  * commit keyed by (module, batchId) is the transaction point, replays
  * of committed batches are true no-ops, and readers ([[keptAll]],
  * [[latestState]]) resolve only through committed cursors — a crash at
  * ANY point between writes duplicates and loses nothing.
  *
  * The simhash screen is the DECLARATIVE twin of the typed
  * `flatMapGroupsWithState` operator ([[StreamDedup]]): union the stored
  * index with the batch's band rows, rank per bucket by doc_id (arrival
  * order under ordered replay — the stored index always precedes the
  * batch), index = rank ≤ cap, and every batch doc probes all indexed
  * entries with a smaller id. Identical semantics, provable against the
  * same DuckDB oracle, and the whole batch stays in codegen joins instead
  * of a typed state traversal.
  *
  * Stream ≡ batch: running [[curateBatch]] once over the whole corpus with
  * empty state equals replaying it in ANY ordered micro-batch split —
  * every screen is either stateless or keyed by a monotone first-arrival
  * rule — which `CurateStreamSpec` pins exactly, and the single-batch form
  * is the driver-checked `queries` entry (oracle: the verified #37/#29/
  * #260/#73 CTEs recomposed into one kept-set).
  *
  * Batch-vs-stream semantic note, stated honestly: `Graft.curate`'s
  * near-dup stage drops non-canonicals of CONNECTED COMPONENTS (a doc can
  * be dropped for a similarity that arrives LATER — retroactive, not
  * streamable); this pipeline drops docs with an earlier-arrival neighbor,
  * the streaming-realizable screen (#260's first-cap discipline). The two
  * kept-sets legitimately differ on transitive families; each is
  * oracle-checked against its own semantics.
  *
  * Reference frame: the sink has no curation surface (its stream is CDC
  * rows, `sinker/sinker.go:96-190`); this is the LLM-pipeline extension
  * composed from this repo's own verified operators.
  */
object CurateStream {

  val Md5Schema: StructType = StructType(Seq(StructField("th", StringType)))
  val SimSchema: StructType = StructType(Seq(
    StructField("b", IntegerType), StructField("bkey", LongType),
    StructField("doc_id", LongType), StructField("sig", LongType)))

  /** The module identity the curation stream commits cursors under (the
    * reference's output-module hash, `db/cursor.go:27`).
    */
  val ModuleHash = "curate_stream"

  private def keptDir(outDir: String, bid: Long) = s"$outDir/kept/batch=$bid"
  private def md5Dir(outDir: String, bid: Long) = s"$outDir/state/md5_seen_v$bid"
  private def simDir(outDir: String, bid: Long) = s"$outDir/state/sim_index_v$bid"

  /** Start the curation stream over a streaming `documents` frame
    * (doc_id, lang, source, text). `benchGrams` is the static benchmark
    * 8-gram set (column `h`), known up front as in any decontamination
    * run. Survivors land in versioned `outDir/kept/batch=<bid>` dirs —
    * read them through [[keptAll]], which resolves the committed set.
    */
  def start(docsStream: DataFrame, outDir: String, benchGrams: DataFrame,
      minQuality: Double = 0.25,
      cap: Int = graft.dedup.Dedup.LshBucketCap): StreamingQuery =
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/checkpoint")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, bid, outDir, benchGrams, minQuality, cap)
      }
      .start()

  /** One micro-batch under the sink's exactly-once contract
    * ([[ChangeStreamSink]] / reference `db/flush.go:13-69`):
    *
    *   0. committed(ModuleHash, batchId) → return. A replayed batch whose
    *      kept docs + state + cursor are already durable is a true no-op —
    *      never re-append, never touch a version a reader may hold.
    *   1. prior state resolves through the cursor to the newest batch
    *      committed STRICTLY BEFORE this one (`CursorLog.before`) — a crash
    *      that left this batch's own half-written versions can never feed
    *      them back into its replay.
    *   2. kept docs and both state tables write to NEW per-batch versions
    *      (idempotent overwrites; orphans from a crash are overwritten by
    *      the replay and invisible to readers until step 3).
    *   3. the cursor commit is the transaction point: only after it do
    *      [[keptAll]] / [[latestState]] expose this batch's outputs.
    *
    * A crash between ANY two steps therefore loses nothing and duplicates
    * nothing (CurateStreamSpec's crash-replay leg pins it).
    */
  def processBatch(batch: DataFrame, batchId: Long, outDir: String,
      benchGrams: DataFrame, minQuality: Double, cap: Int): Unit = {
    val s = batch.sparkSession
    val store = new CursorStore(s"$outDir/cursor", s)
    val log = store.view()
    if (log.committed(ModuleHash, batchId)) return // replay: durable already
    if (batch.isEmpty) return
    val (md5Seen, simIndex) = log.before(ModuleHash, batchId) match {
      case Some((_, prev)) =>
        (s.read.schema(Md5Schema).parquet(md5Dir(outDir, prev)),
          s.read.schema(SimSchema).parquet(simDir(outDir, prev)))
      case None => (emptyMd5(s), emptySim(s))
    }
    val r = curateBatch(batch, md5Seen, simIndex, benchGrams, minQuality, cap)
    r.kept.write.mode("overwrite").parquet(keptDir(outDir, batchId))
    r.md5Seen.write.mode("overwrite").parquet(md5Dir(outDir, batchId))
    r.simIndex.write.mode("overwrite").parquet(simDir(outDir, batchId))
    // the transaction point (kept + state + cursor "in one transaction"):
    // blockNum carries the batch's max doc_id — the monotone progress
    // marker under ordered replay, like the reference's block number
    val maxDoc = batch.agg(max("doc_id")).collect()(0).getLong(0)
    val cursor = Cursor(ModuleHash, s"cursor:$batchId", maxDoc, s"docs:$maxDoc")
    store.commit(cursor, batchId)
    // GC: state versions older than the immediate prior are unreachable
    // (prior resolution only ever looks one committed batch back); kept
    // versions are output and always retained. The view predates the
    // commit above, so it counts this batch explicitly.
    log.withCommit(cursor, batchId).batches(ModuleHash).dropRight(2).foreach { old =>
      deleteDir(s, md5Dir(outDir, old))
      deleteDir(s, simDir(outDir, old))
    }
  }

  /** Every kept doc across all COMMITTED batches — the reader view. A
    * half-written version from a crashed batch has no cursor row and is
    * invisible here (the [[ChangeStreamSink.latestSnapshot]] discipline).
    */
  def keptAll(s: SparkSession, outDir: String): DataFrame = {
    val bids = new CursorStore(s"$outDir/cursor", s).allBatches(ModuleHash)
    if (bids.isEmpty)
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("doc_id", LongType),
          StructField("lang", StringType),
          StructField("quality", org.apache.spark.sql.types.DoubleType))))
    else s.read.parquet(bids.map(keptDir(outDir, _)): _*)
  }

  /** The newest COMMITTED (md5_seen, sim_index) state pair, if any. */
  def latestState(s: SparkSession, outDir: String)
      : Option[(DataFrame, DataFrame)] =
    new CursorStore(s"$outDir/cursor", s).readWithBatch(ModuleHash)
      .map { case (_, bid) =>
        (s.read.schema(Md5Schema).parquet(md5Dir(outDir, bid)),
          s.read.schema(SimSchema).parquet(simDir(outDir, bid)))
      }

  final case class BatchResult(kept: DataFrame, md5Seen: DataFrame,
      simIndex: DataFrame)

  /** The batch core — pure DataFrames in, lazy DataFrames out (callers own
    * materialization order). With empty state this IS the whole-corpus
    * batch twin the driver oracle checks.
    */
  def curateBatch(batch: DataFrame, md5Seen: DataFrame, simIndex: DataFrame,
      benchGrams: DataFrame, minQuality: Double, cap: Int): BatchResult = {
    val s = batch.sparkSession
    GraftFunctions.register(s)
    val docs = batch.select("doc_id", "lang", "source", "text")

    // 1. quality (stateless; the verified #37 expression)
    val quality = graft.text.TextOps.qualityOf(docs)
      .select("doc_id", "quality")

    // 2. exact dedup: drop docs whose md5 was seen in an earlier batch OR
    // that are not the min-id holder of their md5 within this batch
    // (ordered replay makes keep-first ≡ keep-min-id, the #29 semantics)
    val th = docs.select(col("doc_id"), md5(col("text")).as("th"))
    val minInBatch = th.groupBy("th").agg(min("doc_id").as("keep_id"))
    val exDrop = th.join(md5Seen, Seq("th"), "left_semi").select("doc_id")
      .union(th.join(minInBatch, "th")
        .filter(col("doc_id") =!= col("keep_id")).select("doc_id"))
    val newMd5 = md5Seen.union(th.select("th")).distinct()

    // 3. simhash near-dup screen (#260 semantics, declarative twin): rank
    // stored-index ∪ batch bands per bucket by doc_id (arrival order —
    // stored ids all precede batch ids under ordered replay); the first
    // `cap` are indexed; every BATCH doc probes all indexed entries with a
    // smaller id at hamming ≤ 2. The stored index re-ranks onto its own
    // prefix, so the rank window is also the state-update rule.
    val bandCols = (0 until 3).map { b =>
      struct(lit(b).as("b"),
        shiftright(col("sig"), b * 20).bitwiseAND(lit((1L << 20) - 1))
          .as("bkey"))
    }
    val batchBands = docs
      .select(col("doc_id"), call_function("simhash64",
        array_distinct(split(col("text"), " "))).as("sig"))
      .select(col("doc_id"), col("sig"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("bb.b").as("b"), col("bb.bkey").as("bkey"),
        col("doc_id"), col("sig"))
    val ranked = simIndex.unionByName(batchBands)
      .withColumn("rn", row_number().over(
        Window.partitionBy("b", "bkey").orderBy("doc_id")))
    val newIndex = ranked.filter(col("rn") <= cap)
      .select("b", "bkey", "doc_id", "sig")
    val simDrop = batchBands.alias("d")
      .join(newIndex.alias("e"),
        col("d.b") === col("e.b") && col("d.bkey") === col("e.bkey") &&
          col("e.doc_id") < col("d.doc_id"))
      .filter(bit_count(col("d.sig").bitwiseXOR(col("e.sig"))) <= 2)
      .select(col("d.doc_id").as("doc_id")).distinct()

    // 4. decontamination (#73) vs the static benchmark gram set
    val contaminated = graft.dedup.Dedup.gramRows(docs, 8)
      .join(benchGrams.select("h").distinct(), "h")
      .select("doc_id").distinct()

    // 5. kept = every screen passed (the #74 stage-composition shape; the
    // %10 holdout is the benchmark slice, never corpus)
    val kept = docs.filter(col("doc_id") % 10 =!= 0)
      .join(quality, "doc_id").filter(col("quality") >= minQuality)
      .join(exDrop, Seq("doc_id"), "left_anti")
      .join(simDrop, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("quality"))

    BatchResult(kept, newMd5, newIndex)
  }

  /** Empty state frames — batch-twin runs ([[curateBatch]] over a whole
    * corpus) and the stream's first micro-batch start from these.
    */
  def emptyMd5(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Md5Schema)
  def emptySim(s: SparkSession): DataFrame =
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      SimSchema)

  private def deleteDir(s: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}
