package graft.perfbench

import graft.cdc.{ChangeLoader, CursorStore, MaterializedAgg, MultiTable, ProtoWire}
import graft.sources.ProtoChanges
import graft.streaming.ChangeStreamSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** `live` ([[LiveFeed]]): one block per `processBatch` through the sink
  * `Graft.streamSinkWithMv` builds. The batch is the block's
  * `DatabaseChanges` payload as the reference receives it, decoded by
  * `ProtoChanges.decode` and typed by `MultiTable.forTable`. One client
  * operation is a commit followed by the client's read of what it just
  * wrote: a point lookup of the block's pks in the latest snapshot and the
  * rollup's top groups.
  */
final class Live(ctx: Ctx) extends Workload {
  import ctx._
  import Main._

  private val feed = new LiveFeed(seed)
  private val facade = new graft.Graft(spark, runDir)
  private val mvDef = MaterializedAgg.MvDef("grp", "amount")
  private val moduleHash = "live"

  private def payloads(blocks: Seq[Feeds.Block]): DataFrame = {
    import spark.implicits._
    blocks.map(b => (b.number, b.payload)).toDF("block", "payload")
  }

  /** The typed batch of some blocks; absent fields are nulls ("not in
    * this change").
    */
  private def frame(blocks: Seq[Feeds.Block]): DataFrame =
    MultiTable.forTable(ProtoChanges.decode(payloads(blocks)), feed.table, feed.schema)

  private val gen = new GenClock
  private val bootstrap = gen(frame(feed.bootstrap))

  private var base = ""
  private var sink: ChangeStreamSink = _
  private var lastBlock = 0L
  private var lastFrame: DataFrame = _
  private var batchId = 0L
  /** The model the reads are checked against: is the pk alive. */
  private val alive = mutable.HashMap.empty[String, Boolean]

  private def applyToModel(b: Feeds.Block): Unit =
    b.changes.foreach(c => alive(c.pk) = c.operation != ProtoWire.OpCode.Delete)

  def setupOnce(rep: Int, last: Boolean): Double = {
    base = s"$runDir/live-$rep"
    val t0 = System.nanoTime()
    sink = facade.streamSinkWithMv(base, moduleHash, feed.fieldCols, "grp", "amount")
    sink.processBatch(bootstrap, 0L)
    val dt = (System.nanoTime() - t0) / 1e9
    if (last) {
      feed.bootstrap.foreach(applyToModel)
      lastBlock = feed.bootstrapBlocks
      lastFrame = bootstrap
    } else dropAll()
    dt
  }

  private val cycles = mutable.ArrayBuffer.empty[Cycle]
  private val extra = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  /** One closed-loop cycle on the next block: commit it, then read it back. */
  private def cycle(): (Feeds.Block, Cycle) = {
    lastBlock += 1
    batchId += 1
    val b = gen(feed.blockAt(lastBlock))
    val df = gen(frame(Seq(b)))
    val (_, commitS, flushSpan) = timed("flush")(sink.processBatch(df, batchId))
    lastFrame = df
    applyToModel(b)
    val touched = b.changes.map(_.pk).distinct
    val ((got, top), readS, readSpan) = timed("read", traced = Some(flushSpan.isDefined)) {
      val snap = sink.latestSnapshot(spark).get
      val pks = snap.filter(col("pk").isin(touched: _*)).collect().map(_.getString(0)).toSet
      val groups = MaterializedAgg.view(sink.latestMv(spark).get)
        .orderBy(desc("n_rows"), asc("grp")).limit(10).collect()
      (pks, groups)
    }
    out.check(s"read after block $lastBlock") {
      got == touched.filter(alive(_)).toSet && top.nonEmpty && top.head.getLong(1) > 0
    }
    (b, Cycle(commitS, readS, flushSpan, readSpan, b.payload.length))
  }

  /** The first live-edge cycle runs paths the set-up load does not: the MV
    * merge against a prior state, cursor reads over a non-empty log.
    */
  def warmUp(): Unit = ctx.untraced(cycle())

  def timedLoop(): Unit =
    while (elapsed < seconds) {
      val (b, c) = cycle()
      cycles += c
      if (c.flush.isDefined) {
        val t0 = System.nanoTime()
        new CursorStore(s"$base/cursor", spark).readWithBatch(moduleHash)
        val t1 = System.nanoTime()
        val decoded = ProtoChanges.decode(payloads(Seq(b))).cache()
        force(decoded)
        val t2 = System.nanoTime()
        val typed = MultiTable.forTable(decoded, feed.table, feed.schema).cache()
        force(typed)
        val t3 = System.nanoTime()
        force(ChangeLoader.collapse(typed, feed.fieldCols))
        val t4 = System.nanoTime()
        typed.unpersist(); decoded.unpersist()
        extra("cdc.cursor.read_s") += (t1 - t0) / 1e9
        extra("sources.decode_s") += (t2 - t1) / 1e9
        extra("cdc.normalize_s") += (t3 - t2) / 1e9
        extra("cdc.collapse_s") += (t4 - t3) / 1e9
      }
    }

  def checks(): Unit = {
    val snap = sink.latestSnapshot(spark).get.select(("pk" +: feed.fieldCols).map(col): _*).cache()
    out.check("snapshot equals one-shot collapse+apply") {
      val all = frame(feed.bootstrap ++ (feed.bootstrapBlocks + 1L to lastBlock).map(feed.blockAt))
      val collapsed = ChangeLoader.collapse(all, feed.fieldCols)
      val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        collapsed.drop("last_block", "deleted", "revived").schema)
      val expected = ChangeLoader.applyBatch(empty, collapsed, feed.fieldCols).cache()
      try symmetricDiff(snap, expected) == 0L && snap.count() == alive.count(_._2).toLong
      finally expected.unpersist()
    }
    out.check("mv equals recompute") {
      symmetricDiff(sink.latestMv(spark).get, MaterializedAgg.recompute(snap, mvDef)) == 0L
    }
    snap.unpersist()
    val store = new CursorStore(s"$base/cursor", spark)
    out.check("cursor equals the feed's last block") {
      store.read(moduleHash).exists(_.blockNum == lastBlock)
    }
    out.check("replaying the last flush is a no-op") {
      def state = (store.readWithBatch(moduleHash).map(_._2), fileCount(s"$base/cursor", ".parquet"))
      val before = state
      sink.processBatch(lastFrame, batchId)
      state == before
    }
  }

  def report(): Unit = {
    val cs = cycles.toSeq
    out.put("op_s", median(cs.map(_.seconds)), "s")
    out.put("work_per_s", cs.size / cs.map(_.seconds).sum, "1/s")
    out.put("sink.commit_p50_s", median(cs.map(_.commitS)), "s")
    out.put("read.p50_s", median(cs.map(_.readS)), "s")
    out.put("sink.commits", cs.size.toDouble, "count")
    // the sink's directory and its catalog tables; the set-up load is a commit too
    val disk = dirBytes(base) + dirBytes(spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    out.put("disk_mb_per_commit", disk / 1048576.0 / (cs.size + 1), "MB")
    out.put("feed.gen_s", gen.seconds, "s")
    out.put("cdc.cursor.log_files", fileCount(s"$base/cursor", ".parquet").toDouble, "count")
    tracer.foreach { tr =>
      val traced = cs.filter(_.flush.isDefined)
      val flushes = traced.flatMap(_.flush)
      val nf = math.max(1, flushes.size).toDouble
      val layers = flushes.map(tr.byLayer)
      def sum(ws: Iterable[Work]): Work = { val w = new Work; ws.foreach(w.add); w }
      def layer(l: String): Work = sum(layers.flatMap(_.get(l)))
      val all = sum(layers.flatMap(_.values))
      out.put("sink.flush.jobs", all.jobs / nf, "count")
      out.put("sink.flush.stages", all.stages / nf, "count")
      out.put("sink.flush.tasks", all.tasks / nf, "count")
      out.put("sink.flush.driver_s", flushes.map(tr.uncoveredMs).sum / 1000.0 / nf, "s")
      Tracer.Layers.foreach { l =>
        val w = layer(l)
        out.put(s"$l.jobs", w.jobs / nf, "count")
        out.put(s"$l.s", w.jobMs / 1000.0 / nf, "s")
      }
      // every job a flush starts carries its span and a named layer
      out.check("layer job counts sum to sink.flush.jobs") {
        flushes.map(tr.jobsStartedIn).sum == all.jobs && layer("other").jobs == 0
      }
      val snap = layer("cdc.snapshot")
      out.put("cdc.snapshot.task_s", snap.taskMs / 1000.0 / nf, "s")
      out.put("cdc.snapshot.shuffle_bytes", (snap.shuffleRead + snap.shuffleWrite) / nf, "B")
      out.put("cdc.snapshot.spill_bytes", snap.spill / nf, "B")
      out.put("cdc.snapshot.bytes_written", snap.written / nf, "B")
      out.put("cdc.mv.task_s", layer("cdc.mv").taskMs / 1000.0 / nf, "s")
      out.put("cdc.write_amp", all.written.toDouble / math.max(1L, traced.map(_.payloadBytes).sum), "ratio")
      extra.foreach { case (k, v) => out.put(k, v / nf, "s") }
      val reads = traced.flatMap(_.read)
      val nr = math.max(1, reads.size).toDouble
      val rw = sum(reads.map(tr.total))
      out.put("read.jobs", rw.jobs / nr, "count")
      out.put("read.task_s", rw.taskMs / 1000.0 / nr, "s")
      out.put("read.driver_s", reads.map(tr.uncoveredMs).sum / 1000.0 / nr, "s")
      Tracer.common(ctx, flushes ++ reads, all.taskMs + rw.taskMs,
        traced.map(_.seconds), cs.filter(_.flush.isEmpty).map(_.seconds))
    }
  }

  /** Drop every catalog table (a run's session holds only its own) and
    * delete the sink's base directory.
    */
  private def dropAll(): Unit = {
    spark.catalog.listTables().collect()
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    deleteTree(base)
  }

  def cleanup(): Unit = dropAll()
}

/** One closed-loop cycle: the commit of one block and the read after it. */
final case class Cycle(commitS: Double, readS: Double, flush: Option[Span], read: Option[Span],
    payloadBytes: Long) {
  def seconds: Double = commitS + readS
}

/** Seconds spent generating inputs, kept out of every timed figure. */
final class GenClock {
  var seconds = 0.0
  def apply[T](f: => T): T = {
    val t0 = System.nanoTime(); val r = f; seconds += (System.nanoTime() - t0) / 1e9; r
  }
}
