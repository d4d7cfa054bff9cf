package graft

import graft.cdc.{BucketedSnapshot, Cursor, CursorStore}
import graft.sources.Changes
import graft.streaming.MultiTableChangeSink
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** The reference's core loop shape: one wire batch carrying changes for
  * MANY tables, dispatched per table (`sinker/sinker.go:136-174`), flushed
  * all-tables-plus-cursor atomically (`db/flush.go:12-63`).
  */
class MultiTableSpec extends SparkSpecBase {

  private val schemas = Changes.multiTableSchemas

  test("wire feed routes to two tables with distinct pks and sparse fields") {
    val wire = Changes.multiTable(spark, sfDir)
    val byTable = wire.groupBy("table").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nEvents = graft.sources.Tables(spark, sfDir, "events").count()
    assert(byTable == Map("accounts" -> nEvents, "categories" -> nEvents))
    // sparse field: views carry no `note` key in accounts changes
    val viewNotes = wire.filter(col("table") === "accounts" &&
      element_at(col("fields"), "note").isNull).count()
    val views = graft.sources.Tables(spark, sfDir, "events")
      .filter(col("event_type") === "view").count()
    assert(viewNotes == views)
  }

  test("multi-table sink over 3 batches matches the one-shot oracle query") {
    val dir = Files.createTempDirectory("mt_sink").toString
    val sink = new MultiTableChangeSink(dir, "mod_mt", schemas)
    val wire = Changes.multiTable(spark, sfDir)
    sink.processBatch(wire.filter(col("block") <= 300), 0)
    sink.processBatch(wire.filter(col("block") > 300 && col("block") <= 700), 1)
    sink.processBatch(wire.filter(col("block") > 700), 2)
    val snaps = sink.latestSnapshots(spark)
    assert(snaps.keySet == Set("accounts", "categories"))
    val got = snaps.toSeq.sortBy(_._1).map { case (t, df) =>
      df.select(lit(t).as("tbl"), col("pk"), col("amount"), col("note"))
    }.reduce(_ unionByName _).collect().map(_.toSeq).toSet
    val exp = run("cdc_multi_table").collect().map(_.toSeq).toSet
    assert(got == exp)
  }

  test("routing equivalence: each table's collapse equals a single-table collapse") {
    // routing must be a pure partition of the wire feed: collapsing the
    // routed 'accounts' slice equals collapsing the classic single-table
    // feed restricted to the same semantics (same pks, same field merges)
    val wire = Changes.multiTable(spark, sfDir)
    val viaRoute = graft.cdc.MultiTable
      .collapseAll(wire, schemas)("accounts")
      .select("pk", "deleted", "amount", "note")
      .collect().map(_.toSeq).toSet
    val single = Changes(spark, sfDir) // classic feed: same op rules on user_id
      .select(col("block"), col("pk").cast("string").as("pk"), col("op"),
        col("amount"),
        when(col("note") =!= "view", col("note")).as("note"))
    val viaSingle = graft.cdc.ChangeLoader.collapse(single, Seq("amount", "note"))
      .select("pk", "deleted", "amount", "note")
      .collect().map(_.toSeq).toSet
    assert(viaRoute == viaSingle)
  }

  test("multi-table sink end-to-end on a real stream") {
    implicit val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("mt_e2e").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // wire rows as a typed stream: (block, table, pk, op, fields)
    val rows = Changes.multiTable(spark, sfDir).filter(col("block") <= 500)
      .as[(Long, String, String, String, Map[String, String])].collect().toSeq
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
      (Long, String, String, String, Map[String, String])]
    val (h1, h2) = rows.sortBy(_._1).splitAt(rows.size / 2)
    val sink = new MultiTableChangeSink(dir, "mod_mt_e2e", schemas)
    // data first: AvailableNow fixes its end offset when the query starts
    in.addData(h1); in.addData(h2)
    val q = sink.start(
      in.toDF().toDF("block", "table", "pk", "op", "fields"),
      s"$dir/ckpt", org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    val snaps = sink.latestSnapshots(spark)
    assert(snaps.keySet == Set("accounts", "categories"))
    assert(snaps.values.forall(_.count() > 0))
    // categories' final state must match a one-shot collapse of the same cut
    val gotCat = snaps("categories").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    val expCat = {
      val wire = Changes.multiTable(spark, sfDir).filter(col("block") <= 500)
      val collapsed = graft.cdc.MultiTable.collapseAll(wire, schemas)("categories")
      collapsed.filter(!col("deleted"))
        .select("pk", "amount", "note").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSet
    }
    assert(gotCat == expCat)
  }

  test("partial flush is invisible until the module cursor lands; replay heals it") {
    val dir = Files.createTempDirectory("mt_crash").toString
    val sink = new MultiTableChangeSink(dir, "mod_crash", schemas)
    val wire = Changes.multiTable(spark, sfDir)
    val b0 = wire.filter(col("block") <= 500)
    val b1 = wire.filter(col("block") > 500)
    sink.processBatch(b0, 0)
    val accountsAt0 = sink.latestSnapshots(spark)("accounts")
      .collect().map(_.toSeq).toSet

    // Simulate a crash mid-flush of batch 1: accounts' snapshot + per-table
    // cursor landed (with GARBAGE contents), module cursor did not.
    val store = new CursorStore(s"$dir/cursor", spark)
    BucketedSnapshot.write(
      sink.latestSnapshots(spark)("accounts").limit(1), // wrong contents on purpose
      sink.snapTable("accounts", 1), buckets = 8)
    store.commit(Cursor("mod_crash#accounts", "cursor:999", 999, "block:999"), 1)

    // Reader view still resolves to batch 0 (module cursor is the txn point).
    assert(sink.latestSnapshots(spark)("accounts").collect().map(_.toSeq).toSet
      == accountsAt0)

    // Replay of batch 1 rebuilds from batch 0's state and overwrites the
    // half-written version; final state matches the one-shot query.
    sink.processBatch(b1, 1)
    val got = sink.latestSnapshots(spark).toSeq.sortBy(_._1).map { case (t, df) =>
      df.select(lit(t).as("tbl"), col("pk"), col("amount"), col("note"))
    }.reduce(_ unionByName _).collect().map(_.toSeq).toSet
    assert(got == run("cdc_multi_table").collect().map(_.toSeq).toSet)
  }
}
