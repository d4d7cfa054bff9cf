package graft

import graft.cdc.Cursor
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class GraftFacadeSpec extends SparkSpecBase {

  private lazy val g = Graft(spark, sfDir)

  test("facade exposes every inventory operator and runs one") {
    assert(g.operators.size == SparkEntry.queries.size)
    assert(g.operators.size >= 43)
    assert(g.run("q1_agg").count() == 6)
  }

  test("facade catalog sees all ten tables with pk metadata") {
    assert(g.catalog.tables().size == 10)
    assert(g.catalog.primaryKeys("lineitem") == Seq("l_orderkey", "l_linenumber"))
    assert(g.catalog.columns("events").nonEmpty)
  }

  test("facade CDC loop: changes → collapse → apply matches the query bank") {
    val fields = Seq("amount", "kval", "note")
    val ch = g.changes()
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      ch.select(col("pk"), col("amount"), col("kval"), col("note")).schema)
    val snap = g.applyBatch(empty, g.collapse(ch, fields), fields)
    val viaQuery = g.run("cdc_merge_fields").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toSet
    val viaApi = snap.collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toSet
    assert(viaApi == viaQuery)
  }

  test("retention offsets bounded; day-0 cohort includes every signup user") {
    val rows = run("retention").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => (0L to 7L).contains(r.getLong(1))))
    // every cohort day has a day-0 row (the signup itself is activity)
    val days = rows.map(_.getDate(0)).distinct
    val day0 = rows.filter(_.getLong(1) == 0L).map(_.getDate(0)).distinct
    assert(days.toSet == day0.toSet)
  }

  test("seq_match is at most the 2-step funnel conversion count") {
    val seq = run("seq_match").collect()(0)
    val fun = run("funnel").collect()(0)
    assert(seq.getLong(0) == fun.getLong(0)) // same user universe
    // signup→click→purchase matches ⊆ signup→purchase matches
    assert(seq.getLong(1) <= fun.getLong(2))
  }

  test("facade registers native functions on construction") {
    assert(!g.spark.sql("SELECT cosine_sim(array(1.0F), array(1.0F)) c").isEmpty)
  }

  test("facade r4 surface: jdbc bootstrap + introspected sink + dedup/ann entries") {
    import spark.implicits._
    val url = "jdbc:derby:memory:facadedb;create=true"
    val schema = java.nio.file.Files.createTempFile("facade_schema", ".sql")
    java.nio.file.Files.write(schema,
      """CREATE TABLE "acct" ("id" VARCHAR(32) NOT NULL PRIMARY KEY,
        |"bal" DOUBLE)""".stripMargin.getBytes("UTF-8"))
    g.jdbcSetup(url, schema)
    val tables = g.jdbcLoadTables(url)
    assert(tables.keySet == Set("acct", "cursors"))
    assert(tables("acct").pkCol == "id" && tables("acct").fieldCols == Seq("bal"))
    val sink = g.jdbcSink(url, "acct", "mod_facade")
    assert(sink.processBatch(
      Seq((1L, "a1", "INSERT", Some("2.5"))).toDF("block", "pk", "op", "bal"), 0))
    assert(g.liveStats("mod_facade").snapshot().flushes == 1)
    assert(g.scrapeMetrics()
      .contains("""substreams_sink_clickhouse_store_flush_count{module="mod_facade"} 1"""))
    // dedup + ann entries return live frames over the lake tables
    assert(g.nearDupSimhash().columns.toSeq == Seq("doc_a", "doc_b", "hamming"))
    assert(g.annIvf().count() > 0)
    graft.streaming.LiveSinkStats.reset("mod_facade")
  }

  test("curate materializes every stage once and matches pipeline_filter") {
    val out = java.nio.file.Files.createTempDirectory("curate").toString
    val kept = g.curate(out)
    val exp = run("pipeline_filter")
    assert(kept.collect().map(_.toSeq).toSeq == exp.collect().map(_.toSeq).toSeq)
    // every stage artifact is on disk (the audit trail a curation run keeps)
    for (stage <- Seq("quality", "exact_dups", "near_dup_non_canonical",
        "contaminated", "kept")) {
      val p = java.nio.file.Paths.get(out, stage)
      assert(java.nio.file.Files.exists(p), s"stage $stage not materialized")
      assert(spark.read.parquet(p.toString).count() >= 0)
    }
    // the kept frame is served FROM the materialized stage, not recomputed
    val roots = kept.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
    }.flatten
    assert(roots.nonEmpty && roots.forall(_.contains("curate")),
      s"kept must read back the materialized parquet, scans: $roots")
  }

  /** Jobs `body` launches from `CursorStore.scala`, attributed like the
    * benchmark's tracer: the SQL execution's call site when the job has
    * one, else its last stage's name. A fence job run after `body` proves
    * the listener bus delivered every earlier job start.
    */
  private def cursorJobs(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.cursorJobs"
    val execSite = new ConcurrentHashMap[Long, String]
    val counted = new AtomicInteger
    val fence = new CountDownLatch(1)
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => execSite.put(x.executionId, x.description); ()
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.flatMap(p => Option(p.getProperty(tag))) match {
          case Some("fence") => fence.countDown()
          case Some(_) =>
            val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
              .flatMap(id => Option(execSite.get(id.toLong)))
              .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.fold("")(_.name))
            if (site.contains("CursorStore.scala")) counted.incrementAndGet()
          case None =>
        }
      }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(tag, null)
      assert(fence.await(30, TimeUnit.SECONDS), "listener bus never delivered the fence job")
      counted.get
    } finally sc.removeSparkListener(l)
  }

  test("facade cursorStore: commit/read round trip") {
    val dir = java.nio.file.Files.createTempDirectory("facade_cursor").toString
    assert(g.cursorStore(dir).read("mod_fc").isEmpty)
    g.cursorStore(dir).commit(Cursor("mod_fc", "c7", 7, "b7"), 0)
    g.cursorStore(dir).commit(Cursor("mod_fc", "c7", 7, "b7"), 0) // replay: no-op
    assert(g.cursorStore(dir).readWithBatch("mod_fc").contains(Cursor("mod_fc", "c7", 7, "b7") -> 0L))
    assert(g.cursorStore(dir).view().batches("mod_fc") == Seq(0L))
  }

  test("live-cadence mv flush reads the cursor log once; reads take one job") {
    val dir = java.nio.file.Files.createTempDirectory("facade_jobs").toString
    val sink = g.streamSinkWithMv(dir, "mod_facade_jobs",
      Seq("amount", "kval", "note"), groupCol = "note", valueCol = "amount")
    val ch = g.changes()
    val Array(b0, b1) = ch.select("block").distinct().orderBy("block").limit(2)
      .collect().map(_.getLong(0))
    sink.processBatch(ch.filter(col("block") === b0), 0) // prior state
    // one block per flush, as at the live edge: the view, commit's own
    // committed check and the append
    val flush = cursorJobs(sink.processBatch(ch.filter(col("block") === b1), 1))
    assert(flush >= 1 && flush <= 3, s"flush launched $flush cursor jobs")
    val snap = cursorJobs(sink.latestSnapshot(spark).get)
    assert(snap <= 1, s"latestSnapshot launched $snap cursor jobs")
    val mv = cursorJobs(sink.latestMv(spark).get)
    assert(mv <= 1, s"latestMv launched $mv cursor jobs")
    assert(g.cursorStore(s"$dir/cursor").read("mod_facade_jobs").map(_.blockNum).contains(b1))
  }

  test("facade mv sink maintains a live rollup") {
    val dir = java.nio.file.Files.createTempDirectory("facade_mv").toString
    val sink = g.streamSinkWithMv(dir, "mod_facade_mv",
      Seq("amount", "kval", "note"), groupCol = "note", valueCol = "amount")
    sink.processBatch(g.changes().filter(col("block") <= 100), 0)
    val mv = sink.latestMv(spark).get
    assert(mv.columns.toSeq == Seq("grp", "n_rows", "n_vals", "total"))
    assert(mv.count() > 0)
  }
}
