package graft.perfbench

import graft.{CacheRegistry, SparkEntry}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `bank`: the analyst's read path. A fixed sample of the oracle-backed
  * `SparkEntry` queries ([[Bank.Sample]]) runs over a generated sf0.1
  * corpus, each forced with the no-op writer as `graft.Bench` forces it.
  * No sink code runs. The seed sets the order the queries run in; the
  * sample itself does not vary with the seed, so records of different
  * seeds and of different commits time the same queries.
  */
final class Bank(ctx: Ctx) extends Workload {
  import ctx._
  import Main._

  private val defs = SparkEntry.allDefs
  private val oracles = SparkEntry.oracleSql
  Bank.Sample.foreach(q => require(oracles.contains(q), s"bank: $q is not an oracle-backed query"))
  Bank.Modules.foreach(m => require(Bank.Sample.exists(Bank.moduleOf(_) == m), s"bank: no $m query sampled"))
  private val genS = Bank.ensureData(spark, dataDir)
  private val sample = Bank.Sample
  private val outDir = s"$runDir/bank-out"
  System.err.println(s"[perfbench] bank sample: ${sample.map(q => s"$q (${Bank.moduleOf(q)})").mkString(", ")}")

  def setupOnce(rep: Int, last: Boolean): Double = {
    val t0 = System.nanoTime()
    graft.functions.GraftFunctions.register(spark)
    graft.sources.Tables.names.foreach(n => graft.sources.Tables(spark, dataDir, n).count())
    (System.nanoTime() - t0) / 1e9
  }

  /** Untimed first pass: every sampled query's result goes to parquet for
    * the DuckDB oracle comparison, which also warms the plans the timed
    * passes then run.
    */
  def warmUp(): Unit = {
    sample.foreach { q =>
      out.check(s"$q runs") {
        defs(q).fn(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$q")
        true
      }
      release()
    }
    val json = Json.obj(sample.map(q => q -> oracles(q)))
    Files.write(Paths.get(s"$outDir/oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  private def release(): Unit = { spark.catalog.clearCache(); CacheRegistry.release() }

  private val runs = mutable.ArrayBuffer.empty[(String, Double, Option[Span])]

  /** Whole passes over the sample, each in its own seeded order, until
    * the run's time is up and at least [[Bank.MinPasses]] have run; only
    * whole passes keep the mix the same.
    */
  def timedLoop(): Unit = {
    var pass = 0
    while (pass < Bank.MinPasses || elapsed < seconds) {
      Feeds.shuffle(sample, Feeds.rng(seed, 8, pass)).zipWithIndex.foreach { case (q, i) =>
        // a traced run times every query both traced and untraced, in
        // alternating order, so the two sides see the same queries
        val sides = if (tracer.isEmpty) Seq(false)
          else if ((i + pass) % 2 == 0) Seq(true, false) else Seq(false, true)
        sides.foreach { on =>
          val (_, dt, span) = timed("query", q, Some(on))(force(defs(q).fn(spark, dataDir)))
          runs += ((q, dt, span))
          release()
        }
      }
      pass += 1
    }
  }

  def checks(): Unit = ()

  /** Each query's best time over the timed passes, as `graft.Bench`
    * reports a query (the least noisy estimate for a fixed plan). The
    * typical query is the geometric mean of those, as a power test takes
    * it: every query weighs the same, and no single query decides it the
    * way the middle one of seven decides a median. The rate is queries
    * over their summed times, so the heavy tail dominates it.
    */
  def report(): Unit = {
    val times = runs.filter(_._3.isEmpty).groupMap(_._1)(_._2)
    System.err.println("[perfbench] query seconds: " + sample.map(q =>
      q + " " + times(q).map(t => f"$t%.2f").mkString("/")).mkString(", "))
    val best = times.values.map(_.min).toSeq
    out.put("op_s", math.exp(best.map(math.log).sum / best.size), "s")
    out.put("work_per_s", best.size / best.sum, "1/s")
    out.put("bank.queries", sample.size.toDouble, "count")
    out.put("feed.gen_s", genS, "s")
    tracer.foreach { tr =>
      val traced = runs.filter(_._3.isDefined).toSeq
      val spans = traced.flatMap(_._3)
      val n = math.max(1, spans.size).toDouble
      val w = new Work
      spans.foreach(s => w.add(tr.total(s)))
      out.put("bank.planning_s", spans.map(tr.planningOf).sum / 1000.0 / n, "s")
      out.put("bank.driver_s", spans.map(tr.uncoveredMs).sum / 1000.0 / n, "s")
      out.put("bank.jobs", w.jobs / n, "count")
      out.put("bank.stages", w.stages / n, "count")
      out.put("bank.tasks", w.tasks / n, "count")
      out.put("bank.task_s", w.taskMs / 1000.0 / n, "s")
      out.put("bank.cpu_s", w.cpuNs / 1e9 / n, "s")
      out.put("bank.shuffle_read_bytes", w.shuffleRead / n, "B")
      out.put("bank.shuffle_write_bytes", w.shuffleWrite / n, "B")
      out.put("bank.spill_bytes", w.spill / n, "B")
      Bank.Modules.foreach { m =>
        out.put(s"bank.$m.s", traced.filter(r => Bank.moduleOf(r._1) == m).map(_._2).sum / n, "s")
      }
      val untraced = runs.filter(_._3.isEmpty).map(r => r._1 -> r._2).groupMap(_._1)(_._2)
      val ratios = traced.flatMap { case (q, dt, _) => untraced.get(q).map(u => dt / median(u.toSeq)) }
      Tracer.common(ctx, spans, w.taskMs, ratios, Seq(1.0))
    }
  }

  def cleanup(): Unit = ()
}

object Bank {

  /** Generate the sf0.1 corpus into `dir` unless it is already there;
    * returns the seconds spent. The generator is deterministic, so every
    * run of one checkout reads the same tables.
    */
  def ensureData(spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val ready = Paths.get(dir, "_READY")
    if (Files.exists(ready)) 0.0
    else {
      val t0 = System.nanoTime()
      val tmp = dir + ".tmp"
      Main.deleteTree(tmp)
      graft.GenTestData.generate(spark, tmp, 0.1)
      Main.deleteTree(dir)
      Files.move(Paths.get(tmp), Paths.get(dir))
      Files.createFile(ready)
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** The sampled queries; the seconds are each query's at sf0.1 on a
    * 4-core host (`local[4]`, after one untimed run). Five light and mid
    * queries, one per module, are most of the typical query (`op_s`),
    * which moves with driver, planning and AQE overhead: `arg_min` (ops, 0.36 s),
    * `q22_idle_customers` (ops, 0.60 s, an anti-join), `tfidf_topterms`
    * (text, 0.77 s), `mm_resize` (multimodal, 0.83 s), `ann_ivf_exact`
    * (ann, 0.97 s). The two heaviest oracle-backed similarity joins are
    * the bank's slow tail and most of a pass's time, so a change to them
    * shows in the query rate and in `bank.dedup.s`: `dedup_ngram_jaccard`
    * (2.9 s) and `dedup_containment` (3.1 s). `pagerank3` (ops, 5.1 s) is
    * heavier still but is left out: it alone would take a third of a pass
    * and is not a similarity join.
    */
  val Sample: Seq[String] = Seq(
    "arg_min", "q22_idle_customers", "tfidf_topterms", "mm_resize", "ann_ivf_exact",
    "dedup_ngram_jaccard", "dedup_containment")

  /** Timed passes a run makes at least, so that every query's time is a
    * best of two however slow the host.
    */
  val MinPasses = 2

  /** The modules (packages) `SparkEntry.allDefs` draws its queries from. */
  val Modules: Seq[String] = Seq("ann", "dedup", "multimodal", "ops", "text")

  /** The package a query's implementation lives in, read off the class of
    * its function (e.g. `graft.dedup.Dedup$$Lambda…` → `dedup`).
    */
  def moduleOf(q: String): String =
    SparkEntry.allDefs(q).fn.getClass.getName.stripPrefix("graft.").takeWhile(_ != '.')
}
