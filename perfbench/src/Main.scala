package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What one run produced: operation counts, the checks' verdicts and the
  * metrics by name with their units.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Count one operation or check; a false or throwing `ok` is a failure. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable => problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!pass) {
      failed += 1
      if (!problems.exists(_.startsWith(what + ":"))) problems += s"$what: mismatch"
    }
  }
}

/** Everything a workload needs from the run. */
final class Ctx(
    val spark: SparkSession,
    val runDir: String,
    val dataDir: String,
    val seed: Long,
    val seconds: Double,
    val tracer: Option[Tracer],
    val out: Outcome,
    val options: Map[String, String]) {

  /** In a traced run every second operation of a kind is traced and the
    * others are not, so the run also measures what tracing costs.
    */
  private def nextTraced(kind: String): Boolean = !quiet && {
    val n = counts.getOrElse(kind, 0); counts(kind) = n + 1
    tracer.isDefined && n % 2 == 0
  }
  private val counts = mutable.HashMap.empty[String, Int]

  /** Run `f` (warm-up) with its operations neither traced nor logged. */
  def untraced[T](f: => T): T = { quiet = true; try f finally quiet = false }
  private var quiet = false

  /** Time `f` as one client operation, inside a span when `traced`. */
  def timed[T](kind: String, label: String = "", traced: Option[Boolean] = None)(
      f: => T): (T, Double, Option[Span]) = {
    val on = !quiet && traced.getOrElse(nextTraced(kind))
    val span = tracer.filter(_ => on).map(_.begin(kind, label))
    val t0 = System.nanoTime()
    try {
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      if (!quiet) opLog += dt
      (r, dt, span)
    } finally span.foreach(s => tracer.get.end(s))
  }
  /** Every timed operation's seconds, in order (for the run's log line). */
  val opLog = mutable.ArrayBuffer.empty[Double]

  /** Seconds since the timed region started. */
  var timedStart = 0L
  def elapsed: Double = (System.nanoTime() - timedStart) / 1e9
}

/** One workload: set-up (timed, repeated), the timed closed loop, the
  * untimed checks, and the metrics.
  */
trait Workload {
  /** Set up once; returns seconds spent. Called several times; the last
    * set-up is the one the run goes on with.
    */
  def setupOnce(rep: Int, last: Boolean): Double
  /** Untimed first operations that warm the paths the timed loop runs. */
  def warmUp(): Unit
  def timedLoop(): Unit
  def checks(): Unit
  def report(): Unit
  /** Drop the workload's tables and delete its files. */
  def cleanup(): Unit
}

object Main {

  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val runDir = new File(opts("run-dir")).getAbsolutePath
    val trace = opts("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val out = new Outcome
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, runDir, opts("data-dir"), opts("seed").toLong,
      opts("seconds").toDouble, tracer, out, opts)
    val w: Workload = workload match {
      case "live" => new Live(ctx)
      case "bank" => new Bank(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val reps = (1 to SetupReps).map(i => w.setupOnce(i, i == SetupReps))
    val w0 = System.nanoTime()
    w.warmUp()
    val warmS = (System.nanoTime() - w0) / 1e9
    out.put("setup_s", sessionS + median(reps) + warmS, "s")
    val gc0 = gcMs()
    ctx.timedStart = System.nanoTime()
    w.timedLoop()
    val loopS = ctx.elapsed
    val gcS = (gcMs() - gc0) / 1000.0
    tracer.foreach(_.drain())
    out.put("jvm.heap_retained_mb", retainedHeapMb(), "MB")
    val c0 = System.nanoTime()
    w.checks()
    System.err.println(f"[perfbench] session $sessionS%.1f s, set-ups ${reps.map(r => f"$r%.1f").mkString(" ")} s, warm-up $warmS%.1f s, " +
      f"loop $loopS%.1f s, ops ${ctx.opLog.map(r => f"$r%.2f").mkString(" ")} s, checks ${(System.nanoTime() - c0) / 1e9}%.1f s")
    w.report()
    tracer.foreach(_.write(s"$runDir/spans.jsonl"))
    out.put("jvm.gc_s", gcS / math.max(1e-9, loopS), "s/s")
    w.cleanup()
    graft.CacheRegistry.release()
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val fingerprint = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "master" -> spark.sparkContext.master,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory() >> 20).toString,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"))
    spark.stop()
    val json = Json.obj(Seq(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "problems" -> out.problems.toSeq,
      "host" -> fingerprint,
      "metrics" -> out.metrics.toSeq.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }))
    Files.write(Paths.get(opts("result")), json.getBytes(StandardCharsets.UTF_8))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Bytes of every regular file under `dir`. */
  def dirBytes(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def fileCount(dir: String, suffix: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.count(p => p.toString.endsWith(suffix)).toLong
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally st.close()
    }
  }

  /** Force a frame the way the bank's `Bench` does: every column of the
    * exact plan, written to Spark's no-op sink.
    */
  def force(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Rows present in one frame and not the other, both ways. */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.sorted.toSeq
    val x = a.select(cols.map(a.col): _*)
    val y = b.select(cols.map(b.col): _*)
    x.exceptAll(y).count() + y.exceptAll(x).count()
  }
}

/** The few JSON shapes the result file needs. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def value(v: Any): String = v match {
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case s: Seq[_] => s.headOption match {
      case Some(_: (_, _)) => obj(s.asInstanceOf[Seq[(String, Any)]])
      case _ => s.map(value).mkString("[", ",", "]")
    }
    case other => "\"" + esc(String.valueOf(other)) + "\""
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + value(v) }.mkString("{", ",", "}")
}
