package graft.perfbench

import graft.cdc.ProtoWire
import graft.cdc.ProtoWire.{OpCode, PField, PTableChange}

import java.util.SplittableRandom

/** Seeded inputs. Every generator is a pure function of (seed, block):
  * the same seed gives the same `DatabaseChanges` bytes, whatever order
  * the blocks are asked for in and however many the run consumes.
  */
object Feeds {

  /** A fresh random stream for one (seed, stream, index) triple. */
  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream * 0xC2B2AE3D27D4EB4FL ^ index)

  /** A seeded Fisher–Yates shuffle. */
  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a.toSeq.asInstanceOf[Seq[T]]
  }

  /** Zipf(s) sampler over `n` items. Item ranks are a seeded permutation,
    * so which keys are hot changes with the seed while the skew does not.
    */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    private val byRank = shuffle(0 until n, rng(seed, 0x5A, n.toLong)).toArray
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      byRank(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  private[perfbench] def cents(r: SplittableRandom, max: Int): String = {
    val c = r.nextInt(max * 100)
    f"${c / 100}%d.${c % 100}%02d"
  }

  private[perfbench] val words = Array("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar", "tango")

  /** A block's encoded payload plus its decoded changes. The sink paths
    * decode the bytes themselves; the decoded view serves the in-memory
    * model the checks compare against.
    */
  final case class Block(number: Long, payload: Array[Byte], changes: Seq[PTableChange])

  private[perfbench] def block(number: Long, changes: Seq[PTableChange]): Block =
    Block(number, ProtoWire.encodeDatabaseChanges(changes), changes)
}

/** `live`: the reference's live-edge cadence — one block per flush, a few
  * hundred changes per block, against a 50k-key table. Per-flush fixed
  * cost (cursor-log reads, stats append, post-write aggregate, catalog
  * work, the MV merge) dominates the data work here, so this workload
  * moves with bookkeeping changes and barely with data-path ones; the
  * set-up load (all 50k keys in one flush) is the data-heavy flush.
  *
  * Keys are Zipf-skewed, so hot keys repeat inside a block and the
  * collapse merges several changes per pk. Each block mixes partial
  * updates (absent fields mean "not in this change"), deletes, inserts
  * and in-block delete-then-reinsert (revive), ordered by `ordinal`.
  * Pks are strings and every value travels as a string that the table's
  * schema types; timestamps arrive as epoch seconds or as ISO-8601 text.
  */
final class LiveFeed(seed: Long) {
  import Feeds._
  import org.apache.spark.sql.types._

  val keys = 50000
  val groups = 200
  val bootstrapBlocks = 50
  val table = "positions"
  val schema: StructType = StructType(Seq(
    StructField("grp", StringType), StructField("amount", DoubleType),
    StructField("qty", LongType), StructField("note", StringType),
    StructField("ts", TimestampType)))
  val fieldCols: Seq[String] = schema.fieldNames.toSeq

  private val keyZipf = new Zipf(keys, 1.05, seed)
  private val grpZipf = new Zipf(groups, 0.8, seed + 1)

  def pk(k: Int): String = f"k$k%06d"

  private def stamp(r: SplittableRandom, block: Long): String = {
    val secs = 1700000000L + block * 12 + r.nextInt(12)
    if (r.nextBoolean()) secs.toString else java.time.Instant.ofEpochSecond(secs).toString
  }

  private def fullFields(r: SplittableRandom, block: Long): Seq[PField] = Seq(
    PField("grp", f"g${grpZipf.sample(r)}%03d"),
    PField("amount", cents(r, 5000)),
    PField("qty", r.nextInt(1000).toString),
    PField("note", words(r.nextInt(words.length))),
    PField("ts", stamp(r, block)))

  /** An update carries a random non-empty subset of the fields. */
  private def someFields(r: SplittableRandom, block: Long): Seq[PField] = {
    val all = fullFields(r, block)
    val kept = all.filter(_ => r.nextDouble() < 0.5)
    if (kept.isEmpty) Seq(all(r.nextInt(all.size))) else kept
  }

  /** Blocks 1..bootstrapBlocks insert every key once. */
  def bootstrap: Seq[Block] = (1 to bootstrapBlocks).map { b =>
    val per = keys / bootstrapBlocks
    val r = rng(seed, 1, b.toLong)
    block(b.toLong, (0 until per).map { i =>
      PTableChange(table, pk((b - 1) * per + i), i + 1L, OpCode.Create, fullFields(r, b.toLong))
    })
  }

  /** Block `n` (> bootstrapBlocks): 200–400 changes. */
  def blockAt(n: Long): Block = {
    val r = rng(seed, 2, n)
    val count = 200 + r.nextInt(201)
    val out = Seq.newBuilder[PTableChange]
    var ord = 0L
    def emit(k: Int, op: Int, f: Seq[PField]): Unit = {
      ord += 1; out += PTableChange(table, pk(k), ord, op, f)
    }
    var i = 0
    while (i < count) {
      val k = keyZipf.sample(r)
      val u = r.nextDouble()
      if (u < 0.08) emit(k, OpCode.Delete, Nil)
      else if (u < 0.14) { emit(k, OpCode.Delete, Nil); emit(k, OpCode.Create, fullFields(r, n)) }
      else if (u < 0.24) emit(k, OpCode.Create, fullFields(r, n))
      else emit(k, OpCode.Update, someFields(r, n))
      i += 1
    }
    block(n, out.result())
  }
}
