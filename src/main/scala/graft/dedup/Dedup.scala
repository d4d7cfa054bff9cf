package graft.dedup

import graft.{CacheRegistry, GraftSession, OpDef}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY §2.3 #29-33, #55, #73-74 — the deduplication / curation family
  * for a training-data pipeline, each designed to avoid O(n²) at 100 TB:
  *
  *   - exact (+ normalized bag-of-words): shuffle the 16-byte md5 of the
  *     text (or its canonical word-set form), never the text.
  *   - n-gram:  pairwise verify ONLY within (lang, source) blocks.
  *   - minhash: LSH band → bucket join; candidate pairs, then verify.
  *   - simhash: per-doc 60-bit signature — a narrow zero-shuffle map.
  *   - embedding: cosine pairs within label blocks (IVF-style blocking).
  *   - clusters: pairs → transitive components (hybrid union-find /
  *     min-label propagation) → one canonical doc per cluster.
  *   - contamination: word-8-gram overlap vs a held-out benchmark set.
  *   - pipeline_filter: the composed KEPT set (quality + all the above).
  *
  * Hot keys are capped (conf-tunable) so no degenerate shingle/bucket goes
  * quadratic. All hashing is md5-based (bit-identical across engines) so
  * every operator has a DuckDB oracle.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame = {
    GraftSession.tune(s)
    Tables(s, dir, "documents")
  }

  private def embs(s: SparkSession, dir: String): DataFrame = {
    GraftSession.tune(s)
    Tables(s, dir, "embeddings")
  }

  /** DuckDB spelling of the distinct word-3-gram shingle set of `text`. */
  private val shinglesSql: String =
    """list_distinct(list_transform(
      |      generate_series(0, len(string_split(text, ' ')) - 3),
      |      i -> string_split(text, ' ')[i+1] || ' ' ||
      |           string_split(text, ' ')[i+2] || ' ' ||
      |           string_split(text, ' ')[i+3]))""".stripMargin

  /** 32-bit shingle hash (first 8 md5 hex chars). Each shingle is md5'd
    * exactly ONCE; everything downstream (Jaccard verify, MinHash perms)
    * works on these ints — at 100 TB that's the difference between hashing
    * the corpus once and 16×.
    */
  private def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  private def h32Sql(e: String): String = s"('0x' || substr(md5($e), 1, 8))::BIGINT"

  /** Distinct (doc_id, word-n-gram h32) rows for arbitrary n — the same
    * codegen explode + element_at + md5 shape as [[shingleRowsOf]], without
    * the block columns (decontamination joins globally, not per block).
    */
  private[graft] def gramRows(docsDf: DataFrame, n: Int): DataFrame = {
    val d = docsDf.select(col("doc_id"), split(col("text"), " ").as("ws"))
    d.filter(size(col("ws")) >= n)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - n)).as("i"))
      .select(col("doc_id"),
        h32(concat_ws(" ",
          (1 to n).map(j => element_at(col("ws"), col("i") + j)): _*)).as("h"))
      .distinct()
  }

  /** Distinct (doc_id, lang, source, shingle-hash) ROWS.
    *
    * The row form (explode + element_at + md5) stays entirely inside
    * whole-stage codegen; the array form (transform/aggregate higher-order
    * functions) is CodegenFallback — interpreted, boxing every element —
    * and Catalyst additionally re-evaluates array_intersect per copy when a
    * Jaccard filter is pushed into a join condition. Counting shared
    * shingles via equi-join + groupBy is the canonical distributed Jaccard
    * and benches ~10× faster here.
    */
  private[graft] def shingleRowsOf(docsDf: DataFrame): DataFrame = {
    val d = docsDf.select(col("doc_id"), col("lang"), col("source"),
      split(col("text"), " ").as("ws"))
    // < 3 words → no 3-gram shingles. The filter also guards correctness:
    // Spark's sequence(0, n) flips direction for n < 0 (sequence(0, -1) =
    // [0, -1]), which would emit bogus indices — DuckDB's generate_series
    // returns [] instead, and the filter makes both engines agree.
    d.filter(size(col("ws")) >= 3)
      .select(col("doc_id"), col("lang"), col("source"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 3)).as("i"))
      .select(col("doc_id"), col("lang"), col("source"),
        h32(concat_ws(" ",
          element_at(col("ws"), col("i") + 1),
          element_at(col("ws"), col("i") + 2),
          element_at(col("ws"), col("i") + 3))).as("h"))
      .distinct()
  }

  // MinHash geometry: 16 permutations in 4 bands of 4 rows. Permutation j is
  // the affine map h -> (a_j·h + b_j) mod P over the 32-bit shingle hashes:
  // a_j·h < 2^63 never overflows, and the arithmetic is identical in Spark
  // and DuckDB (all values positive), so signatures hash-match the oracle.
  // Coefficients live with the one-pass signature aggregate
  // ([[graft.functions.MinHashAgg]]) and are shared by the SQL oracle.
  private val NumPerms = graft.functions.MinHashAgg.NumPerms
  private val BandRows = 4
  private val NumBands = NumPerms / BandRows
  private val P = graft.functions.MinHashAgg.Prime
  private val permA: IndexedSeq[Long] = graft.functions.MinHashAgg.defaultA
  private val permB: IndexedSeq[Long] = graft.functions.MinHashAgg.defaultB

  private def sqlLongList(xs: Seq[Long]): String = xs.mkString("[", ", ", "]")

  /** Hot-BUCKET guard for the LSH/simhash band joins: d near-identical
    * docs landing in one band bucket emit d² join rows before any filter;
    * AQE splits the shuffle but not the cartesian-within-key blowup. The
    * guard drops buckets above this size from CANDIDATE GENERATION ONLY —
    * verification always uses the full shingle sets, so reported
    * similarities are exact; a true near-dup pair sharing only hot buckets
    * is the residual recall cost (run `dedup_exact` upstream so identical
    * docs never reach the near-dup pass). Mirrored in the DuckDB oracles
    * via QUALIFY. (The n-gram family needs NO such cap since r11: its
    * candidates come from the exact, complete AllPairs prefix filter —
    * [[prefixCandidates]].)
    */
  val LshBucketCap = 512

  /** Per-run knob for the hot-bucket cap: `spark.graft.dedup.lshBucketCap`
    * overrides the compile-time default at runtime (production corpora need
    * tuning; the default keeps DuckDB oracle hash-parity, whose SQL
    * interpolates the constant).
    */
  val LshBucketCapKey = "spark.graft.dedup.lshBucketCap"

  private def capFromConf(s: SparkSession, key: String, default: Int): Int =
    s.conf.getOption(key).map(_.toInt).getOrElse(default)

  def lshBucketCap(s: SparkSession): Int = capFromConf(s, LshBucketCapKey, LshBucketCap)

  // Every LAZY persist this module hands out (shingle/gram scans feeding two
  // join sides of one action) is registered with the session-wide
  // [[graft.CacheRegistry]] so long-lived sessions have an explicit cleanup
  // path: memory blocks are LRU-evictable but DISK-spilled blocks are not,
  // so "the session will evict it" is only half true. `Graft.curate`
  // releases after materializing its stages; any other production caller
  // does the same via [[releaseCaches]] once its action completes.
  // Harnesses clearCache between queries, which is equivalent.
  private def trackCache(df: DataFrame): DataFrame = CacheRegistry.track(df)

  /** Unpersist every intermediate cache any operator registered since the
    * last release (no-op on never-materialized entries). Forwards to the
    * session-wide [[graft.CacheRegistry]].
    */
  def releaseCaches(): Unit = CacheRegistry.release()

  /** Per-(label, chunk) vector payload for the block-cosine kernel.
    * `e` is a PRIMITIVE float array on purpose: the encoder's
    * Array[Float] fast path (UnsafeArrayData.toFloatArray) decodes a chunk
    * without boxing 262k Floats per row.
    */
  private[graft] final case class VecChunkRow(vec_id: Long, e: Array[Float])

  /** Conf key for the block-cosine chunk size (vectors per chunk). Shuffle
    * volume is m × block bytes (m = ceil(block/chunk)); compute is the
    * inherent C(block, 2) — bigger chunks trade parallelism for shuffle.
    */
  val CosChunkKey = "spark.graft.dedup.cosChunk"
  val CosChunkDefault = 4096

  /** Block-size threshold above which [[semdedupPairs]] auto-switches an
    * oversized label block to √n IVF-cell blocking. C(8192, 2) ≈ 33.5M
    * in-block pairs is comfortably one task-family of kernel work; the
    * 10-coarse-label sf10 corpus (~50k/block → 1.25e9 pairs/label,
    * 994-1301 s measured) is exactly what this threshold exists to catch.
    */
  val MaxBlockKey = "spark.graft.dedup.maxBlock"
  val MaxBlockDefault = 8192

  /** Cell-count override for the auto-switch (0 = auto: k ≈ √n over the
    * oversized rows, the SemDeDup paper's k ∝ corpus contract — measured
    * 67x at sf10, BENCH_sf10_r14_semdedup_contract.json).
    */
  val SemCellsKey = "spark.graft.dedup.semCells"

  /** EXACT within-block cosine-≥τ pairs over (label, vec_id, e float[]) —
    * the SemDeDup pair generator, re-shaped for blocks that grow with the
    * corpus (r13).
    *
    * The declarative form (self-join on `label`, codegen cosine per pair)
    * is semantically right but measured catastrophic at scale: with ~10
    * cluster labels the join hash-partitions on a 10-key domain, so at
    * sf10 the whole C(50k,2)×10 ≈ 12.5e9-pair evaluation ran on 10 of 32
    * cores AND materialized every pair as a join row carrying two 64-float
    * arrays — 1010 s in the sf10 sweep, the bank's worst number by 5×.
    * This kernel (the embed_contamination lesson, 210 → 3.2 s) fixes both:
    *
    *  - label blocks split into m = ceil(n/chunk) chunks (id-pmod, so
    *    near-dup id runs spread); the C(m+1, 2) chunk-pairs per label
    *    re-partition by (label, ca, cb) — parallelism follows chunk-pair
    *    count, not label count;
    *  - each chunk-pair task runs a PRIMITIVE double loop (norms hoisted
    *    per vector — computed once per chunk, not per pair; dot ascending)
    *    and emits only survivors, so nothing pair-grained ever hits row
    *    machinery or a shuffle.
    *
    * Bit-parity: dot is the same ascending fold and ‖a‖·‖b‖ multiplies the
    * same sqrt operands as [[graft.functions.CosineSimilarity]] / the
    * DuckDB oracle, so emitted doubles are IDENTICAL — hash-green, not
    * approximately equal. Each unordered pair is visited exactly once
    * (chunk pairs ca < cb once + in-chunk position pairs i < j).
    */
  private[graft] def blockCosinePairs(v: DataFrame, tau: Double): DataFrame = {
    val s = v.sparkSession
    import s.implicits._
    val chunk = capFromConf(s, CosChunkKey, CosChunkDefault)
    val sizes = v.groupBy("label").agg(count(lit(1)).as("_n"))
    val withChunk = v.join(broadcast(sizes), "label")
      .withColumn("_m", ceil(col("_n") / lit(chunk.toDouble)).cast(IntegerType))
      .withColumn("_c", pmod(col("vec_id"), col("_m")).cast(IntegerType))
    val groups = withChunk.groupBy(col("label"), col("_c"))
      .agg(collect_list(struct(col("vec_id"), col("e"))).as("vs"))
    val ga = groups.select(col("label"), col("_c").as("ca"), col("vs").as("vsa"))
    val gb = groups.select(col("label"), col("_c").as("cb"), col("vs").as("vsb"))
    val chunkPairs = ga.join(gb, Seq("label"))
      .filter(col("ca") <= col("cb"))
      // group rows are MBs and labels are few: without this the kernel
      // inherits the join's |labels|-key clustering (10 active tasks)
      .repartition(col("label"), col("ca"), col("cb"))
      .select(col("ca"), col("cb"), col("vsa"), col("vsb"))
      .as[(Int, Int, Seq[VecChunkRow], Seq[VecChunkRow])]
    chunkPairs.flatMap { case (ca, cb, vsa, vsb) =>
      // null-vector rows are SKIPPED (the pre-r13 cosine_sim path returned
      // NULL for them, which the >= tau filter dropped — same outcome), so
      // arbitrary caller frames via Graft.nearDupEmbedding can't NPE here
      def parse(vs: Seq[VecChunkRow]): (Array[Long], Array[Array[Double]], Array[Double]) = {
        val kept = vs.filter(r => r != null && r.e != null)
        val n = kept.size
        val ids = new Array[Long](n)
        val es = new Array[Array[Double]](n)
        val nrm = new Array[Double](n)
        var i = 0
        kept.foreach { r =>
          ids(i) = r.vec_id
          val m = r.e.length
          val e = new Array[Double](m)
          var j = 0; var ss = 0.0
          while (j < m) { val d = r.e(j).toDouble; e(j) = d; ss += d * d; j += 1 }
          es(i) = e; nrm(i) = math.sqrt(ss); i += 1
        }
        (ids, es, nrm)
      }
      val (idA, eA, nA) = parse(vsa)
      val (idB, eB, nB) = if (ca == cb) (idA, eA, nA) else parse(vsb)
      // STREAMING pair scan: memory stays O(chunk) however many pairs
      // survive τ (an eager survivor buffer OOM'd at sf10 — tight
      // same-cluster embeddings can pass τ in bulk)
      new Iterator[(Long, Long, Double)] {
        private var i = 0
        private var j = if (ca == cb) 1 else 0
        private var nextRow: (Long, Long, Double) = null
        private def advance(): Unit = {
          nextRow = null
          while (nextRow == null && i < idA.length) {
            if (j >= idB.length) { i += 1; j = if (ca == cb) i + 1 else 0 }
            else {
              val x = eA(i); val y = eB(j)
              // length-mismatched pairs are dropped (the old per-pair
              // cosine_sim returned NULL for them); a != b guards the
              // (a,a) self-pair a duplicated vec_id row would emit
              if (x.length == y.length && idA(i) != idB(j)) {
                var dot = 0.0; var k = 0
                val n = x.length
                while (k < n) { dot += x(k) * y(k); k += 1 }
                val cos = dot / (nA(i) * nB(j))
                if (cos >= tau) {
                  val a = idA(i); val b = idB(j)
                  nextRow = (math.min(a, b), math.max(a, b), cos)
                }
              }
              j += 1
            }
          }
        }
        advance()
        override def hasNext: Boolean = nextRow != null
        override def next(): (Long, Long, Double) = {
          val r = nextRow; advance(); r
        }
      }
    }.toDF("vec_a", "vec_b", "cos")
  }

  /** The DEFAULT SemDeDup pair generator (r14 verdict item 1): label
    * blocks at or below [[MaxBlockKey]] run the exact within-label kernel
    * unchanged; an OVERSIZED label block is re-blocked by Lloyd-trained
    * IVF cells (k ≈ √n over the oversized rows — the SemDeDup paper's
    * k ∝ corpus contract, shared machinery with ann_ivf) WITHIN the
    * label, so the result is a strict refinement: every emitted pair is
    * still a within-label pair, only cross-cell pairs inside oversized
    * labels are skipped — which is precisely the approximation SemDeDup
    * (Abbas et al. 2023) defines; tight clusters keep their pairs
    * (cells are cosine-nearest blocks).
    *
    * Measured contract at sf10 (495k vectors, 10 coarse labels): the
    * label path is 994-1301 s; this path is ~20 s online + a cell
    * training that [[graft.ann.Ann.assignCells]]'s primitive argmax
    * kernel makes inline-affordable (BENCH_sf10_r15_semdedup_default
    * .json). Below the threshold the plan is IDENTICAL to
    * [[blockCosinePairs]] — the driver's gate-SF corpora never switch.
    */
  def semdedupPairs(v: DataFrame, tau: Double): DataFrame = {
    val s = v.sparkSession
    val maxBlock = capFromConf(s, MaxBlockKey, MaxBlockDefault)
    // per-label sizes: ≤|labels| rows of metadata — a driver-side collect
    // by design (the same grain blockCosinePairs broadcasts)
    val sizes = v.groupBy("label").agg(count(lit(1)).as("n")).collect()
    val big = sizes.filter(_.getLong(1) > maxBlock).map(_.get(0))
    if (big.isEmpty) blockCosinePairs(v, tau)
    else {
      val nBig = sizes.filter(_.getLong(1) > maxBlock).map(_.getLong(1)).sum
      val k = {
        val o = capFromConf(s, SemCellsKey, 0)
        if (o > 0) o else math.max(2, math.round(math.sqrt(nBig.toDouble)).toInt)
      }
      val isBig = col("label").isin(big.toIndexedSeq: _*)
      // the oversized rows feed seed sampling + lloydIters+1 assignment
      // passes + the re-block join — persist once, released via
      // Graft.releaseCaches() (CacheRegistry discipline)
      val bigRows = trackCache(v.filter(isBig)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cents = graft.ann.Ann.trainIvfCentroids(s,
        bigRows.select(col("vec_id"), col("e").as("embedding")), k)
      val cells = graft.ann.Ann
        .assignCells(s, bigRows.select(col("vec_id"), col("e").as("embedding")), cents)
        .select(col("vec_id"), col("cell"))
      // composite (label, cell) block key keeps the refinement within-label;
      // small labels ride along as cell −1 so ONE kernel call covers both
      val reBlocked = bigRows.join(cells, "vec_id")
        .select(struct(col("label"), col("cell")).as("label"),
          col("vec_id"), col("e"))
      val small = v.filter(!isBig)
        .select(struct(col("label"), lit(-1).as("cell")).as("label"),
          col("vec_id"), col("e"))
      blockCosinePairs(small.unionByName(reBlocked), tau)
    }
  }

  /** Exact-Jaccard verification of candidate pairs: re-join the FULL
    * shingle rows on both sides and count shared hashes (codegen equi-join
    * + agg). `cand` carries (doc_a, doc_b, n_a, n_b); `e` is (doc_id, h).
    */
  private def verifyJaccard(cand: DataFrame, e: DataFrame, tau: Double): DataFrame =
    jaccardFromIntersect(withIntersect(cand, e), tau)

  /** Final Jaccard filter/read-out over pair rows already carrying
    * (n_a, n_b, n_int) — shared by the e-based and per-doc-grain verifies.
    */
  private def jaccardFromIntersect(ver0: DataFrame, tau: Double): DataFrame = {
    val ver = ver0
      .withColumn("n_uni", col("n_a") + col("n_b") - col("n_int"))
    ver.filter(col("n_int").cast(DoubleType) / col("n_uni") >= tau)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_int").cast(DoubleType) / col("n_uni"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** ONE combined per-doc collapse of the shingle rows: set size `n`, the
    * 16-perm MinHash signature `mh`, and the ascending duplicate-free
    * shingle array `sh` — everything the LSH candidate pass AND the exact
    * verify need, produced by a single aggregation over the corpus-sized
    * (doc_id, h) rows (r17: the candidate and verify passes each ran their
    * own full agg over `e` — two passes over the heaviest table for per-doc
    * data one pass computes; guide §2.3 "aggregate before you shuffle",
    * §1.2 remove redundant passes).
    */
  private def perDocMinhash(s: SparkSession, e: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    e.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      call_function("minhash16", col("h")).as("mh"),
      sort_array(collect_list(col("h"))).as("sh"))
  }

  /** Per-doc ascending-sorted shingle-set arrays (doc_id, sh) — the compact
    * verify representation. `e` rows are distinct per (doc_id, h)
    * ([[shingleRowsOf]]), so the arrays are duplicate-free, which
    * `sorted_intersect_count`'s two-pointer merge requires.
    */
  private def shingleSets(e: DataFrame): DataFrame =
    e.groupBy("doc_id").agg(sort_array(collect_list(col("h"))).as("sh"))

  /** Attach the exact overlap |A∩B| as `n_int` to candidate pairs
    * (doc_a, doc_b, …): join the two per-doc sorted set arrays and count
    * in one codegen'd two-pointer pass
    * ([[graft.functions.SortedIntersectCount]]). Replaces the r1-r10
    * exploded-row verify (re-join FULL shingle rows on both sides + count),
    * whose intermediate is |cand| × shingles-per-doc join rows — at the
    * sf10 probe's 26M prefix candidates × ~53 shingles that is a ~66 GB
    * exchange vs ~13 GB of compact array payloads here, and the counting
    * itself moves from a shuffle+agg to registers.
    */
  private def withIntersect(cand: DataFrame, e: DataFrame): DataFrame =
    withIntersectSets(cand, shingleSets(e))

  /** [[withIntersect]] over an already-computed per-doc (doc_id, sh) frame
    * — lets callers that aggregate the shingle rows once ([[perDocMinhash]])
    * reuse that pass instead of re-aggregating `e`.
    */
  private def withIntersectSets(cand: DataFrame, sets: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(cand.sparkSession)
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")),
        Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")),
        Seq("doc_b"))
      .withColumn("n_int",
        call_function("sorted_intersect_count", col("sh_a"), col("sh_b")))
      .drop("sh_a", "sh_b")
  }

  /** PUBLIC n-gram near-dup operator over any (doc_id, lang, source, text)
    * frame. Candidates come from the exact AllPairs prefix filter
    * ([[prefixCandidates]]) — the complete pair set, no df-cap, no recall
    * loss — then every pair is verified at exact Jaccard ≥ τ.
    */
  def ngramJaccardPairs(docsDf: DataFrame, tau: Double = 0.5): DataFrame = {
    // r17: NO persist. The shingle rows' root is the distinct() EXCHANGE
    // and nothing can prune below a 4-column distinct, so every consumer
    // branch (prefix windows + both verify join sides) carries the
    // IDENTICAL exchange subtree — ReuseExchange computes it once and
    // shares it physically within the caller's one action; a persist here
    // only added cache-build + columnar-read overhead (the rfm_segments
    // r17 lesson: persisting an exchange-rooted subtree 1.56 → 3.67 s).
    val e = shingleRowsOf(docsDf)
    // floor(τ·1000)/1000 ≤ τ: a rational threshold at-or-below the real τ
    // only LENGTHENS prefixes (still complete); verify filters at exact τ.
    verifyJaccard(prefixCandidates(e, math.floor(tau * 1000).toInt, 1000, tau,
        bothPrefixes = true),
      e.select("doc_id", "h"), tau)
  }

  /** PUBLIC MinHash-LSH near-dup operator over any (doc_id, text) frame,
    * bucket cap tunable per call (≤ 0 → [[LshBucketCapKey]] conf).
    */
  def minhashLshPairs(docsDf: DataFrame, tau: Double = 0.35,
      bucketCap: Int = 0): DataFrame = {
    val s = docsDf.sparkSession
    val cap = if (bucketCap > 0) bucketCap else lshBucketCap(s)
    // r17: the cache moves from the shingle-row grain to the PER-DOC grain —
    // one combined agg ([[perDocMinhash]]) feeds candidate generation (n,
    // mh) and the exact verify (sh), so the corpus-sized shingle rows are
    // aggregated once instead of twice and never persisted at row grain.
    // persist justification: pd feeds three consumers (bands + both verify
    // join sides) inside the caller's one action; kept lazy as before.
    val pd = trackCache(
      perDocMinhash(s, shingleRowsOf(docsDf).select("doc_id", "h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    jaccardFromIntersect(
      withIntersectSets(
        minhashCandidatesFromSig(pd.select("doc_id", "n", "mh"), cap),
        pd.select("doc_id", "sh")),
      tau)
  }

  val defs: Map[String, OpDef] = Map(
    // ---- #29 exact dedup: keep min doc_id per identical text -------------
    // groupBy is on md5(text): at 100 TB the shuffle moves 16-byte keys +
    // ids, not documents; the join-back is on the same key (co-partitioned).
    "dedup_exact" -> OpDef(
      """WITH h AS (SELECT doc_id, md5(text) AS th FROM documents),
        |k AS (SELECT th, MIN(doc_id) AS keep_id FROM h GROUP BY th)
        |SELECT h.doc_id, k.keep_id FROM h JOIN k USING (th)
        |WHERE h.doc_id <> k.keep_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      val h = docs(s, dir).select(col("doc_id"), md5(col("text")).as("th"))
      val keep = h.groupBy("th").agg(min("doc_id").as("keep_id"))
      h.join(keep, "th")
        .filter(col("doc_id") =!= col("keep_id"))
        .select("doc_id", "keep_id")
        .orderBy("doc_id")
    },

    // ---- #29b normalized exact dedup: bag-of-words canonical key ---------
    // lower → distinct words → sort → md5: one canonical digest for any
    // re-ordered / re-cased / word-repeated variant of the same content.
    // Raw md5(text) finds nothing in the synthetic corpus below sf0.1, so
    // this row keeps the exact-dedup oracle NON-vacuous at the gate SF
    // while exercising the same 16-byte-digest shuffle shape.
    "dedup_exact_norm" -> OpDef(
      """WITH h AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_sort(list_distinct(
        |      string_split(lower(text), ' '))), ' ')) AS th
        |  FROM documents),
        |k AS (SELECT th, MIN(doc_id) AS keep_id FROM h GROUP BY th)
        |SELECT h.doc_id, k.keep_id FROM h JOIN k USING (th)
        |WHERE h.doc_id <> k.keep_id
        |ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // sort_array (SortArray), not array_sort (ArraySort): same ascending
      // natural order for strings, but SortArray is codegen'd while the
      // higher-order ArraySort is interpreted — this runs per ROW on the
      // scan, the one place a fallback expression actually costs.
      val h = docs(s, dir).select(col("doc_id"),
        md5(concat_ws(" ",
          sort_array(array_distinct(split(lower(col("text")), " "))))).as("th"))
      val keep = h.groupBy("th").agg(min("doc_id").as("keep_id"))
      h.join(keep, "th")
        .filter(col("doc_id") =!= col("keep_id"))
        .select("doc_id", "keep_id")
        .orderBy("doc_id")
    },

    // ---- #267 segment-level boilerplate removal (CCNet line dedup) -------
    // The curation step BETWEEN doc-level dedup and doc-level quality: drop
    // repeated SEGMENTS (headers, nav bars, license blurbs) that appear
    // across ≥ 3 docs, keep the rest of each doc. Docs segment into fixed
    // 8-word windows; each segment's signature is a positional-weighted
    // 48-bit word-hash sum — ORDER-SENSITIVE (a permuted segment differs)
    // yet aggregation-order-independent, so it folds map-side with no
    // collect_list/sort per segment. Scale shape: the word stream shuffles
    // once on doc_id (window rank), the segment collapse groups on a
    // (doc_id, seg) superset of the same key (exchange reused), the df
    // count + join-back move only 8-byte signatures, and the final
    // per-doc collapse is a grain reduction — no step is ever quadratic
    // or doc-payload-wide.
    "dedup_lines" -> OpDef(
      """WITH w AS (
        |  SELECT doc_id, i, ws[i] AS word
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |    unnest(generate_series(1, len(ws))) AS t(i)
        |  WHERE ws[i] <> ''),
        |r AS (
        |  SELECT doc_id, word,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
        |  FROM w),
        |seg AS (
        |  SELECT doc_id, (rn - 1) // 8 AS seg,
        |    CAST(SUM(('0x' || substr(md5(word), 1, 12))::BIGINT
        |             * ((rn - 1) % 8 + 1)) AS BIGINT) AS sig
        |  FROM r GROUP BY 1, 2),
        |df AS (SELECT sig, COUNT(DISTINCT doc_id) AS df FROM seg GROUP BY 1)
        |SELECT s.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_segs,
        |  CAST(COUNT(CASE WHEN df.df >= 3 THEN 1 END) AS BIGINT) AS n_dropped,
        |  CAST(SUM(CASE WHEN df.df < 3 THEN s.sig % 1000003 ELSE 0 END)
        |    AS BIGINT) AS kept_chk,
        |  round(CAST(COUNT(CASE WHEN df.df >= 3 THEN 1 END) AS DOUBLE)
        |    / COUNT(*), 4) AS drop_ratio
        |FROM seg s JOIN df USING (sig)
        |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      // r17: the oracle's rn-1 (row_number over non-empty words ordered by
      // position) IS the word's index in the empties-removed array, so
      // posexplode(array_remove(...)) yields it in-row — no doc_id
      // exchange, no Sort+Window over the word rows. The (doc_id, seg)
      // collapse then partial-aggregates MAP-SIDE before its exchange:
      // the first shuffle moves 8× fewer rows and no word strings.
      val pos = docs(s, dir)
        .select(col("doc_id"),
          posexplode(array_remove(split(col("text"), " "), ""))
            .as(Seq("p", "word")))
      val seg = pos
        .groupBy(col("doc_id"), expr("p div 8").as("seg"))
        .agg(sum(conv(substring(md5(col("word")), 1, 12), 16, 10)
          .cast(LongType) * (expr("p % 8") + 1)).as("sig"))
      val df = seg.groupBy("sig")
        .agg(countDistinct("doc_id").as("df"))
      seg.join(df, "sig")
        .groupBy("doc_id")
        .agg(
          count(lit(1)).cast(LongType).as("n_segs"),
          sum(when(col("df") >= 3, 1L).otherwise(0L)).cast(LongType)
            .as("n_dropped"),
          sum(when(col("df") < 3, col("sig") % 1000003).otherwise(0L))
            .cast(LongType).as("kept_chk"),
          round(sum(when(col("df") >= 3, 1L).otherwise(0L))
            .cast(DoubleType) / count(lit(1)), 4).as("drop_ratio"))
        .orderBy("doc_id")
    },

    // ---- #30 n-gram Jaccard near-dup pairs within (lang, source) blocks --
    // Spark side: exact AllPairs prefix filter ([[prefixCandidates]]) — the
    // COMPLETE candidate set (every pair with Jaccard ≥ τ is generated, no
    // df-cap, no recall loss), but hot boilerplate shingles stop colliding
    // because only each doc's RAREST ℓ(n) shingles join against full
    // postings. The oracle states the SEMANTICS, not the algorithm: an
    // uncapped block self-join over all shared shingles (fine at oracle SF;
    // the prefix filter provably emits the same final pair set). A
    // size-ratio prefilter (min/max ≥ τ, necessary for Jaccard ≥ τ) kills
    // most candidates, then the verify re-joins the FULL shingle rows so
    // jaccard is exact. τ = 0.5.
    "dedup_ngram_jaccard" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id, lang, source,
         |    list_transform($shinglesSql, g -> ${h32Sql("g")}) AS sh
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, lang, source, unnest(sh) AS h FROM t),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM e a JOIN e b
         |    ON a.lang = b.lang AND a.source = b.source AND a.h = b.h
         |  WHERE a.doc_id < b.doc_id),
         |p AS (
         |  SELECT c.doc_a, c.doc_b,
         |    len(list_intersect(ta.sh, tb.sh)) AS n_int,
         |    len(ta.sh) + len(tb.sh) - len(list_intersect(ta.sh, tb.sh)) AS n_uni
         |  FROM cand c
         |  JOIN t ta ON ta.doc_id = c.doc_a
         |  JOIN t tb ON tb.doc_id = c.doc_b
         |  WHERE CAST(least(len(ta.sh), len(tb.sh)) AS DOUBLE)
         |        / greatest(len(ta.sh), len(tb.sh)) >= 0.5)
         |SELECT doc_a, doc_b,
         |  round(CAST(n_int AS DOUBLE) / n_uni, 4) AS jaccard
         |FROM p WHERE CAST(n_int AS DOUBLE) / n_uni >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, dir) => ngramJaccardPairs(docs(s, dir), tau = 0.5) },

    // ---- #147 directional shingle containment (boilerplate inclusion) ----
    // C = |A∩B| / min(|A|,|B|) ≥ 0.7 over the same blocks as #30 but
    // WITHOUT the size-ratio prefilter: containment is asymmetric — a
    // small doc wholly inside a big one has low Jaccard AND a low size
    // ratio, so #30 structurally cannot see it. This is the
    // template/quotation/inclusion detector curation pipelines run next to
    // near-dup. Spark candidates come from the exact prefix filter at
    // τ = 7/10 (containment ≥ 0.7 forces overlap ≥ ceil(0.7·n_min), so the
    // smaller side's prefix must collide — complete, never O(n²)); the
    // oracle states the semantics as an uncapped block self-join. The
    // verify re-joins full shingle rows; one exact-integer divide +
    // direction flag.
    "dedup_containment" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id, lang, source,
         |    list_transform($shinglesSql, g -> ${h32Sql("g")}) AS sh
         |  FROM documents),
         |e AS (
         |  SELECT doc_id, lang, source, unnest(sh) AS h FROM t),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM e a JOIN e b
         |    ON a.lang = b.lang AND a.source = b.source AND a.h = b.h
         |  WHERE a.doc_id < b.doc_id),
         |p AS (
         |  SELECT c.doc_a, c.doc_b,
         |    len(list_intersect(ta.sh, tb.sh)) AS n_int,
         |    len(ta.sh) AS n_a, len(tb.sh) AS n_b
         |  FROM cand c
         |  JOIN t ta ON ta.doc_id = c.doc_a
         |  JOIN t tb ON tb.doc_id = c.doc_b)
         |SELECT doc_a, doc_b,
         |  round(CAST(n_int AS DOUBLE) / least(n_a, n_b), 4) AS containment,
         |  CASE WHEN n_a <= n_b THEN 'a' ELSE 'b' END AS contained
         |FROM p WHERE CAST(n_int AS DOUBLE) / least(n_a, n_b) >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, dir) =>
      // persist KEPT after the r17 two-scale audit: unlike the Jaccard
      // twin (bothPrefixes=true, whose branches stay symmetric and reuse —
      // persist dropped there), containment joins FULL postings against
      // prefix postings, so the a/b branches diverge and runtime exchange
      // reuse cannot cover them all. Dropping the persist won at sf0.1
      // (3.13 → 2.34 s) but lost 1.32× at sf10 (88.8 → 117.2 s, A/B at the
      // r16 commit on the same data) — the corpus-sized shingle pass
      // re-ran. One shingle pass is the 100 TB shape.
      //
      // r18: the persist MOVES UP from the raw shingle rows to the
      // WINDOWED postings ([[windowedPostings]]: + n, rnk): at the row
      // grain each join side re-ran the full window stack above the cache
      // (2 sorts + 3 window evals over corpus×shingles rows, twice);
      // cached post-window, the stack runs exactly once. A/B'd at both
      // scales before keeping (numbers in OPTIMIZATION_r18.md).
      val d = trackCache(windowedPostings(shingleRowsOf(docs(s, dir)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      // sizeRatioTau = 0 disables the Jaccard size-ratio prefilter
      // (necessary for Jaccard, WRONG for containment); the prefix length
      // uses τ = 7/10 exactly — integer math, no float ceil.
      val cand = prefixCandidatesFromWindowed(d, 7, 10, sizeRatioTau = 0.0)
      withIntersect(cand, d.select("doc_id", "h"))
        .filter(col("n_int").cast(DoubleType) / least(col("n_a"), col("n_b"))
          >= 0.7)
        .select(col("doc_a"), col("doc_b"),
          round(col("n_int").cast(DoubleType)
            / least(col("n_a"), col("n_b")), 4).as("containment"),
          when(col("n_a") <= col("n_b"), "a").otherwise("b").as("contained"))
        .orderBy("doc_a", "doc_b")
    },

    // ---- #31 MinHash + LSH candidate pairs, Jaccard-verified -------------
    // sig_j = min over shingles of md5(j || ':' || shingle); bands of 4 sigs
    // hash to a bucket key; docs sharing ANY band bucket become candidates
    // (bucket join — never an O(n²) cross). Verify exact Jaccard ≥ 0.35.
    "dedup_minhash_lsh" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_transform($shinglesSql, g -> ${h32Sql("g")}) AS sh
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, sh,
         |    list_transform(generate_series(0, ${NumPerms - 1}), j ->
         |      list_min(list_transform(sh, h ->
         |        (${sqlLongList(permA)}[j+1] * h + ${sqlLongList(permB)}[j+1]) % $P))) AS mh
         |  FROM t),
         |bands_e AS (
         |  SELECT doc_id, sh, mh, unnest(generate_series(0, ${NumBands - 1})) AS b FROM sig),
         |bands AS (
         |  SELECT doc_id, sh, b,
         |    md5(array_to_string(
         |      list_transform(list_slice(mh, b * $BandRows + 1, b * $BandRows + $BandRows),
         |                     v -> v::VARCHAR), ',')) AS bkey
         |  FROM bands_e
         |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sh AS sh_a, b.sh AS sh_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id),
         |ver AS (
         |  SELECT doc_a, doc_b,
         |    len(list_intersect(sh_a, sh_b)) AS n_int,
         |    len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) AS n_uni
         |  FROM cand)
         |SELECT doc_a, doc_b, round(CAST(n_int AS DOUBLE) / n_uni, 4) AS jaccard
         |FROM ver WHERE CAST(n_int AS DOUBLE) / n_uni >= 0.35
         |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, dir) => minhashLshPairs(docs(s, dir), tau = 0.35) },

    // ---- #301 MinHash estimator calibration --------------------------------
    // How good is the 16-perm signature as a Jaccard ESTIMATE on the pairs
    // LSH actually surfaces? Per true-Jaccard decile: matching-position
    // share k/16 vs exact |A∩B|/|A∪B| — the QA read-out that justifies (or
    // refutes) trusting sketch-level thresholds before the exact verify at
    // a new τ. est = k/16 is an EXACT double (k integer, /16 a power of
    // two); true j is ONE identically-spelled IEEE divide; the decile key
    // floors (n_int·10)/n_uni computed on exact integers — bit-identical
    // cross-engine even at decile boundaries. Only the per-decile mean
    // folds are order-dependent → round(·,4). Scale: candidates ride the
    // same band-bucket join as #31 (never all-pairs); signatures hash-join
    // back on doc_id (corpus-sized ⇒ not broadcast); the 16-term match
    // count is a codegen comparison chain on two 16-long arrays. The
    // join-backs were measured, not assumed (r13 ProbeMinhashStages): this
    // query ≡ dedup_minhash_lsh ±2% focused — carrying mh THROUGH the band
    // join instead regressed 3.9→7.2 s (wide array rows through the
    // bucket-cap window + pair dedup), so two narrow joins stay. Oracle
    // guards sig with len(sh) >= 1 mirroring Spark's ≥3-words shingle
    // filter (<3-word docs have NO signature — their all-NULL mh would
    // otherwise collapse into one shared md5('') band bucket and emit
    // n_uni=0 rows Spark never sees).
    "minhash_est_error" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_transform($shinglesSql, g -> ${h32Sql("g")}) AS sh
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id, sh,
         |    list_transform(generate_series(0, ${NumPerms - 1}), j ->
         |      list_min(list_transform(sh, h ->
         |        (${sqlLongList(permA)}[j+1] * h + ${sqlLongList(permB)}[j+1]) % $P))) AS mh
         |  FROM t
         |  WHERE len(sh) >= 1),
         |bands_e AS (
         |  SELECT doc_id, sh, mh, unnest(generate_series(0, ${NumBands - 1})) AS b FROM sig),
         |bands AS (
         |  SELECT doc_id, sh, mh, b,
         |    md5(array_to_string(
         |      list_transform(list_slice(mh, b * $BandRows + 1, b * $BandRows + $BandRows),
         |                     v -> v::VARCHAR), ',')) AS bkey
         |  FROM bands_e
         |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sh AS sh_a, b.sh AS sh_b, a.mh AS mh_a, b.mh AS mh_b
         |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id),
         |ver AS (
         |  SELECT
         |    len(list_filter(generate_series(1, ${NumPerms}),
         |                    i -> mh_a[i] = mh_b[i])) AS k,
         |    len(list_intersect(sh_a, sh_b)) AS n_int,
         |    len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b)) AS n_uni
         |  FROM cand),
         |sc AS (
         |  SELECT least(9, CAST(floor(CAST(n_int * 10 AS DOUBLE) / n_uni)
         |                       AS BIGINT)) AS bucket,
         |    CAST(k AS DOUBLE) / ${NumPerms} AS est,
         |    CAST(n_int AS DOUBLE) / n_uni AS tru
         |  FROM ver)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  round(AVG(est), 4) AS mean_est, round(AVG(tru), 4) AS mean_true,
         |  round(AVG(abs(est - tru)), 4) AS mean_abs_err
         |FROM sc GROUP BY bucket ORDER BY bucket""".stripMargin
    ) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      // r17: ONE per-doc collapse (n, mh, sh) feeds bands, the exact verify
      // AND the signature read-back — the previous shape aggregated the
      // shingle rows three times (cand's sig, withIntersect's sets, the
      // mh read-back sig) and joined pairs back four times; now one agg +
      // TWO joins (sh and mh ride the same join row per side). The r13
      // probe's lesson stands: mh still does NOT travel through the band
      // join — bands stay narrow (doc_id, n, b, bkey).
      val pd = trackCache(
        perDocMinhash(s, shingleRowsOf(docs(s, dir)).select("doc_id", "h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      val cand = minhashCandidatesFromSig(pd.select("doc_id", "n", "mh"))
      val pairs = cand
        .join(pd.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"),
          col("mh").as("mh_a")), Seq("doc_a"))
        .join(pd.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"),
          col("mh").as("mh_b")), Seq("doc_b"))
        .withColumn("n_int",
          call_function("sorted_intersect_count", col("sh_a"), col("sh_b")))
        .drop("sh_a", "sh_b")
      val k = (0 until NumPerms).map(j =>
          when(element_at(col("mh_a"), j + 1) ===
            element_at(col("mh_b"), j + 1), 1).otherwise(0))
        .reduce(_ + _)
      val sc = pairs
        .withColumn("n_uni", col("n_a") + col("n_b") - col("n_int"))
        .select(
          least(lit(9L), floor((col("n_int") * 10).cast(DoubleType)
            / col("n_uni")).cast(LongType)).as("bucket"),
          (k.cast(DoubleType) / NumPerms).as("est"),
          (col("n_int").cast(DoubleType) / col("n_uni")).as("tru"))
      sc.groupBy("bucket")
        .agg(count(lit(1)).cast(LongType).as("n_pairs"),
          round(avg("est"), 4).as("mean_est"),
          round(avg("tru"), 4).as("mean_true"),
          round(avg(abs(col("est") - col("tru"))), 4).as("mean_abs_err"))
        .orderBy("bucket")
    },

    // ---- #280 MinHash signature mergeability (-State/-Merge proof) --------
    // The sketch-handoff property every 100-TB dedup pipeline leans on:
    // per-shard MinHash signatures must MERGE (elementwise min) to exactly
    // the signature a single pass over the union computes — that is what
    // lets shards sketch independently and a coordinator fold. Per lang:
    // sig_md5 = the one-pass [[graft.functions.MinHashAgg]] over all
    // shingle hashes; sig_md5_reagg = per-(lang, source) cell signatures
    // re-merged via posexplode + (lang, perm) min + ordered re-assembly
    // (all codegen — no zip_with lambda). The oracle computes the
    // semantics ONCE and expects both columns to equal it, so a merge-path
    // divergence fails the gate. Scale shape: shingle rows collapse to
    // cells (one exchange), the merge works on |langs|×|sources|×16
    // scalars — constants.
    "minhash_reagg" -> OpDef(
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |    list_transform($shinglesSql, g -> ${h32Sql("g")}) AS sh
         |  FROM documents),
         |e AS (SELECT DISTINCT lang, unnest(sh) AS h FROM t),
         |sig AS (
         |  SELECT lang, j,
         |    MIN((${sqlLongList(permA)}[j+1] * h + ${sqlLongList(permB)}[j+1])
         |        % $P) AS m
         |  FROM e, (SELECT unnest(generate_series(0, ${NumPerms - 1})) AS j)
         |  GROUP BY 1, 2),
         |s2 AS (
         |  SELECT lang,
         |    md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY j)) AS sig_md5
         |  FROM sig GROUP BY 1),
         |n AS (SELECT lang, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shingles
         |      FROM e GROUP BY 1)
         |SELECT s2.lang, n.n_shingles, s2.sig_md5,
         |  s2.sig_md5 AS sig_md5_reagg
         |FROM s2 JOIN n USING (lang) ORDER BY lang""".stripMargin
    ) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      // r17: no persist — distinct()-rooted subtree, ReuseExchange shares
      // it across the one-pass and cell aggregations (see ngramJaccardPairs)
      val e = shingleRowsOf(docs(s, dir))
      val onepass = e.groupBy("lang")
        .agg(call_function("minhash16", col("h")).as("sig"),
          countDistinct("h").cast(LongType).as("n_shingles"))
        .select(col("lang"), col("n_shingles"),
          md5(concat_ws(",", col("sig").cast(ArrayType(StringType))))
            .as("sig_md5"))
      val cells = e.groupBy("lang", "source")
        .agg(call_function("minhash16", col("h")).as("sig"))
      val merged = cells
        .select(col("lang"), posexplode(col("sig")).as(Seq("j", "m")))
        .groupBy("lang", "j").agg(min("m").as("m"))
        .groupBy("lang")
        .agg(sort_array(collect_list(struct(col("j"), col("m")))).as("ord"))
        .select(col("lang"),
          md5(concat_ws(",", col("ord.m").cast(ArrayType(StringType))))
            .as("sig_md5_reagg"))
      onepass.join(merged, Seq("lang")).orderBy("lang")
    },

    // ---- #32 SimHash 60-bit signature per doc ----------------------------
    // bit i of sig = majority vote of bit i over the doc's distinct token
    // hashes. Pure narrow expression — zero shuffle at any scale.
    "dedup_simhash" -> OpDef(
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |    CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |         THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
        |FROM t ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      // Native one-pass expression (graft.functions.SimHash64): the HOF
      // formulation (60 × filter/size over the token array) runs interpreted.
      graft.functions.GraftFunctions.register(s)
      docs(s, dir)
        .select(col("doc_id"),
          call_function("simhash64", array_distinct(split(col("text"), " ")))
            .as("simhash"))
        .orderBy("doc_id")
    },

    // ---- #32b SimHash near-dup pairs: hamming ≤ 2, THREE 20-bit bands ----
    // Pigeonhole guarantee: ≤ 2 differing bits can dirty at most 2 of the 3
    // disjoint bands, so every hamming≤2 pair collides on at least one band
    // key — recall 1.0 at radius 2 (a single prefix band misses pairs whose
    // diff bits fall inside it). Bucket join per band + distinct pair, then
    // a bit_count(xor) verify — integer-only, no text ever shuffles.
    "dedup_simhash_pairs" -> OpDef(
      s"""WITH t AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM t),
        |bands AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey
        |  FROM s, (SELECT unnest(generate_series(0, 2)) AS b)
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.sig AS sig_a, b.sig AS sig_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sig_a, sig_b)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin
    ) { (s, dir) => simhashPairs(s, dir).orderBy("doc_a", "doc_b") },

    // ---- #33 embedding cosine near-dup pairs within label blocks ---------
    // Sequential double dot product (same fold order both engines); block
    // key = label (an IVF coarse cell at scale). τ = 0.35 (the synthetic
    // embeddings are near-random — higher thresholds match nothing).
    "dedup_embedding" -> OpDef(
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_sum(list_transform(generate_series(1, 64), i -> a.e[i] * b.e[i]))
        |      / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(b.e, x -> x * x)))) AS cos
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, round(cos, 4) AS cosine
        |FROM p WHERE cos >= 0.35
        |ORDER BY vec_a, vec_b""".stripMargin
    ) { (s, dir) =>
      // chunked block kernel (r13): norms hoisted per vector, parallelism
      // follows chunk-pair count instead of the ~10-key label domain, no
      // pair-grained join rows — 1010 s → see SURVEY §7 r13 (sf10). Same
      // IEEE chain as the old cosine_sim-per-pair join → hash-green.
      val v = embs(s, dir)
        .select(col("label"), col("vec_id"), col("embedding").as("e"))
      blockCosinePairs(v, tau = 0.35)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 4).as("cosine"))
        .orderBy("vec_a", "vec_b")
    },

    // ---- #234 SemDeDup: semantic-cluster dedup (Abbas et al. 2023) -------
    // The embedding-space dedup pass a pre-training pipeline runs on TOP
    // of exact/fuzzy text dedup: within each semantic cluster (label —
    // at 100 TB these come from the SAME k-means the IVF index trains),
    // cosine-≥τ groups collapse to ONE representative (min vec_id), and
    // the read-out is per-cluster keep/drop mass. Pair generation is the
    // #33 block join (never cross-cluster); components ride the shared
    // [[connectedComponents]] min-label propagation; kept_id_sum pins the
    // exact KEPT SET (not just its size) cross-engine. The oracle replays
    // components as the reachability CTE — feasible at driver SF, and at
    // the 10× probe the union-find script path applies (SKILL §4).
    "semdedup" -> OpDef(
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(generate_series(1, 64),
        |        i -> a.e[i] * b.e[i]))
        |      / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.35),
        |edges AS (
        |  SELECT va AS a, vb AS b FROM p UNION ALL SELECT vb, va FROM p),
        |reach AS (
        |  SELECT a AS node, a AS lbl FROM edges
        |  UNION
        |  SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b),
        |comp AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY 1),
        |dropped AS (SELECT node FROM comp WHERE node <> root),
        |lb AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |    CAST(SUM(vec_id) AS BIGINT) AS id_sum
        |  FROM v GROUP BY 1),
        |dl AS (
        |  SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_dropped,
        |    CAST(SUM(d.node) AS BIGINT) AS drop_sum
        |  FROM dropped d JOIN v ON v.vec_id = d.node GROUP BY 1)
        |SELECT lb.label, lb.n_vectors,
        |  lb.n_vectors - COALESCE(dl.n_dropped, 0) AS n_kept,
        |  COALESCE(dl.n_dropped, 0) AS n_dropped,
        |  round(CAST(COALESCE(dl.n_dropped, 0) AS DOUBLE) / lb.n_vectors, 4)
        |    AS drop_rate,
        |  lb.id_sum - COALESCE(dl.drop_sum, 0) AS kept_id_sum
        |FROM lb LEFT JOIN dl ON lb.label = dl.label
        |ORDER BY lb.label""".stripMargin
    ) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = embs(s, dir)
        .select(col("vec_id"), col("label"), col("embedding").as("e"))
      // pair generation = the shared chunked block kernel (r13) — the #33
      // shape, parallel in chunk-pairs and free of pair-grained join rows
      val pairs = blockCosinePairs(v, tau = 0.35)
        .select(col("vec_a").as("a"), col("vec_b").as("b"))
      val dropped = connectedComponents(pairs)
        .filter(col("node") =!= col("component"))
        .select(col("node"))
      val lb = v.groupBy("label")
        .agg(count(lit(1)).cast(LongType).as("n_vectors"),
          sum("vec_id").cast(LongType).as("id_sum"))
      val dl = v.join(dropped, v("vec_id") === col("node"))
        .groupBy("label")
        .agg(count(lit(1)).cast(LongType).as("n_dropped"),
          sum("vec_id").cast(LongType).as("drop_sum"))
      lb.join(dl, Seq("label"), "left_outer")
        .select(col("label"), col("n_vectors"),
          (col("n_vectors") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          round(coalesce(col("n_dropped"), lit(0L)).cast(DoubleType)
            / col("n_vectors"), 4).as("drop_rate"),
          (col("id_sum") - coalesce(col("drop_sum"), lit(0L)))
            .as("kept_id_sum"))
        .orderBy("label")
    },

    // ---- #319 SemDeDup DEFAULT √n-cell path under the driver oracle ------
    // r15 verdict item 1: `semdedup` above exercises the exact label path
    // (driver-SF labels sit under MaxBlock); the PRODUCTION default — the
    // √n IVF-cell re-block a 100 TB run takes — was pinned only by specs.
    // This row forces EVERY label oversized (MaxBlock=40 < the smallest
    // driver-SF label) so [[semdedupPairs]] runs its auto-switch branch
    // end-to-end: md5-rank-seeded centroids, TWO micro-unit-exact Lloyd
    // rounds, the [[graft.ann.Ann.assignCells]] primitive argmax, and the
    // within-(label, cell) pair kernel. The oracle RE-DERIVES the entire
    // chain in SQL — seeds by md5 rank, both Lloyd updates as exact
    // floor(e·10⁶) integer means (order-independent by construction, which
    // is WHY the trained cells are reproducible at all — a double avg()
    // depended on partial-agg order), float-rounded centroids in every
    // scoring pass, argmax with ties to the lower cell, then the same
    // reachability read-out as `semdedup`. Hash-green means the DEFAULT
    // code path — not a fixture twin — matches an independent engine.
    "semdedup_default" -> OpDef(
      """WITH RECURSIVE v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |ls AS (SELECT label, COUNT(*) AS n FROM v GROUP BY 1),
        |bv AS (SELECT v.* FROM v JOIN ls USING (label) WHERE ls.n > 40),
        |sv AS (SELECT v.* FROM v JOIN ls USING (label) WHERE ls.n <= 40),
        |kk AS (
        |  SELECT GREATEST(2, CAST(round(sqrt(CAST(COUNT(*) AS DOUBLE)))
        |    AS INTEGER)) AS k
        |  FROM bv),
        |c0 AS (
        |  SELECT rn - 1 AS cell, e AS c FROM (
        |    SELECT e,
        |      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
        |    FROM bv)
        |  WHERE rn <= (SELECT k FROM kk)),
        |a1 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT b.vec_id, c.cell, row_number() OVER (
        |      PARTITION BY b.vec_id ORDER BY
        |        (list_sum(list_transform(generate_series(1, len(b.e)),
        |            i -> b.e[i] * CAST(CAST(c.c[i] AS FLOAT) AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(b.e, x -> x * x)))
        |            * sqrt(list_sum(list_transform(c.c, x ->
        |                CAST(CAST(x AS FLOAT) AS DOUBLE)
        |                * CAST(CAST(x AS FLOAT) AS DOUBLE)))))) DESC,
        |        c.cell) AS rnk
        |    FROM bv b CROSS JOIN c0 c)
        |  WHERE rnk = 1),
        |u1 AS (
        |  SELECT a.cell, t.i AS pos, COUNT(*) AS n,
        |    SUM(CAST(floor(b.e[t.i] * 1000000) AS BIGINT)) AS sq
        |  FROM a1 a JOIN bv b USING (vec_id),
        |    unnest(generate_series(1, len(b.e))) AS t(i)
        |  GROUP BY 1, 2),
        |c1 AS (
        |  SELECT g.cell,
        |    list(COALESCE(CAST(u.sq AS DOUBLE) / u.n / 1000000, g.val)
        |      ORDER BY g.i) AS c
        |  FROM (SELECT cell, t.i AS i, c[t.i] AS val
        |        FROM c0, unnest(generate_series(1, len(c))) AS t(i)) g
        |  LEFT JOIN u1 u ON u.cell = g.cell AND u.pos = g.i
        |  GROUP BY 1),
        |a2 AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT b.vec_id, c.cell, row_number() OVER (
        |      PARTITION BY b.vec_id ORDER BY
        |        (list_sum(list_transform(generate_series(1, len(b.e)),
        |            i -> b.e[i] * CAST(CAST(c.c[i] AS FLOAT) AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(b.e, x -> x * x)))
        |            * sqrt(list_sum(list_transform(c.c, x ->
        |                CAST(CAST(x AS FLOAT) AS DOUBLE)
        |                * CAST(CAST(x AS FLOAT) AS DOUBLE)))))) DESC,
        |        c.cell) AS rnk
        |    FROM bv b CROSS JOIN c1 c)
        |  WHERE rnk = 1),
        |u2 AS (
        |  SELECT a.cell, t.i AS pos, COUNT(*) AS n,
        |    SUM(CAST(floor(b.e[t.i] * 1000000) AS BIGINT)) AS sq
        |  FROM a2 a JOIN bv b USING (vec_id),
        |    unnest(generate_series(1, len(b.e))) AS t(i)
        |  GROUP BY 1, 2),
        |c2 AS (
        |  SELECT g.cell,
        |    list(COALESCE(CAST(u.sq AS DOUBLE) / u.n / 1000000, g.val)
        |      ORDER BY g.i) AS c
        |  FROM (SELECT cell, t.i AS i, c[t.i] AS val
        |        FROM c1, unnest(generate_series(1, len(c))) AS t(i)) g
        |  LEFT JOIN u2 u ON u.cell = g.cell AND u.pos = g.i
        |  GROUP BY 1),
        |af AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT b.vec_id, c.cell, row_number() OVER (
        |      PARTITION BY b.vec_id ORDER BY
        |        (list_sum(list_transform(generate_series(1, len(b.e)),
        |            i -> b.e[i] * CAST(CAST(c.c[i] AS FLOAT) AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(b.e, x -> x * x)))
        |            * sqrt(list_sum(list_transform(c.c, x ->
        |                CAST(CAST(x AS FLOAT) AS DOUBLE)
        |                * CAST(CAST(x AS FLOAT) AS DOUBLE)))))) DESC,
        |        c.cell) AS rnk
        |    FROM bv b CROSS JOIN c2 c)
        |  WHERE rnk = 1),
        |blk AS (
        |  SELECT b.vec_id, b.label, b.e, af.cell FROM bv b JOIN af USING (vec_id)
        |  UNION ALL
        |  SELECT vec_id, label, e, -1 AS cell FROM sv),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb
        |  FROM blk a JOIN blk b
        |    ON a.label = b.label AND a.cell = b.cell AND a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(generate_series(1, len(a.e)),
        |        i -> a.e[i] * b.e[i]))
        |      / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.35),
        |edges AS (
        |  SELECT va AS a, vb AS b FROM p UNION ALL SELECT vb, va FROM p),
        |reach AS (
        |  SELECT a AS node, a AS lbl FROM edges
        |  UNION
        |  SELECT e2.a, r.lbl FROM edges e2 JOIN reach r ON r.node = e2.b),
        |comp AS (SELECT node, MIN(lbl) AS root FROM reach GROUP BY 1),
        |dropped AS (SELECT node FROM comp WHERE node <> root),
        |lb AS (
        |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |    CAST(SUM(vec_id) AS BIGINT) AS id_sum
        |  FROM v GROUP BY 1),
        |dl AS (
        |  SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_dropped,
        |    CAST(SUM(d.node) AS BIGINT) AS drop_sum
        |  FROM dropped d JOIN v ON v.vec_id = d.node GROUP BY 1)
        |SELECT lb.label, lb.n_vectors,
        |  lb.n_vectors - COALESCE(dl.n_dropped, 0) AS n_kept,
        |  COALESCE(dl.n_dropped, 0) AS n_dropped,
        |  round(CAST(COALESCE(dl.n_dropped, 0) AS DOUBLE) / lb.n_vectors, 4)
        |    AS drop_rate,
        |  lb.id_sum - COALESCE(dl.drop_sum, 0) AS kept_id_sum
        |FROM lb LEFT JOIN dl ON lb.label = dl.label
        |ORDER BY lb.label""".stripMargin
    ) { (s, dir) =>
      graft.functions.GraftFunctions.register(s)
      val v = embs(s, dir)
        .select(col("vec_id"), col("label"), col("embedding").as("e"))
      // force the auto-switch: 40 < the smallest label at every test SF.
      // semdedupPairs reads the conf (and trains cells) EAGERLY at build
      // time, so restoring it afterwards cannot race the returned plan.
      val prev = s.conf.getOption(MaxBlockKey)
      s.conf.set(MaxBlockKey, 40)
      val pairs =
        try semdedupPairs(v, tau = 0.35)
          .select(col("vec_a").as("a"), col("vec_b").as("b"))
        finally prev match {
          case Some(p) => s.conf.set(MaxBlockKey, p)
          case None => s.conf.unset(MaxBlockKey)
        }
      val dropped = connectedComponents(pairs)
        .filter(col("node") =!= col("component"))
        .select(col("node"))
      val lb = v.groupBy("label")
        .agg(count(lit(1)).cast(LongType).as("n_vectors"),
          sum("vec_id").cast(LongType).as("id_sum"))
      val dl = v.join(dropped, v("vec_id") === col("node"))
        .groupBy("label")
        .agg(count(lit(1)).cast(LongType).as("n_dropped"),
          sum("vec_id").cast(LongType).as("drop_sum"))
      lb.join(dl, Seq("label"), "left_outer")
        .select(col("label"), col("n_vectors"),
          (col("n_vectors") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
          round(coalesce(col("n_dropped"), lit(0L)).cast(DoubleType)
            / col("n_vectors"), 4).as("drop_rate"),
          (col("id_sum") - coalesce(col("drop_sum"), lit(0L)))
            .as("kept_id_sum"))
        .orderBy("label")
    },

    // ---- #55 dedup clustering: near-dup pairs → components → canonical ---
    // The step a real training pipeline runs AFTER pair generation: group
    // transitive near-dups into clusters and keep one canonical doc (the
    // min id) per cluster. Components via distributed min-label
    // propagation over the hamming≤2 pair graph; the oracle replays it as
    // a recursive reachability CTE.
    "dedup_clusters" -> OpDef(
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM t),
        |bands AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey
        |  FROM s, (SELECT unnest(generate_series(0, 2)) AS b)
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id
        |    AND bit_count(xor(a.sig, b.sig)) <= 2),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b)
        |SELECT node AS doc_id, MIN(label) AS cluster_id,
        |  node = MIN(label) AS is_canonical
        |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      clustersView(clusterAssignments(s, dir)).orderBy("doc_id")
    },

    // ---- #251 near-dup cluster size histogram ------------------------------
    // The curation report read off #55's components: how many near-dup
    // clusters exist at each size, plus the docs they absorb — the number
    // that says whether dedup is removing a long tail of pairs or a few
    // mega-clusters (which decide representative-selection and cap
    // policy). Two grain collapses on top of the same propagation run
    // (component → size → histogram cell); every cluster here has ≥ 2
    // members by construction (components come from the pair graph).
    // Oracle shares dedup_clusters' recursive-CTE regime: driver-SF
    // checked, union-find script at 10× (Σm² CTE infeasible there).
    "dedup_cluster_size_hist" -> OpDef(
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM t),
        |bands AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey
        |  FROM s, (SELECT unnest(generate_series(0, 2)) AS b)
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id
        |    AND bit_count(xor(a.sig, b.sig)) <= 2),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
        |comp AS (
        |  SELECT node, MIN(label) AS cluster_id FROM reach GROUP BY node),
        |sizes AS (
        |  SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
        |  FROM comp GROUP BY 1)
        |SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
        |  CAST(sz * COUNT(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * COUNT(*) AS BIGINT) AS n_removable
        |FROM sizes GROUP BY sz ORDER BY sz""".stripMargin
    ) { (s, dir) =>
      clusterSizeHistView(clusterAssignments(s, dir)).orderBy("cluster_size")
    },

    // ---- #73 benchmark decontamination (8-gram overlap) -------------------
    // The standard pre-training hygiene pass: flag corpus documents sharing
    // ANY word 8-gram with a held-out benchmark set (here the deterministic
    // doc_id % 10 == 0 slice). Long grams make hits evidence of real
    // contamination, not vocabulary collisions (6 docs / 312 hits at
    // sf0.01 — all seeded near-dups of benchmark docs). The benchmark
    // shingle set is small by nature → AQE broadcasts the join side; the
    // corpus side is one codegen explode+hash scan. BOTH engines join on
    // the same 32-bit h32 hashes, so hash collisions (possible at corpus
    // scale) can never diverge the oracle.
    "contamination" -> OpDef(
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(ws) - 8),
         |    i -> ${h32Sql("ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]" +
            "||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]||' '||ws[i+8]")}))) AS h
         |  FROM w WHERE len(ws) >= 8),
         |bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 10 = 0),
         |corp AS (SELECT * FROM g WHERE doc_id % 10 <> 0)
         |SELECT doc_id, COUNT(*) AS n_hits
         |FROM corp JOIN bench USING (h)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      contaminationBySplit(docs(s, dir), col("doc_id") % 10 === 0)
        .orderBy("doc_id")
    },

    // ---- #270 semantic (embedding-space) benchmark contamination ----------
    // The decontamination pass #73's n-gram screen cannot run: paraphrased
    // or translated benchmark leakage shares no 8-gram but sits close in
    // embedding space. Per corpus vector: max cosine to ANY held-out
    // benchmark vector (deterministic vec_id % 100 slice) + how many
    // benchmark items it is ≥ τ close to. Scale shape: real benchmark
    // suites are small constants (thousands of items, not corpus-sized),
    // so the bench side ships in the task closure and the pass is ONE
    // corpus scan with the max/count reduction inside the kernel
    // ([[graft.ann.Ann.maxCosVsBench]] — the #34 norms-hoisted primitive
    // loop; nothing pair-grained ever materializes, zero score shuffle).
    // The contaminated flag compares the RAW max (identical IEEE fold
    // both engines); round(·,4) only at output.
    "embed_contamination" -> OpDef(
      """WITH v AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |b AS (SELECT vec_id AS bench_id, e AS eb FROM v WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, label, e FROM v WHERE vec_id % 100 <> 0),
        |p AS (
        |  SELECT c.vec_id, c.label,
        |    list_sum(list_transform(generate_series(1, 64), i -> c.e[i] * b.eb[i]))
        |      / (sqrt(list_sum(list_transform(c.e, x -> x * x)))
        |         * sqrt(list_sum(list_transform(b.eb, x -> x * x)))) AS cos
        |  FROM c, b)
        |SELECT vec_id, label,
        |  round(MAX(cos), 4) AS max_cos,
        |  CAST(SUM(CASE WHEN cos >= 0.35 THEN 1 ELSE 0 END) AS BIGINT) AS n_close,
        |  CAST(CASE WHEN MAX(cos) >= 0.35 THEN 1 ELSE 0 END AS BIGINT)
        |    AS contaminated
        |FROM p GROUP BY 1, 2 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      GraftSession.tune(s)
      graft.ann.Ann.maxCosVsBench(s, dir, 100L, 0.35)
        .select(col("vec_id"), col("label"),
          round(col("mc"), 4).as("max_cos"), col("n_close"),
          when(col("mc") >= 0.35, 1L).otherwise(0L).as("contaminated"))
        .orderBy("vec_id")
    },

    // ---- #90 span-level exact-substring dedup (the Lee et al. 2022
    // "Deduplicating Training Data" pattern): per document, how much of it
    // is an exact ≥8-word run that also appears in ANOTHER document —
    // the cross-doc complement of #83's within-doc repetition signal.
    // Rolling 8-word grams (the contamination machinery), document
    // frequency as ONE count window riding the gram shuffle (no self-join,
    // no second scan), then a doc_id collapse: two shuffles total, both
    // key-bounded. Both engines hash the same h32 grams, so collisions
    // cannot diverge the oracle.
    "dedup_substring" -> OpDef(
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(ws) - 8),
         |    i -> ${h32Sql("ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]" +
            "||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]||' '||ws[i+8]")}))) AS h
         |  FROM w WHERE len(ws) >= 8),
         |d AS (
         |  SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM g)
         |SELECT doc_id, COUNT(*) AS n_grams,
         |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_grams,
         |  round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         |        / COUNT(*), 4) AS dup_fraction
         |FROM d GROUP BY doc_id ORDER BY doc_id""".stripMargin
    ) { (s, dir) =>
      substringDupStats(docs(s, dir), 8).orderBy("doc_id")
    },

    // ---- #74 end-to-end curation filter (the pipeline, composed) ---------
    // What a training-data pipeline actually ships: the KEPT document set —
    // benchmark slice held out, quality ≥ 0.25 (#37's score), exact-dup
    // non-keepers dropped (#29), near-dup cluster non-canonicals dropped
    // (#55), contaminated docs dropped (#73). Each stage is itself
    // oracle-checked; this row proves they COMPOSE — the oracle re-derives
    // every stage in one WITH-chain and must land on the same kept set.
    // All four filter feeds are doc_id anti-joins, so the composition adds
    // no new shuffle shape beyond its parts.
    "pipeline_filter" -> OpDef(
      s"""WITH RECURSIVE qt AS (
         |  SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS ws
         |  FROM documents),
         |qm AS (
         |  SELECT doc_id, len(ws) AS n_words, len(list_distinct(ws)) AS n_distinct
         |  FROM qt),
         |q AS (
         |  SELECT doc_id,
         |    round(least(CAST(n_words AS DOUBLE), 100.0) / 100.0
         |          * (0.5 + 0.5 * (CAST(n_distinct AS DOUBLE) / n_words)), 4)
         |      AS quality
         |  FROM qm),
         |hsh AS (SELECT doc_id, md5(text) AS th FROM documents),
         |k AS (SELECT th, MIN(doc_id) AS keep_id FROM hsh GROUP BY th),
         |exdup AS (
         |  SELECT h.doc_id FROM hsh h JOIN k USING (th)
         |  WHERE h.doc_id <> k.keep_id),
         |ct AS (
         |  SELECT doc_id,
         |    list_transform(list_distinct(string_split(text, ' ')),
         |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
         |  FROM documents),
         |cs AS (
         |  SELECT doc_id,
         |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
         |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
         |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
         |  FROM ct),
         |cbands AS (
         |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey
         |  FROM cs, (SELECT unnest(generate_series(0, 2)) AS b)
         |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
         |cpairs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM cbands a JOIN cbands b ON a.b = b.b AND a.bkey = b.bkey
         |  WHERE a.doc_id < b.doc_id
         |    AND bit_count(xor(a.sig, b.sig)) <= 2),
         |cedges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM cpairs
         |  UNION ALL SELECT doc_b, doc_a FROM cpairs),
         |creach AS (
         |  SELECT a AS node, a AS label FROM cedges
         |  UNION
         |  SELECT e.a, r.label FROM cedges e JOIN creach r ON r.node = e.b),
         |nc AS (
         |  SELECT node AS doc_id FROM (
         |    SELECT node, MIN(label) AS lbl FROM creach GROUP BY node)
         |  WHERE node <> lbl),
         |gg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(0, len(ws) - 8),
         |    i -> ${h32Sql("ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]" +
            "||' '||ws[i+5]||' '||ws[i+6]||' '||ws[i+7]||' '||ws[i+8]")}))) AS h
         |  FROM qt WHERE len(ws) >= 8),
         |bench AS (SELECT DISTINCT h FROM gg WHERE doc_id % 10 = 0),
         |cont AS (
         |  SELECT DISTINCT doc_id FROM gg JOIN bench USING (h)
         |  WHERE doc_id % 10 <> 0)
         |SELECT d.doc_id, d.lang, q.quality
         |FROM documents d JOIN q USING (doc_id)
         |WHERE d.doc_id % 10 <> 0 AND q.quality >= 0.25
         |  AND d.doc_id NOT IN (SELECT doc_id FROM exdup)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM nc)
         |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
         |ORDER BY d.doc_id""".stripMargin
    ) { (s, dir) =>
      val quality = graft.text.TextOps.defs("text_quality").fn(s, dir)
        .select(col("doc_id"), col("quality"))
      val exDup = defs("dedup_exact").fn(s, dir).select("doc_id")
      val nonCanon = defs("dedup_clusters").fn(s, dir)
        .filter(!col("is_canonical")).select("doc_id")
      val contaminated = defs("contamination").fn(s, dir).select("doc_id")
      keptSet(docs(s, dir), quality, exDup, nonCanon, contaminated, 0.25)
        .orderBy("doc_id")
    },

    // ---- #214 cluster representative selection ---------------------------
    // The step between clustering (#55) and pipeline_filter (#74): per
    // near-dup cluster pick the QUALITY-AWARE representative — longest
    // doc (n_chars), ties to the smallest doc_id — instead of #55's
    // positional min-id canonical. Cluster assignments join the documents
    // dim at the CLUSTERED-doc grain (near-dups are a ~1% slice, never
    // the full corpus), the winner rides one row_number window
    // partitioned by cluster, and size comes off the same window pass.
    // Exact integers end to end.
    "dedup_cluster_rep" -> OpDef(
      s"""WITH RECURSIVE t AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(string_split(text, ' ')),
        |      w -> ('0x' || substr(md5(w), 1, 15))::BIGINT) AS th
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |      CASE WHEN 2 * len(list_filter(th, h -> (h >> i) & 1 = 1)) > len(th)
        |           THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM t),
        |bands AS (
        |  SELECT doc_id, sig, b, (sig >> (b * 20)) & 1048575 AS bkey
        |  FROM s, (SELECT unnest(generate_series(0, 2)) AS b)
        |  QUALIFY COUNT(*) OVER (PARTITION BY b, bkey) <= $LshBucketCap),
        |pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey
        |  WHERE a.doc_id < b.doc_id
        |    AND bit_count(xor(a.sig, b.sig)) <= 2),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM pairs
        |  UNION ALL SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT a AS node, a AS label FROM edges
        |  UNION
        |  SELECT e.a, r.label FROM edges e JOIN reach r ON r.node = e.b),
        |cl AS (SELECT node AS doc_id, MIN(label) AS cluster_id
        |       FROM reach GROUP BY node),
        |rk AS (
        |  SELECT cl.cluster_id, cl.doc_id, d.n_chars,
        |    row_number() OVER (PARTITION BY cl.cluster_id
        |      ORDER BY d.n_chars DESC, cl.doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cl.cluster_id) AS csize
        |  FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
        |SELECT cluster_id, doc_id AS rep_doc_id,
        |  CAST(csize AS BIGINT) AS cluster_size,
        |  CAST(n_chars AS BIGINT) AS rep_n_chars
        |FROM rk WHERE rn = 1 ORDER BY cluster_id""".stripMargin
    ) { (s, dir) =>
      clusterRepView(clusterAssignments(s, dir), docs(s, dir))
        .orderBy("cluster_id")
    }
  )

  /** The curation composition itself — ONE definition shared by the
    * `pipeline_filter` oracle row (lazy, all stages re-derived in-plan) and
    * `Graft.curate` (stages materialized to parquet first): held-out slice
    * + quality ≥ τ + three doc_id anti-joins. Keeping it in one place means
    * a stage added or reordered cannot silently diverge the two paths.
    */
  def keptSet(d: DataFrame, quality: DataFrame, exDup: DataFrame,
      nonCanon: DataFrame, contaminated: DataFrame,
      minQuality: Double): DataFrame =
    d.filter(col("doc_id") % 10 =!= 0)
      .join(quality, "doc_id").filter(col("quality") >= minQuality)
      .join(exDup, Seq("doc_id"), "left_anti")
      .join(nonCanon, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("quality"))

  /** PUBLIC span-level dedup stats (#90): per document of a (doc_id, text)
    * frame, the number of distinct word-`n`-grams and how many of them also
    * occur in ANOTHER document — the Lee-et-al-style "how much of this doc
    * is an exact cross-document substring" signal. One count window riding
    * the gram shuffle, then a doc collapse: two shuffles, no self-join.
    */
  def substringDupStats(docsDf: DataFrame, n: Int = 8): DataFrame = {
    val g = gramRows(docsDf, n)
    val dup = when(count(lit(1))
      .over(Window.partitionBy("h")) >= 2, 1L).otherwise(0L)
    g.withColumn("dup", dup)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), sum(col("dup")).as("n_dup_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_dup_grams"),
        round(col("n_dup_grams").cast(DoubleType) / col("n_grams"), 4)
          .as("dup_fraction"))
  }

  /** PUBLIC decontamination operator: corpus documents sharing at least one
    * word-`n`-gram with ANY document of `benchmark` (both frames need
    * doc_id + text), with the count of distinct shared grams. See #73.
    */
  def contaminationOf(corpus: DataFrame, benchmark: DataFrame,
      n: Int = 8): DataFrame =
    gramRows(corpus, n)
      .join(gramRows(benchmark, n).select("h").distinct(), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))

  /** [[contaminationOf]] when benchmark and corpus live in ONE frame,
    * distinguished by a doc_id predicate: the gram scan runs ONCE
    * (persisted) and both sides filter it — at 100 TB the corpus is read
    * and shingled once, not twice.
    */
  def contaminationBySplit(docsDf: DataFrame, isBenchDoc: Column,
      n: Int = 8): DataFrame = {
    // persist justification: the gram scan feeds BOTH join sides inside the
    // one action the caller runs; kept LAZY (same shape as
    // [[ngramJaccardPairs]]) so construction never executes a job and the
    // returned plan stays auditable end-to-end. An eager
    // force-then-unpersist here (tried in r5) ran the gram job at
    // DataFrame-CONSTRUCTION time and replaced the auditable join plan with
    // a checkpoint scan — the worse trade. Long-lived sessions free the
    // entry (disk-spilled blocks are NOT LRU-evicted) via [[releaseCaches]];
    // `Graft.curate` does so after materializing its stages.
    val g = trackCache(gramRows(docsDf, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    g.filter(!isBenchDoc)
      .join(g.filter(isBenchDoc).select("h").distinct(), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Prefix-filtered candidate pairs (AllPairs/PPJoin family — Bayardo et
    * al. WWW'07, Chaudhuri et al. ICDE'06; both public). Under a global
    * token order (block df ascending, then h — rarest first), if a pair
    * shares ≥ t tokens, the globally-SMALLEST shared token x must sit in
    * the first n − t + 1 tokens of BOTH sides (were x past that point in
    * one side, that side's ≤ t − 1 remaining tokens could not hold all ≥ t
    * shared tokens, which are all ≥ x). With the per-pair bound t:
    *
    *  - Jaccard ≥ τ gives t = ⌈τ·n_max⌉ (i(1+τ) ≥ τ(n_a+n_b) plus
    *    i ≤ n_min force i ≥ τ·n_max), so each side's required prefix
    *    n − t + 1 is contained in its OWN standard prefix
    *    ℓ(n) = n − ⌈τ·n⌉ + 1 — joining PREFIX postings against PREFIX
    *    postings (`bothPrefixes = true`) finds every qualifying pair.
    *  - Containment ≥ τ gives only t = ⌈τ·n_min⌉ — no lower bound relative
    *    to the LARGER side's size, so the larger side's required prefix
    *    n_max − ⌈τ·n_min⌉ + 1 depends on the partner and cannot be indexed
    *    per-doc: the larger side must expose FULL postings
    *    (`bothPrefixes = false`), prefix-filtering only the smaller side.
    *
    * This replaces the r1-r9 df-capped block self-join, whose Σ_blocks
    * C(df,2) candidate volume is quadratic inside seeded near-dup families
    * (measured 1.5M → 13.2M → ~144M raw pair rows at sf1 → sf3 → sf10; at
    * sf10 the downstream verify filled a 75 GB disk). Prefix postings hold
    * each doc's RAREST shingles, so unrelated docs stop colliding — and
    * there is NO df-cap recall loss: the output is the complete pair set,
    * strictly better than the capped semantics it replaces.
    *
    * τ is an exact integer fraction num/den: ℓ = n − (num·n + den − 1)
    * div den + 1 keeps both engines in integer arithmetic (a float ceil of
    * 0.7·n sits on a representability boundary). `sizeRatioTau > 0` adds
    * the Jaccard size-ratio prefilter (min/max ≥ τ, a necessary condition
    * for Jaccard ≥ τ — WRONG for containment, pass 0 there). Output:
    * distinct (doc_a, doc_b, n_a, n_b) by id order, sizes aligned.
    */
  private[graft] def prefixCandidates(e: DataFrame, tauNum: Int, tauDen: Int,
      sizeRatioTau: Double, bothPrefixes: Boolean = false): DataFrame =
    prefixCandidatesFromWindowed(windowedPostings(e), tauNum, tauDen,
      sizeRatioTau, bothPrefixes)

  /** The AllPairs global-order pass over shingle rows: per-posting global
    * rank `rnk` (block df ascending, then h — rarest first) and per-doc set
    * size `n`. Factored out of [[prefixCandidates]] (r18) so a caller whose
    * join needs the FULL postings side (containment, `bothPrefixes=false`)
    * can persist THIS frame once: with the persist at the raw-shingle-row
    * grain the full-side and prefix-side branches each re-ran the whole
    * window stack (2 exchanges + 3 sorts over corpus×shingles rows, twice —
    * runtime exchange reuse covers the exchanges but not the window
    * evaluation above the last one).
    *
    * n (set size) rides the SAME doc_id exchange as rnk — a window with no
    * ordering, not a groupBy+join-back (which would add a shuffle AND a
    * join of e against a per-doc frame that outgrows broadcast at scale).
    * df is dropped after ranking: no consumer needs it.
    */
  private[graft] def windowedPostings(e: DataFrame): DataFrame =
    e.withColumn("df",
        count(lit(1)).over(Window.partitionBy("lang", "source", "h")))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("df"), col("h"))))
      .drop("df")

  /** [[prefixCandidates]] over an already-windowed postings frame
    * (doc_id, lang, source, h, n, rnk) — see [[windowedPostings]].
    */
  private[graft] def prefixCandidatesFromWindowed(d: DataFrame,
      tauNum: Int, tauDen: Int,
      sizeRatioTau: Double, bothPrefixes: Boolean = false): DataFrame = {
    val p = d
      .filter(expr(s"rnk <= n - ($tauNum * n + ${tauDen - 1}) DIV $tauDen + 1"))
    val a = (if (bothPrefixes) p else d).select(col("lang"), col("source"),
      col("h"), col("doc_id").as("id_a"), col("n").as("na"),
      col("rnk").as("rnk_a"))
    val b = p.select(col("lang"), col("source"), col("h"),
      col("doc_id").as("id_b"), col("n").as("nb"), col("rnk").as("rnk_b"))
    // PPJoin positional filter (Xiao et al. WWW'08, public): the globally
    // SMALLEST shared token x of a qualifying pair bounds the overlap from
    // above by the tokens at-or-after x on each side — i ≤ n − pos(x) + 1.
    // With the per-pair overlap floor t (= ⌈τ·n_max⌉ for Jaccard where
    // n_max = na by the b-smaller convention below; = ⌈τ·n_min⌉ = ⌈τ·nb⌉
    // for containment), any join row whose token sits too late on EITHER
    // side cannot be that x for a qualifying pair — and x's own row always
    // survives, so dropping late rows before distinct() loses no pair.
    // Integer form: (n − rnk + 1)·den ≥ num·X ⟺ n − rnk + 1 ≥ ⌈num·X/den⌉.
    // This is what stops a hot boilerplate token (late-ranked everywhere)
    // from pairing a small prefix against every large doc containing it.
    val tRef = if (bothPrefixes) col("na") else col("nb")
    val j = a.join(b, Seq("lang", "source", "h"))
      .filter(col("nb") < col("na") ||
        (col("nb") === col("na") && col("id_b") < col("id_a")))
      .filter((col("na") - col("rnk_a") + 1) * tauDen >= tRef * tauNum &&
        (col("nb") - col("rnk_b") + 1) * tauDen >= tRef * tauNum)
    val sized =
      if (sizeRatioTau > 0)
        j.filter(least(col("na"), col("nb")).cast(DoubleType)
          / greatest(col("na"), col("nb")) >= sizeRatioTau)
      else j
    // carry both set sizes, aligned to the id-ordered pair, so the exact
    // verify ([[verifyJaccard]], containment) never re-derives them
    val aFirst = col("id_a") < col("id_b")
    sized.select(
        when(aFirst, col("id_a")).otherwise(col("id_b")).as("doc_a"),
        when(aFirst, col("id_b")).otherwise(col("id_a")).as("doc_b"),
        when(aFirst, col("na")).otherwise(col("nb")).as("n_a"),
        when(aFirst, col("nb")).otherwise(col("na")).as("n_b"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs over shingle rows (`doc_id`, `h`): one-pass
    * 16-permutation signature ([[graft.functions.MinHashAgg]] — beats 16
    * declarative min() columns 2.1 s vs 4.2 s warm at sf0.1), band-bucket
    * join, and a hot-bucket guard — buckets holding more than `bucketCap`
    * docs are dropped from candidate generation (a degenerate bucket of d
    * near-identical docs would emit d² pairs; its members still pair through
    * their other, discriminative bands). Output: distinct
    * (doc_a, doc_b, n_a, n_b) with full shingle-set sizes.
    */
  private[graft] def minhashCandidates(s: SparkSession, e: DataFrame,
      bucketCap: Int = LshBucketCap): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sig = e.groupBy("doc_id").agg(
      count(lit(1)).as("n"),
      call_function("minhash16", col("h")).as("mh"))
    minhashCandidatesFromSig(sig, bucketCap)
  }

  /** [[minhashCandidates]] over an already-computed per-doc signature frame
    * (doc_id, n, mh) — the band explode, hot-bucket cap and bucket self-join
    * unchanged; callers holding a [[perDocMinhash]] frame skip the second
    * aggregation over the shingle rows.
    */
  private[graft] def minhashCandidatesFromSig(sig: DataFrame,
      bucketCap: Int = LshBucketCap): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("b"),
        md5(concat_ws(",",
          (0 until BandRows).map(r =>
            element_at(col("mh"), b * BandRows + r + 1).cast(StringType)): _*))
          .as("bkey"))
    }
    val bands = sig.select(col("doc_id"), col("n"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("n"), col("bb.b").as("b"), col("bb.bkey").as("bkey"))
    val cold = bands.withColumn("_bs",
        count(lit(1)).over(Window.partitionBy("b", "bkey")))
      .filter(col("_bs") <= bucketCap).drop("_bs")
    val l = cold.select(col("b"), col("bkey"), col("doc_id").as("doc_a"), col("n").as("n_a"))
    val r = cold.select(col("b"), col("bkey"), col("doc_id").as("doc_b"), col("n").as("n_b"))
    l.join(r, Seq("b", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "n_a", "n_b")
      .distinct()
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation — the standard GraphX-free formulation for
    * billion-edge graphs: every iteration is one distributed join+agg
    * (labels shuffle on the node key), and the DRIVER loops only over
    * iterations (≤ graph diameter, log-like in practice), never over data.
    *
    * Input: `a`, `b` columns (one row per undirected edge). Output:
    * (node, component) where component = the minimum node id reachable.
    */
  /** Plan audit of the last label-propagation round (spec hook — pins the
    * one-exchange-per-round shape the same way ChangeStreamSink exposes
    * `lastApplyAudit`).
    */
  @volatile private[graft] var lastPropagationAudit: Option[graft.PlanAudit.Audit] = None

  /** Default edge-count threshold for the small-graph fast path, tunable
    * per run via this conf key. 2M edges collect to ~100 MB of driver
    * tuples — comfortably inside any driver that runs a 100 TB job.
    */
  val SmallGraphEdgesKey = "spark.graft.dedup.smallGraphEdges"
  val SmallGraphEdgesDefault = 2000000L

  /** Driver-side union-find (path-halving + union-by-attach-to-min): for a
    * collected edge list, component = min reachable id — byte-identical
    * semantics to the distributed propagation.
    */
  private def unionFind(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      // attach the larger root under the smaller — roots stay component minima
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val nodes = new java.util.HashSet[Long]()
    edges.foreach { case (a, b) => nodes.add(a); nodes.add(b) }
    val out = Vector.newBuilder[(Long, Long)]
    val it = nodes.iterator()
    while (it.hasNext) { val n = it.next(); out += (n -> find(n)) }
    out.result()
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      checkEvery: Int = 2, smallGraphEdges: Long = -1L): DataFrame = {
    val s = edges.sparkSession
    val threshold =
      if (smallGraphEdges >= 0) smallGraphEdges
      else s.conf.getOption(SmallGraphEdgesKey).map(_.toLong)
        .getOrElse(SmallGraphEdgesDefault)
    val e2 = edges.select(col("a"), col("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Hybrid: a dedup pair graph is orders of magnitude smaller than its
    // corpus (edges exist only between near-dups). When it fits on the
    // driver, ONE collect + union-find replaces ~log(diameter)×2 Spark jobs
    // — the rounds, not the data, dominate small-graph wall time. Beyond
    // the threshold the distributed propagation below is the design that
    // holds for billion-edge graphs.
    if (e2.count() <= threshold) {
      import s.implicits._
      val comp = unionFind(e2.collect().map(r => (r.getLong(0), r.getLong(1))))
      e2.unpersist(blocking = false)
      return comp.toDF("node", "component")
    }
    val sym = e2
      .unionByName(e2.select(col("b").as("a"), col("a").as("b")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint (eager) truncates the plan lineage every iteration —
    // without it the logical plan doubles per round and planning time,
    // not the data, becomes the bottleneck
    var labels = sym.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    // Convergence witness: labels only ever DECREASE (min-propagation), so
    // Σlabel is strictly monotone until fixpoint — an equal sum means no
    // label moved. A scan-only agg over the cached checkpoint, replacing a
    // join + count() per round. Decimal(38) so a 1e12-node × 1e12-id corpus
    // can't overflow the witness.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast(DecimalType(38, 0)))).collect()(0).getDecimal(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // each node adopts min(own label, neighbors' labels): the self-label
      // UNIONS into the same groupBy as the neighbor feed — one shuffle,
      // no separate left-join merge step
      val merged = sym
        .join(labels.withColumnRenamed("node", "b"), "b")
        .select(col("a").as("node"), col("label"))
        .unionByName(labels)
        .groupBy("node").agg(min("label").as("label"))
      // pointer jumping: also adopt label(label) from the previous round —
      // components collapse in ~log(diameter) iterations instead of
      // diameter (chains would otherwise dominate the round count). The
      // lookup side is the CHECKPOINTED previous labels, so the self-join
      // never recomputes `merged`.
      val computed = merged
        .join(labels.select(col("node").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
      val next = computed.localCheckpoint(true)
      lastPropagationAudit = Some(graft.PlanAudit.audit(
        computed.queryExecution.executedPlan))
      labels = next
      iter += 1
      // amortize the convergence action: a changed round and its check can
      // be 1 round apart at worst, and the check itself is join-free
      if (iter % checkEvery == 0 || iter >= maxIter) {
        val s = labelSum(labels)
        converged = s == prevSum
        prevSum = s
      }
    }
    sym.unpersist()
    e2.unpersist(blocking = false)
    labels.select(col("node"), col("label").as("component"))
  }

  // ---- cluster-family views (#55 / #214 / #251 share one propagation) ----
  // The three cluster queries all start from the SAME pair graph and the
  // SAME min-label propagation; only the final grain differs. These views
  // derive each declared output from an explicit (node, component)
  // assignments frame, so a composed caller ([[clusterFamilyOf]]) pays for
  // simhash pairs + connected components exactly ONCE — the r17 verdict's
  // composition item. connectedComponents' result is already cheap to
  // re-consume (the union-find path returns a driver-local relation, the
  // distributed path a localCheckpoint), so no extra persist is needed.

  /** #55's output from an assignments frame: (doc_id, cluster_id,
    * is_canonical), canonical = the min-id member. Row order unspecified.
    */
  def clustersView(assignments: DataFrame): DataFrame =
    assignments.select(col("node").as("doc_id"),
      col("component").as("cluster_id"),
      (col("node") === col("component")).as("is_canonical"))

  /** #214's output from an assignments frame + a documents frame carrying
    * (doc_id, n_chars): quality-aware representative per cluster — longest
    * doc, ties to the smallest doc_id — plus the cluster size off the same
    * window pass. Row order unspecified.
    */
  def clusterRepView(assignments: DataFrame, docsDf: DataFrame): DataFrame = {
    val cl = assignments.select(col("node").as("doc_id"),
      col("component").as("cluster_id"))
    val d = docsDf.select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("cluster_id")
    // csize BELOW the rank window (r15): with the rank outermost, the
    // rn = 1 filter sits directly on its Window node and
    // InferWindowGroupLimit turns it into a 1-row heap per cluster
    cl.join(d, "doc_id")
      .withColumn("csize", count(lit(1)).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("rep_doc_id"),
        col("csize").cast(LongType).as("cluster_size"),
        col("n_chars").cast(LongType).as("rep_n_chars"))
  }

  /** #251's output from an assignments frame: clusters and absorbed docs
    * per cluster size. Row order unspecified.
    */
  def clusterSizeHistView(assignments: DataFrame): DataFrame = {
    val sizes = assignments.groupBy("component").agg(count(lit(1)).as("sz"))
    sizes.groupBy("sz")
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").cast(LongType).as("cluster_size"),
        col("n_clusters").cast(LongType).as("n_clusters"),
        (col("sz") * col("n_clusters")).cast(LongType).as("n_docs"),
        ((col("sz") - 1) * col("n_clusters")).cast(LongType)
          .as("n_removable"))
  }

  /** The composed cluster family over one documents frame (`doc_id`,
    * `text`, `n_chars`): ONE simhash pair generation + ONE connected
    * components run feed all three views — `(clusters, representatives,
    * size histogram)`. Running the three declared queries separately
    * re-derives the pair graph three times; this is the shared-frame shape
    * a curation pipeline should compose (bit-equal to the declared
    * queries up to row order — spec-pinned).
    */
  def clusterFamilyOf(docsDf: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val asg = connectedComponents(simhashPairsOf(docsDf)
      .select(col("doc_a").as("a"), col("doc_b").as("b")))
    (clustersView(asg), clusterRepView(asg, docsDf), clusterSizeHistView(asg))
  }

  /** Assignments for the declared queries — pair graph + propagation over
    * the `documents` table of `dir`.
    */
  private def clusterAssignments(s: SparkSession, dir: String): DataFrame =
    connectedComponents(simhashPairs(s, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b")))

  /** Multi-band SimHash pair generation (the #32b operator, parameterized).
    *
    * `numBands` disjoint `bandBits`-bit slices of the 60-bit signature form
    * the bucket keys; by pigeonhole, any pair within hamming radius
    * `numBands − 1` shares at least one untouched band, so candidate
    * generation has recall 1.0 at that radius (DedupSpec proves it against
    * an exact all-pairs check). Defaults: 3 × 20 bits → radius-2 guarantee.
    *
    * Row order is UNSPECIFIED (since r17: the former global
    * (doc_a, doc_b) sort was a pure range-exchange tax on consumers that
    * re-shuffle the edges anyway) — callers needing deterministic order
    * add their own `orderBy("doc_a", "doc_b")`.
    */
  def simhashPairs(s: SparkSession, dir: String, maxHamming: Int = 2,
      numBands: Int = 3, bandBits: Int = 20,
      bucketCap: Int = 0): DataFrame =
    simhashPairsOf(docs(s, dir), maxHamming, numBands, bandBits, bucketCap)

  /** [[simhashPairs]] over an explicit documents frame (`doc_id`, `text`).
    * `bucketCap` is the hot-bucket guard: a band bucket holding more than
    * `bucketCap` docs (a boilerplate corpus collapses many near-identical
    * signatures into one 20-bit band value) is dropped from candidate
    * generation — its members still pair through their other bands, and
    * byte-identical docs belong to `dedup_exact` upstream, not here.
    * Row order is UNSPECIFIED, as for [[simhashPairs]].
    */
  def simhashPairsOf(docsDf: DataFrame, maxHamming: Int = 2,
      numBands: Int = 3, bandBits: Int = 20,
      bucketCap: Int = 0): DataFrame = {
    require(numBands * bandBits <= 60, "bands must fit the 60-bit signature")
    require(maxHamming <= numBands - 1,
      s"$numBands bands only guarantee recall at radius ${numBands - 1}")
    val cap = if (bucketCap > 0) bucketCap else lshBucketCap(docsDf.sparkSession)
    graft.functions.GraftFunctions.register(docsDf.sparkSession)
    val sig = docsDf.select(col("doc_id"),
      call_function("simhash64", array_distinct(split(col("text"), " "))).as("sig"))
    val bandStructs = (0 until numBands).map { b =>
      struct(lit(b).as("b"),
        shiftright(col("sig"), b * bandBits)
          .bitwiseAND(lit((1L << bandBits) - 1)).as("bkey"))
    }
    val bands = sig
      .select(col("doc_id"), col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.b").as("b"), col("bb.bkey").as("bkey"))
    val cold = bands.withColumn("_bs",
        count(lit(1)).over(Window.partitionBy("b", "bkey")))
      .filter(col("_bs") <= cap).drop("_bs")
    val l = cold.select(col("b"), col("bkey"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val r = cold.select(col("b"), col("bkey"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    l.join(r, Seq("b", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b")
      .distinct()
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast(LongType))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
    // NO output sort here (r17): every pair CONSUMER (connected
    // components, provenance rollups, keptSet) immediately re-shuffles or
    // collects the edges, so a global orderBy was a pure range-exchange +
    // sort tax on the whole cluster family; the #32b declared query adds
    // its ORDER BY itself.
  }
}
