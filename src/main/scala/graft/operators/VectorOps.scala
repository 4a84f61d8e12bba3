package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Similarity search over the embeddings table (`embedding: array<float>`).
 *
 * All dot products run through codegen'd higher-order functions
 * (`zip_with` + `aggregate`) after a one-time cast to double, so Spark and
 * DuckDB accumulate in the same order at the same precision. Brute force is
 * the exact baseline (one broadcast of the query vector, no shuffle until
 * top-k); the scale paths are [[embeddingDedup]]'s blocking and the
 * hyperplane-LSH / IVF APIs in [[graft.operators.AnnIndex]].
 */
object VectorOps {
  import Tables.t

  /** Cosine via the codegen'd dot_d kernel ([[graft.functions.DotProduct]]):
   * left-to-right double accumulation, bit-identical to both the HOF
   * formulation and DuckDB's list_inner_product. */
  private val CosExpr = "dot_d(emb, qe) / (sqrt(dot_d(emb, emb)) * sqrt(dot_d(qe, qe)))"

  private def embeddings(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), col("label"), expr("transform(embedding, x -> cast(x as double))").as("emb"))
  }

  /** Exact brute-force cosine top-k against the vec_id=0 query vector.
   * Shape at scale: broadcast 1-row query, map-side cosine, global top-k
   * (TakeOrderedAndProject — no full sort shuffle). */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame =
    cosineScores(spark, dir)
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(20)

  /** The full exact-cosine relation behind [[knnBruteForce]] — one row per
   * corpus vector vs the vec_id=0 query, UNBOUNDED and UNROUNDED: the dense
   * side a hybrid fusion ([[TextOps.hybridRetrieval]]) ranks in full. The
   * cosine is bit-identical across engines (dot_d == list_inner_product,
   * left-to-right double accumulation), so an (cos DESC, vec_id) order is
   * deterministic without quantization. Map-side only: broadcast 1-row
   * query, zero shuffles. */
  def cosineScores(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0).select(col("emb").as("qe"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr(CosExpr).as("cos"))
  }

  /** Embedding-cosine near-dup pairs, blocked by label — a SMALL-BLOCK-ONLY
   * primitive, demoted from the bench inventory in r9: `label` has FIXED
   * cardinality (10 values), so blocks grow linearly with the corpus and
   * within-block pairing quadratically (measured: the identical shape inside
   * q62 ran 14 s at 30x replicas and did not finish 100x). Use it only when
   * the blocking key's cardinality grows with the data (e.g. a pre-bucketed
   * shard id); otherwise use [[embeddingDedupBlocked]], which composes the
   * derived-k IVF cluster dimension and stays linear to 100x.
   *
   * Norms are computed ONCE per vector before the pair join (sqrt(sum x^2)
   * per row instead of per pair — the pair-side work drops to one dot
   * product; `sa * sb` is bit-identical to the oracle's
   * `sqrt(na) * sqrt(nb)`).
   *
   * `threshold` semantics and the output-size law: see
   * [[embeddingDedupBlocked]]. */
  def embeddingDedup(
      spark: SparkSession,
      dir: String,
      threshold: Double = DefaultCosineThreshold): DataFrame = {
    val e = embeddings(spark, dir)
      .withColumn("nrm", expr("sqrt(dot_d(emb, emb))"))
    e.as("x").join(e.as("y"), col("x.label") === col("y.label") && col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("a"),
        col("y.vec_id").as("b"),
        (expr("dot_d(x.emb, y.emb)") / (col("x.nrm") * col("y.nrm"))).as("c")
      )
      .filter(col("c") >= threshold)
      .select(col("a"), col("b"), round(col("c"), 4).as("cos"))
      .orderBy("a", "b")
  }

  /** Oracle-pinned default near-dup threshold for the d=64 test embeddings:
   * `thresholdForDim(64) = 2.8 / sqrt(64) = 0.35`. */
  val DefaultCosineThreshold: Double = 0.35

  /** Dimension-derived near-dup threshold, `c / sqrt(d)`. For i.i.d. random
   * unit vectors in dimension d the cosine of an unrelated pair is
   * approximately N(0, 1/d), so `sigma(d) = 1/sqrt(d)` is the noise floor
   * and `c` is the separation in sigmas (default 2.8 — the pinned 0.35 at
   * d=64). Deriving the threshold from d keeps the FALSE-POSITIVE rate
   * stable when the embedding model changes: a fixed 0.35 at d=1024
   * (sigma ~ 0.031) would sit 11 sigma out and admit only near-exact
   * duplicates, while at d=16 (sigma = 0.25) it would flag unrelated pairs
   * in bulk. */
  def thresholdForDim(d: Int, c: Double = 2.8): Double = {
    require(d > 0, s"embedding dimension must be positive, got $d")
    c / math.sqrt(d.toDouble)
  }

  /**
   * [[embeddingDedup]] with a second, SCALING blocking dimension: pairs
   * must share the label AND the derived-k IVF cluster
   * ([[semanticDedupDerivedK]]: k ∝ n, clusters held at a constant target
   * size). The label-only variant's blocking key has FIXED cardinality, so
   * its blocks grow linearly with the corpus and the within-block pairing
   * quadratically — measured superlinear in the r8 100x sweep (14 s at
   * 60k vectors inside q62, unfinished at 200k). With the cluster
   * dimension the block population is bounded and the shape stays linear;
   * the price is SemDeDup's documented approximation (cross-cluster
   * near-dups are not candidates). Same threshold default and emitted
   * columns as [[embeddingDedup]].
   *
   * OUTPUT-SIZE LAW (the q26 counting argument, restated for cosine): any
   * operator that REPORTS near-dup pairs emits C(m,2) rows for a mutual
   * near-dup cluster of size m — Omega(m^2) output is inherent to the
   * SEMANTICS, independent of engine or plan. The r9 scale_check9A sweep
   * showed exactly this: 3.3x input -> 5.4x pairs, because the replicated
   * corpus grows m with n while the PER-PAIR cost falls (the plan is
   * linear; the pair LIST is not). On duplicate-heavy corpora the pair list
   * explodes for data reasons — cap it by keeping m bounded (dedupe
   * greedily per cluster, as q88's SemDeDup keep-one does, emitting O(m)
   * losers instead of C(m,2) pairs) rather than by raising `threshold`.
   *
   * `threshold` (default [[DefaultCosineThreshold]]): the 0.35 default is
   * `2.8/sqrt(64)` — 2.8 sigma above the random-cosine noise floor
   * `sigma(d) ~ 1/sqrt(d)` AT THE TEST EMBEDDINGS' d=64. It is NOT
   * dimension-portable; pass [[thresholdForDim]](d) (or a calibrated
   * value) for other embedding models.
   */
  def embeddingDedupBlocked(
      spark: SparkSession,
      dir: String,
      threshold: Double = DefaultCosineThreshold): DataFrame = {
    val e0 = embeddings(spark, dir)
    val n = e0.count()
    val cents = AnnIndex.ivfCentroids(
      e0.select(col("vec_id"), col("emb")), "emb", "vec_id", semanticDedupDerivedK(n), n)
    val e = AnnIndex.ivfAssign(e0, "emb", "vec_id", cents)
      .withColumn("nrm", expr("sqrt(dot_d(emb, emb))"))
    e.as("x").join(e.as("y"),
        col("x.label") === col("y.label") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("a"),
        col("y.vec_id").as("b"),
        (expr("dot_d(x.emb, y.emb)") / (col("x.nrm") * col("y.nrm"))).as("c"))
      .filter(col("c") >= threshold)
      .select(col("a"), col("b"), round(col("c"), 4).as("cos"))
  }

  /** Driver-side materialized IVF index: corpus size, the 16 systematic
   * centroids, and the vec_id=0 query vector, collected ONCE per
   * (process, dir) and memoized. This mirrors real ANN usage — the index is
   * built once and amortized over many searches — and it makes the search
   * query itself a SINGLE Spark action (the r3 official record showed the
   * in-body `count()` + `head()` driver actions were the only >1.5x
   * run-to-run variance source in the suite). The build itself is one
   * aggregate job (corpus size + query vector in the same pass) plus one
   * 16-row centroid collect. */
  /** `pqCodebook(s)(j)(d)`: trained e6-integer PQ codebook — subspace s,
   * codeword j, dim d — or null when the corpus cannot seed 16 systematic
   * codewords. */
  private final case class IvfIndex(
      step: Long,
      centroids: Array[(Int, Array[Double])],
      queryVec: Array[Double],
      pqCodebook: Array[Array[Array[Long]]])

  /** Forget the memoized index and measured regime of `dir`, with
   * [[OpCache.releaseAll]]'s contract. Not needed for correctness — both
   * entries are rebuilt when the dir's listing changes — but it frees them
   * and forces the next call to pay the build. */
  def invalidateIndexCache(dir: String): Unit = { OpCache.release("ivf", dir); OpCache.release("regime", dir) }

  /** Built once per (process, dir) in [[OpCache]]; rebuilt when the
   * dir's listing changes. */
  private def ivfIndex(spark: SparkSession, dir: String): IvfIndex =
    OpCache.perProcess(spark, "ivf", dir)(buildIvfIndex(spark, dir))

  private def buildIvfIndex(spark: SparkSession, dir: String): IvfIndex = {
    {
      val e = embeddings(spark, dir)
      val r = e.agg(
        count(lit(1)).as("n"),
        first(when(col("vec_id") === 0, col("emb")), ignoreNulls = true).as("qv")
      ).head()
      val n = r.getLong(0)
      val qv = r.getSeq[Double](1).toArray
      val cents = AnnIndex.ivfCentroids(e, "emb", "vec_id", 16, n).collect()
        .map(row => (row.getAs[Int]("centroid_id"), row.getAs[scala.collection.Seq[Double]]("centroid").toArray))
        .sortBy(_._1)
      val seeds = AnnIndex.ivfCentroids(e, "emb", "vec_id", PQ_K, n).collect()
        .map(row => (row.getAs[Int]("centroid_id"), row.getAs[scala.collection.Seq[Double]]("centroid").toArray))
        .sortBy(_._1)
      val codebook =
        // PQ geometry is dimensioned for the 64-dim embedding column
        // (PQ_M * PQ_DS); a corpus of any other width still gets the IVF
        // index — it just has no PQ codebook (PQ paths require 64 dims)
        if (cents.length != 16 || seeds.length != PQ_K ||
            seeds.head._2.length != PQ_M * PQ_DS) null
        else {
          // Bounded FAISS-style training sample: every sstep-th vector by id
          // (<= 8191 vectors however large the corpus — the collect is
          // O(sample), never O(n)). e6-quantized through the same SQL round()
          // both engines share, so training is exact-integer end to end.
          val sstep = math.max(n / 4096, 1L)
          val sample = e.filter(col("vec_id") % sstep === 0)
            .select(expr("transform(emb, x -> cast(round(x * 1000000) as bigint))").as("q"))
            .collect().map(_.getSeq[Long](0).toArray)
          trainPqCodebook(seeds.map(_._2.map(e6)), sample, PQ_ITERS)
        }
      IvfIndex(math.max(n / 16, 1L), cents, qv, codebook)
    }
  }

  /** PQ geometry: 32 subspaces × 2 dims × 64 codewords (6-bit codes,
   * 32·6 = 192 bits ≈ 24 bytes per vector — 21× smaller than the 512-byte
   * float64 row). Chosen by measurement: this corpus's neighbor margins are
   * weak (the exact top-20 sits at ~0.72× the MEDIAN corpus distance), and
   * the classical 8×16 geometry — trained or not — caps raw ADC recall@20
   * at 0.2–0.4; narrowing subspaces to 2 dims with 64 trained codewords
   * lifts it to 0.75–0.85 at both sf0.01 and sf0.1 (BENCH_NOTES round-5
   * recall table) while keeping the oracle's unrolled-Lloyd replay
   * tractable. */
  private final val PQ_M = 32 // subspaces
  private final val PQ_DS = 2 // dims per subspace
  private final val PQ_K = 64 // codewords per subspace
  private final val PQ_ITERS = 4 // Lloyd rounds (deterministic, unrolled in the oracle)

  /**
   * Deterministic per-subspace Lloyd refinement of the PQ codebook (the
   * quality lever FAISS's `ProductQuantizer::train` applies): `iters`
   * rounds of assign-to-nearest / integer-mean update on each of the PQ_M
   * subspaces independently, seeded from the systematic PQ_K-vector sample.
   * Everything is exact 64-bit integer arithmetic on e6-quantized values —
   * truncating division (Scala `/` = DuckDB `//` toward zero), strict-<
   * argmin with lowest-j tie-break, empty clusters keep their previous
   * codeword — so the DuckDB oracle replays training round-for-round and
   * lands on the BIT-IDENTICAL codebook (the q92/q95/q99/q100 oracles
   * unroll the same four iterations as chained CTEs). Raw ADC recall@20
   * moves from the untrained systematic codebook's 0.2–0.4 to 0.75–0.85
   * (recall_check2; BENCH_NOTES round-5 recall table).
   */
  private[graft] def trainPqCodebook(
      init: Array[Array[Long]],
      sample: Array[Array[Long]],
      iters: Int): Array[Array[Array[Long]]] = {
    val cb = Array.tabulate(PQ_M, PQ_K, PQ_DS)((s, j, d) => init(j)(s * PQ_DS + d))
    for (_ <- 1 to iters) {
      val sums = Array.ofDim[Long](PQ_M, PQ_K, PQ_DS)
      val cnts = Array.ofDim[Long](PQ_M, PQ_K)
      for (v <- sample; s <- 0 until PQ_M) {
        var best = 0
        var bestD = Long.MaxValue
        var j = 0
        while (j < PQ_K) {
          var d2 = 0L
          var d = 0
          while (d < PQ_DS) { val df = v(s * PQ_DS + d) - cb(s)(j)(d); d2 += df * df; d += 1 }
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        cnts(s)(best) += 1
        var d = 0
        while (d < PQ_DS) { sums(s)(best)(d) += v(s * PQ_DS + d); d += 1 }
      }
      for (s <- 0 until PQ_M; j <- 0 until PQ_K; if cnts(s)(j) > 0; d <- 0 until PQ_DS)
        cb(s)(j)(d) = sums(s)(j)(d) / cnts(s)(j)
    }
    cb
  }

  /** The trained PQ codebook as a 64-row DataFrame `(j, cw)` — cw the
   * 64-element e6-integer list ordered (s, d), exactly the shape of the
   * oracle CTE `cb` that q92's training replay produces. [[graft.Verify]]
   * writes this next to the query outputs so the q95/q99/q100 oracles can
   * READ the trained codebook instead of each replaying four Lloyd rounds
   * in SQL; the codebook itself stays independently verified because q92's
   * oracle still trains from scratch in DuckDB and its comparison covers
   * every codeword (VERDICT r5 item 8: oracle-side cost hygiene). None when
   * the corpus is too small to seed 64 systematic codewords. */
  def pqCodebookDf(spark: SparkSession, dir: String): Option[DataFrame] = {
    import spark.implicits._
    Option(ivfIndex(spark, dir).pqCodebook).map { cb =>
      (0 until PQ_K).map { j =>
        (j, (0 until PQ_M).flatMap(s => (0 until PQ_DS).map(d => cb(s)(j)(d))))
      }.toDF("j", "cw")
    }
  }

  /**
   * Pinned recall@10-vs-nprobe curves for [[nprobeForRecall]], measured
   * under the q105 discipline (8-query panel, recall@10 vs exact, 16
   * systematic centroids) and re-confirmed min-of-2 each bench round
   * (`ann_tuning` in the bench record; BENCH_NOTES r12 adjudication):
   *
   *  - WEAK similarity (no true near-dups in the corpus — the regime where
   *    inverted-list pruning is structurally weak and brute-force q27/q94
   *    is usually the right tool anyway): measured on the sf0.1 synthetic
   *    embeddings.
   *  - DENSE near-dups (deployment dedup/retrieval corpora: top-k dominated
   *    by cos~1 siblings that concentrate in the query's own cells):
   *    measured on replicated-nudged corpora — only the measured points are
   *    pinned (nprobe=4 -> 0.900 at 3x density, the conservative lower of
   *    the 3x/10x measurements; 16/16 probes is exhaustive search, recall
   *    1.0 by the displacement argument, spec-pinned since r10).
   *
   * The curves are MEASUREMENT CONSTANTS of this index geometry (16
   * systematic centroids), versioned with the code on purpose: deriving
   * them at runtime would cost an exact-KNN ground-truth pass per query,
   * which is the thing ANN exists to avoid. Recalibrate via
   * [[annRecall]]'s parameterized form when the corpus regime changes.
   */
  final val AnnRecallCurveWeak: Seq[(Int, Double)] =
    Seq(1 -> 0.275, 2 -> 0.35, 4 -> 0.538, 8 -> 0.775, 16 -> 1.0)
  final val AnnRecallCurveDense: Seq[(Int, Double)] =
    Seq(4 -> 0.900, 16 -> 1.0)

  /** Smallest pinned nprobe whose measured recall@10 meets `targetRecall`
   * in `regime` ("weak" | "dense") — the user-facing dial VERDICT r12 #4
   * asked for in place of a constant the user must know to retune. Targets
   * above every sub-exhaustive pinned point select 16 (exhaustive). */
  /**
   * Measured regime self-calibration (VERDICT r13 #4): `nprobeForRecall`'s
   * pinned curves are per-REGIME, and nothing stopped a user naming the
   * wrong regime for their corpus and silently getting 0.54 recall at a
   * 0.9 target. This measures the corpus's own recall@10 at nprobe=4 over
   * the standard 8-query panel against exact ground truth (the q105
   * discipline) and selects the curve: >= [[RegimeThreshold]] means the
   * top-k is dominated by same-cell near-dup siblings (the dense pinned
   * point is 0.900 at 4 probes) — below it, inverted-list pruning is
   * structurally weak (the weak pinned point is 0.538). The threshold sits
   * between the two measured points with margin on both sides.
   *
   * Cost: two corpus passes (exact + IVF legs), paid ONCE per (dir, JVM) —
   * memoized alongside the index in [[OpCache]], rebuilt with it when the
   * dir changes.
   * This is a build-time measurement, not a per-query one; the explicit
   * `regime` overloads remain as the override for operators who know their
   * corpus.
   */
  final val RegimeThreshold = 0.75

  def calibrateRegime(spark: SparkSession, dir: String): String =
    OpCache.perProcess(spark, "regime", dir) {
      val rows = annRecall(spark, dir, k = 10, nprobe = 4, panel = 8).collect()
      val recall =
        if (rows.isEmpty) 0.0
        else rows.map(_.getAs[Double]("recall")).sum / rows.length
      if (recall >= RegimeThreshold) "dense" else "weak"
    }

  def nprobeForRecall(targetRecall: Double, regime: String = "weak"): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val curve = regime match {
      case "weak"  => AnnRecallCurveWeak
      case "dense" => AnnRecallCurveDense
      case other =>
        throw new IllegalArgumentException(
          s"regime must be 'weak' (no near-dup structure) or 'dense' (near-dup-rich), got '$other'")
    }
    curve.collectFirst { case (np, r) if r >= targetRecall => np }.getOrElse(16)
  }

  /**
   * End-to-end IVF ANN search as a benchable query: assign each vector to
   * its nearest cached centroid (broadcast arg-min, no driver action) and
   * run an exact cosine top-k over the 4 probed inverted lists — the
   * index-build + search lifecycle [[graft.operators.AnnIndex]] documents,
   * exercised per bench round so the ANN path has an official latency row
   * next to the exact baseline (q27). Probe selection is pure driver
   * arithmetic over the 16 memoized centroids; the timed body is ONE action.
   *
   * Oracle-checkable despite being approximate-by-construction: the probe
   * lists are DETERMINISTIC (systematic centroids at literal `step`, arg-min
   * with (dist, centroid_id) tie-break), so DuckDB can reproduce the same
   * centroid set, the same assignment, the same 4 probes, and the same exact
   * re-rank — cosine through the codegen'd `dot_d` kernel (left-to-right
   * double accumulation, bit-identical to `list_inner_product`), rounded to
   * 6 before the (cos DESC, vec_id) total order. At scale the assigned table
   * persists bucketed by `bucket` (the layout AnnPruneSpec proves prunes to
   * the probed directories) and each query pays only its probe lists.
   */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame =
    ivfTopKNprobe(spark, dir, nprobe = 4)

  /** Recall-targeted form (VERDICT r12 #4): pick nprobe from the PINNED
   * measured recall curve for the corpus regime instead of making the user
   * know the IVF trade-off table — `regime` because recall@nprobe is a
   * property of neighbor-similarity structure, not of the index
   * ([[AnnRecallCurveWeak]] vs [[AnnRecallCurveDense]]; BENCH_NOTES r12
   * adjudication). */
  def ivfTopK(spark: SparkSession, dir: String, targetRecall: Double, regime: String): DataFrame =
    ivfTopKNprobe(spark, dir, nprobeForRecall(targetRecall, regime))

  /** Self-calibrated form (VERDICT r13 #4): the regime is MEASURED on the
   * corpus itself ([[calibrateRegime]], once per dir) instead of trusted
   * from the caller — the honest default when the corpus's neighbor
   * structure is unknown. */
  def ivfTopK(spark: SparkSession, dir: String, targetRecall: Double): DataFrame =
    ivfTopKNprobe(spark, dir, nprobeForRecall(targetRecall, calibrateRegime(spark, dir)))

  /** IVF-probed candidate pool: [[ivfTopKNprobe]] at a caller-chosen pool
   * size — the bounded dense-retriever leg a hybrid fusion
   * ([[TextOps.hybridRetrievalAnn]]) re-ranks. Same probe order, same
   * round-6 exact re-rank, so the pool is deterministic across engines. */
  def ivfCandidates(spark: SparkSession, dir: String, nprobe: Int = 4, k: Int = 100): DataFrame =
    ivfTopKNprobe(spark, dir, nprobe, k)

  private[graft] def ivfTopKNprobe(spark: SparkSession, dir: String, nprobe: Int, k: Int = 20): DataFrame = {
    import spark.implicits._
    require(nprobe >= 1 && nprobe <= 16, s"nprobe must be in [1, 16], got $nprobe")
    require(k >= 1 && k <= 10000, s"k is a retriever pool size, allowed [1, 10000]; got $k")
    val idx = ivfIndex(spark, dir)
    val probeIds = idx.centroids.map { case (cid, c) =>
      (cid, c.zip(idx.queryVec).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (cid, d2) => (d2, cid) }.take(nprobe).map(_._1).toSeq
    val centsDF = idx.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "centroid")
    val qLit = idx.queryVec.map(x => s"${x}D").mkString("array(", ",", ")")
    val e = embeddings(spark, dir).filter(col("vec_id") =!= 0)
    AnnIndex.ivfAssign(e, "emb", "vec_id", centsDF)
      .filter(col("bucket").isin(probeIds: _*))
      .select(
        col("vec_id"), col("bucket"),
        round(expr(s"dot_d(emb, $qLit) / (sqrt(dot_d(emb, emb)) * sqrt(dot_d($qLit, $qLit)))"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /**
   * IVF index-quality report (r15) — the ops dashboard every ANN deployment
   * watches: per inverted list (cell), its population and its distortion
   * (sum of squared distance to the assigned centroid — per-cell k-means
   * inertia), plus the max member distance. Hot cells mean probes
   * over-scan, empty cells (absent rows) waste the centroid budget, and
   * inertia growth against a baseline is the retrain signal (the quality
   * statistic FAISS's IVF training monitors). ONE corpus pass through the
   * [[AnnIndex.ivfAssign]] map-only argmin kernel, then one 16-group
   * aggregate — no join against the corpus, no window.
   *
   * Exactly oracle-checkable: assignment replays by the same
   * (distance, cid) total order as q75/q105, and the distortion is
   * computed in the e6-quantized INTEGER domain (q95's convention — the
   * quantization rides the same SQL `round()` on both engines, then the
   * arithmetic is exact 64-bit).
   */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = ivfIndex(spark, dir)
    val centsDF = idx.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "centroid")
    val centsQ = centsDF.select(
      col("centroid_id").as("bucket"),
      expr("transform(centroid, x -> cast(round(x * 1000000) as bigint))").as("cq"))
    val e = embeddings(spark, dir).filter(col("vec_id") =!= 0)
    AnnIndex.ivfAssign(e, "emb", "vec_id", centsDF)
      .select(col("bucket"),
        expr("transform(emb, x -> cast(round(x * 1000000) as bigint))").as("eq"))
      .join(broadcast(centsQ), "bucket")
      .select(col("bucket"),
        expr("aggregate(zip_with(eq, cq, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)").as("d2"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum("d2").as("inertia_e12"),
        max("d2").as("max_d2_e12"))
      .orderBy("bucket")
  }

  /**
   * Int8 scalar quantization of the embedding corpus (the memory-bandwidth
   * lever for billion-scale ANN — FAISS-style IVF+SQ8, Johnson et al.,
   * "Billion-scale similarity search with GPUs", 2017): per-dimension
   * min/max over the corpus defines an affine map onto 0..255, and each
   * element stores as one byte (4x smaller than float32, 8x than float64),
   * which is what lets an inverted-list scan at 100 TB run at memory
   * bandwidth. Shapes: per-dim stats are a posexplode -> groupBy(pos)
   * partial-agg (<= dims rows out per task), broadcast back (64-row build
   * side), quantization itself map-side. Exactly oracle-checkable: min/max
   * are order-independent, and the affine map + half-up round are the same
   * IEEE double ops in Spark and DuckDB. A dimension that is CONSTANT across
   * the corpus (mx = mn) is pinned to code 0 explicitly — the unguarded
   * affine map would be 0/0 = NaN, which Spark casts to 0 silently while
   * DuckDB errors, so the guard keeps degenerate corpora deterministic on
   * both engines.
   *
   * Output: per-vector code summary (sum/min/max of the 64 int8 codes) —
   * the oracle-stable digest of the quantized representation.
   */
  def scalarQuantize(spark: SparkSession, dir: String): DataFrame = {
    val x = t(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("vec_id"), (col("pos") + 1).as("pos"), col("e").cast("double").as("v"))
    val mm = x.groupBy("pos").agg(min("v").as("mn"), max("v").as("mx"))
    x.join(broadcast(mm), Seq("pos"))
      .select(col("vec_id"),
        expr("if(mx = mn, 0L, cast(round((v - mn) * 255 / (mx - mn)) as bigint))").as("code"))
      .groupBy("vec_id")
      .agg(sum("code").as("code_sum"),
        min("code").cast("int").as("code_min"),
        max("code").cast("int").as("code_max"))
      .orderBy("vec_id")
  }

  /**
   * SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at web-scale
   * through semantic deduplication", 2023): embedding-space near-duplicate
   * REMOVAL where the blocking key is a LEARNED cluster, not a metadata
   * label — cluster the corpus (here: the same 16 deterministic IVF
   * centroids q75 searches with), compare pairs only WITHIN a cluster, and
   * drop the higher-id member of every pair above the cosine threshold.
   * This is the scale path when no natural blocking key exists: k-means
   * cost is linear, within-cluster all-pairs is quadratic only in the
   * cluster size (bounded by corpus/k on average), and the two stages
   * compose into one plan — assignment is a broadcast arg-min
   * ([[AnnIndex.ivfAssign]], no shuffle), the pair join shuffles each
   * vector once on its bucket id.
   *
   * Output: one row per DROPPED vector with the kept neighbor that
   * condemned it (highest cosine, then lowest id — a deterministic
   * total order, so the survivor set is reproducible across engines and
   * partitionings).
   */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val idx = ivfIndex(spark, dir)
    val centsDF = idx.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "centroid")
    semanticDedupOn(spark, embeddings(spark, dir).select("vec_id", "emb"), centsDF)
  }

  /** SemDeDup's scale knob in ONE place: the target AVERAGE CLUSTER SIZE.
   * Within-cluster pairing is quadratic in cluster size, so the cluster
   * count must grow with the corpus — k = ceil(n / target) (SemDeDup's own
   * configuration, k ∝ n; scale_check4 lesson 2 measured fixed k=16 going
   * quadratic at 10× rows while k ∝ n stayed flat). 125 pins the derived k
   * to the fixed path's 16 on the 2,000-vector bench corpus, so
   * [[semanticDedup]] and the auto-k path agree there (specced). */
  final val SemDedupTargetCluster = 125L

  def semanticDedupDerivedK(n: Long): Int =
    math.max((n + SemDedupTargetCluster - 1) / SemDedupTargetCluster, 1L).toInt

  /**
   * [[semanticDedup]] with a caller-supplied cluster count — THE scale
   * knob: within-cluster pairing is quadratic in cluster size, so k must
   * grow with the corpus to hold clusters at a constant target size
   * ([[SemDedupTargetCluster]]; omit `nCentroids` to derive it). The
   * centroid relation is a systematic sample by id; assignment pulls it to
   * the driver (bounded: [[AnnIndex.ArgminKernelMaxCentroids]]) and runs
   * the map-only argmin kernel — see the r8 note in
   * [[AnnIndex.ivfAssign]] for why the join+aggregate formulation was
   * abandoned.
   */
  def semanticDedupScaled(spark: SparkSession, dir: String, nCentroids: Int): DataFrame = {
    val e = embeddings(spark, dir).select("vec_id", "emb")
    val cents = AnnIndex.ivfCentroids(e, "emb", "vec_id", nCentroids, e.count())
    semanticDedupOn(spark, e, cents)
  }

  /** [[semanticDedupScaled]] with k derived from the corpus count — the
   * default a pipeline should use so the blocking keeps scaling without a
   * hand-tuned knob. */
  def semanticDedupScaled(spark: SparkSession, dir: String): DataFrame = {
    val e = embeddings(spark, dir).select("vec_id", "emb")
    val n = e.count()
    val cents = AnnIndex.ivfCentroids(e, "emb", "vec_id", semanticDedupDerivedK(n), n)
    semanticDedupOn(spark, e, cents)
  }

  private def semanticDedupOn(spark: SparkSession, e0: DataFrame, centsDF: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = AnnIndex.ivfAssign(e0, "emb", "vec_id", centsDF)
      .withColumn("nrm", expr("sqrt(dot_d(emb, emb))"))
    val pairs = e.as("x").join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.bucket").as("bucket"),
        col("x.vec_id").as("a"),
        col("y.vec_id").as("b"),
        (expr("dot_d(x.emb, y.emb)") / (col("x.nrm") * col("y.nrm"))).as("c"))
      .filter(col("c") >= 0.35)
    pairs
      .withColumn("rn", row_number().over(Window.partitionBy("b").orderBy(col("c").desc, col("a"))))
      .filter(col("rn") === 1)
      .select(col("b").as("dropped"), col("bucket"), col("a").as("kept"), round(col("c"), 4).as("cos"))
      .orderBy("dropped")
  }

  /**
   * Product quantization (Jégou et al., "Product Quantization for Nearest
   * Neighbor Search", PAMI 2011): split each 64-dim embedding into PQ_M=32
   * subvectors of 2 dims and encode each against a trained 64-codeword
   * codebook → 32 × 6 bits = 24 bytes per vector (21× smaller than
   * float64, the compression regime billion-scale ANN shelves actually
   * use, vs q87's 4× scalar quantization). Codebooks are TRAINED: a
   * systematic 64-vector seed refined by four deterministic integer-Lloyd
   * rounds per subspace ([[trainPqCodebook]]), so the whole pipeline —
   * seed, training, encoding — is exactly reproducible, and all arithmetic
   * happens on e6-quantized integers, so squared distances are exact and
   * order-independent. The oracle replays training as unrolled SQL CTEs
   * and reaches the identical codebook.
   *
   * Shape at 100 TB: the codebook is a 64×64 LITERAL folded into the
   * expression tree — encoding is a pure map-side fold per row (argmin
   * fold over 64 codewords × 2-dim integer L2), no join, no shuffle, no
   * driver action; the only exchange in the query is the final presentation
   * sort. Output: per-vector code digest (positionally-weighted sum +
   * min/max of the 32 codes — 192-bit codes don't fit one BIGINT) + total
   * quantization error.
   */
  /** HALF_UP e6 quantization via BigDecimal, matching SQL round() in Spark
   * AND DuckDB (Scala's math.round is half-toward-+inf: wrong for negative
   * .5s). */
  private def e6(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()

  /** The 32×64 ADC lookup table: query residual vs the trained codebook,
   * per (subspace, codeword), in exact e6 integers — pure driver
   * arithmetic over the memoized index. */
  private def pqLutArray(idx: IvfIndex): Array[Array[Long]] = {
    val q = idx.queryVec.map(e6)
    Array.tabulate(PQ_M, PQ_K) { (s, j) =>
      (0 until PQ_DS).map { i => val d = q(s * PQ_DS + i) - idx.pqCodebook(s)(j)(i); d * d }.sum
    }
  }

  /** Bind the dir-specific PQ kernels ([[graft.functions.PqAdcDist]] /
   * [[graft.functions.PqEncodeDigest]]) — the codebook and LUT ride as
   * expression fields, so encoding runs as a tight JVM loop inside
   * whole-stage codegen instead of an interpreted HOF fold (measured
   * 2.2 s → <0.5 s on the sf0.1 ADC search). `createOrReplaceTempFunction`
   * re-binds on every query build, so multi-dir sessions always encode
   * against the index of the dir being queried. Fails loudly on a short
   * seed (sparse id spaces starve the systematic sample; the kernel would
   * otherwise silently encode against whatever subset exists). */
  private def registerPqKernels(spark: SparkSession, idx: IvfIndex): Unit = {
    require(idx.pqCodebook != null,
      s"PQ needs $PQ_K systematic seed vectors — " +
        "vec_id space too sparse for systematic sampling; densify ids or sample by hash")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_adc",
      exprs => graft.functions.PqAdcDist(exprs.head, idx.pqCodebook, pqLutArray(idx)), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "pq_digest",
      exprs => graft.functions.PqEncodeDigest(exprs.head, idx.pqCodebook), "scala_udf")
  }

  def pqQuantize(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    registerPqKernels(spark, idx)
    t(spark, dir, "embeddings")
      .select(col("vec_id"), expr("pq_digest(embedding)").as("r"))
      .select(col("vec_id"), col("r.code_sum").as("code_sum"),
        col("r.code_min").as("code_min"), col("r.code_max").as("code_max"),
        col("r.pq_err_e12").as("pq_err_e12"))
      .orderBy("vec_id")
  }

  /**
   * PQ asymmetric-distance search (ADC, Jégou et al. 2011 §IV) — the query
   * half of the [[pqQuantize]] storage path, completing the FAISS-style
   * IVF (q75) / SQ8 (q87) / PQ (q92) triad: precompute, DRIVER-side from
   * the memoized index (pure arithmetic, no Spark action), the 32×64 lookup
   * table `LUT[s][j] = ‖query_s − codeword_{s,j}‖²` in exact e6 integers;
   * then each corpus vector's approximate distance is just 32 table lookups
   * summed — the memory-bandwidth-bound inner loop that makes PQ search
   * fast at billion scale. Encode + lookup run as ONE codegen kernel call
   * per row ([[graft.functions.PqAdcDist]]; codebook and LUT are expression
   * fields); the only non-map work is the global top-20, which plans as
   * TakeOrderedAndProject (no sort shuffle).
   *
   * Exactly oracle-checkable: codes and LUT entries are deterministic
   * integers, so DuckDB reproduces the encoding, the table, and the
   * (adc, vec_id) total order.
   */
  def pqAdcSearch(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    registerPqKernels(spark, idx)
    t(spark, dir, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr("pq_adc(embedding)").as("adc_e12"))
      .orderBy(col("adc_e12").asc, col("vec_id").asc)
      .limit(20)
  }

  /**
   * IVF+PQ search — the two index structures composed the way a
   * billion-scale deployment actually runs them (FAISS `IVFx,PQy`; Jégou
   * et al. 2011 §V): the IVF layer prunes the corpus to the 4 probed
   * inverted lists (partition pruning — the 100 TB lever, q75's layout),
   * and the PQ layer scores ONLY those lists through the 32×64 integer LUT
   * (memory-bandwidth compression — q95's lever). Assignment is the
   * broadcast arg-min, ADC is the let-bound map-side fold, probe selection
   * is driver arithmetic over the memoized index: the whole search is one
   * action with a TakeOrderedAndProject top-20, touching ~nprobe/16 of the
   * corpus and reading one 24-byte code per touched vector at scale.
   *
   * Deterministic end-to-end (systematic centroids double as the PQ
   * codebook; integer distances; (adc, vec_id) total order), so DuckDB
   * reproduces probes, codes, LUT, and ranking exactly.
   */
  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame =
    ivfPqSearchNprobe(spark, dir, nprobe = 4)

  /** Recall-targeted form — see [[ivfTopK]]'s targetRecall overload. The
   * pinned curve measures the IVF pruning layer; PQ quantization loss on
   * top is recovered by [[pqRefineSearch]]'s exact re-rank, not by probing
   * wider, so the same curve drives both entry points. */
  def ivfPqSearch(spark: SparkSession, dir: String, targetRecall: Double, regime: String): DataFrame =
    ivfPqSearchNprobe(spark, dir, nprobeForRecall(targetRecall, regime))

  /** Self-calibrated form — see [[calibrateRegime]]. */
  def ivfPqSearch(spark: SparkSession, dir: String, targetRecall: Double): DataFrame =
    ivfPqSearchNprobe(spark, dir, nprobeForRecall(targetRecall, calibrateRegime(spark, dir)))

  private[graft] def ivfPqSearchNprobe(spark: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import spark.implicits._
    require(nprobe >= 1 && nprobe <= 16, s"nprobe must be in [1, 16], got $nprobe")
    val idx = ivfIndex(spark, dir)
    require(idx.centroids.length == 16,
      s"IVF probe selection needs 16 coarse centroids, got ${idx.centroids.length}")
    registerPqKernels(spark, idx)
    val probeIds = idx.centroids.map { case (cid, c) =>
      (cid, c.zip(idx.queryVec).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.sortBy { case (cid, d2) => (d2, cid) }.take(nprobe).map(_._1).toSeq
    val centsDF = idx.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "centroid")
    val e = embeddings(spark, dir).filter(col("vec_id") =!= 0).select("vec_id", "emb")
    AnnIndex.ivfAssign(e, "emb", "vec_id", centsDF)
      .filter(col("bucket").isin(probeIds: _*))
      .select(col("vec_id"), col("bucket"), col("emb").as("embedding"))
      .select(col("vec_id"), col("bucket"), expr("pq_adc(embedding)").as("adc_e12"))
      .orderBy(col("adc_e12").asc, col("vec_id").asc)
      .limit(20)
  }

  /**
   * PQ shortlist + exact refine — the serving pipeline production ANN
   * actually runs (FAISS `IndexRefineFlat`; Jégou et al. 2011 §VII): the
   * cheap ADC scan ranks a 100-candidate SHORTLIST (reading only 24-byte
   * codes at scale), and the exact kernel re-ranks just those 100 with true
   * cosine — recovering the recall a coarse untrained codebook gives up
   * (BENCH_NOTES recall tables: the trained 32×2×64 geometry already
   * reaches raw ADC@20 ≈ 0.75–0.85 on this corpus's weak-neighbor
   * regime; refine still tops it up and absorbs quantization ties). Both
   * stages are deterministic ((adc, vec_id) shortlist cut, (cos, vec_id)
   * final order), so the composition stays oracle-checkable end-to-end.
   */
  def pqRefineSearch(spark: SparkSession, dir: String): DataFrame = {
    val idx = ivfIndex(spark, dir)
    registerPqKernels(spark, idx)
    val qLit = idx.queryVec.map(x => s"${x}D").mkString("array(", ",", ")")
    val cand = t(spark, dir, "embeddings")
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"), expr("pq_adc(embedding)").as("adc_e12"),
        expr("transform(embedding, x -> cast(x as double))").as("emb"))
      .orderBy(col("adc_e12").asc, col("vec_id").asc)
      .limit(100)
    cand
      .select(col("vec_id"),
        round(expr(s"dot_d(emb, $qLit) / (sqrt(dot_d(emb, emb)) * sqrt(dot_d($qLit, $qLit)))"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(20)
  }

  /**
   * Batched exact KNN: top-5 cosine neighbors for EACH of the first 20
   * vectors in one pass over the corpus — the bulk-retrieval shape
   * (embed-and-retrieve pipelines score queries in batches, not one at a
   * time like q27). The query batch broadcasts (it is batch-sized, not
   * corpus-sized), every corpus row scores all queries map-side, and the
   * per-query top-k runs through [[graft.functions.TopKAgg]] — a typed
   * Aggregator whose partial buffers reduce each task's candidates to ≤k
   * per query BEFORE the shuffle, so the exchange carries
   * queries × tasks × k tuples instead of queries × corpus rows (the
   * window-function formulation would shuffle the full cross product).
   */
  def batchKnn(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TopKAgg.register(spark, 5)
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("emb").as("qe"))
    e.filter(col("vec_id") >= 20).crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"), expr(CosExpr).as("c"))
      .groupBy("qid")
      .agg(expr("topk_cos_5(c, vec_id)").as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("rank", "hit")))
      .select(
        col("qid"), col("rank").cast("int").as("rank"),
        col("hit._2").as("vec_id"), round(col("hit._1"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /**
   * Hard-negative mining for contrastive retrieval training (r15) — the
   * FOURTH consumer of the shared q60 cluster-label table: for each query
   * in the panel, mine the top-`poolK` cosine pool for NEGATIVES — docs
   * that are semantically close (high cosine: that is what makes them
   * HARD) but not near-duplicates of the query (same q60 MinHash-LSH
   * cluster = a de-facto positive; training it as a negative poisons the
   * contrastive loss — the standard de-dup step in every embedding-model
   * mining pipeline, e.g. DPR/Contriever-style hard-negative selection).
   * Pool-then-exclude with FIXED pool and k keeps the result deterministic
   * and oracle-replayable on both engines.
   *
   * Shapes: the pool is [[batchKnn]]'s one-corpus-pass TopKAgg reduction
   * (panel broadcast, per-task partial top-k before the shuffle); it is
   * OpCache-pinned because both the label prefilter and the mining branch
   * consume it. The corpus-sized label table is prefiltered by a broadcast
   * LEFT-SEMI on the pooled ids + panel (q118's r15 shape — labels stream
   * map-side, zero shuffle, remnant <= panel*(poolK+1) rows), then two
   * broadcast left-outer lookups attach candidate/query clusters.
   * Everything after the corpus pass is O(panel * poolK) rows.
   */
  def hardNegatives(
      spark: SparkSession, dir: String,
      panel: Int = 8, poolK: Int = 16, k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(panel >= 1 && poolK >= k && k >= 1, s"need panel>=1, poolK>=k>=1; got $panel/$poolK/$k")
    graft.functions.TopKAgg.register(spark, poolK)
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") < panel).select(col("vec_id").as("qid"), col("emb").as("qe"))
    val pool = OpCache.persistBounded("q119_pool",
      e.filter(col("vec_id") >= panel).crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), expr(CosExpr).as("c"))
        .groupBy("qid")
        .agg(expr(s"topk_cos_$poolK(c, vec_id)").as("top"))
        .select(col("qid"), explode(col("top")).as("hit"))
        .select(col("qid"), col("hit._2").as("vec_id"), col("hit._1").as("cos")))
    val ids = pool.select(col("vec_id").as("doc_id"))
      .union(pool.select(col("qid").as("doc_id"))).distinct()
    // r17: the unsorted label table — dedupClusters' presentation orderBy
    // would feed a semi-join + broadcast that ignore order
    val labels = DedupOps.clusterLabelTable(spark, dir)
      .select(col("doc_id"), col("lbl").as("cluster"))
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
    val wQ = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    pool
      .join(broadcast(labels.select(col("doc_id").as("vec_id"), col("cluster").as("cl_c"))),
        Seq("vec_id"), "left_outer")
      .join(broadcast(labels.select(col("doc_id").as("qid"), col("cluster").as("cl_q"))),
        Seq("qid"), "left_outer")
      .withColumn("cl_c", coalesce(col("cl_c"), col("vec_id")))
      .withColumn("cl_q", coalesce(col("cl_q"), col("qid")))
      .filter(col("cl_c") =!= col("cl_q"))
      .withColumn("rank", row_number().over(wQ).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy("qid", "rank")
  }

  /**
   * ANN quality measurement in-plan: recall@10 of the 4-probe IVF search
   * against the exact-KNN ground truth, per query, over an 8-query panel
   * (vec_id < 8; corpus = vec_id >= 8) — the metric every ANN deployment
   * tunes nprobe/k against (Jégou et al. 2011 §V evaluate IVFADC exactly
   * this way), computed WITHOUT collecting either neighbor list.
   *
   * Shapes, all broadcast/map-side until tiny aggregates:
   *  - probe lists: queries x 16 centroids (128 rows) reduced by the same
   *    [[graft.functions.TopKAgg]] partial agg as the top-k legs — scoring
   *    `-l2_sq` makes its (score DESC, id ASC) order exactly
   *    (distance ASC, centroid_id ASC), the assignment tie-break;
   *  - exact leg: one corpus pass, 8 cosines/row map-side, per-query top-10
   *    via TopKAgg (shuffle carries queries x tasks x 10 tuples);
   *  - IVF leg: one corpus pass through the [[AnnIndex.ivfAssign]] argmin
   *    kernel, broadcast-joined to the 32-row probe table so cosine is paid
   *    ONLY for (query, vector) pairs inside probed lists — the inverted-list
   *    pruning being measured;
   *  - recall: the two 80-row top-10 relations left-join on (qid, vec_id);
   *    hits/10. Everything after the corpus passes is O(queries) rows.
   *
   * Oracle-checkable despite measuring an approximation: centroids, probes,
   * assignment, and both top-10 sets are deterministic (systematic centroids,
   * (dist, cid) and (cos DESC, vec_id) total orders, dot products through the
   * codegen `dot_d` / `l2_sq` kernels — left-to-right double accumulation,
   * bit-identical to DuckDB's list_inner_product/list_distance), so the
   * oracle reproduces the exact hit sets, not just approximate recall.
   */
  def annRecall(spark: SparkSession, dir: String): DataFrame =
    annRecall(spark, dir, k = 10, nprobe = 4, panel = 8)

  /**
   * Rank-aware ANN evaluation (r15) — [[annRecall]]'s set-overlap recall
   * answers "how many true neighbors did the probe find"; retrieval
   * deployments additionally tune on WHERE they landed: MRR (the first
   * true neighbor's reciprocal rank — the metric reported by every
   * IR/retrieval benchmark alongside recall) and precision in the head of
   * the list. Per panel query, against the exact top-k ground truth:
   * `first_hit_rank` (0 = miss), `rr_ppm` (1e6/first_hit_rank, integer
   * division — exact on both engines), `hits_at_5`, `hits_at_k`. Same
   * legs, shapes, and determinism as q105 (systematic centroids, (cos
   * DESC, vec_id) total orders, bit-identical kernels), so the oracle
   * reproduces the metrics exactly — everything after the two corpus
   * passes is O(panel * k) rows.
   */
  def annRankEval(spark: SparkSession, dir: String): DataFrame =
    annRankEval(spark, dir, k = 10, nprobe = 4, panel = 8)

  def annRankEval(spark: SparkSession, dir: String, k: Int, nprobe: Int, panel: Int): DataFrame = {
    import spark.implicits._
    require(k >= 1 && nprobe >= 1 && nprobe <= 16 && panel >= 1,
      s"need k>=1, nprobe in [1,16], panel>=1; got $k/$nprobe/$panel")
    graft.functions.TopKAgg.register(spark, nprobe)
    graft.functions.TopKAgg.register(spark, k)
    val idx = ivfIndex(spark, dir)
    val centsDF = idx.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "centroid")
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") < panel).select(col("vec_id").as("qid"), col("emb").as("qe"))
    val corp = e.filter(col("vec_id") >= panel)
    val probes = q.crossJoin(broadcast(centsDF))
      .select(col("qid"), expr("-l2_sq(qe, centroid)").as("nd2"), col("centroid_id"))
      .groupBy("qid").agg(expr(s"topk_cos_$nprobe(nd2, centroid_id)").as("top"))
      .select(col("qid").as("p_qid"), explode(col("top")).as("hit"))
      .select(col("p_qid"), col("hit._2").as("p_cid"))
    def topKRanked(scored: DataFrame): DataFrame =
      scored.groupBy("qid").agg(expr(s"topk_cos_$k(c, vec_id)").as("top"))
        .select(col("qid"), posexplode(col("top")).as(Seq("r0", "hit")))
        .select(col("qid"), (col("r0") + 1).cast("bigint").as("rank"), col("hit._2").as("vec_id"))
    val exact = topKRanked(
      corp.crossJoin(broadcast(q)).select(col("qid"), col("vec_id"), expr(CosExpr).as("c")))
    val qp = q.join(broadcast(probes), col("qid") === col("p_qid"))
      .select(col("qid"), col("qe"), col("p_cid"))
    val ivf = topKRanked(
      AnnIndex.ivfAssign(corp, "emb", "vec_id", centsDF)
        .join(broadcast(qp), col("bucket") === col("p_cid"))
        .select(col("qid"), col("vec_id"), expr(CosExpr).as("c")))
    ivf
      .join(broadcast(exact.select(col("qid"), col("vec_id"), lit(1).as("rel"))),
        Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(
        coalesce(min(when(col("rel") === 1, col("rank"))), lit(0L)).as("first_hit_rank"),
        sum(when(col("rel") === 1 && col("rank") <= 5, 1L).otherwise(0L)).as("hits_at_5"),
        count(col("rel")).as("hits_at_k"))
      .select(col("qid"), col("first_hit_rank"),
        expr("if(first_hit_rank > 0, 1000000 div first_hit_rank, 0)").as("rr_ppm"),
        col("hits_at_5"), col("hits_at_k"))
      .orderBy("qid")
  }

  /** Parameterized form — `k` neighbors, `nprobe` of the 16 probed lists,
   * `panel` query vectors (vec_id < panel; corpus = the rest). The oracle
   * pins the (10, 4, 8) default; other settings are the tuning dial this
   * operator exists for (recall@k vs nprobe is THE IVF trade-off curve). */
  def annRecall(spark: SparkSession, dir: String, k: Int, nprobe: Int, panel: Int): DataFrame = {
    import spark.implicits._
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1 && nprobe <= 16, s"nprobe must be in [1, 16] (16 systematic centroids), got $nprobe")
    require(panel >= 1, s"panel must be >= 1, got $panel")
    graft.functions.TopKAgg.register(spark, nprobe)
    graft.functions.TopKAgg.register(spark, k)
    val idx = ivfIndex(spark, dir)
    val centsDF = idx.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("centroid_id", "centroid")
    val e = embeddings(spark, dir)
    val q = e.filter(col("vec_id") < panel).select(col("vec_id").as("qid"), col("emb").as("qe"))
    val corp = e.filter(col("vec_id") >= panel)
    val probes = q.crossJoin(broadcast(centsDF))
      .select(col("qid"), expr("-l2_sq(qe, centroid)").as("nd2"), col("centroid_id"))
      .groupBy("qid").agg(expr(s"topk_cos_$nprobe(nd2, centroid_id)").as("top"))
      .select(col("qid").as("p_qid"), explode(col("top")).as("hit"))
      .select(col("p_qid"), col("hit._2").as("p_cid"))
    def topK(scored: DataFrame): DataFrame =
      scored.groupBy("qid").agg(expr(s"topk_cos_$k(c, vec_id)").as("top"))
        .select(col("qid"), explode(col("top")).as("hit"))
        .select(col("qid"), col("hit._2").as("vec_id"))
    val exact = topK(
      corp.crossJoin(broadcast(q)).select(col("qid"), col("vec_id"), expr(CosExpr).as("c")))
    // (query, probed-centroid) pairs with the query vector attached: panel x nprobe rows
    val qp = q.join(broadcast(probes), col("qid") === col("p_qid"))
      .select(col("qid"), col("qe"), col("p_cid"))
    val ivf = topK(
      AnnIndex.ivfAssign(corp, "emb", "vec_id", centsDF)
        .join(broadcast(qp), col("bucket") === col("p_cid"))
        .select(col("qid"), col("vec_id"), expr(CosExpr).as("c")))
    exact.join(broadcast(ivf.withColumn("h", lit(1))), Seq("qid", "vec_id"), "left")
      .groupBy("qid")
      .agg(count("h").as("hits"))
      .select(col("qid"), lit(k.toLong).as("k"), col("hits"),
        round(col("hits") / k.toDouble, 4).as("recall"))
      .orderBy("qid")
  }

  /**
   * Per-label embedding centroids in exact integer arithmetic: quantize each
   * element to a scaled long FIRST (`round(x * 1e6)` — deterministic IEEE
   * product + half-up rounding, identical in Spark and DuckDB), then
   * integer-sum and integer-divide. Float sums depend on accumulation order
   * (shuffle layout), so a float `avg` is nondeterministic across runs AND
   * engines; integer sums are associative-commutative-exact, which is what
   * makes this oracle-checkable and rerun-stable at any parallelism.
   *
   * Shape: posexplode (64 rows per vector) -> partial-agg groupBy on
   * (label, pos) — one shuffle of at most labels x dims partial rows per
   * task, independent of row count.
   */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "e")))
      .select(col("label"), (col("pos") + 1).as("pos"),
        expr("cast(round(cast(e as double) * 1000000) as bigint)").as("v"))
      .groupBy("label", "pos")
      .agg(sum("v").as("sum_e6"), count(lit(1)).as("n"))
      .select(col("label"), col("pos"), col("n"), col("sum_e6"))
      .orderBy("label", "pos")
}
