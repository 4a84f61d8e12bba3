package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Approximate nearest neighbour scale path over an `array<double>` column.
 * Brute force ([[VectorOps.knnBruteForce]]) is the exact baseline; IVF makes
 * the 100 TB case tractable by turning all-pairs into bucket-local work:
 * coarse quantization against a deterministic centroid sample, and a search
 * that probes only the nearest `nprobe` inverted lists. The assignment is a
 * `bucket` column — the partition/shuffle key — so a query touches its
 * probed buckets instead of the full corpus.
 */
object AnnIndex {

  private def arraySql(xs: Array[Double]): String =
    xs.map(x => s"${x}D").mkString("array(", ",", ")")

  /** IVF coarse centroids: a deterministic systematic sample of the corpus
   * (every `step`-th vector by id) — sampling beats k-means iterations when
   * the assignment only needs to be balanced, not optimal, and it keeps the
   * index build a single pass. */
  def ivfCentroids(df: DataFrame, embCol: String, idCol: String, nCentroids: Int): DataFrame =
    ivfCentroids(df, embCol, idCol, nCentroids, df.count())

  /** Action-free variant: the caller supplies the corpus size (knowable from
   * table metadata, a prior pass, or a memoized build — see
   * [[VectorOps.ivfTopK]]), so building the centroid PLAN launches no Spark
   * job. `step` is then a literal and the id filter pushes down to the scan. */
  def ivfCentroids(df: DataFrame, embCol: String, idCol: String, nCentroids: Int, corpusN: Long): DataFrame = {
    val step = math.max(corpusN / nCentroids, 1L)
    df.filter((col(idCol) % step === 0) && (col(idCol) / step < nCentroids))
      .select((col(idCol) / step).cast("int").as("centroid_id"), col(embCol).as("centroid"))
  }

  /** IVF search: probe the `nprobe` centroids nearest the query (driver-side
   * over the tiny centroid table), then exact cosine top-k within those
   * inverted lists only — the corpus fraction touched is ~nprobe/nCentroids. */
  def ivfSearch(
      assigned: DataFrame,
      centroids: DataFrame,
      embCol: String,
      queryVec: Array[Double],
      k: Int,
      nprobe: Int
  ): DataFrame = {
    val cents = centroids.collect().map { r =>
      val id = r.getAs[Int]("centroid_id")
      val c = r.getAs[scala.collection.Seq[Double]]("centroid").toArray
      val d2 = c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum
      (id, d2)
    }
    val probeIds = cents.sortBy(_._2).take(nprobe).map(_._1).toSeq
    val qSql = arraySql(queryVec)
    assigned
      .filter(col("bucket").isin(probeIds: _*))
      .withColumn(
        "cos",
        expr(
          s"""aggregate(zip_with($embCol, $qSql, (x, y) -> x * y), 0D, (acc, x) -> acc + x)
             | / (sqrt(aggregate($embCol, 0D, (acc, x) -> acc + x * x))
             |    * sqrt(aggregate($qSql, 0D, (acc, x) -> acc + x * x)))""".stripMargin
        )
      )
      .orderBy(col("cos").desc)
      .limit(k)
  }

  /**
   * Lloyd refinement of the IVF centroids: `iters` rounds of
   * assign-to-nearest then recompute-means. Each round is two jobs:
   * [[ivfAssign]] (map-only arg-min kernel, no shuffle) and a
   * mean recompute via posexplode -> groupBy (bucket, pos) — one shuffle of
   * dim x n partial-aggregated rows, then a tiny per-bucket regroup to
   * re-assemble `centroid` arrays. K-means' monotonicity guarantees the
   * mean within-cluster distortion never increases, so a couple of rounds
   * tighten the systematic-sample seed ([[ivfCentroids]]) without giving up
   * determinism (no random restarts; ties broken by centroid_id). Empty
   * clusters keep their previous centroid (left join + coalesce) so
   * `nCentroids` is stable across rounds.
   */
  def ivfRefine(df: DataFrame, embCol: String, idCol: String, centroids: DataFrame, iters: Int): DataFrame = {
    var cents = centroids
    for (_ <- 1 to iters) {
      val means = ivfAssign(df.select(col(idCol), col(embCol)), embCol, cents)
        .select(col("bucket").as("centroid_id"), posexplode(col(embCol)).as(Seq("pos", "x")))
        .groupBy("centroid_id", "pos")
        .agg(avg("x").as("m"))
        .groupBy("centroid_id")
        .agg(expr("transform(sort_array(collect_list(struct(pos, m))), s -> s.m)").as("mean_c"))
      cents = cents
        .join(means, Seq("centroid_id"), "left")
        .select(col("centroid_id"), coalesce(col("mean_c"), col("centroid")).as("centroid"))
    }
    cents
  }

  /** Assign each vector to its nearest centroid (broadcast centroids; one
   * map-side pass, no shuffle until the consumer groups by bucket). */
  /** Centroid counts up to this ride as an expression field with NO extra
   * plan-build actions (k*d doubles, ~32 MB at the cap with d=64). Between
   * this cap and [[ArgminDirectMaxBytes]] the SAME map-only kernel is still
   * used (one extra count at plan build to size the matrix): the r9 probe
   * measured that on an isotropic corpus (the 100x signed-perm replicas —
   * every pairwise distance concentrates near the same value) the
   * hierarchy's triangle-inequality pruning retains 265 of 265 cells, i.e.
   * prunes NOTHING, so the direct n*k scan with early abandoning is the
   * optimal exact algorithm there, while the hierarchy degenerates to the
   * same n*k work plus a join. Past [[ArgminDirectMaxBytes]] assignment
   * switches to the EXACT two-level hierarchy ([[ivfAssignHierarchical]]),
   * whose win is geometry-dependent (see its scaladoc). */
  final val ArgminKernelMaxCentroids = 65536

  /** Ceiling in MATRIX BYTES (k*d*8) for the direct kernel past
   * [[ArgminKernelMaxCentroids]]: 256 MB rides fine as a task-binary
   * reference on executors sized for 100 TB work (at d=64 that is ~512k
   * centroids; under the SemDeDup k-proportional-to-n law, ~64 M vectors).
   * Beyond it the per-stage shipping cost dominates and the join-based
   * hierarchy takes over. */
  final val ArgminDirectMaxBytes = 256L * 1024 * 1024

  private val argminNameId = new java.util.concurrent.atomic.AtomicLong()

  /** Bind a one-off kernel name, build the plan, then DROP the registry
   * entry (ADVICE r8: `expr()` resolves eagerly inside the build, so the
   * plan holds the expression directly; leaving the name registered would
   * strongly pin each call's centroid matrix — up to ~32 MB — in the
   * session registry for the session's lifetime). */
  private def withTempKernel(
      spark: SparkSession,
      prefix: String,
      builder: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)(
      use: String => DataFrame): DataFrame = {
    val name = s"${prefix}_${argminNameId.incrementAndGet()}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")
    try use(name)
    finally spark.sessionState.functionRegistry.dropFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name))
  }

  def ivfAssign(df: DataFrame, embCol: String, centroids: DataFrame): DataFrame =
    ivfAssignImpl(df, embCol, None, centroids)

  /** [[ivfAssign]] with a UNIQUE row-id column: past the kernel cap the
   * hierarchical refine can then aggregate NARROW (id, centroid_id, dist2)
   * rows and join the assignment back, instead of dragging every df column
   * (embedding payload included) through the arg-min sort. Callers with a
   * key column should prefer this overload. */
  def ivfAssign(df: DataFrame, embCol: String, idCol: String, centroids: DataFrame): DataFrame =
    ivfAssignImpl(df, embCol, Some(idCol), centroids)

  private def ivfAssignImpl(
      df: DataFrame, embCol: String, idCol: Option[String], centroids: DataFrame): DataFrame = {
    val spark = df.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val head = centroids.limit(ArgminKernelMaxCentroids + 1).collect()
    // A silently-empty centroid relation (sparse/1-based id spaces can
    // starve the systematic sample) would build a kernel whose every
    // evaluation throws ArrayIndexOutOfBounds mid-task; fail at plan build
    // with the actual cause instead (ADVICE r8).
    require(head.nonEmpty,
      "ivfAssign: empty centroid relation — the systematic sample found no rows " +
        "(sparse or non-zero-based id space?); densify ids or supply explicit centroids")
    // Map-only argmin: the centroid matrix rides as an expression field
    // (the PqAdcDist binding pattern) and assignment is ONE codegen pass
    // over the corpus — no join, no shuffle, no aggregate. The previous
    // crossJoin + min_by shape was the r8 100x vector sweep's quadratic
    // bottleneck: min_by's struct buffer forces SortAggregate, which
    // SORTS all n*k crossJoin rows with the embedding payload attached
    // (52 s at 60k vectors x 480 centroids; k grows with n under the
    // SemDeDup law). Ties break to the lowest centroid id in both
    // shapes — outputs are bit-identical.
    def flat(cents: Array[org.apache.spark.sql.Row]): DataFrame = {
      val ordered = cents.map { r =>
        (r.getAs[Int]("centroid_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray)
      }.sortBy(_._1)
      withTempKernel(spark, "ivf_argmin",
        exprs => graft.functions.IvfArgmin(exprs.head, ordered.map(_._2), ordered.map(_._1))) {
        // expr() resolves the registry entry NOW, so the matrix is baked
        // into this plan; the name is dropped on return (ADVICE r8) and
        // later registrations cannot touch it
        name => df.withColumn("bucket", expr(s"$name($embCol)"))
      }
    }
    if (head.length <= ArgminKernelMaxCentroids) flat(head)
    else {
      // Mid tier: same direct kernel while the matrix fits the task-binary
      // budget — on isotropic corpora (pruning-proof; measured, see the
      // scaladoc on the caps) this is also the OPTIMAL exact shape, not a
      // fallback. Costs one count + one full collect at plan build.
      val d = head(0).getAs[scala.collection.Seq[Double]]("centroid").length
      val k = centroids.count()
      if (k * d * 8L <= ArgminDirectMaxBytes) flat(centroids.collect())
      else ivfAssignHierarchical(df, embCol, idCol, centroids)
    }
  }

  /**
   * EXACT two-level assignment for k past the driver-side kernel cap —
   * bit-identical bucket output to the flat [[graft.functions.IvfArgmin]]
   * (HierarchicalAssignSpec pins the equality), with every driver pull
   * bounded at g = ceil(sqrt(k)) rows:
   *
   *  1. supers = g fine centroids chosen for CELL COMPACTNESS: a systematic
   *     seed, 2 Lloyd rounds over the fine-centroid relation
   *     ([[ivfRefine]] — k-row jobs), then each refined mean SNAPS to its
   *     cell's medoid fine centroid. The snap matters twice: supers must
   *     remain fine centroids for the probe bound's `ub = min_s d(v,s)` to
   *     upper-bound the winner's distance (exactness), and the Lloyd step
   *     matters because the raw systematic seed scatters every cell across
   *     the whole space on CLUSTERED data — member radii approach the data
   *     diameter, the triangle bound prunes nothing, and the "hierarchy"
   *     degenerates to the n*k join it exists to avoid (measured: the
   *     k=70,000 x 200k-vector sweep DNF'd >17 min un-refined; ~seconds
   *     refined).
   *  2. Fine centroids get their cell by the FLAT kernel over the g supers
   *     (k-row job); per-cell member radii aggregate from the same relation
   *     (g-row collect).
   *  3. Every vector emits its candidate CELLS through the codegen
   *     [[graft.functions.IvfSuperProbe]] bound (triangle inequality:
   *     `d(v,s) − r_s > min_s d(v,s)` proves cell s cannot hold the global
   *     winner — see the kernel scaladoc; the eps margin only ever ADDS
   *     cells, so pruning never costs exactness), then joins the fine
   *     centroids of just those cells — n * (k/g) * probedCells candidate
   *     rows instead of the crossJoin's n * k. The cell->centroid relation
   *     is k narrow rows (~k*d*8 bytes); up to 256 MB it ships as an
   *     explicit BROADCAST so the exploded probe side is never sorted or
   *     shuffled, beyond that it falls back to the AQE-splittable equi-join.
   *  4. Per-vector arg-min with the (dist2, centroid_id) tie-break —
   *     identical order to the flat kernel's strict-< first-minimum scan,
   *     and `l2_sq` accumulates left-to-right exactly like the kernel, so
   *     the chosen ids are bit-identical.
   *
   * With `idCol` set the probe side carries only (id, emb) and the arg-min
   * aggregates narrow (id, cid, dist2) rows (the hash-aggregable
   * [[graft.functions.ArgminPair]] collapses each task's candidates
   * map-side — min_by's struct buffer would demote to SortAggregate and
   * sort the whole candidate relation) before the bucket joins back on the
   * id; without it the aggregate groups by every df column, dragging the
   * embedding payload through the aggregate — correct, but prefer the id
   * overload at scale.
   *
   * GEOMETRY CAVEAT (measured, r9): pruning power depends on the corpus
   * having exploitable cluster structure. On a clusterable corpus radii sit
   * far below inter-cell distances and the probe keeps a handful of cells;
   * on an ISOTROPIC corpus (the adversarial 100x signed-perm replicas —
   * all pairwise distances concentrate near one value) the probe measured
   * 265/265 cells retained, i.e. the bound cannot prune at all and exact
   * assignment is fundamentally Omega(n*k) — the direct kernel wins there,
   * which is why [[ivfAssign]] only routes here past
   * [[ArgminDirectMaxBytes]]. Public so callers who know their geometry
   * (real embedding corpora live on low-dimensional manifolds) can choose
   * the join-based shape instead of shipping a multi-hundred-MB matrix.
   */
  /** A/B measurement knob for the r10 bounded-refine probe
   * (tools/prof_s10_abandon.scala): `false` restores the plain l2_sq
   * refine. Output is bit-identical either way; only the refine kernel's
   * per-candidate work changes. Not part of the public API surface. */
  @volatile private[graft] var refineEarlyAbandon: Boolean = true

  def ivfAssignHierarchical(
      df: DataFrame, embCol: String, idCol: Option[String], centroids: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val k = centroids.count()
    // 4x sqrt(k) supers, not sqrt(k): on blob-structured data (the geometry
    // this path exists for) a cell whose blob holds NO super inherits a
    // data-diameter radius and becomes unprunable for EVERY vector. With g
    // supers thrown at B blobs the per-blob miss probability is
    // ~exp(-g/B); the r9 planted sweep (B=200, g=265) measured exactly
    // that failure — enough uncovered blobs that leg 2's candidate volume
    // spilled. At 4x the miss probability drops ~e^4x faster while the
    // probe stays O(g) per vector (~1.5% of the direct kernel's O(k) at
    // k=70,000). Capped so leg 1 stays under the flat kernel's bound.
    val g = math.min(4L * math.ceil(math.sqrt(k.toDouble)).toLong, ArgminKernelMaxCentroids.toLong)
    val stride = (k + g - 1) / g
    val seedDF = centroids.filter(col("centroid_id") % stride === 0)
    // Lloyd means over the fine-centroid relation, then snap each mean to
    // its cell's medoid MEMBER (memberships are disjoint, so snapped ids
    // are distinct; empty cells drop, shrinking g harmlessly)
    val virt = ivfRefine(centroids, "centroid", "centroid_id", seedDF, 2)
    val snappedIds = ivfAssignImpl(centroids, "centroid", Some("centroid_id"), virt)
      .join(broadcast(virt.select(col("centroid_id").as("bucket"), col("centroid").as("vc"))), Seq("bucket"))
      .select(col("bucket"), col("centroid_id"), expr("l2_sq(centroid, vc)").as("d2"))
      .groupBy("bucket")
      .agg(expr("argmin_pair(d2, centroid_id)").as("sid"))
      .select(col("sid")).collect().map(_.getInt(0))
    val supersDF = centroids.join(broadcast(snappedIds.toSeq.toDF("centroid_id")), Seq("centroid_id"))
    // leg 1: cell per fine centroid, via the flat kernel over <= g supers
    // (recursion depth is 1: supers are under the cap by construction)
    val cellOf = ivfAssignImpl(centroids, "centroid", Some("centroid_id"), supersDF)
      .select(col("centroid_id"), col("centroid"), col("bucket").as("cell"))
    // per-cell member radius r_s = max d(member, super); g-row collect
    val radiusRows = cellOf
      .join(broadcast(supersDF.select(col("centroid_id").as("cell"), col("centroid").as("scent"))), Seq("cell"))
      .select(col("cell"), expr("sqrt(l2_sq(centroid, scent))").as("r"))
      .groupBy("cell").agg(max("r").as("r"))
      .collect().map(r => r.getAs[Int]("cell") -> r.getAs[Double]("r")).toMap
    val supers = supersDF.collect().map { r =>
      (r.getAs[Int]("centroid_id"), r.getAs[scala.collection.Seq[Double]]("centroid").toArray)
    }.sortBy(_._1)
    val radii = supers.map { case (sid, _) => radiusRows.getOrElse(sid, 0.0) }
    // leg 2: candidate cells per vector (codegen bound), explode + join.
    // The probe side stays NARROW when an id is available, and the k-row
    // cell relation broadcasts when modest so the exploded side streams
    // through a hash join instead of sorting through a shuffle.
    val probeIn = idCol match {
      case Some(id) => df.select(col(id), col(embCol))
      case None     => df
    }
    // The probe also emits ub2 = (min_s d(v,s))^2 — since every super IS a
    // fine centroid, ub2 upper-bounds the winning candidate's distance, so
    // the refine distances can early-abandon against it (l2_sq_bounded;
    // r9 #7: the flat kernel's abandon, folded into the join-side refine at
    // the tightest bound available before any candidate is touched —
    // tighter than any visit-order scheme could reach, and order-free, so
    // it fits the hash-aggregated shape). Winner and ties compute exactly;
    // only candidates strictly beyond ub2 truncate (see the kernel
    // scaladoc), so buckets stay bit-identical.
    val probed0 = withTempKernel(spark, "ivf_superprobe",
      exprs => graft.functions.IvfSuperProbe(
        exprs.head, supers.map(_._2), supers.map(_._1), radii, 1e-9, emitUb = true)) { name =>
      probeIn.withColumn("pr", expr(s"$name($embCol)"))
    }
    val probed = probed0
      .withColumn("ub2", col("pr.ub2"))
      .withColumn("cell", explode(col("pr.cells")))
      .drop("pr")
    val dim = supers.headOption.map(_._2.length).getOrElse(0)
    val cellRel =
      if (k * dim * 8L <= 256L * 1024 * 1024) broadcast(cellOf) else cellOf
    val refineDist =
      if (refineEarlyAbandon) s"l2_sq_bounded($embCol, centroid, ub2)"
      else s"l2_sq($embCol, centroid)"
    val cands = probed.join(cellRel, Seq("cell"))
      .withColumn("dist2", expr(refineDist))
      .drop("ub2")
    // argmin_pair, NOT min_by: min_by's struct buffer silently demotes the
    // aggregate to SortAggregate, which sorts (and at this volume spills)
    // the full candidate relation — the r9 planted sweep measured exactly
    // that. The two-primitive-slot buffer stays in HashAggregate with
    // map-side partial collapse; tie-break order is identical.
    val tieMin = expr("argmin_pair(dist2, centroid_id)").as("bucket")
    idCol match {
      case Some(id) =>
        val best = cands.select(col(id), col("centroid_id"), col("dist2"))
          .groupBy(id).agg(tieMin)
        df.join(best, Seq(id))
      case None =>
        cands.groupBy(df.columns.map(col): _*).agg(tieMin)
    }
  }
}
