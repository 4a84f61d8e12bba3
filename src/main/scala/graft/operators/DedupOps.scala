package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators (BASELINE.json extension surface), designed for
 * 100 TB scale: everything is shuffle-by-key or LSH-bucketed — no all-pairs
 * comparison ever materializes. The only O(n^2) work happens INSIDE a bucket
 * (LSH band, frequency-pruned gram, blocking key), which is the standard
 * scale-out shape for near-dup detection (MinHash/LSH as in Broder '97;
 * banding analysis as in Mining of Massive Datasets ch.3).
 *
 * Hash choice: md5 over strings — deterministic, engine-portable (DuckDB
 * computes the identical hex), so every query here is oracle-checkable.
 * xxhash64 (Spark-native, faster) backs the SimHash variant, which therefore
 * gets a rows-only check.
 *
 * Multiply-read intermediates (shingle arrays, per-doc gram sets) are cached
 * for the duration of the query; long-lived sessions running many dedup
 * passes should `spark.catalog.clearCache()` between corpora — the bench
 * harness does. Single-pass frequency pruning is a window count over the
 * key (one shuffle, nothing cached or broadcast); self-joins over identical
 * subtrees rely on Spark's exchange reuse instead of caching.
 */
object DedupOps {
  import Tables.t

  /** Exact dedup via content-hash groupBy: one group per distinct normalized
   * text, keeping the smallest doc_id (deterministic survivor pick — Spark's
   * dropDuplicates keeps an arbitrary row, which is not reproducible). */
  def exact(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(lower(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .orderBy("keep_id")

  /** Distinct 3-word shingles per document as an array column (the MinHash
   * input set). Kept as an array so signatures are computed map-side without
   * an explode+groupBy shuffle; only the Jaccard verify step explodes. */
  private def shingleArrays(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // word_shingles = codegen slice-based shingling ([[graft.functions.WordShingles]]);
    // docs with < 3 words yield an empty set and are dropped, exactly like
    // the previous `filter(size(split(text,' ')) >= 3)` guard.
    t(spark, dir, "documents")
      .select(col("doc_id"), expr("word_shingles(text, 3)").as("sharr"))
      .filter(size(col("sharr")) >= 1)
  }

  /**
   * MinHash + LSH near-duplicate pairs.
   *
   * 8 min-hashes (h_i = min over shingles of md5("i|" + shingle); min over a
   * keyed hash of a set is a valid MinHash permutation), banded 4x2: docs
   * sharing any band key become candidates, candidates are verified against
   * true shingle Jaccard >= 0.5. For j ~ 0.9 the detection probability is
   * 1-(1-j^2)^4 > 0.999; random pairs essentially never collide on a band.
   *
   * Scale shape: groupBy doc (signature), explode 4 band keys, self-join on
   * band key (shuffle on band — tiny), verify join only on candidates.
   */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("a", "b")

  /** [[minhashLsh]] without the presentation sort — the shared core for
   * consumers that immediately re-aggregate the pair list
   * ([[dedupClusters]], the curation pipelines) and would pay the
   * range-partition exchange for nothing. */
  def minhashPairs(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val docs = shingleArrays(spark, dir).cache()
    // signature entirely map-side, ONE pass over the shingles per doc:
    // graft.functions.MinHash8 computes all 8 md5-slice minima in a tight
    // loop (the equivalent HOF formulation is interpreted per element and
    // CollapseProject duplicates the digest subtree 8x).
    val sig = docs.select(col("doc_id"), expr("minhash8(sharr)").as("h"))
    val bands = sig.select(
      col("doc_id"),
      explode(array(
        concat(lit("0"), col("h")(0), col("h")(1)),
        concat(lit("1"), col("h")(2), col("h")(3)),
        concat(lit("2"), col("h")(4), col("h")(5)),
        concat(lit("3"), col("h")(6), col("h")(7))
      )).as("bk")
    )
    val cand = bands.as("x").join(bands.as("y"), col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // Verify against true shingle Jaccard WITHOUT re-exploding the corpus:
    // broadcast the (tiny, id-only) candidate pair list, pull the two shingle
    // arrays onto each pair, and array_intersect counts the overlap map-side.
    // Only `cand` is ever broadcast explicitly: the second join arm carries
    // full shingle arrays, so it is left to AQE — broadcast when its runtime
    // size is small (the common case), shuffle-join when a skewed band blows
    // the candidate set up (a forced broadcast there risks OOM; the shuffle
    // shape degrades gracefully).
    val withA = broadcast(cand)
      .join(docs.select(col("doc_id").as("a"), col("sharr").as("arr_a")), Seq("a"))
    val pairs = withA
      .join(docs.select(col("doc_id").as("b"), col("sharr").as("arr_b")), Seq("b"))
    pairs
      .withColumn("cm", size(array_intersect(col("arr_a"), col("arr_b"))).cast("long"))
      .withColumn("j", col("cm").cast("double") /
        (size(col("arr_a")).cast("long") + size(col("arr_b")).cast("long") - col("cm")))
      .filter(col("j") >= 0.5)
      .select(col("a"), col("b"), round(col("j"), 4).as("jaccard"))
  }

  /**
   * Character-4-gram Jaccard near-dup with two scale guards:
   * (1) blocking — only pairs with |n_chars delta| <= 10 are compared, via a
   * range-band condition on the gram equi-join (near-identical docs have
   * near-identical lengths); (2) frequency pruning — grams present in more
   * than [[NgramDfCap]] (= 200) documents are dropped from both sets BEFORE
   * the join (same deterministic rule in the oracle), which caps the join
   * fan-out per gram at C(200, 2) pairs.
   *
   * The cap is a CONSTANT by design; the r9 sweeps measured every scaled
   * alternative quadratic (BENCH_NOTES round-9 C — corpus-proportional,
   * sqrt(N) with the oracle-isomorphic counting verify, and sqrt(N) with
   * SSJoin/PPJoin prefix-filtered candidates all hit N^2.0 on the
   * 100x wide-alphabet corpus; the inherent admitted volume
   * sum_{df<=cap} C(df,2) went 4.6e8 at 30x -> 5.2e9 at 100x, an
   * ENGINE-INDEPENDENT number the DuckDB oracle pays too). Two structural
   * facts make the constant cap the scale-correct semantic, not a
   * compromise:
   *
   *   - Char-4-grams have a BOUNDED vocabulary, so on a growing corpus
   *     every gram's df eventually grows with N; any cap that grows admits
   *     Theta(N)-df grams (df^2 = Theta(N^2) work while they stay under
   *     it), and at vocabulary saturation a sqrt(N) cap prunes EVERY gram
   *     — the operator degenerates to empty output at exactly the scale
   *     the larger cap was meant to serve.
   *   - A pair-REPORTING exact-Jaccard operator is intrinsically quadratic
   *     in dup-cluster size m (C(m,2) output rows per cluster); no cap
   *     policy fixes an output-size law. Mass-boilerplate clusters are the
   *     province of the linear-output operators: exact dedup (q24),
   *     exact-substring (q93), and connected-component clustering (q60).
   *
   * With the constant cap the admitted volume is <= cap * |gram
   * occurrences| = O(corpus), and the r8/r9 100x sweeps measured the
   * operator linear (narrow- and wide-alphabet corpora).
   */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // Per-doc DISTINCT gram rows (set semantics, same as the oracle's
    // SELECT DISTINCT). A doc's grams all originate in one input row, so
    // the distinct's partial aggregate collapses in-doc repeats map-side
    // before anything shuffles. char_ngrams = codegen one-pass gram
    // extraction; the HOF equivalent (transform(sequence...) + substring)
    // pays an interpreted lambda and an O(position) code-point scan per
    // character of the corpus.
    val g0 = t(spark, dir, "documents")
      .filter(length(col("text")) >= 4)
      .select(
        col("doc_id"),
        col("n_chars"),
        explode(expr("char_ngrams(text, 4)")).as("g")
      )
      .distinct()
    // Document frequency as a partial-aggregated count table joined back on
    // g — NOT a window count over g. The window formulation ("one shuffle
    // annotates every occurrence") concentrates every occurrence of a gram
    // into ONE task's window partition, which no mechanism can split: a
    // corpus-wide hot gram (whitespace/punctuation runs, boilerplate) makes
    // that task's sort superlinear and AQE skew-split does not apply to
    // window exchanges. Measured at the r8 100x replica sweep: 3.06 s at
    // 30x -> 23.96 s at 100x with the window; the agg+join shape collapses
    // the hot key map-side (combiner leaves <= #tasks rows per gram), the
    // df filter then DROPS hot grams before they ever re-join, and the
    // join back is an equi-join AQE can skew-split.
    val dfTab = g0.groupBy("g").agg(count(lit(1)).as("df"))
    // The cap filter applies AFTER the 1:1 df-annotation join (dfTab has one
    // row per gram, so the join is never a fan-out and filtering after it
    // prunes identically), keeping the annotation join AQE-sizable.
    // The capped gram relation feeds FOUR consumers (both self-join legs +
    // both size annotations); un-persisted, each replans independently and
    // the corpus is scanned+exploded+distinct'd 8x (r9 plan dump). One
    // bounded-persist (the TextOps one-corpus-pass pattern, OpCache) makes
    // it 2 scans — the build's own distinct + df legs — and at corpus scale
    // buys back 6 full text scans per call for a narrow (doc_id, n_chars,
    // g) disk-backed cache.
    val g1 = OpCache.persistBounded("q26_grams", g0.join(dfTab, "g")
      .filter(col("df") <= NgramDfCap)
      .select(col("doc_id"), col("n_chars"), col("g")))
    val sizes = g1.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // COUNTING verify, plan-isomorphic with the oracle: the capped gram
    // relation self-joins on g (the |delta n_chars| <= 10 length blocking
    // rides in the join condition), projects NARROW (a, b) rows, and a
    // partial-aggregated count collapses them into per-pair overlap cm.
    // No per-pair gram arrays exist anywhere in the plan — the r8
    // prefix+array_intersect verify carried a ~400 B array payload per
    // candidate through a sort-merge join (4.25 GB shuffled, 6.5 GB
    // spilled, 168 s GC on the r9 100x wide-alphabet sweep); this shape's
    // per-candidate cost is 16 B in a hash aggregate, and its total volume
    // is the cap-bounded sum_{df<=200} C(df,2). SSJoin/PPJoin prefix
    // filtering was also built and measured (r9): at a constant cap it
    // cannot beat the bounded counting join (prefixes of the small capped
    // sets retain most grams), and it pays an extra sort+slice pass.
    val common = g1.as("x")
      .join(
        g1.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          abs(col("x.n_chars") - col("y.n_chars")) <= 10
      )
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("cm"))
    // Size annotation joins are narrow (doc_id, n) equi-joins; AQE
    // broadcasts them at bench scale and skew-splits them at corpus scale.
    common
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .withColumn("j", col("cm").cast("double") / (col("na") + col("nb") - col("cm")))
      .filter(col("j") >= 0.6)
      .select(col("a"), col("b"), round(col("j"), 4).as("jaccard"))
      .orderBy("a", "b")
  }

  /** Document-frequency cap for [[ngramJaccard]] — a deliberate constant;
   * see the operator scaladoc for why scaling it with the corpus is a
   * measured scale defect, not a feature. */
  final val NgramDfCap = 200L

  /**
   * Winnowing-fingerprint near-dup (rows-only: the rolling hash has no
   * DuckDB analogue): explode each document's winnowed fingerprint set
   * ([[graft.functions.RollingFingerprint]]), bucket-join on fingerprint with
   * a hot-bucket cap, and keep pairs sharing at least `minShared`
   * fingerprints — detects LOCAL overlap (shared runs >= 23 bytes), the case
   * token-set Jaccard and SimHash both miss.
   */
  def winnowDedup(spark: SparkSession, dir: String, minShared: Int = 10): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val fps = t(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("winnow(text)")).as("fp"))
    // df annotated via a window count over fp: one shuffle, no broadcast/cache
    val pruned = fps
      .withColumn("df", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .filter(col("df") <= 50)
      .drop("df")
    pruned.as("x").join(pruned.as("y"), col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy("a", "b")
  }

  /**
   * SimHash near-dup (rows-only check: xxhash64 has no DuckDB analogue).
   * 64-bit SimHash per doc from token xxhash64s; Hamming-LSH via 4x16-bit
   * chunks (two fingerprints within Hamming distance 6 share at least one
   * exact 16-bit chunk only probabilistically — with <= 3 differing bits
   * spread over 4 chunks one chunk is always clean by pigeonhole; 6 bits is
   * best-effort recall, standard for chunked SimHash lookup).
   */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val fp = t(spark, dir, "documents")
      // one xxhash64 per token + 64-counter update, in generated code
      .withColumn("simhash", expr("simhash64(split(text, ' '))"))
      .select(col("doc_id"), col("simhash"))
    val chunks = fp.select(
      col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), c -> struct(c as c, shiftright(simhash, c * 16) & 65535 as v))"
      )).as("ck")
    ).select(col("doc_id"), col("simhash"), col("ck.c").as("c"), col("ck.v").as("v"))
    // Hot-bucket guard: a chunk value shared by k docs yields k^2/2 candidate
    // pairs; same-domain corpora cluster heavily on 16-bit chunks. Skipping
    // buckets larger than 50 bounds the pair fan-out (standard LSH practice —
    // an overfull bucket carries no discriminative signal anyway). Bucket
    // size annotated via a window count: one shuffle, no broadcast/cache.
    val pruned = chunks
      .withColumn("bsz", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("c", "v")))
      .filter(col("bsz") <= 50)
      .drop("bsz")
    pruned.as("x").join(
      pruned.as("y"),
      col("x.c") === col("y.c") && col("x.v") === col("y.v") && col("x.doc_id") < col("y.doc_id")
    )
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("a", "b")
  }

  /**
   * Engine-portable winnowing — [[winnowDedup]]'s oracle-checkable twin
   * (the q61/q70 pairing discipline, as with [[simhashPortable]]): the
   * codegen `winnow` kernel's rolling hash is O(1) per position but has no
   * DuckDB analogue, so q44 is golden-pinned only; here each k-gram hashes
   * independently through md5 (first 8 hex digits → one 32-bit value) and
   * the MOSS selection runs declaratively. Winnowing's guarantee — any
   * shared run of ≥ k+w−1 = 23 chars yields ≥ 1 shared fingerprint — holds
   * for ANY hash substrate, so the twin detects the same local-overlap
   * class; only the specific selected positions differ.
   *
   * Rightmost-minimum selection without an argmin aggregate: each position
   * carries `t = h·2¹⁶ + (2¹⁶−1−p)` — minimizing t minimizes h and, on
   * hash ties, picks the LARGEST position; `t div 2¹⁶` recovers the hash
   * exactly. The ORACLE runs this declaratively (bounded-frame window MIN
   * over the exploded gram relation); the Spark side runs the SAME math
   * through the `winnow_md5` codegen kernel ([[graft.functions.Md5Winnow]])
   * — one map-side pass per document, so the n-row gram explode and its
   * doc-keyed window shuffle never materialize (4.5 s → sub-second at
   * sf0.1). After the fingerprints: the same df-capped bucket join as q44.
   */
  def winnowPortable(spark: SparkSession, dir: String, minShared: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(spark)
    val sel = t(spark, dir, "documents")
      .select(col("doc_id"), explode(expr("winnow_md5(text)")).as("fp"))
    val pruned = sel
      .withColumn("df", count(lit(1)).over(Window.partitionBy("fp")))
      .filter(col("df") <= 50)
      .drop("df")
    pruned.as("x").join(pruned.as("y"), col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .orderBy("a", "b")
  }

  /**
   * Engine-portable SimHash — [[simhash]]'s oracle-checkable twin, the same
   * pairing discipline as q61/q70 (same contract, different hash substrate):
   * where q29 derives per-token 64-bit hashes from the codegen `simhash64`
   * kernel (xxhash64 — no DuckDB analogue, so q29 is golden-pinned only),
   * this variant takes each token's 64 hash bits from the first 16 hex
   * digits of md5(token) — the repo's standard engine-portable hash — so
   * the fingerprints, the chunked LSH, the hot-bucket cap and the Hamming
   * filter are all reproducible in DuckDB SQL and the whole pipeline
   * hash-checks end-to-end.
   *
   * The fingerprint lives as 4×16-bit chunk ints (c0..c3) rather than one
   * signed 64-bit value: chunks are what the LSH buckets on anyway, and
   * small positive ints sidestep engine differences in unsigned 64-bit
   * handling. Bit-vote semantics match [[simhash]]: occurrence-weighted
   * (+1/−1 per token), ties vote 1.
   *
   * Cost shape: fingerprints come from the `simhash64_md5` codegen kernel
   * ([[graft.functions.Md5SimHash64]]) — one md5 + one 64-way counter pass
   * per row in generated code, so the portable variant pays ~one digest per
   * token over the xxhash64 kernel instead of 64 interpreted HOF scans; the
   * 4×16-bit chunks are bit-slices of the kernel's big-endian fingerprint,
   * which the oracle reproduces from md5's hex digits (chars 4c+1..4c+4 ARE
   * bits 63−16c..48−16c). Everything after the fingerprint is identical to
   * q29 — bucket window cap, chunk equi-join, exact Hamming verify.
   */
  def simhashPortable(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val withChunks = t(spark, dir, "documents")
      .withColumn("f", expr("simhash64_md5(split(text, ' '))"))
      .select(col("doc_id"),
        expr("cast(shiftright(f, 48) & 65535 as int)").as("c0"),
        expr("cast(shiftright(f, 32) & 65535 as int)").as("c1"),
        expr("cast(shiftright(f, 16) & 65535 as int)").as("c2"),
        expr("cast(f & 65535 as int)").as("c3"))
    val chunks = withChunks.select(
      col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
      explode(expr(
        "array(struct(0 as c, c0 as v), struct(1 as c, c1 as v), struct(2 as c, c2 as v), struct(3 as c, c3 as v))")).as("ck"))
      .select(col("doc_id"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("ck.c").as("c"), col("ck.v").as("v"))
    val pruned = chunks
      .withColumn("bsz", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("c", "v")))
      .filter(col("bsz") <= 50)
      .drop("bsz")
    pruned.as("x").join(
      pruned.as("y"),
      col("x.c") === col("y.c") && col("x.v") === col("y.v") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        (bit_count(col("x.c0").bitwiseXOR(col("y.c0"))) +
          bit_count(col("x.c1").bitwiseXOR(col("y.c1"))) +
          bit_count(col("x.c2").bitwiseXOR(col("y.c2"))) +
          bit_count(col("x.c3").bitwiseXOR(col("y.c3")))).cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
      .orderBy("a", "b")
  }

  /**
   * Near-duplicate CLUSTERS: connected components over the MinHash-LSH pair
   * graph ([[minhashLsh]]), plus canonical-document election (min doc_id per
   * component) — the step that turns a pair list into an actual deduplicated
   * corpus ("keep is_canonical").
   *
   * Components by iterative min-label propagation: every node starts
   * labelled with itself; each round takes the min of its own and its
   * neighbours' labels; fixpoint after diameter rounds. Near-dup graphs are
   * overwhelmingly tiny cliques/paths, so 2-3 rounds converge; each round is
   * two hash-partitioned joins on node id (edges never move — only the
   * O(nodes) label table shuffles), and the loop re-persists labels and
   * checks convergence with an O(1)-row count. For adversarial long-chain
   * graphs swap in [[connectedComponentsStar]] (large-star/small-star),
   * which converges in O(log^2 n) rounds with the same join shape.
   */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterLabelTable(spark, dir)
      .select(
        col("doc_id"),
        col("lbl").as("cluster"),
        (col("doc_id") === col("lbl")).as("is_canonical")
      )
      .orderBy("doc_id")

  /**
   * The MinHash-LSH connected-component LABEL TABLE `(doc_id, lbl)`, shared
   * across every duplication-aware operator (VERDICT r13 #2): q60's cluster
   * output, q114's duplication reweighting, and any future composite consume
   * ONE clustering pass per (session, corpus) instead of each re-running the
   * iterative propagation loop — the most expensive lineage in the inventory
   * (~1.4 s at sf0.1). The `docTermTable` pattern applied to it: the result
   * is pinned and memoized per (session, dir) (slot `q60_labels`, so a
   * long-lived session holds at most ONE label table and `releaseAll`
   * releases it): the loop runs DRIVER-SIDE actions, so a cache-level pin
   * alone could not stop a second call from re-iterating.
   *
   * It is an [[OpCache.pinned]] entry: after a `clearCache()` the next call
   * rebuilds it (the loop's generations are localCheckpoint'd for lineage
   * truncation, so the dropped frame has no recomputable lineage to
   * re-pin). The bench releases it between timed runs
   * ([[OpCache.releaseAll]]) so every timed run prices the full clustering
   * honestly.
   */
  private[operators] def clusterLabelTable(spark: SparkSession, dir: String): DataFrame =
    OpCache.pinned(spark, "q60_labels", dir)(computeClusterLabels(spark, dir))

  /** Release every cluster-label table (all sessions, all dirs), with
   * [[OpCache.releaseAll]]'s contract. */
  def invalidateClusterCache(): Unit = OpCache.release("q60_labels")

  /** Release the cluster-label tables of one corpus dir (any session). */
  def invalidateClusterCache(dir: String): Unit = OpCache.release("q60_labels", dir)

  /** One run of the propagation loop; returns the pinned label table. */
  /** Min-label propagation over a PERSISTED bidirectional edge list
   * (s, t) — the loop body shared by [[computeClusterLabels]] (q60) and
   * [[crossModalDedup]] (q128). Callers persist the edges REPARTITIONED BY
   * `t` (r17): every round joins edges on t, and a cached un-partitioned
   * edge list would re-shuffle corpus-dup-sized edges EVERY round; cached
   * hash-partitioned, the edge side of the join is exchange-free all
   * rounds, and the label side rides its checkpoint-preserved partitioning
   * (LogicalRDD keeps outputPartitioning) — per-round exchanges drop from
   * 5 to ~1 (the neighbor-min re-key), measured 3.9 s -> 2.6 s for q128's
   * 6-round loop at sf0.1 and strictly fewer label-table moves at scale. Round 0 is FOLDED INTO initialization:
   * lbl_0(v) = min(v ∪ N(v)) comes straight off the edge list as one
   * aggregation (no join), so the loop starts a full propagation round
   * ahead — for the dominant near-dup shape (cliques) lbl_0 already IS
   * the component min and the loop runs exactly one confirming round.
   * `prev` stays persisted while `labels` lazily selects over it — one
   * count() per round both materializes the new generation and yields the
   * convergence test; no second action, no recompute window.
   *
   * Generations are LAZILY localCheckpoint'd, not persist'd (r17): persist
   * caches DATA but the logical plan still nests every prior round's plan
   * (~4x per round), so a 6-round run — q128's modality chains, vs q60's
   * 1-2 clique rounds — spent more time in driver-side analysis each round
   * and OOM'd the driver before converging. LogicalRDD truncation is the
   * same medicine [[connectedComponentsStarWithRounds]] takes; the old
   * generation's checkpoint BLOCKS are freed explicitly through the
   * [[checkpointRdd]] handle (a lazily-checkpointed frame has no cache
   * entry for Dataset.unpersist to find).
   *
   * Returns (labels, lastGeneration): `labels` selects over the final
   * generation's checkpoint; the CALLER must materialize its own copy
   * (OpCache pin or localCheckpoint) and then release `lastGeneration` via
   * [[releaseCheckpoint]]. Rounds = component diameter — the scale-right
   * loop when diameters are structurally bounded (near-dup cliques; q128's
   * modality chains are capped by the fixed mod-50 twin classes), vs
   * [[connectedComponentsStar]]'s heavier O(log^2 n) rewiring for
   * adversarial long chains. */
  private def propagateMinLabels(edges: DataFrame): (DataFrame, DataFrame) = {
    var prev = edges.groupBy(col("s"))
      .agg(min(col("t")).as("nmin"))
      .select(col("s").as("doc_id"), least(col("s"), col("nmin")).as("lbl"))
      .withColumn("lbl2", col("lbl"))
      .localCheckpoint(false) // lazy: the first round's count materializes it
    var labels = prev.select(col("doc_id"), col("lbl"))
    var changed = 1L
    while (changed > 0) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("t"), col("lbl").as("tlbl")), "t")
        .groupBy(col("s").as("doc_id"))
        .agg(min("tlbl").as("nlbl"))
      val next = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lbl"), least(col("lbl"), col("nlbl")).as("lbl2"))
        .localCheckpoint(false)
      changed = next.filter(col("lbl2") < col("lbl")).count()
      releaseCheckpoint(prev) // next is materialized; the old generation can go
      prev = next
      labels = next.select(col("doc_id"), col("lbl2").as("lbl"))
    }
    (labels, prev)
  }

  /** The RDD backing a localCheckpoint'd frame — its logical plan is a
   * single [[org.apache.spark.sql.execution.LogicalRDD]] leaf holding the
   * checkpointed RDD. */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Free a checkpointed generation's storage blocks (non-blocking). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(false))

  private def computeClusterLabels(spark: SparkSession, dir: String): DataFrame = {
    // Bidirectional edge list in ONE read of the pair pipeline (explode, not
    // a self-union — a union's two branches would each recompute the full
    // MinHash lineage unless it was materialized first, which used to cost a
    // dedicated count() action here). Unsorted core: the component join
    // neither needs nor keeps the pair list's presentation order.
    val edges = minhashPairs(spark, dir)
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("t")),
        struct(col("b").as("s"), col("a").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      // hash-partitioned on the loop's join key (see propagateMinLabels)
      .repartition(col("t"))
      .persist()
    val (labels, lastGen) = propagateMinLabels(edges)
    // Persist the FINAL label table (clusterLabelTable's OpCache entry owns
    // its release) and materialize it while the loop's last generation is
    // still cached (one O(nodes) copy action), then free the loop's own
    // storage, which no registry entry tracks.
    val pinned = labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    releaseCheckpoint(lastGen)
    edges.unpersist()
    pinned
  }

  /**
   * Connected components by alternating large-star / small-star rounds
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14) — the adversarial-diameter alternative to
   * [[dedupClusters]]' min-label propagation. Each round rewires the edge
   * list itself: large-star hooks every neighbor LARGER than a node onto
   * the minimum of its neighborhood, small-star does the same for the
   * smaller side. Convergence is O(log^2 n) rounds on ANY graph (vs
   * O(diameter) for propagation), with the same join shape per round —
   * that is the whole trade: more rewiring per round, exponentially fewer
   * rounds on long chains.
   *
   * Returns (node, component-min) pairs for every non-isolated node of
   * `edges` — the same contract the propagation loop's label table has.
   */
  def connectedComponentsStar(edges: DataFrame): DataFrame =
    connectedComponentsStarWithRounds(edges)._1

  /** [[connectedComponentsStar]] plus the number of large-star/small-star
   * rounds the fixpoint took — the O(log^2 n) claim made measurable. A
   * SparkListener job count CANNOT stand in for this: under AQE one action
   * spawns a job per materialized exchange stage, so jobs/round is a plan
   * property (5-8 here), not 1. */
  def connectedComponentsStarWithRounds(edges: DataFrame): (DataFrame, Int) = {
    // adjacency both ways once up front; loop state is the DIRECTED edge
    // list (u -> v, u > v invariant restored by small-star).
    // localCheckpoint (NOT persist) each generation: every round embeds the
    // previous plan ~4x (two self-unions + joins), so WITHOUT lineage
    // truncation the logical plan grows 4^rounds and the DRIVER dies on
    // plan analysis long before any executor breaks a sweat — the classic
    // iterative-DataFrame failure mode.
    var e = edges.toDF("s", "t")
      .union(edges.toDF("t", "s").select(col("s"), col("t")))
      .filter(col("s") =!= col("t"))
      .select(greatest(col("s"), col("t")).as("u"), least(col("s"), col("t")).as("v"))
      .distinct()
      .localCheckpoint(false) // lazy: the sig() action below materializes it
    // ONE action per round: the (count, order-independent checksum) signature
    // is computed by the same job that materializes the lazily-checkpointed
    // generation. XOR-folded xxhash64 is commutative/associative (order- and
    // partitioning-independent), never overflows (a SUM would trip ANSI
    // long-overflow), and two equal-size distinct edge sets collide with
    // probability ~2^-64 — the production-scale fixpoint test (an exact
    // exceptAll comparison would cost two extra joins per round).
    def sig(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var eSig = sig(e)
    var stable = false
    var rounds = 0
    while (!stable) {
      rounds += 1
      // large-star: for each u, m = min(neighbors ∪ self); hook every
      // STRICTLY LARGER neighbor onto m
      val adj = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy("u").agg(least(min("v"), first("u")).as("m"))
      val large = adj.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: for each u, m = min(smaller-neighbors ∪ self); hook the
      // smaller neighbors (and u itself) onto m
      val smallAdj = large // large-star output already has u > v
      val smins = smallAdj.groupBy("u").agg(min("v").as("m"))
      val next = smallAdj.join(smins, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u").as("u"), col("m").as("v"))
        )).as("p"))
        .select(col("p.u"), col("p.v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // fixpoint when the directed edge set stops changing, tested by
      // signature equality — one job materializes next AND yields the test
      val nextSig = sig(next)
      stable = nextSig == eSig
      eSig = nextSig
      e = next
    }
    // after convergence every edge points at its component min
    (e.select(col("u").as("doc_id"), col("v").as("lbl")), rounds)
  }

  /**
   * Edit-distance (Levenshtein) near-duplicate pairs: docs in the same
   * language whose lengths differ by <= 30 chars and whose edit distance is
   * <= 5% of the longer text. The 5% budget is what makes the q-gram count
   * filter effective: pruning a pair needs L1(gram profiles) > 2q*t, and
   * same-vocabulary corpora share ~half their grams (L1 ~ maxlen), so the
   * budget t must stay under maxlen/(2q) = 12.5% — a generous budget would
   * send every candidate pair to the O(len^2) DP.
   *
   * Blocking: |len(a)-len(b)| <= 30 implies the two length buckets
   * (floor(len/30)) differ by at most one, so each doc enters buckets b and
   * b+1 and every qualifying pair meets in at least one shared bucket — an
   * equi-join Spark shuffles on (lang, bucket), never a cross product. The
   * O(len^2) distance computation runs only on candidates.
   *
   * Scoped to ASCII-only texts (octet_length = char length): the threshold
   * is also checked in integer math (20*lev <= maxlen). Both choices are
   * for oracle parity — DuckDB's levenshtein counts bytes while Spark's
   * counts codepoints (they agree exactly on ASCII), and DuckDB evaluates
   * 0.15*len in DECIMAL while Spark uses DOUBLE (integer cross-multiplying
   * is exact in both).
   */
  def levenshteinDedup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    graft.functions.NgramHashHistogram.register(spark)
    val docs = t(spark, dir, "documents")
      .filter(octet_length(col("text")) === length(col("text"))) // ASCII-only
      .select(
        col("doc_id"), col("lang"), col("text"), length(col("text")).as("len"),
        // per-doc hashed 4-gram profile, computed ONCE before the pair join:
        // one edit touches at most 4 grams per side, so lev >= l1_dist/8 — the
        // q-gram count filter that spares candidates the O(len^2) distance.
        // (A char histogram is useless here: same-vocabulary docs share their
        // letter distribution, so its L1 prunes almost nothing.)
        expr("ngram_hist(text, 4, 256)").as("hist")
      )
    val banded = docs.withColumn(
      "bucket",
      explode(array((col("len") / 30).cast("long"), (col("len") / 30).cast("long") + 1))
    )
    // One filter, conjuncts ordered cheap -> expensive: Catalyst merges
    // post-join filters into the BroadcastHashJoin's condition preserving
    // conjunct order, and codegen ANDs short-circuit left-to-right — so
    // doc_id</len-diff (1 op) must lead the O(256) histogram prune, which
    // must lead the O(len^2) distance. Separate .filter() calls merge in
    // child-last order and would run the expensive conjuncts FIRST.
    banded.as("a").join(
      banded.as("b"),
      col("a.lang") === col("b.lang") && col("a.bucket") === col("b.bucket")
    )
      .filter(
        col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.len") - col("b.len")) <= 30 &&
          // lev >= |len diff|: pass needs 20*lev <= maxlen, so a length gap
          // over the threshold rejects in one subtraction
          abs(col("a.len") - col("b.len")) * 20 <= greatest(col("a.len"), col("b.len")) &&
          // canonical-bucket pick: a pair sharing two buckets would otherwise
          // be emitted (and its distance computed) twice; floor(maxlen/30)
          // names exactly one shared bucket, so this replaces a distinct()
          col("a.bucket") === (greatest(col("a.len"), col("b.len")) / 30).cast("long") &&
          // q-gram count filter: lev >= l1/8 (4-gram profiles, see
          // NgramHashHistogram), so 5*l1 > 2*maxlen cannot pass — drop
          // before the DP
          expr("l1_dist(a.hist, b.hist)") * 5 <= greatest(col("a.len"), col("b.len")) * 2
      )
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.text").as("ta"), col("b.text").as("tb"),
        greatest(col("a.len"), col("b.len")).as("maxlen")
      )
      // banded Levenshtein: threshold floor(maxlen/20) makes the DP
      // O(len * maxlen*0.05) instead of O(len^2); returns -1 above threshold,
      // which is exactly the reject condition (20*lev <= maxlen)
      .select(
        col("doc_a"), col("doc_b"),
        expr("levenshtein(ta, tb, cast(maxlen div 20 as int))").cast("bigint").as("lev")
      )
      .filter(col("lev") >= 0)
      .orderBy("doc_a", "doc_b")
  }

  /**
   * Exact substring-duplication profiling (Lee et al., "Deduplicating
   * Training Data Makes Language Models Better", ACL 2022 — the ExactSubstr
   * criterion): a span is duplicated if the same CHARACTER k-gram (k=20,
   * stride 1, the paper's granularity scaled to fixture length) occurs in
   * more than one document. Where the paper builds a monolithic suffix
   * array, the distributed formulation inverts it: explode every position's
   * k-gram, count gram→document incidence, and charge each doc the fraction
   * of its distinct grams that are corpus-duplicated (ppm, exact integer) —
   * the per-doc signal an ExactSubstr-style trimming pass consumes.
   *
   * Scale shape: per-doc gram extraction, hashing, and DISTINCTing all
   * happen inside the row via the `gram_hash20` codegen kernel
   * ([[graft.functions.Md5GramHash]] — one ThreadLocal-MD5 loop per
   * document, no gram relation ever materializes as strings); the gram
   * incidence count is one partial-aggregated shuffle keyed on the 60-bit
   * gram hash (8-BYTE LONG keys, combiner-reduced — ~60% less wire payload
   * than shuffling the raw 20-char grams), and only (doc_id, count) pairs
   * flow after that. The per-doc denominator is `size()` of the kernel
   * output — map-side, no shuffle at all. Nothing is ever all-pairs; memory
   * per task is bounded by the gram-partition size, which AQE splits on
   * skew. The hash is engine-portable (top 15 hex digits of md5), so the
   * oracle reproduces every count — including any collision — exactly.
   */
  def substringDup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val arr = t(spark, dir, "documents")
      .filter(length(col("text")) >= 20)
      .select(col("doc_id"), expr("gram_hash20(text)").as("hs"))
    val g = arr.select(col("doc_id"), explode(col("hs")).as("g"))
    val dup = g.groupBy("g").agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
    val perDoc = arr.select(col("doc_id"), size(col("hs")).cast("long").as("n_grams"))
    val hit = g.join(dup.select("g"), "g").groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    perDoc.join(hit, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup"))
      .select(
        col("doc_id"), col("n_grams"), col("n_dup"),
        expr("n_dup * 1000000 div n_grams").as("dup_ppm"))
      .orderBy("doc_id")
  }

  /**
   * Canonical selection by QUALITY (r15) — the decision step after
   * clustering in a production dedup pipeline: each near-dup cluster keeps
   * its highest-quality member (CCNet/RefinedWeb-style "best copy wins"),
   * not q60's arbitrary least-id representative. Fifth consumer of the
   * shared per-(session, corpus) label table; quality is
   * [[TextOps.qualityScore]]'s integer-quantized gate score, tie-broken by
   * doc_id so the pick is a total order both engines reproduce.
   *
   * Scale shape: labels are O(paired docs) and quality O(corpus) — both
   * potentially corpus-sized, so the doc_id equi-join is a co-keyed
   * shuffle (SMJ is the scale-correct shape; a forced broadcast would be
   * the bug, same stance as q114's label join), then ONE aggregate on
   * cluster whose argmax rides a struct max (map-side partial — no window
   * over the corpus, no second shuffle beyond the group-by).
   */
  def canonicalByQuality(spark: SparkSession, dir: String): DataFrame = {
    // r17: consume the unsorted label table (dedupClusters' orderBy feeds a
    // groupBy here) and compute quality AFTER the member join — the same
    // member-only-scoring move as [[crossModalDedup]]'s election; per-doc
    // values identical.
    val labels = clusterLabelTable(spark, dir)
      .select(col("doc_id"), col("lbl").as("cluster"))
    val quality = TextOps.withQualityGateCols(
        labels.join(t(spark, dir, "documents").select("doc_id", "text"), "doc_id"))
      .select("doc_id", "cluster", "quality_score_k")
    quality
      .groupBy("cluster")
      .agg(
        // max over (quality, -doc_id, doc_id): highest quality, then LOWEST
        // doc_id (the negated field inverts the tie-break inside one max)
        max(struct(col("quality_score_k"), (-col("doc_id")).as("neg"), col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(
        col("cluster"),
        col("best.doc_id").as("canonical_doc_id"),
        col("best.quality_score_k").as("canonical_quality_k"),
        col("n_members"))
      .orderBy("cluster")
  }

  /**
   * Cross-modal duplicate clustering + canonical election (q128, VERDICT
   * r16 next #2) — the composition a production pipeline actually ships:
   * a document is a duplicate if it matches in ANY modality, so the four
   * per-modality pair graphs (text q60, image q125, audio q126, video
   * q127) union into ONE edge set, connected components run over the
   * union, and each component keeps its highest-quality member (q120's
   * best-copy-wins election). Output is the KEPT CORPUS: every surviving
   * doc with its cluster and how many duplicates it displaced.
   *
   * The text leg rides the shared per-(session, corpus) LABEL table, not
   * a re-run of the MinHash pipeline: label edges (doc -> component-min)
   * are a star per component, so their connectivity equals the original
   * pair graph's — the sixth consumer of [[clusterLabelTable]]. Components
   * over the union via [[propagateMinLabels]]: cross-modal unions CHAIN
   * clusters (image twin 101 of 100 may be the audio twin base of 102),
   * but the chain length is structurally capped by the fixed twin classes
   * — a modality edge always joins adjacent ids, so union diameters stay
   * single-digit and the propagation loop (one join + aggregate per round,
   * rounds = diameter) beats [[connectedComponentsStar]]'s 6-op rewiring
   * rounds (measured 4.1 s -> ~1.5 s for the CC stage at sf0.1; star
   * remains the right tool for ADVERSARIAL long chains).
   *
   * Scale shape: each modality's edge list is already banded/capped (never
   * all-pairs); the union is edge-count-sized; the election is q120's one
   * struct-max aggregate after a co-keyed doc_id join; the kept-corpus
   * anti-join is corpus-sized on the join key only. Nothing in the plan
   * holds more than O(edges + corpus keys).
   */
  def crossModalDedup(spark: SparkSession, dir: String): DataFrame = {
    // r18 (guide §2.6 "overlap independent jobs"): the text-leg label build
    // (the q60 MinHash lineage + propagation loop, eager inside
    // clusterLabelTable) and the modal edge build (three decode kernels +
    // LSH tails) are INDEPENDENT jobs that previously ran back-to-back —
    // the label build's narrow tail stages left most cores idle while the
    // decode-bound edge legs waited. The modal pair list is materialized
    // under its own action on a driver side thread while this thread runs
    // the label build; the scheduler backfills each job's stragglers with
    // the other's tasks. Results are unchanged (same two edge sets, same
    // union); the modal persist is released once the loop's edge table is
    // materialized. Measured min-of-3 at sf0.1: q128 4.46 -> 4.08 s (a
    // finer split — one action PER modal leg on a 2-thread pool — measured
    // WORSE, 4.97 s: three concurrent 32-task jobs oversubscribe the cores,
    // while the single modal action already overlaps its independent union
    // branches as AQE stage futures).
    val modalEdges = MultimodalOps.crossModalPairEdges(spark, dir).persist()
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "q128-modal-edges"); t.setDaemon(true); t
    })
    val modalCount = exec.submit(new java.util.concurrent.Callable[Long] {
      override def call(): Long = modalEdges.count()
    })
    val textEdges =
      try clusterLabelTable(spark, dir)
        .filter(col("doc_id") =!= col("lbl"))
        .select(col("doc_id").as("a"), col("lbl").as("b"))
      finally exec.shutdown()
    modalCount.get() // surface a modal-leg failure before the loop runs
    // r17: the UNSORTED pair cores — the q125/q126/q127 outputs carry a
    // presentation orderBy that the edge union's persist boundary would
    // otherwise execute as three range exchanges feeding a groupBy that
    // ignores order (plan: 3 fewer Exchange + Sort pairs, same edges);
    // image + audio additionally FUSED through one LSH tail
    // ([[MultimodalOps.crossModalPairEdges]]: same edge set, one bucket-cap
    // window + one self-join instead of two of each)
    val pairs = textEdges
      .unionByName(modalEdges)
    // persisted hash-partitioned on t — the loop's join key (see
    // propagateMinLabels); the one-time repartition replaces a re-shuffle
    // of the edge list in EVERY propagation round
    val edges = pairs
      .select(explode(array(
        struct(col("a").as("s"), col("b").as("t")),
        struct(col("b").as("s"), col("a").as("t")))).as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"))
      .repartition(col("t"))
      .persist()
    val (labels0, lastGen) = propagateMinLabels(edges)
    // materialize the labels (they feed BOTH the election join and the
    // loner anti-join) and release the loop's generations
    val labels = labels0.select(col("doc_id"), col("lbl").as("cluster")).localCheckpoint()
    releaseCheckpoint(lastGen)
    edges.unpersist()
    modalEdges.unpersist()
    // r17: quality computed AFTER the member join, not corpus-wide — the
    // score is row-local, members are the pair-graph's nodes (a small
    // fraction of the corpus), and the old shape paid punct_count over
    // every document's full text just to discard the non-members at the
    // join. Values are identical per doc (same formula, same inputs).
    val quality = TextOps.withQualityGateCols(
        labels.join(t(spark, dir, "documents").select("doc_id", "text"), "doc_id"))
      .select("doc_id", "cluster", "quality_score_k")
    val winners = quality
      .groupBy("cluster")
      .agg(
        max(struct(col("quality_score_k"), (-col("doc_id")).as("neg"), col("doc_id"))).as("best"),
        count(lit(1)).as("n_members"))
      .select(
        col("best.doc_id").as("doc_id"),
        col("cluster"),
        (col("n_members") - 1).cast("bigint").as("n_removed"))
    // star labels cover component MEMBERS only (every non-min node plus
    // the min via its own edges); docs untouched by any modality keep
    // themselves — cluster = self, nothing displaced
    val loners = Tables.t(spark, dir, "documents")
      .select("doc_id")
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster"), lit(0L).as("n_removed"))
    winners.unionByName(loners).orderBy("doc_id")
  }

  /**
   * CCNet-style paragraph-level dedup (Wenzek et al. 2020, "CCNet:
   * Extracting High Quality Monolingual Datasets from Web Crawl Data") —
   * sub-document dedup: instead of dropping whole documents, every
   * repeated PARAGRAPH is dropped except its first occurrence, and each
   * document is reassembled from its surviving paragraphs. The corpus here
   * is single-line text, so "paragraph" is a fixed window of
   * `chunkTokens` whitespace tokens (the same fixed-window stance as
   * q76's chunk_split); the dedup key is the 64-bit md5 prefix of the
   * chunk text (engine-portable, the house hash convention). First
   * occurrence = minimum (doc_id, chunk_idx), a total order both engines
   * reproduce.
   *
   * Scale shape — the text column NEVER enters a shuffle: the keep/drop
   * decision runs on a narrow (doc_id, idx, hash) projection derived
   * map-side (~24 B/chunk on the wire); the decision is one
   * groupBy(hash) keeping only hashes with >= 2 occurrences (the winner
   * table is duplication-sized, not corpus-sized), one hash-keyed join
   * back of those narrow rows (exchange-reused from the groupBy), and one
   * doc_id groupBy of dropped indexes (drop-sized). The rebuild re-derives
   * chunks map-side from the original text with a left join against the
   * small drop table — at 100 TB the shuffled bytes are proportional to
   * chunk COUNT and duplicate volume, never to text volume.
   */
  def paragraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedup(t(spark, dir, "documents"))

  /** Payload-facing core of [[paragraphDedup]]: runs on any frame with
   * (doc_id, text) — the library surface a user points at their own
   * corpus. */
  def paragraphDedup(docs: DataFrame, chunkTokens: Int = 16): DataFrame = {
    val k = chunkTokens
    // narrow per-chunk occurrence table: (doc_id, idx, 64-bit hash);
    // chunking + hashing are one map-side projection over the split array
    val occ = docs
      .select(col("doc_id"), split(col("text"), " ").as("arr"))
      .select(
        col("doc_id"),
        expr(
          s"""explode(transform(sequence(0, cast(ceil(size(arr) / $k.0) as int) - 1),
             |  i -> named_struct(
             |    'idx', cast(i as bigint),
             |    'h', substring(md5(array_join(slice(arr, i * $k + 1, $k), ' ')), 1, 16))))""".stripMargin
            .replace("\n", " ")).as("c"))
      .select(col("doc_id"), col("c.idx").as("idx"), col("c.h").as("h"))
    // hashes seen >= 2 times, each with its first occurrence — min over a
    // struct is the argmin, partial-aggregated map-side before the shuffle
    val winners = occ.groupBy("h")
      .agg(min(struct(col("doc_id"), col("idx"))).as("w"), count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .select("h", "w")
    // every non-first occurrence of a repeated hash, folded per doc
    val drops = occ.join(winners, "h")
      .filter(struct(col("doc_id"), col("idx")) =!= col("w"))
      .groupBy("doc_id")
      .agg(collect_set(col("idx")).as("drop_idx"))
    // rebuild map-side: re-chunk the original text, skip dropped indexes
    docs
      .join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), split(col("text"), " ").as("arr"), col("drop_idx"))
      .selectExpr(
        "doc_id",
        s"cast(ceil(size(arr) / $k.0) as bigint) as n_chunks",
        "cast(coalesce(size(drop_idx), 0) as bigint) as n_dropped",
        s"""md5(array_join(transform(
           |  filter(sequence(0, cast(ceil(size(arr) / $k.0) as int) - 1),
           |    i -> drop_idx is null or not array_contains(drop_idx, cast(i as bigint))),
           |  i -> array_join(slice(arr, i * $k + 1, $k), ' ')), ' ')) as new_hash"""
          .stripMargin.replace("\n", " "))
      .orderBy("doc_id")
  }
}
