package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for a training-data pipeline (BASELINE.json
 * extension surface): token counting, quality scoring, fingerprinting,
 * language ID. All pure `functions._`/`expr` (codegen'd, no UDFs), so they
 * stay inside whole-stage codegen and scale linearly with document count —
 * no shuffle except the final presentation ORDER BY.
 */
object TextOps {
  import Tables.t

  /** Bounded persist lifecycle for the one-corpus-pass operators (ADVICE
   * r8) — see [[OpCache.persistBounded]], shared with DedupOps. */
  private def persistBounded(slot: String, df: DataFrame): DataFrame =
    OpCache.persistBounded(slot, df)

  /**
   * THE shared tokenized-corpus relation: per-doc term multiplicities
   * `(doc_id, lang, tok, m)`, persisted once per (session, corpus dir) and
   * consumed by BOTH [[tfidfTopTerms]] and [[unigramSurprisal]] (VERDICT r10
   * #5 — they previously each persisted a structurally identical table under
   * separate slots, so composing the two in one session tokenized the corpus
   * twice). `lang` rides along because it is functionally dependent on
   * `doc_id`: rows of (doc_id, lang, tok, m) are 1:1 with (doc_id, tok, m),
   * so the unigram consumer just projects it away — same multiplicities,
   * zero extra corpus passes. Identical logical plans also mean Spark's
   * CacheManager (which keys by plan) serves the second operator's scan from
   * the first's cache even mid-flight.
   *
   * [[bigramSurprisal]] deliberately does NOT derive from this relation: a
   * multiplicity table has no token ADJACENCY, and persisting raw token
   * arrays instead (which would serve both) is a strictly larger cache than
   * the two aggregates it would replace.
   */
  private[operators] def docTermTable(spark: SparkSession, dir: String): DataFrame =
    persistBounded("doctok", t(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("m")))

  /** Shared stopword lists (tiny, inlined into the plan as literals). */
  val StopEn = Seq("the", "a", "of", "and", "to", "in")
  val StopDe = Seq("der", "die", "das", "und", "nicht")
  val StopEs = Seq("el", "la", "de", "y", "que")
  val StopFr = Seq("le", "la", "de", "et", "les")
  val StopZh = Seq("的", "是", "在")

  private def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString("(", ",", ")")

  /** Token counting: whitespace tokens + a BPE-ish regex segmentation. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").selectExpr(
      "doc_id",
      "cast(size(split(text, ' ')) as bigint) as n_tokens",
      "cast(regexp_count(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') as bigint) as n_bpe_pieces",
      "round(cast(length(replace(text, ' ', '')) as double) / size(split(text, ' ')), 4) as avg_token_len"
    ).orderBy("doc_id")

  /** Quality scoring: length, punctuation ratio, stopword ratio, composite. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    withQualityGateCols(t(spark, dir, "documents"))
      .selectExpr(
        "doc_id",
        "n_tokens",
        "round(punct_r, 4) as punct_ratio",
        "round(stop_r, 4) as stopword_ratio",
        "quality_score_k"
      ).orderBy("doc_id")

  /** The quality formula as ADDED COLUMNS on any (doc_id, text) frame — the
   * single source of truth shared by [[qualityScore]] and the streaming
   * curation gate ([[graft.streaming.StreamingOps.streamCuration]]), so the
   * stream's admit decision can never drift from the batch score. Caller
   * must have registered `punct_count` (VectorFunctions). Adds toks /
   * punct_r / stop_r / n_tokens / quality_score_k. */
  private[graft] def withQualityGateCols(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", expr("split(text, ' ')"))
      // punct_count == regexp_count(text, '[^A-Za-z0-9 ]') exactly
      // (property-pinned), but as one codegen byte scan instead of Spark's
      // match-materializing regexp_extract_all rewrite — the regex was 97%
      // of this formula's wall at 500k docs (prof_quality, BENCH_NOTES r12)
      .withColumn("punct_r", expr("cast(punct_count(text) as double) / length(text)"))
      .withColumn(
        "stop_r",
        expr(s"cast(size(filter(toks, x -> x in ${inList(StopEn)})) as double) / size(toks)")
      )
      .withColumn("n_tokens", expr("cast(size(toks) as bigint)"))
      // composite score quantized to an INTEGER 0..1000: engines may differ
      // by 1 ulp on the triple product (FMA contraction), so a float output
      // rounded at 4 digits can flip a hash at a .00005 boundary; a coarse
      // integer bucket makes that 10x less likely and hashes exactly.
      .withColumn(
        "quality_score_k",
        expr("cast(round(least(1.0, length(text) / 500.0) * (1.0 - punct_r) * (0.5 + 0.5 * stop_r) * 1000.0, 0) as bigint)"))

  /** Document fingerprinting: md5 of normalized text (same hex in DuckDB). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").selectExpr(
      "doc_id",
      "md5(lower(text)) as fp",
      "substr(md5(lower(text)), 1, 8) as fp_prefix"
    ).orderBy("doc_id")

  /**
   * Repetition / boilerplate detection (Gopher-style repetition filters):
   * per-doc duplicate-token fraction and most-common-token fraction. Shape:
   * explode -> two partial-aggregating groupBys on (doc_id, tok) then
   * (doc_id) — both shuffles key on doc_id prefixes, and AQE coalesces the
   * second (tiny) one. Fractions are emitted as exact integer permille
   * (`div`), never floats, so the oracle hashes bit-identically.
   */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_c")
      )
      .selectExpr(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "(n_tokens - n_distinct) * 1000 div n_tokens as dup_frac_mille",
        "top_c * 1000 div n_tokens as top_frac_mille"
      )
      .orderBy("doc_id")

  /**
   * Gopher-style n-gram repetition filters (Rae et al. 2021, Table A1,
   * generalizing [[repetition]]'s unigram profile to n = 2, 3, 4): per
   * (doc, n), the duplicate-n-gram fraction (occurrences whose gram appears
   * more than once) and the top-n-gram token fraction (tokens covered by
   * the single most frequent n-gram — `top_c * n / n_tokens`). Boilerplate
   * and template-stamped documents light up on the LONGER n before the
   * unigram profile moves; pipelines gate on thresholds per n. Note
   * `top_frac_mille` counts gram occurrences times n, so a top gram that
   * OVERLAPS itself ("a a a" at n=2) scores above 1000 — it is a repetition
   * score, monotone in coverage, not a capped fraction (spec-pinned).
   *
   * Shape: all three gram lengths materialize in ONE map-side generator
   * pass (an indexed `transform` per n, concatenated — no self-joins, no
   * second corpus scan), then the same two partial-aggregating doc-keyed
   * shuffles as [[repetition]]. Fractions are exact integer permille
   * (`div`) so the oracle hashes bit-identically; `max(c)` needs no
   * tie-break (the maximum count is unique even when the argmax gram
   * isn't). At 100 TB: grams never leave their doc's task until the
   * (doc_id, n, gram)-keyed partial agg, so shuffle volume is bounded by
   * per-doc DISTINCT grams, not occurrences.
   */
  def ngramRepetition(spark: SparkSession, dir: String, ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), s"ngram lengths must be >= 2, got $ns")
    val gen = ns.map { n =>
      s"""if(size(toks) >= $n,
         |  transform(slice(toks, 1, size(toks) - ${n - 1}),
         |    (x, i) -> named_struct('n', $n, 'g', concat_ws(' ', slice(toks, i + 1, $n)))),
         |  array())""".stripMargin
    }.mkString("concat(", ", ", ")")
    val grams = t(spark, dir, "documents")
      .withColumn("toks", expr("split(text, ' ')"))
      .select(col("doc_id"), expr("size(toks)").as("n_toks"), explode(expr(gen)).as("b"))
      .select(col("doc_id"), col("n_toks"), col("b.n").as("n"), col("b.g").as("g"))
    grams
      .groupBy("doc_id", "n_toks", "n", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_toks", "n")
      .agg(sum("c").as("n_grams"), count(lit(1)).as("n_distinct"), max("c").as("top_c"))
      .selectExpr(
        "doc_id", "n", "n_grams",
        "(n_grams - n_distinct) * 1000 div n_grams as dup_frac_mille",
        "top_c * n * 1000 div n_toks as top_frac_mille")
      .orderBy("doc_id", "n")
  }

  /**
   * TF-IDF-style top terms per language: corpus term frequency joined with
   * document frequency, scored `tf * (N*1e6 div df)` — integer rarity
   * weighting instead of `ln(N/df)` so both engines agree exactly (libm logs
   * may differ in the last ulp and a float score near a rank boundary would
   * flip the top-k). tf and df both derive from one exploded token relation
   * shuffled on `tok`, so the join is co-partitioned — one token-keyed
   * shuffle total, then a tiny per-lang window for the top-10.
   *
   * The corpus size N rides INSIDE the plan as a 1-row aggregate cross-joined
   * onto the scores (broadcast, no shuffle) — never a separate `count()`
   * action, which at 100 TB would be a second full pass over the corpus just
   * to fetch a scalar. Every NON-NULL text has >= 1 token (split('') yields
   * ['']) while a NULL text contributes no tokens at all, so
   * `count(text)` — which skips NULLs, exactly like the exploded relation
   * does — equals the tokenized distinct-doc count without touching it.
   */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // One tokenize pass (see the persist note in [[bigramSurprisal]]): both
    // count tables derive from the persisted per-doc term multiplicities —
    // the [[docTermTable]] relation SHARED with unigramSurprisal.
    // tf = sum of m over docs; df = row count per tok, which equals
    // countDistinct(doc_id) because (doc_id, tok) is unique in docTok and
    // lang is functionally dependent on doc_id. nDocs stays a separate scan:
    // it reads zero text bytes (count-only, column-pruned).
    val docTok = docTermTable(spark, dir)
    val nDocs = t(spark, dir, "documents").agg(count(col("text")).as("nd"))
    val tf = docTok.groupBy("lang", "tok").agg(sum("m").as("tf"))
    val df = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("lang").orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(nDocs)
      .withColumn("score", expr("tf * (nd * 1000000 div df)"))
      .withColumn("rnk", row_number().over(w).cast("int"))
      .filter(col("rnk") <= k)
      .select(col("lang"), col("rnk"), col("tok"), col("tf"), col("df"), col("score"))
      .orderBy("lang", "rnk")
  }

  /** The fixed retrieval query [[bm25TopK]] ranks against: five
   * mid-frequency corpus terms (mixed df so the idf factor differentiates). */
  val Bm25Query = Seq("join", "vector", "window", "slow", "spark")

  /**
   * BM25 relevance ranking (Robertson et al., Okapi at TREC-3, 1994) of the
   * corpus against a fixed query — THE lexical-retrieval baseline next to
   * the dense ANN family (q27/q75), with k1 = 1.2, b = 0.75 and the
   * ODDS-RATIO idf (the Robertson–Spärck Jones odds WITHOUT the log): every
   * factor is then a ratio of exact integers, so one ppm quantization per
   * (doc, term) makes the score bit-identical across engines — the same
   * scaled-integer discipline q53/q83 use instead of `ln`. Per term the
   * odds idf is a monotone transform of the log idf (same ranking
   * direction); cross-term weighting differs from the log form and is
   * pinned as this operator's documented scoring law.
   *
   * The law quantizes PER STAGE so every intermediate stays far inside
   * Long at ANY realistic corpus size (the single-expression form
   * 44·tf·T·10⁶·(2N−2df+1) overflowed at a mere 30x replica corpus —
   * caught by the r12 scale probe under Spark 4's default ANSI mode):
   *
   *   avgdl      = T div N                         (corpus tokens / docs)
   *   r_ppm      = dl·10⁶ div avgdl                (doc length vs mean; ≤10¹² for a 1M-token doc)
   *   tf'        = min(tf, 10⁵)                    (tf saturation made explicit: tfnorm is
   *                within 11 ppm of its k1+1 asymptote by tf = 10⁵, so the clamp changes
   *                nothing a ranking can see while bounding the numerator below — a term
   *                repeated 10⁵+ times in one doc is the spam case BM25 saturates by design)
   *   den_ppm    = 2·10⁷·tf' + 6·10⁶ + 18·r_ppm    (20·tf + 6 + 18·dl/avgdl, ppm-scaled)
   *   tfnorm_ppm = 44·10⁶·tf'·10⁶ div den_ppm      (≤ 2.2·10⁶ always; k1=6/5, b=3/4 cleared;
   *                numerator ≤ 4.4·10¹⁸ < Long.Max BECAUSE of the clamp — unclamped, a
   *                209,716-occurrence term overflowed)
   *   idf_ppm    = min((2N−2df+1)·10⁶ div (2df+1), 10¹²)  (odds idf, saturated —
   *                an ultra-rare term's influence caps, the role the log plays in classic BM25)
   *   contrib    = tfnorm_ppm·idf_ppm div 10⁶      (≤ 2.2·10¹²; ×|query| terms per doc)
   *
   * where dl = doc token count, T = corpus token count, N = doc count.
   * Each `div` is deterministic integer division on both engines, so
   * cross-engine exactness holds by construction; magnitude bounds hold to
   * ~10¹² docs / ~10¹⁸ tokens. Measured linear 1x→100x (BENCH_NOTES r12).
   *
   * Shape (r17): two map-side scans of `documents` — a 1-row stats
   * aggregate (T, N, per-term df) that broadcasts, and a scoring pass that
   * derives (m, dl) per doc from the token array in place (see
   * [[bm25Scores]]) — then one partial-aggregated doc_id groupBy; the
   * top-k is TakeOrderedAndProject — never a global sort.
   */
  def bm25TopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    bm25Scores(spark, dir)
      .orderBy(col("score_ppm").desc, col("doc_id"))
      .limit(k)

  /** The full BM25 score relation behind [[bm25TopK]] — one row per doc
   * hitting >= 1 query term, UNBOUNDED (no top-k): the input a corpus-scale
   * fusion ([[rrfFusionCorpus]]) ranks in full. Same exact-integer ppm
   * arithmetic.
   *
   * r17 shape (was: the [[docTermTable]] tokenize-and-shuffle): a 5-term
   * query never needs the corpus term MULTISET — per-doc term frequencies
   * are `size(filter(toks, x -> x = term))`, a map-side array scan, and the
   * doc length is `size(toks)`. So the plan is now two scans of `documents`
   * and ONE corpus-wide exchange instead of four: (1) a single partial
   * aggregate computes the 1-row stats vector (t_tot, n_docs, df per query
   * term — df as `sum(m > 0)`); (2) the scoring pass derives (m, dl)
   * map-side, drops no-hit docs, cross-joins the broadcast 1-row stats and
   * partial-aggregates contribs per doc_id. At 100 TB the old shape
   * shuffled and cached the full exploded token table to score 5 terms;
   * this one moves only the ≤|query|-rows-per-doc contrib table. The
   * integer law and every emitted value are unchanged (same m, dl, df,
   * t_tot, n_docs feeding the same ppm expression — oracle-checked).
   * In-session sharing note: q53/q83/q109 keep [[docTermTable]]; BM25 no
   * longer taxes it (nor pays its build when composed alone). */
  def bm25Scores(spark: SparkSession, dir: String): DataFrame = {
    // NULL text dropped up front (ADVICE r17): the oracle's exploded-token
    // shape never sees a NULL-text doc, and a stats pass that counted them
    // in n_docs but not t_tot would skew the avg-doc-length denominator on
    // corpora that have any (the fixture has none — values unchanged).
    val docs = t(spark, dir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // typed per-term frequency (ADVICE r17): no SQL-string interpolation of
    // the term, so a quoted/odd term in a future query list cannot break
    // parsing; same filter-lambda expression Catalyst built from the string
    def mOf(term: String) =
      size(filter(col("toks"), x => x === lit(term))).cast("bigint")
    // 1-row corpus stats: total tokens, doc count, per-term doc frequency
    val statAggs =
      sum(size(col("toks")).cast("long")).as("t_tot") +:
        count(lit(1)).as("n_docs") +:
        Bm25Query.zipWithIndex.map { case (term, i) =>
          sum(when(mOf(term) > 0L, 1L).otherwise(0L)).as(s"df_$i")
        }
    val stats = docs.agg(statAggs.head, statAggs.tail: _*)
    // per-(doc, term) hits with dl carried on the row — no dl join
    val hits = docs
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(array(Bm25Query.zipWithIndex.map { case (term, i) =>
          struct(lit(i).as("ti"), mOf(term).as("m"))
        }: _*)).as("h"))
      .select(col("doc_id"), col("dl"), col("h.ti").as("ti"), col("h.m").as("m"))
      .filter(col("m") > 0L)
    val dfByIdx = expr(
      Bm25Query.indices.map(i => s"when ti = $i then df_$i").mkString("case ", " ", " end"))
    hits
      .crossJoin(broadcast(stats))
      .withColumn("df", dfByIdx)
      .withColumn("contrib_ppm", expr(
        "(44000000 * least(m, 100000) * 1000000 div " +
          "(20000000 * least(m, 100000) + 6000000 + 18 * (dl * 1000000 div (t_tot div n_docs)))) * " +
          "least((2*n_docs - 2*df + 1) * 1000000 div (2*df + 1), 1000000000000) div 1000000"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit_terms"), sum("contrib_ppm").as("score_ppm"))
  }

  /**
   * Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of two
   * heterogeneous rankings — the standard hybrid-retrieval combiner (its
   * modern use: fuse a lexical BM25 list with a dense-ANN list; here the
   * second ranking is the corpus quality prior, the fusion a curation
   * pipeline runs to surface documents that are both RELEVANT and
   * high-quality). fused(d) = Σ_r 1 / (K + rank_r(d)) over the rankings
   * that retrieved d, K = 60 (the paper's constant), emitted as exact
   * integer ppm (`1000000 div (60 + rank)`) so both engines hash
   * identically.
   *
   * Shape: both input rankings are top-`poolK` relations (bounded — the
   * candidate pools of a fusion step are retriever outputs, never the
   * corpus), so the rank windows and the full-outer join run on ≤ poolK
   * rows; everything upstream is the q110/q21 machinery unchanged. Ranks
   * are total orders ((score DESC, doc_id) / (quality DESC, doc_id)), so
   * the fused set is deterministic.
   */
  def rrfFusion(spark: SparkSession, dir: String, k: Int = 20, poolK: Int = 50): DataFrame = {
    // The rank windows below are DELIBERATELY unpartitioned (a global rank
    // needs a total order), which serializes poolK rows through one task —
    // fine for retriever pools, catastrophic if a caller passes a
    // corpus-sized poolK. Refuse early instead of silently single-tasking
    // a million rows (VERDICT r12 watch item #1).
    require(poolK >= 1 && poolK <= 10000,
      s"poolK is a RETRIEVER POOL size (rank windows serialize poolK rows through one task); " +
        s"got $poolK, allowed [1, 10000] — for corpus-sized pools use rrfFusionCorpus, " +
        "whose prefix-offset ranks never single-task")
    import org.apache.spark.sql.expressions.Window
    val wA = Window.orderBy(col("score_ppm").desc, col("doc_id"))
    val wB = Window.orderBy(col("quality_score_k").desc, col("doc_id"))
    val a = bm25TopK(spark, dir, poolK)
      .select(col("doc_id"), row_number().over(wA).cast("bigint").as("rank_bm25"))
    val b = qualityScore(spark, dir)
      .orderBy(col("quality_score_k").desc, col("doc_id")).limit(poolK)
      .select(col("doc_id"), row_number().over(wB).cast("bigint").as("rank_quality"))
    a.join(b, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("rank_bm25", "rank_quality"))
      .withColumn("rrf_ppm", expr(
        "if(rank_bm25 > 0, 1000000 div (60 + rank_bm25), 0) + " +
          "if(rank_quality > 0, 1000000 div (60 + rank_quality), 0)"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "rank_bm25", "rank_quality", "rrf_ppm")
  }

  /**
   * CORPUS-SCALE Reciprocal Rank Fusion — the poolK-capped [[rrfFusion]]
   * with the cap LIFTED (VERDICT r13 next-round #7): both rankings cover
   * everything rankable (every BM25 hit; every document under the quality
   * prior), so the "pool" IS the corpus and the single-task rank windows
   * the capped variant refuses above 10k rows are exactly the shape this
   * formulation avoids. Global ranks come from
   * [[RelationalOps.globalRank]]'s two-pass prefix-offset pattern
   * (range-partition + pid-local windows + O(partitions) driver offsets) —
   * dense ranks of EVERY doc, which a TopKAgg partial-reduce cannot produce
   * (it keeps k survivors per task; RRF needs the rank of every fused
   * candidate, and the fused top-k is not a subset of either side's
   * top-k). Docs absent from a ranking contribute 0, as in the capped
   * variant; the final top-k is a TakeOrderedAndProject, never a global
   * sort.
   */
  /** Session-memoized corpus BM25 rank table (r14, the r15 seed done
   * same-round): every retrieval composite (q115-q118) consumes the same
   * (doc_id, rank_bm25) relation, and the rank leg is the expensive one
   * (docTermTable corpus pass + globalRank's two-job prefix-offset
   * pattern) — so, like [[DedupOps.clusterLabelTable]], it is built ONCE
   * per (session, corpus) as an [[OpCache.pinned]] entry. A storage-dropped
   * hit is REBUILT, never re-pinned: the lineage contains
   * [[OpCache.pinPartitions]]'s localCheckpoint, whose blocks an external
   * cleanup (Bench dropState) can drop, and a recompute through a truncated
   * checkpoint fails. The bench releases it between timed runs
   * ([[OpCache.releaseAll]]) so every run prices the full rank lineage.
   */
  private[graft] def bm25RankTable(spark: SparkSession, dir: String): DataFrame =
    OpCache.pinned(spark, "bm25rank", dir) {
      RelationalOps.globalRank(
          bm25Scores(spark, dir).select("doc_id", "score_ppm"),
          "rank_bm25", col("score_ppm").desc, col("doc_id"))
        .select(col("doc_id"), col("rank_bm25").cast("bigint").as("rank_bm25"))
    }

  /** Release BOTH retrieval rank tables — every BM25 rank table AND every
   * quality rank table (all sessions, all dirs), with [[OpCache.releaseAll]]'s
   * contract. The two legs share one lifecycle deliberately: every caller
   * of this hook (the benchmark's drop, the rebuild gates) means "price the full
   * retrieval lineage again", and a BM25-only drop would leave q115
   * half-memoized, producing walls that are neither cold nor warm. */
  def invalidateBm25RankCache(): Unit = { OpCache.release("bm25rank"); OpCache.release("qualityrank") }

  /** Session-memoized corpus QUALITY rank table (ADVICE r14 / VERDICT r14
   * "What's missing" #3): [[rrfFusionCorpus]]'s prior leg is the same
   * two-job prefix-offset rank build as the BM25 leg — previously rebuilt
   * (and its localCheckpoint re-pinned) on EVERY call while the lexical leg
   * was memoized. Same entry kind and same rebuild-never-repin lifecycle
   * as [[bm25RankTable]]. */
  private[operators] def qualityRankTable(spark: SparkSession, dir: String): DataFrame =
    OpCache.pinned(spark, "qualityrank", dir) {
      RelationalOps.globalRank(
          qualityScore(spark, dir).select("doc_id", "quality_score_k"),
          "rank_quality", col("quality_score_k").desc, col("doc_id"))
        .select(col("doc_id"), col("rank_quality").cast("bigint").as("rank_quality"))
    }

  def rrfFusionCorpus(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val ra = bm25RankTable(spark, dir)
    val rb = qualityRankTable(spark, dir)
    ra.join(rb, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("rank_bm25", "rank_quality"))
      .withColumn("rrf_ppm", expr(
        "if(rank_bm25 > 0, 1000000 div (60 + rank_bm25), 0) + " +
          "if(rank_quality > 0, 1000000 div (60 + rank_quality), 0)"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "rank_bm25", "rank_quality", "rrf_ppm")
  }

  /**
   * HYBRID retrieval — the canonical modern search stack: a lexical BM25
   * ranking fused with a dense embedding-cosine ranking by RRF (the
   * lexical/dense fusion is RRF's headline use, Cormack et al. 2009; every
   * production hybrid-search engine ships this shape). Both rankings are
   * corpus-sized ([[rrfFusionCorpus]]'s prefix-offset ranks, never a
   * single-task window): every BM25 hit on the lexical side, every corpus
   * vector vs the vec_id=0 query on the dense side
   * ([[VectorOps.cosineScores]] — bit-identical doubles across engines, so
   * the (cos DESC, vec_id) rank order needs no quantization). Documents
   * without an embedding (doc_id = vec_id pairing, as in jointCuration)
   * simply rank on the lexical side only — RRF's absent-list-contributes-0
   * semantics, not a special case.
   */
  def hybridRetrieval(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val ra = bm25RankTable(spark, dir)
    val rb = RelationalOps.globalRank(
        VectorOps.cosineScores(spark, dir),
        "rank_dense", col("cos").desc, col("vec_id"))
      .select(col("vec_id").as("doc_id"), col("rank_dense").cast("bigint").as("rank_dense"))
    ra.join(rb, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("rank_bm25", "rank_dense"))
      .withColumn("rrf_ppm", expr(
        "if(rank_bm25 > 0, 1000000 div (60 + rank_bm25), 0) + " +
          "if(rank_dense > 0, 1000000 div (60 + rank_dense), 0)"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "rank_bm25", "rank_dense", "rrf_ppm")
  }

  /**
   * ANN-accelerated hybrid retrieval — [[hybridRetrieval]] with the dense
   * leg served by the IVF index instead of a corpus-wide exact pass: the
   * PRODUCTION hybrid shape (a dense retriever always returns a bounded
   * top-k pool from its index; only the lexical side stays corpus-ranked
   * here because BM25 scores are a byproduct of the postings aggregation,
   * not a second index probe). The pool ([[VectorOps.ivfCandidates]],
   * nprobe=4, poolK=100) is re-ranked exactly and rank-windowed at
   * poolK <= 100 rows — the q111 retriever-pool shape, bounded by
   * construction; the lexical leg keeps [[RelationalOps.globalRank]]'s
   * prefix-offset ranks. At 100 TB: the dense leg scans nprobe/16 of the
   * inverted lists instead of the corpus (q75's zero-shuffle plan), the
   * fusion joins a broadcastable 100-row pool against the lexical ranks.
   */
  def hybridRetrievalAnn(
      spark: SparkSession, dir: String, k: Int = 20, poolK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.VectorFunctions.register(spark)
    val ra = bm25RankTable(spark, dir)
    // bounded pool: the rank window single-tasks <= poolK rows by design
    val wD = Window.orderBy(col("cos").desc, col("vec_id"))
    val rd = VectorOps.ivfCandidates(spark, dir, nprobe = 4, k = poolK)
      .select(col("vec_id").as("doc_id"),
        row_number().over(wD).cast("bigint").as("rank_dense"))
    ra.join(rd, Seq("doc_id"), "full_outer")
      .na.fill(0L, Seq("rank_bm25", "rank_dense"))
      .withColumn("rrf_ppm", expr(
        "if(rank_bm25 > 0, 1000000 div (60 + rank_bm25), 0) + " +
          "if(rank_dense > 0, 1000000 div (60 + rank_dense), 0)"))
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "rank_bm25", "rank_dense", "rrf_ppm")
  }

  /**
   * Duplication-diversified re-rank — search diversity for a corpus with
   * near-duplicate content: the hybrid top-`poolK` pool keeps only its
   * best-fused representative PER near-dup cluster (the q60 MinHash-LSH
   * connected components, served by the shared per-(session, corpus)
   * label table — this operator is its third consumer after q60/q114), so
   * ten syndicated copies of one article cost one result slot, not ten.
   * Unclustered docs are their own cluster (coalesce to doc_id — the
   * label table's cluster ids ARE least-doc ids, so the domains agree).
   *
   * Scale shape (VERDICT r14 #1 — the r14 right-outer form hinted a
   * broadcast Spark cannot build, BHJ being build-left-only for
   * RightOuter, so the corpus-sized label side would broadcast at test
   * scale and SMJ-shuffle at 100 TB): the label table is PREFILTERED by a
   * broadcast LEFT-SEMI join on the pool's doc_ids (build-right IS
   * supported for LeftSemi — the O(paired docs) label side streams
   * map-side, zero shuffle, yielding <= poolK rows), then a trivial
   * left-outer FROM the pool against that broadcast remnant. The pool is
   * consumed by both joins, so it is OpCache-pinned — one hybrid build,
   * not two. Per-cluster pick and final top-k run on <= poolK rows.
   */
  def diverseRerank(
      spark: SparkSession, dir: String, k: Int = 20, poolK: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pool = OpCache.persistBounded("q118_pool",
      hybridRetrieval(spark, dir, k = poolK).select("doc_id", "rrf_ppm"))
    // r17: the unsorted label table — dedupClusters' presentation orderBy
    // would feed a left-semi join that ignores order
    val labels = DedupOps.clusterLabelTable(spark, dir)
      .select(col("doc_id"), col("lbl").as("cluster"))
    val poolLabels = labels
      .join(broadcast(pool.select("doc_id")), Seq("doc_id"), "left_semi")
    val labeled = pool
      .join(broadcast(poolLabels), Seq("doc_id"), "left_outer")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    val wC = Window.partitionBy("cluster").orderBy(col("rrf_ppm").desc, col("doc_id"))
    labeled
      .withColumn("rn", row_number().over(wC))
      .filter(col("rn") === 1)
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
      .limit(k)
      .select("doc_id", "cluster", "rrf_ppm")
  }

  /**
   * Per-source curation report: the data-governance rollup a crawl
   * pipeline publishes per ingest source — volume, language spread, and
   * mean quality (integer division over the summed quantized score, so the
   * mean is exact). Composes [[qualityScore]]'s gate score with a plain
   * grouped aggregate; one shuffle on the (tiny) source key.
   */
  def sourceReport(spark: SparkSession, dir: String): DataFrame =
    qualityScore(spark, dir)
      .join(
        t(spark, dir, "documents").select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
        "doc_id"
      )
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("lang").as("n_langs"),
        sum("n_chars").as("sum_chars"),
        expr("sum(quality_score_k) div count(1)").as("mean_quality_k")
      )
      .orderBy("source")

  /**
   * Per-source vocabulary coverage (Heaps'-law profiling): total tokens,
   * distinct tokens, distinct word bigrams, and type-token ratio — the
   * diversity diagnostics that catch a template-generated or mode-collapsed
   * source before it trains. Three partial-aggregating passes share the
   * `source` shuffle key; bigrams come from the one-pass `word_shingles`
   * codegen kernel (per-doc-distinct, which is exactly right for a corpus
   * distinct count). The distinct-count aggregates are Spark's two-phase
   * expand/dedup — exact, no sketch; swap `countDistinct` for
   * `approx_count_distinct` at 100 TB where +-2% on a diagnostic is free
   * speed. TTR is emitted as exact integer permille so hashes agree.
   */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    val docs = t(spark, dir, "documents")
    val tok = docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
    val t1 = tok.groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), countDistinct("tok").as("n_vocab"))
    val t2 = docs.select(col("source"), explode(expr("word_shingles(text, 2)")).as("bg"))
      .groupBy("source").agg(countDistinct("bg").as("n_bigram_vocab"))
    val d = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    t1.join(t2, "source").join(d, "source")
      .withColumn("ttr_mille", expr("n_vocab * 1000 div n_tokens"))
      .select("source", "n_docs", "n_tokens", "n_vocab", "n_bigram_vocab", "ttr_mille")
      .orderBy("source")
  }

  /**
   * PII detection + redaction: count and mask email addresses and phone
   * numbers (the minimum scrub every published training corpus runs). Pure
   * per-row regex projection — no shuffle, no state; at 100 TB it is a
   * single codegen map over the scan, and the only cost knob is regex
   * complexity per byte.
   *
   * The synthetic corpus contains no PII, so the query APPENDS a
   * deterministic contact string derived from `doc_id` before scrubbing —
   * the regex path is exercised on real matches (1 email + 1 phone per doc,
   * positions and digits varying by doc) while staying oracle-checkable:
   * the oracle builds the identical augmented text and must produce the
   * identical redaction, verified by full-text md5. Patterns are kept to
   * character classes + bounded quantifiers, the regex subset on which
   * Java's engine and RE2 agree.
   */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+1-[0-9]{3}-[0-9]{4}"
    t(spark, dir, "documents")
      .withColumn("aug", concat(
        col("text"), lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com call +1-"), (col("doc_id") % 900 + 100).cast("string"),
        lit("-"), (col("doc_id") % 9000 + 1000).cast("string"), lit(" now")
      ))
      .withColumn("red",
        regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"), phoneRe, "<PHONE>"))
      .select(
        col("doc_id"),
        regexp_count(col("aug"), lit(emailRe)).cast("long").as("n_emails"),
        regexp_count(col("aug"), lit(phoneRe)).cast("long").as("n_phones"),
        expr("right(red, 40)").as("red_tail"),
        md5(col("red")).as("red_fp")
      )
      .orderBy("doc_id")
  }

  /**
   * Unigram surprisal scoring — CCNet-style LM quality filtering reduced to
   * its order-0 core: score each document by the mean corpus rarity of its
   * tokens (template/boilerplate docs score low, lexically novel docs —
   * and gibberish — score high; pipelines gate on both tails). Rarity is
   * the INTEGER weight `N * 1e6 div tf` rather than `-log(tf/N)`: libm logs
   * differ in the last ulp across engines, integer division doesn't, and
   * the monotone transform preserves every ranking/threshold decision.
   *
   * Shape: one token-keyed shuffle builds the VOCABULARY-sized term
   * frequency relation, and AQE broadcasts it back onto the occurrence
   * stream (PLANS.md: BHJ, no exchange on the corpus side of the join;
   * were the vocabulary ever to outgrow broadcast, the plan degrades to a
   * token-keyed shuffle join). The corpus token total rides in-plan as a
   * 1-row aggregate over tf (sum(tf) — never a second pass over the
   * corpus). The per-doc rollup is the only other corpus-wide exchange,
   * partial-aggregated map-side.
   */
  def unigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    // Same one-corpus-pass shape as [[bigramSurprisal]] (see the persist
    // note there): per-doc token multiplicities are aggregated once and
    // persisted — the [[docTermTable]] relation SHARED with tfidfTopTerms
    // (lang projected away; (doc_id, lang, tok) rows are 1:1 with
    // (doc_id, tok) since lang is functionally dependent on doc_id). tf,
    // nt, and the rarity join all derive from it, so the tokenize+explode
    // lineage runs exactly once instead of three concurrent times — and
    // zero times when tfidf already built it this session. Multiplicity
    // weighting keeps per-occurrence semantics bit-exact: sum(rarity over
    // occurrences) == sum(m * rarity), count(1) == sum(m), max unchanged.
    val docTok = docTermTable(spark, dir).select("doc_id", "tok", "m")
    val tf = docTok.groupBy("tok").agg(sum("m").as("tf"))
    val nt = tf.agg(sum("tf").as("nt"))
    docTok.join(tf, "tok")
      .crossJoin(nt)
      .withColumn("rarity", expr("nt * 1000000 div tf"))
      .groupBy("doc_id")
      .agg(
        sum("m").as("n_tokens"),
        expr("sum(m * rarity) div sum(m)").as("mean_rarity_ppm"),
        max("rarity").as("max_rarity_ppm")
      )
      .orderBy("doc_id")
  }

  /** Language ID by stopword-hit voting with a fixed descending tie-break
   * (zh > fr > es > en > de — first language whose score ties the max wins). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .withColumn("toks", expr("split(text, ' ')"))
      .withColumn("c_en", expr(s"size(filter(toks, x -> x in ${inList(StopEn)}))"))
      .withColumn("c_de", expr(s"size(filter(toks, x -> x in ${inList(StopDe)}))"))
      .withColumn("c_es", expr(s"size(filter(toks, x -> x in ${inList(StopEs)}))"))
      .withColumn("c_fr", expr(s"size(filter(toks, x -> x in ${inList(StopFr)}))"))
      .withColumn("c_zh", expr(s"size(filter(toks, x -> x in ${inList(StopZh)}))"))
      .selectExpr(
        "doc_id",
        "lang as lang_label",
        """case
           | when c_zh >= c_fr and c_zh >= c_es and c_zh >= c_en and c_zh >= c_de then 'zh'
           | when c_fr >= c_es and c_fr >= c_en and c_fr >= c_de then 'fr'
           | when c_es >= c_en and c_es >= c_de then 'es'
           | when c_en >= c_de then 'en'
           | else 'de'
           |end as lang_pred""".stripMargin,
        "cast(c_en as bigint) as hits_en"
      ).orderBy("doc_id")

  /**
   * Bigram surprisal — [[unigramSurprisal]] lifted to order 1, the smallest
   * LM that actually models CONTEXT: score each document by the mean corpus
   * rarity of its (w1 → w2) transitions, where rarity is the integer
   * `count(w1·) * 1e6 div count(w1 w2)` — the reciprocal of the conditional
   * MLE p(w2|w1), monotone in -log p but computed in exact integer
   * arithmetic (libm logs differ across engines in the last ulp; integer
   * division doesn't). Boilerplate with stereotyped transitions scores low;
   * shuffled/gibberish text scores high even when its UNIGRAMS are common —
   * the failure mode order-0 scoring can't see.
   *
   * Shape: bigrams materialize map-side from the token array (an indexed
   * `transform` over the array — no self-join on (doc, pos)); one shuffle
   * builds the bigram counts, one the context counts, and AQE broadcasts
   * both (vocabulary-sized) relations back onto the occurrence stream; the
   * per-doc rollup partial-aggregates map-side.
   */
  def bigramSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val bg = t(spark, dir, "documents")
      .withColumn("toks", expr("split(text, ' ')"))
      .filter(expr("size(toks) >= 2"))
      .select(col("doc_id"), explode(expr(
        "transform(slice(toks, 1, size(toks) - 1), (x, i) -> named_struct('w1', x, 'w2', element_at(toks, i + 2)))")).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    // ONE corpus pass: per-doc bigram multiplicities. Both count tables
    // derive from it (c2 = sum m over docs; c1 = sum c2 over w2), so the
    // tokenize+explode lineage never re-executes, and the rarity joins move
    // DISTINCT doc-bigrams instead of every occurrence. Multiplicity
    // weighting keeps the per-occurrence semantics bit-exact: sum(rarity
    // over occurrences) == sum(m * rarity), count == sum(m).
    //
    // persist() is what makes "one corpus pass" TRUE, not just intended:
    // without it the docBg / c2 / c1 join branches each recompile the full
    // tokenize+explode lineage, and under AQE the two broadcast-side
    // branches run as concurrent stage futures — 3 corpus scans racing on
    // the same cores (measured at 100x sf0.1: 3 concurrent 500k-doc explode
    // stages, 25–141 s wall variance from the oversubscription; one shared
    // pass: stable ~12 s). ReuseExchange does not collapse them because the
    // broadcast branches canonicalize differently. The persisted relation
    // is the corpus's distinct (doc, bigram) table — O(tokens) worst case,
    // columnar-compressed, MEMORY_AND_DISK so it spills instead of OOMing.
    val docBg = persistBounded("bigram",
      bg.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("m")))
    val c2 = docBg.groupBy("w1", "w2").agg(sum("m").as("c2"))
    val c1 = c2.groupBy("w1").agg(sum("c2").as("c1"))
    docBg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .withColumn("rarity", expr("c1 * 1000000 div c2"))
      .groupBy("doc_id")
      .agg(
        sum("m").as("n_bigrams"),
        expr("sum(m * rarity) div sum(m)").as("mean_rarity_ppm"),
        max("rarity").as("max_rarity_ppm"))
      .orderBy("doc_id")
  }

  /**
   * Model-based quality classification — the "fasttext filter" stage of a
   * web-data pipeline (GPT-3/CCNet-style: a tiny linear model scores every
   * document and the pipeline keeps the positive class), with fixed
   * published-style coefficients standing in for trained weights (training
   * is out of scope; SERVING the model over 100 TB is the engine's job).
   * Features and the dot product are one map-side codegen stage per row —
   * no shuffle, no UDF, no model server round-trip; at scale this is a
   * pure scan+project whose throughput is the parquet read.
   *
   * The logit is emitted as an integer (round(z·1000)) rather than a float:
   * every feature is a ratio of integers (exact IEEE division), the dot
   * product is a fixed left-to-right sum of products, and milli-unit
   * quantization absorbs any last-ulp cross-engine difference.
   */
  /** The q91 feature/logit chain on any frame with (text) — shared verbatim
   * by [[qualityClassifier]] and [[SamplingOps.pretrainExport]] so the
   * composite's gate is bit-identical to the standalone query's. */
  private[graft] def withQualityLogit(df: DataFrame): DataFrame =
    df.withColumn("toks", expr("split(text, ' ')"))
      .withColumn("n_toks", expr("cast(size(toks) as bigint)"))
      .withColumn("stop_r", expr(s"cast(size(filter(toks, x -> x in ${inList(StopEn)})) as double) / n_toks"))
      .withColumn("punct_r", expr("cast(regexp_count(text, '[.,!?;:]') as double) / length(text)"))
      .withColumn("digit_r", expr("cast(regexp_count(text, '[0-9]') as double) / length(text)"))
      .withColumn("len_sat", expr("least(cast(n_toks as double), 500.0D) / 500.0D"))
      .withColumn("z", expr("-0.25D + 2.5D * stop_r + 0.8D * len_sat - 3.0D * punct_r - 2.0D * digit_r"))

  def qualityClassifier(spark: SparkSession, dir: String): DataFrame =
    withQualityLogit(t(spark, dir, "documents"))
      .selectExpr(
        "doc_id",
        "n_toks",
        "cast(round(z * 1000) as bigint) as logit_milli",
        "z > 0D as keep"
      ).orderBy("doc_id")
}
