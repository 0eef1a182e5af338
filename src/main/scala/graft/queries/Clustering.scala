package graft.queries

import graft.engine.Mat.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Tables, VectorKernels}

/** x140–x142: corpus-organization operators over the embedding / document
  * tables — deterministic (oracle-checked) clustering, product-quantization
  * encoding, and BM25 relevance scoring. These complete the similarity stack:
  * x18 holds the ML-trained IVF index (seeded KMeans; oracle-checked in
  * theorem form — exact top-20 + locality flag, AnnIvf.x18);
  * x140/x141 are its EXACTLY-REPRODUCIBLE twins, built so every
  * arithmetic step pins to the determinism protocol (SURVEY §7.4: cast
  * float→double before arithmetic, round at every cross-engine boundary,
  * total-order tie-breaks) and therefore hash-match DuckDB bit for bit.
  */
object Clustering {

  private val kCells = 8

  /** Squared L2 between a double-array column and a float-array column,
    * folded left-to-right — the same sequential order DuckDB's `list_sum`
    * over a comprehension uses, so the un-rounded doubles are bit-identical
    * across engines (identical inputs, identical op order). */
  private def l2sqExpr(ce: String, emb: String): Column = expr(
    s"""aggregate(zip_with($ce, $emb,
       |  (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),
       |  0D, (s, x) -> s + x)""".stripMargin)

  /** Nearest-centroid assignment: broadcast the (bounded) centroid table,
    * score every (vector, centroid) pair in-map, and collapse to the argmin
    * with a `min_by` partial aggregate — the shuffle carries ONE row per
    * vector, never the |V|×k distance grid. Distances round at 6 dp before
    * the argmin so the (d2, cell) total order is identical on both engines. */
  private def assign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .withColumn("d2", round(l2sqExpr("ce", "embedding"), 6))
      .groupBy("vec_id")
      .agg(min_by(struct(col("cell"), col("d2")),
                  struct(col("d2"), col("cell"))).as("best"))
      .select(col("vec_id"),
              col("best.cell").as("cell"), col("best.d2").as("d2"))

  /** x140: DETERMINISTIC K-MEANS (2 Lloyd rounds, k = 8, init = the first k
    * vectors by id) — per-cell population and mean squared distance after
    * the second assignment. The oracle-checked twin of x18's seeded ML
    * KMeans: same algorithm, but every step is exactly reproducible, so the
    * whole clustering — not just a recall proxy — is verified against
    * DuckDB.
    *
    * Determinism protocol: centroid components ROUND at 6 dp after the AVG
    * (a ~1e-12-relative FP-order difference between engines is crushed by
    * the rounding grain, so round-2 inputs are bit-identical arrays);
    * distances round at 6 dp before every argmin; ties break on cell id.
    *
    * 100 TB: per round, one broadcast of k·d doubles + a map-side `min_by`
    * (shuffle = |V| rows), then a posexplode partial-agg whose shuffle is
    * k·d rows — the canonical distributed Lloyd shape. Rounds are a fixed
    * small constant (2 here; convergence-driven in production, each round
    * the same two exchanges). */
  def x140(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val c0 = emb.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("cell"),
              transform(col("embedding"), _.cast(DoubleType)).as("ce"))
    val a1 = assign(emb, c0)
    val c1 = a1.join(emb, "vec_id")
      .select(col("cell"), posexplode(col("embedding")))
      .groupBy("cell", "pos")
      .agg(round(avg(col("col").cast(DoubleType)), 6).as("cv"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pv"))
      .select(col("cell"), expr("transform(pv, x -> x.cv)").as("ce"))
    val a2 = assign(emb, c1)
    // mean_d2 via the exact-integer device (x202): d2 is already 6-dp
    // rounded, so d2·1e6 is an exact BIGINT — summing integers is
    // order-free, and the single double division at emit is identical
    // across engines. ROUND(AVG(double),6) here would sit one ulp from a
    // rounding boundary on some cells (the x141 round-8 failure mode).
    a2.withColumn("d2_p6", round(col("d2") * 1e6, 0).cast(LongType))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2_p6")).as("sp6"))
      .select(col("cell").cast(LongType).as("cell"), col("n_vecs"),
              round(col("sp6") * lit(1.0) / (col("n_vecs") * lit(1e6)), 6)
                .as("mean_d2"))
      .orderBy("cell")
  }

  /** x141: PRODUCT-QUANTIZATION ENCODE — split the 64-dim embedding into 4
    * subspaces of 16 dims, encode each subvector as its nearest codeword
    * (codebook = the first 8 vectors' subvectors — fixed, so the encoding is
    * oracle-checkable; production would train per-subspace codebooks with
    * x18's KMeans device), and report per-(subspace, codeword) population
    * and mean reconstruction error. PQ is the memory side of large-scale
    * ANN: 64 floats compress to 4 code bytes, and x18's IVF cells + these
    * codes are the classic IVF-PQ layout.
    *
    * 100 TB: the codebook broadcast is k·d doubles; encoding is one map
    * pass (each vector scores 8 codewords per subspace in-line); the argmin
    * collapses through the same `min_by` partial-aggregate shape as x140,
    * so the shuffle carries 4 rows per vector (one per subspace), then the
    * stats aggregate to the 32-row (subspace, code) grid. */
  def x141(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val cb = emb.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("code"),
              transform(col("embedding"), _.cast(DoubleType)).as("ce"))
    emb.withColumn("sub", explode(sequence(lit(0), lit(3))))
      .crossJoin(broadcast(cb))
      .withColumn("d2", round(expr(
        """aggregate(zip_with(slice(ce, sub * 16 + 1, 16),
          |                   slice(embedding, sub * 16 + 1, 16),
          |  (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),
          |  0D, (s, x) -> s + x)""".stripMargin), 6))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code"), col("d2")),
                  struct(col("d2"), col("code"))).as("best"))
      // mean_err via the exact-integer device (x202): best.d2 is 6-dp
      // rounded, so ·1e6 is an exact BIGINT; integer summation is
      // order-free and the one double division at emit matches DuckDB
      // bit for bit. (Round 8's ROUND(AVG(d2),6) landed one ulp from the
      // 5e-7 boundary on cell (sub 0, code 4) and hash-mismatched.)
      .withColumn("d2_p6", round(col("best.d2") * 1e6, 0).cast(LongType))
      .groupBy(col("sub").cast(LongType).as("subspace"),
               col("best.code").as("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2_p6")).as("sp6"))
      .select(col("subspace"), col("code"), col("n_vecs"),
              round(col("sp6") * lit(1.0) / (col("n_vecs") * lit(1e6)), 6)
                .as("mean_err"))
      .orderBy("subspace", "code")
  }

  /** Per-(vector, subspace) nearest-codeword assignment against a
    * (sub, code, ce) codebook — x141's encode shape, codebook-agnostic:
    * broadcast join keyed on sub (8 codewords per (vector, subspace)
    * in-map), 6-dp-rounded subspace kernel, `min_by` argmin so the
    * shuffle carries one row per (vector, subspace). */
  private[graft] def pqAssign(emb: DataFrame, cb: DataFrame): DataFrame =
    emb.withColumn("sub", explode(sequence(lit(0), lit(3))))
      .join(broadcast(cb), "sub")
      .withColumn("d2", round(expr(
        """aggregate(zip_with(ce,
          |                   slice(embedding, sub * 16 + 1, 16),
          |  (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),
          |  0D, (s, x) -> s + x)""".stripMargin), 6))
      .groupBy("vec_id", "sub")
      .agg(min_by(struct(col("code"), col("d2")),
                  struct(col("d2"), col("code"))).as("best"))
      .select(col("vec_id"), col("sub"),
              col("best.code").as("code"), col("best.d2").as("d2"))

  /** The fixed first-8-vectors codebook as a (sub, code, ce) frame —
    * x141/x182's oracle-checkable codebook, already sliced per subspace. */
  private def fixedCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < kCells)
      .withColumn("sub", explode(sequence(lit(0), lit(3))))
      .select(col("sub"), col("vec_id").as("code"),
              expr("transform(slice(embedding, sub * 16 + 1, 16)," +
                   " b -> CAST(b AS DOUBLE))").as("ce"))

  /** TRAINED per-subspace PQ codebooks — the x140 deterministic Lloyd
    * device applied INSIDE each of the 4 subspaces at once: init = the
    * fixed first-8 codebook (so training strictly refines what x141
    * ships), then `rounds` Lloyd updates under the same determinism
    * protocol (codeword components ROUND at 6 dp after the AVG, distances
    * round at 6 dp before every argmin, ties break on code). A codeword
    * whose cell empties keeps its previous position (standard Lloyd).
    *
    * This closes the "production would train per-subspace codebooks"
    * caveat on x141: [[pqEncodeTrained]] runs the identical encode path
    * with this codebook, and ClusteringSpec proves the trained total
    * reconstruction error never exceeds the fixed codebook's.
    *
    * 100 TB: all 4 subspaces train in ONE job per round — the codebook
    * broadcast is 4·8·16 doubles, assignment shuffles one row per
    * (vector, subspace), and the update is a posexplode partial-agg
    * whose shuffle is 4·8·16 rows. Rounds are a small constant. */
  private[graft] def trainedCodebooks(spark: SparkSession, dir: String,
                                      rounds: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    var cb = fixedCodebook(emb)
    for (_ <- 1 to rounds) {
      val a = pqAssign(emb, cb)
      val means = a.join(emb, "vec_id")
        .select(col("sub"), col("code"),
                posexplode(expr("slice(embedding, sub * 16 + 1, 16)")))
        .groupBy("sub", "code", "pos")
        .agg(round(avg(col("col").cast(DoubleType)), 6).as("cv"))
        .groupBy("sub", "code")
        .agg(array_sort(collect_list(struct(col("pos"), col("cv")))).as("pv"))
        .select(col("sub"), col("code"),
                expr("transform(pv, x -> x.cv)").as("nce"))
      cb = cb.join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
                coalesce(col("nce"), col("ce")).as("ce"))
        .materialized // flatten per-round lineage (x140's discipline)
    }
    cb
  }

  /** x141's encode against the TRAINED codebooks — same output grid
    * (subspace, code, n_vecs, mean_err) and the same exact-integer mean
    * device; the fixed-codebook x141 stays the oracle key. */
  private[graft] def pqEncodeTrained(spark: SparkSession, dir: String,
                                     rounds: Int = 2): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    pqAssign(emb, trainedCodebooks(spark, dir, rounds))
      .withColumn("d2_p6", round(col("d2") * 1e6, 0).cast(LongType))
      .groupBy(col("sub").cast(LongType).as("subspace"), col("code"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d2_p6")).as("sp6"))
      .select(col("subspace"), col("code"), col("n_vecs"),
              round(col("sp6") * lit(1.0) / (col("n_vecs") * lit(1e6)), 6)
                .as("mean_err"))
      .orderBy("subspace", "code")
  }

  /** Total PQ reconstruction error (sum over (vector, subspace) of the
    * best 6-dp-rounded d2, in exact integer micros) for a given codebook
    * — the training objective ClusteringSpec compares across codebooks. */
  private[graft] def pqTotalErrMicros(spark: SparkSession, dir: String,
                                      cb: DataFrame): Long = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    pqAssign(emb, cb)
      .agg(sum(round(col("d2") * 1e6, 0).cast(LongType)))
      .head.getLong(0)
  }

  private[graft] def fixedCodebook(spark: SparkSession, dir: String): DataFrame =
    fixedCodebook(Tables.embeddings(spark, dir).select("vec_id", "embedding"))

  /** x182's ADC top-k against an arbitrary (sub, code, ce) codebook — the
    * serving half parameterized the same way [[pqAssign]] parameterizes
    * the encode half, so the TRAINED codebooks drop straight into the
    * IVF-PQ serving path: LUT = query×codebook subspace distances (32
    * rows, broadcast), database vectors encoded via pqAssign, approximate
    * distance = 4 integer table lookups summed (exact BIGINT micros,
    * order-free), (adc, vec_id)-total-ordered top-10. x182 itself stays
    * the fixed-codebook oracle key; ClusteringSpec drives this with
    * [[trainedCodebooks]] and pins the guarantee PQ serving actually
    * makes: every ADC estimate sits within the vector's quantization
    * radius of the true distance, and training shrinks the total squared
    * radius (the Lloyd objective). */
  private[graft] def pqAdcTopK(spark: SparkSession, dir: String,
                               cb: DataFrame, k: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val lut = cb.crossJoin(broadcast(q))
      .withColumn("lm", round(round(expr(
        """aggregate(zip_with(ce, slice(qe, sub * 16 + 1, 16),
          |  (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),
          |  0D, (s, x) -> s + x)""".stripMargin), 6) * 1000000d, 0)
        .cast(LongType))
      .select("sub", "code", "lm")
    pqAssign(emb, cb).select("vec_id", "sub", "code")
      .join(broadcast(lut), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum(col("lm")).as("adc_micros"))
      .orderBy(col("adc_micros"), col("vec_id"))
      .limit(k)
  }

  /** x142: BM25 RELEVANCE SCORING — the strongest term per document under
    * BM25 (k1 = 1.2, b = 0.75), the ranking function behind every classical
    * retrieval stack (and the lexical half of hybrid search next to
    * x95's RRF fusion). Extends q48's tf-idf: same (tf, df, N) statistics
    * plus the document-length normalization tf-idf lacks.
    *
    * idf uses the BM25+1 form LN((N - df + 0.5)/(df + 0.5) + 1) — strictly
    * positive, so the argmax never flips sign on corpus-frequent terms.
    *
    * 100 TB: tokenize+count is a partial+final agg on (doc, token); df is a
    * second partial+final agg on token; N and avgdl are one broadcast scalar
    * row; the per-doc argmax is a `max_by` partial aggregate — one shuffled
    * row per document, no window sort. */
  def x142(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
                       avg(col("dl").cast(DoubleType)).as("avgdl"))
    tf.filter(col("doc_id") < 50)
      .join(dl, "doc_id")
      .join(df, "tok")
      .crossJoin(broadcast(stats))
      .withColumn("bm25", round(
        expr("""LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
               |  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"""
          .stripMargin), 6))
      .groupBy("doc_id")
      // argmax under (bm25 DESC, tok ASC): min_by over the (−bm25, tok)
      // struct — scores are strictly positive so the negation is safe
      .agg(min_by(struct(col("bm25"), col("tok")),
                  struct(negate(col("bm25")), col("tok"))).as("best"))
      .select(col("doc_id"), col("best.tok").as("tok"),
              col("best.bm25").as("bm25"))
      .orderBy("doc_id")
  }

  /** x182: PQ ASYMMETRIC-DISTANCE TOP-K — the SERVING half of IVF-PQ,
    * completing x141's encoding: the query (vec 0) precomputes a 4×8
    * lookup table of subspace distances to every codeword; each database
    * vector's approximate distance is then FOUR integer table lookups
    * summed — never a 64-dim kernel against the query. Distances round
    * at 6 dp then scale to integer micros, so the ADC sum is an exact
    * BIGINT (order-free) and the (adc, vec_id) top-10 is total-ordered.
    *
    * 100 TB: the LUT is 32 rows broadcast (this is WHY PQ serves fast —
    * the per-vector cost is table lookups, not arithmetic against the
    * query); encoding reuses x141's argmin shape (one shuffled row per
    * (vector, subspace)); the top-10 is TakeOrderedAndProject. The
    * recall story against exact search lives with x111's matrix —
    * this key pins the serving arithmetic itself. */
  def x182(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val cb = emb.filter(col("vec_id") < kCells)
      .select(col("vec_id").as("code"),
              transform(col("embedding"), _.cast(DoubleType)).as("ce"))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val subKernel = expr(
      """round(aggregate(zip_with(slice(ce, sub * 16 + 1, 16),
        |                         slice(qe, sub * 16 + 1, 16),
        |  (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),
        |  0D, (s, x) -> s + x), 6)""".stripMargin)
    val lut = cb.crossJoin(broadcast(q))
      .withColumn("sub", explode(sequence(lit(0), lit(3))))
      .withColumn("lm", round(subKernel * 1000000d, 0).cast(LongType))
      .select("sub", "code", "lm")
    val codes = emb.withColumn("sub", explode(sequence(lit(0), lit(3))))
      .crossJoin(broadcast(cb))
      .withColumn("d2", round(expr(
        """aggregate(zip_with(slice(ce, sub * 16 + 1, 16),
          |                   slice(embedding, sub * 16 + 1, 16),
          |  (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),
          |  0D, (s, x) -> s + x)""".stripMargin), 6))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy("vec_id")
      .agg(sum(col("lm")).as("adc_micros"))
      .orderBy(col("adc_micros"), col("vec_id"))
      .limit(10)
  }

  /** nDCG position-discount weights, ⌊10⁶/log₂(i+1)⌉ for ranks 1..10 —
    * ONE shared literal list: the engine folds it as an array literal and
    * the oracle SQL is GENERATED from the same val (the x215/x223 device),
    * so DCG stays exact integer arithmetic on both engines and log₂'s
    * cross-engine ULP drift never enters the chain. */
  val ndcgWeightsMicro: Seq[Long] = Seq(
    1000000L, 630930L, 500000L, 430677L, 386853L,
    356207L, 333333L, 315465L, 301030L, 289065L)

  /** x230: nDCG@10 RETRIEVAL EVALUATION — the ranking-quality metric the
    * retrieval stack (x142 BM25, x95 RRF, x191 AUC) reports but nothing
    * yet computes: for the 20 highest-df query tokens, rank candidate
    * documents by length-normalized term frequency (tf·10⁶ DIV doc_len —
    * an integer BM25 surrogate, deliberately DIFFERENT from the relevance
    * grade so nDCG is a real number < 1, not a tautology), grade relevance
    * as min(tf, 3) with gains 2^rel − 1 ∈ {1, 3, 7}, and score
    * DCG/IDCG@10 in exact integer micros via [[ndcgWeightsMicro]].
    *
    * IDCG needs no ideal SORT: gains take 3 values, so the ideal top-10
    * gain sequence is determined by the per-query gain HISTOGRAM
    * (n₇ sevens, then n₃ threes, then n₁ ones) — counts, not an ordering.
    *
    * 100 TB: tf is ONE (doc, token) partial+final agg, materialized once
    * (three consumers: query selection, doc lengths, candidates); the
    * query set is 20 rows broadcast; the per-query top-10 is the native
    * `topk_pairs` O(k)-heap aggregate (x70's scale path — gain rides the
    * tag as doc_id·4+rel, preserving the (score DESC, doc_id ASC) total
    * order), so no window sort ever touches a posting list; everything
    * after the big aggregate is ≤ 20 rows × 10 positions. */
  /** x230's corpus stages BEFORE materialization — exposed so PlanSpec can
    * assert the topk_pairs heap / no-window shape on the live
    * pre-checkpoint plan (x230's localCheckpoints cut that lineage). */
  private[graft] def x230PerQuery(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .materialized
    val dfq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(20)
      .select(col("tok"))
    val dlen = tf.groupBy("doc_id").agg(sum(col("tf")).as("n_toks"))
    val cand = tf.join(broadcast(dfq), "tok")
      .join(dlen, "doc_id")
      .select(col("tok").as("q_tok"), col("doc_id"),
              expr("tf * 1000000 DIV n_toks").as("score"),
              least(col("tf"), lit(3L)).as("rel"))
      .withColumn("gain", when(col("rel") === 3, 7L)
                            .when(col("rel") === 2, 3L).otherwise(1L))
    cand.groupBy("q_tok")
      .agg(call_function("topk_pairs", col("score").cast(DoubleType),
             col("doc_id") * 4 + col("rel"), lit(10)).as("tk"),
           count(lit(1)).as("n_cands"),
           sum(when(col("gain") === 7, 1L).otherwise(0L)).as("n7"),
           sum(when(col("gain") === 3, 1L).otherwise(0L)).as("n3"),
           sum(when(col("gain") === 1, 1L).otherwise(0L)).as("n1"))
  }

  def x230(spark: SparkSession, dir: String): DataFrame = {
    val per = x230PerQuery(spark, dir)
      .materialized // 20 rows; dcg + idcg both consume it
    val wArr = array(ndcgWeightsMicro.map(lit): _*)
    val dcg = per
      .select(col("q_tok"), posexplode(col("tk")).as(Seq("pos0", "hit")))
      .withColumn("rel", col("hit.tag") % 4)
      .withColumn("gain", when(col("rel") === 3, 7L)
                            .when(col("rel") === 2, 3L).otherwise(1L))
      .groupBy("q_tok")
      .agg(sum(col("gain") * element_at(wArr, col("pos0").cast(IntegerType) + 1))
             .as("dcg_micro"))
    val idcg = per
      .select(col("q_tok"), col("n_cands"), col("n7"), col("n3"), col("n1"),
              explode(sequence(lit(1), lit(10))).as("pos"))
      .withColumn("g", when(col("pos") <= col("n7"), 7L)
        .when(col("pos") <= col("n7") + col("n3"), 3L)
        .when(col("pos") <= col("n7") + col("n3") + col("n1"), 1L)
        .otherwise(0L))
      .groupBy("q_tok")
      .agg(first(col("n_cands")).as("n_cands"),
           sum(col("g") * element_at(wArr, col("pos"))).as("idcg_micro"))
    dcg.join(idcg, "q_tok")
      .select(col("q_tok"), col("n_cands"), col("dcg_micro"), col("idcg_micro"),
              expr("dcg_micro * 1000000 DIV idcg_micro").as("ndcg_ppm"))
      .orderBy("q_tok")
  }

  private val jlP = 2147483647L
  private val jlHash = Seq(
    (1540483477L, 11L), (1103515245L, 12345L), (69069L, 7L),
    (1664525L, 1013904223L), (22695477L, 1L), (134775813L, 1L),
    (214013L, 2531011L), (1597334677L, 3L))

  /** The 8×64 Johnson–Lindenstrauss sign matrix, s_{j,k} = ±1 by the
    * parity of (k·a_j + b_j) mod 2³¹−1 over the x86 portable-hash constant
    * pairs — materialized as literal arrays shared verbatim by the engine
    * fold and the generated oracle SQL (the x223 sign-array device). */
  val jlSigns: Seq[IndexedSeq[Long]] = jlHash.map { case (a, b) =>
    (0 until 64).map(k => if (((k * a + b) % jlP) % 2 == 0) 1L else -1L)
  }

  /** x231: JL RANDOM-PROJECTION DISTORTION AUDIT — before a pipeline swaps
    * 64-dim embeddings for an 8-dim sketch (the cheap first pass of every
    * two-stage ANN/dedup cascade), it should MEASURE what the projection
    * does to pairwise distances. Coordinates quantize once to exact
    * integers (⌊x·1024⌋ — the x223 device), the ±1/√m projection rides
    * [[jlSigns]], and the per-pair distortion ‖Pd‖²/(m·‖d‖²) is reported
    * in floor-DIV ppm over a 250 000-ppm-bucket histogram. Every value is
    * BIGINT-exact AT ANY CORPUS SIZE: the worst per-pair numerator is
    * (64·2¹¹)²·8·10⁶ ≈ 4×10¹⁶, independent of row count. The wide spread
    * the histogram shows at m = 8 is the honest JL story — concentration
    * needs m ≫ 8, and THIS audit is how a pipeline finds that out.
    *
    * 100 TB: quantization and both norms are map-side per-pair arithmetic
    * (8 sign-folds + 1 square-fold over a 64-array — no explode, no
    * shuffle); the only shuffles are the id-keyed self-join pairing
    * consecutive vectors and the final ≤ ~20-bucket histogram agg.
    * Identical-vector pairs (‖d‖² = 0, distortion undefined — DuckDB
    * errors on the zero division) are EXCLUDED, symmetrically in both
    * engines. */
  def x231(spark: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
        .as("qe"))
    val pairs = qv.filter(col("vec_id") % 2 === 0).as("a")
      .join(qv.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.vec_id").as("id_a"),
              expr("zip_with(a.qe, b.qe, (x, y) -> x - y)").as("d"))
    val projCols = jlSigns.zipWithIndex.map { case (s, j) =>
      expr(s"""aggregate(zip_with(d, array(${s.mkString(", ")}),
              |  (x, s) -> x * s), CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
        .stripMargin).as(s"dj$j")
    }
    pairs
      .withColumn("den",
        expr("aggregate(transform(d, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .filter(col("den") > 0)
      .select(Seq(col("id_a"), col("den")) ++ projCols: _*)
      .withColumn("ratio_ppm", expr("(" + jlSigns.indices.map(j => s"dj$j * dj$j").mkString(" + ") +
        ") * 1000000 DIV (8 * den)"))
      .groupBy(expr("ratio_ppm DIV 250000").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
           min(col("ratio_ppm")).as("min_ratio_ppm"),
           max(col("ratio_ppm")).as("max_ratio_ppm"))
      .orderBy("bucket")
  }

  /** x241's sign family, one GENERATOR for any (j, k) so a single shared
    * formula yields every output dimensionality: s_{j,k} = ±1 by the low
    * bit of the splitmix64 finalizer over index j·64+k. The avalanche mix
    * matters: a linear-congruential parity left rows nearly identical
    * (measured max |row·row'| = 62 of 64 at m = 32 — a rank-deficient
    * "random" projection), where splitmix64 gives the iid-quality bits
    * the JL concentration bound assumes (max |row·row'| ≈ √64-scale).
    * The hash runs ONLY in Scala — both engines consume the resulting
    * ±1 arrays as literals (the x223 device), so portability costs
    * nothing and the generator can be a real mixer. */
  def jlSignsM(m: Int): Seq[IndexedSeq[Long]] =
    (0 until m).map { j =>
      (0 until 64).map { k =>
        var z = (j * 64L + k) + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z = z ^ (z >>> 31)
        if ((z & 1L) == 0L) 1L else -1L
      }
    }

  /** x241: JL DIMENSION CURVE — the decision x231's single-m audit sets
    * up: HOW MANY sketch dimensions does this corpus need? The same
    * quantized pair distances projected at m ∈ {4, 8, 16, 32} via
    * [[jlSignsM]], reporting per m the mean and worst absolute distortion
    * (|ratio − 1| in exact ppm) and the count of pairs within ±25%. The
    * measured concentration-vs-m curve is the empirical
    * Johnson–Lindenstrauss story — the audit that picks m before a
    * pipeline commits to a sketch width.
    *
    * 100 TB: all 60 sign-folds (4+8+16+32) are per-pair in-map array
    * arithmetic — no explode, no shuffle beyond the x231 pairing join and
    * the final 4-row aggregate; per-pair values are corpus-size-
    * independent BIGINTs (the Cauchy–Schwarz ceiling ΣD² ≤ m·64·‖d‖²
    * bounds every ratio at 64×10⁶ ppm regardless of m). */
  def x241(spark: SparkSession, dir: String): DataFrame = {
    val ms = Seq(4, 8, 16, 32)
    val qv = Tables.embeddings(spark, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
        .as("qe"))
    val pairs = qv.filter(col("vec_id") % 2 === 0).as("a")
      .join(qv.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.vec_id").as("id_a"),
              expr("zip_with(a.qe, b.qe, (x, y) -> x - y)").as("d"))
      .withColumn("den",
        expr("aggregate(transform(d, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"))
      .filter(col("den") > 0)
    val withRatios = ms.foldLeft(pairs) { (df, m) =>
      val signs = jlSignsM(m)
      val djs = signs.zipWithIndex.map { case (s, j) =>
        s"""aggregate(zip_with(d, array(${s.mkString(", ")}),
           |  (x, s) -> x * s), CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
          .stripMargin
      }
      val sd2 = djs.map(e => s"($e) * ($e)").mkString(" + ")
      df.withColumn(s"dev_$m",
        expr(s"abs(($sd2) * 1000000 DIV ($m * den) - 1000000)"))
    }
    // ONE aggregation pass for all four widths (re-aggregating per m would
    // re-run the pairing join four times), reshaped to 4 rows after
    val aggs = count(lit(1)).as("n_pairs") +: ms.flatMap(m => Seq(
      expr(s"sum(dev_$m) DIV count(1)").as(s"mean_$m"),
      max(col(s"dev_$m")).as(s"worst_$m"),
      sum(when(col(s"dev_$m") <= 250000L, 1L).otherwise(0L)).as(s"win_$m")))
    withRatios.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(ms.map(m => struct(
        lit(m.toLong).as("m"), col("n_pairs"),
        col(s"mean_$m").as("mean_abs_dev_ppm"),
        col(s"worst_$m").as("worst_dev_ppm"),
        col(s"win_$m").as("n_within_25pct"))): _*)).as("s"))
      .select(col("s.m").as("m"), col("s.n_pairs").as("n_pairs"),
              col("s.mean_abs_dev_ppm").as("mean_abs_dev_ppm"),
              col("s.worst_dev_ppm").as("worst_dev_ppm"),
              col("s.n_within_25pct").as("n_within_25pct"))
      .orderBy("m")
  }

  /** x232: TOP PRINCIPAL COMPONENT, POWER ITERATION — the dimensionality-
    * reduction member of the embedding family (x45 quantizes, x141/x182
    * product-quantize, x231 random-projects; PCA is the data-DEPENDENT
    * projection all of them get compared against). The distributed half
    * computes the EXACT integer second-moment sketch of the ⌊x·1024⌋-
    * quantized embeddings — n, the 64 coordinate sums S_k, and the 2 080
    * upper-triangle product sums S_kl — one explode + partial+final agg
    * (the classic moment-sketch shape; 1024-scaling keeps n·S_kl under
    * int64 even at 5×10⁹ vectors). The driver then assembles the scaled
    * covariance M = n·S₂ − S·Sᵀ (= n²·Cov, same eigenvectors; exact
    * integers, so M is EXACTLY symmetric PSD) and runs 1 000 power
    * iterations — a 64×64 matrix, the bounded-driver-state precedent of
    * x140's Lloyd steps.
    *
    * Oracle form (the x15/x18 theorem pattern): the FRAME is the exact
    * moment sketch, recomputed verbatim by DuckDB; `pca_ok` is the
    * engine-computed conjunction of three REAL THEOREMS of symmetric PSD
    * power iteration started from e_argmax(diag): (1) the Rayleigh
    * sequence is non-decreasing (m_{k+1}/m_k monotone by Cauchy–Schwarz),
    * so (2) λ̂ ≥ max_i M_ii (the start vector's quotient IS max diag, and
    * λ_max ≥ max diag for symmetric PSD), and (3) λ̂ ≤ trace(M). No
    * data-luck spectral-gap assumption anywhere — the flags hold for ANY
    * embedding distribution, including flat spectra where the iterate
    * itself would wander inside a near-degenerate eigenspace. */
  def x232(spark: SparkSession, dir: String): DataFrame = {
    val qv = Tables.embeddings(spark, dir).select(
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT))")
        .as("qe"))
    // The (count, first, second) moment rows via codegen'd posexplode
    // generators instead of the previous single interpreted HOF (the
    // 1 + 64 + 2080-element named_struct transform/flatten chain ran
    // outside whole-stage codegen per vector). Identical (k, l, s2) rows:
    // the same BIGINT products summed per (k, l) — exact integers,
    // order-free.
    val e1 = qv.select(col("qe"), posexplode(col("qe")))
      .select(col("qe"), col("pos").as("k"), col("col").as("vk"))
    val cntRow = qv.agg(count(lit(1)).as("s2"))
      .select(lit(-1).as("k"), lit(-1).as("l"), col("s2"))
    val firstRows = e1.groupBy("k").agg(sum(col("vk")).as("s2"))
      .select(col("k"), lit(-1).as("l"), col("s2"))
    val secondRows = e1.select(col("k"), col("vk"), posexplode(col("qe")))
      .filter(col("pos") >= col("k"))
      .groupBy(col("k"), col("pos").as("l"))
      .agg(sum(col("vk") * col("col")).as("s2"))
    val moments = cntRow.unionByName(firstRows).unionByName(secondRows)
      .materialized // two consumers: the driver fit + the output
    val rows = moments.collect().map(r =>
      ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val d = 64
    val n = rows((-1, -1)).toDouble
    val s = Array.tabulate(d)(k => rows((k, -1)).toDouble)
    val m = Array.tabulate(d, d) { (k, l) =>
      val s2 = rows(if (k <= l) (k, l) else (l, k)).toDouble
      n * s2 - s(k) * s(l)
    }
    val trace = (0 until d).map(k => m(k)(k)).sum
    val maxDiag = (0 until d).map(k => m(k)(k)).max
    val flag =
      if (trace <= 0d) trace == 0d // all-identical corpus: M = 0, λ = 0
      else {
        var v = Array.tabulate(d)(k =>
          if (m(k)(k) == maxDiag) 1d else 0d)
        // keep only the FIRST argmax coordinate so R(v0) = maxDiag exactly
        val first = v.indexWhere(_ == 1d)
        v = Array.tabulate(d)(k => if (k == first) 1d else 0d)
        def mv(x: Array[Double]) = Array.tabulate(d)(k =>
          (0 until d).map(l => m(k)(l) * x(l)).sum)
        def rayleigh(x: Array[Double]) = {
          val ax = mv(x)
          (0 until d).map(k => x(k) * ax(k)).sum /
            (0 until d).map(k => x(k) * x(k)).sum
        }
        var ok = true
        var prev = rayleigh(v)
        for (_ <- 1 to 1000) {
          val w = mv(v)
          val nw = math.sqrt(w.map(x => x * x).sum)
          if (nw > 0) {
            v = w.map(_ / nw)
            val r = rayleigh(v)
            if (r < prev * (1 - 1e-9) - 1e-9) ok = false
            prev = r
          }
        }
        ok && prev >= maxDiag * (1 - 1e-9) - 1e-9 &&
          prev <= trace * (1 + 1e-9) + 1e-9
      }
    moments.withColumn("pca_ok", lit(flag))
      // k/l are INTs inside the moment structs; the driver contract wants
      // BIGINT-only integral outputs (OutputContractSpec)
      .selectExpr("CAST(k AS BIGINT) AS k", "CAST(l AS BIGINT) AS l",
                  "s2", "pca_ok")
      .orderBy("k", "l")
  }

  /** x271: MMR DIVERSIFIED RE-RANK — the serving-layer step between "top-k
    * by similarity" (q45) and what a RAG context window actually wants:
    * maximal marginal relevance. Per query (vec_id < 5), a 12-candidate
    * relevance pool is re-ranked greedily 5 times by
    * `0.7·rel(c) − 0.3·max_{s∈selected} sim(c, s)` — each pick trades
    * relevance against redundancy with what is ALREADY picked. λ-arithmetic
    * uses literal 0.7/0.3 on BOTH engines (never `1 − λ` in Scala:
    * IEEE 1−0.7 = 0.30000000000000004 ≠ the 0.3 literal); candidates rank
    * on the RAW double score (identical bits cross-engine: cosine6 inputs,
    * IEEE multiply/subtract), ties by cid; the emitted score is rounded at
    * the output boundary only (§7.4).
    *
    * 100 TB: the expensive part is the relevance pool — exactly q45/x18's
    * ANN problem, here the broadcast-queries × candidates kernel with a
    * per-query top-12 window. The greedy loop then runs over
    * |queries|·12 rows TOTAL (materialized once via localCheckpoint, with
    * the 12×12 sim matrix): 5 bounded dataframe rounds whose cost is
    * independent of corpus size — re-rank depth never touches the scan. */
  def x271(spark: SparkSession, dir: String): DataFrame = {
    val poolK = 12
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cands = emb.filter(col("vec_id") >= 5)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val rel = cands.crossJoin(broadcast(queries))
      .select(col("qid"), col("cid"), col("ce"),
              VectorKernels.cosine6(col("ce"), col("qe"))
                .cast(DoubleType).as("rel"))
    val pool = rel
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("rel").desc, col("cid"))))
      .filter(col("rk") <= poolK).drop("rk")
      .materialized
    val sim = pool.select(col("qid"), col("cid").as("a"), col("ce").as("ace"))
      .join(pool.select(col("qid"), col("cid").as("b"), col("ce").as("bce")),
            Seq("qid"))
      .filter(col("a") =!= col("b"))
      .select(col("qid"), col("a"), col("b"),
              VectorKernels.cosine6(col("ace"), col("bce"))
                .cast(DoubleType).as("sim"))
      .materialized
    val poolSlim = pool.select("qid", "cid", "rel")
    var selected = poolSlim
      .withColumn("mmr", lit(0.7) * col("rel"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("mmr").desc, col("cid"))))
      .filter(col("rk") === 1)
      .select(col("qid"), col("cid"), lit(1L).as("pick"), col("mmr"))
      .materialized
    for (r <- 2 to 5) {
      val selKeys = selected.select(col("qid").as("sq"), col("cid").as("sc"))
      val remaining = poolSlim.join(selKeys,
        col("qid") === col("sq") && col("cid") === col("sc"), "left_anti")
      val ms = sim.join(selKeys,
          sim("qid") === col("sq") && sim("b") === col("sc"))
        .groupBy(sim("qid").as("mq"), sim("a").as("ma"))
        .agg(max(col("sim")).as("maxsim"))
      val picked = remaining.join(ms,
          col("qid") === col("mq") && col("cid") === col("ma"))
        .withColumn("mmr", lit(0.7) * col("rel") - lit(0.3) * col("maxsim"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("mmr").desc, col("cid"))))
        .filter(col("rk") === 1)
        .select(col("qid"), col("cid"), lit(r.toLong).as("pick"), col("mmr"))
      selected = selected.unionByName(picked).materialized
    }
    // micro-unit integer output: rounding the PRODUCT to 0 decimals is
    // bit-stable cross-engine (the double x·10⁶ is identical on both, and
    // integer-boundary HALF_UP agrees with binary round-half-away), where
    // ROUND(x, 6) is not — Spark rounds the shortest-decimal rendering,
    // DuckDB the scaled binary, and they split on ...x.4999999997 values
    // (observed live at sf0.01: 0.26004 vs 0.260039).
    selected
      .select(col("qid"), col("pick"), col("cid"),
              round(col("mmr") * lit(1000000.0), 0).cast(LongType)
                .as("mmr_micro"))
      .orderBy("qid", "pick")
  }

  /** x276: INT8 QUANTIZATION AUDIT — the post-training-quantization check
    * run before shipping an embedding index at a quarter the bytes: per
    * dimension, the affine uint8 grid (q = round((v−lo)·255/(hi−lo))), the
    * observed q range, and the corpus-max reconstruction error in micro
    * units against the half-step THEOREM bound |v−v′| ≤ (hi−lo)/510 (+1 µ
    * FP slop) — within_bound rides the output as an oracle-recomputed
    * flag. All rounding is round-to-0-decimals of identical doubles (the
    * x271 lesson: integer-boundary rounding is bit-stable cross-engine
    * where 6-dp rounding is not); a degenerate constant dimension
    * quantizes to q = 0 by explicit CASE, not NaN.
    *
    * 100 TB: two scans (per-dim min/max, then the quantize-and-error
    * pass with the 64-row stats broadcast), both map-side-combinable
    * groupBy(dim) aggregates over the posexplode — column-count-bounded
    * ×64 width, not data growth; the fixed-width array-fold alternative
    * (64 conditional aggregates, no explode) trades one shuffle for a
    * 64× wider aggregation buffer and wins only when dim ≫ cores. */
  def x276(spark: SparkSession, dir: String): DataFrame = {
    val dims = Tables.embeddings(spark, dir)
      .select(posexplode(col("embedding")).as(Seq("dim", "vf")))
      .select(col("dim").cast(LongType).as("dim"),
              col("vf").cast(DoubleType).as("v"))
    val stats = dims.groupBy("dim")
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    val err = dims.join(broadcast(stats), "dim")
      .withColumn("q", when(col("hi") === col("lo"), lit(0.0))
        .otherwise(round((col("v") - col("lo")) * lit(255.0) /
                         (col("hi") - col("lo")), 0)))
      .withColumn("recon", when(col("hi") === col("lo"), col("lo"))
        .otherwise(col("lo") + col("q") * (col("hi") - col("lo")) / lit(255.0)))
      .withColumn("emicro",
        round(abs(col("v") - col("recon")) * lit(1000000.0), 0).cast(LongType))
    err.groupBy("dim")
      .agg(max(col("lo")).as("lo"), max(col("hi")).as("hi"),
           min(col("q").cast(LongType)).as("q_min"),
           max(col("q").cast(LongType)).as("q_max"),
           max(col("emicro")).as("max_err_micro"))
      .select(col("dim"),
        round(col("lo") * lit(1000000.0), 0).cast(LongType).as("lo_micro"),
        round(col("hi") * lit(1000000.0), 0).cast(LongType).as("hi_micro"),
        col("q_min"), col("q_max"), col("max_err_micro"),
        (col("max_err_micro").cast(DoubleType) <=
          (col("hi") - col("lo")) * lit(1000000.0) / lit(510.0) + lit(1.0))
          .as("within_bound"))
      .orderBy("dim")
  }

  /** x296: RAG CONTEXT PACKING — the serving-side assembly step between
    * retrieval and the prompt: for each query (the corpus's top-3
    * document-frequency tokens, each a single-term query — deterministic,
    * so the whole chain is oracle-checkable), rank candidate documents by
    * BM25 (x142's scoring, k1 = 1.2, b = 0.75, in integer micro-units),
    * drop exact-duplicate documents first (canonical = min doc_id per
    * lower(text) — duplicated context wastes the window and skews the
    * model), and admit documents in rank order while the CUMULATIVE token
    * count stays ≤ 512 — the greedy context-window fill every RAG stack
    * runs per request. Output per (query, rank ≤ 20): doc, score, its
    * token length, the running total, and the admission verdict.
    *
    * 100 TB: the rank is NOT a window over the candidate set — per query
    * the top-20 collapses through the bounded-state native `topk_pairs`
    * aggregate (the q46/x70 device: partial top-k per partition, k-pair
    * state merge), so a hot query term never sorts its million-doc
    * posting list; the cumulative fill then runs on the 20-row frames.
    * tf/df/dl are the same partial+final aggregates an inverted index
    * maintains (x55/x142); the canonical filter is one semi-join against
    * the q44 dedup grain. */
  def x296(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val canon = docs.groupBy(lower(col("text")).as("norm"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val toks = docs.join(canon, "doc_id")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .materialized // feeds df, the query pick, and the scoring join
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      .materialized // feeds avgdl, the scoring join, and the fill
    val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val queries = df.orderBy(col("df").desc, col("tok")).limit(3)
      .select(col("tok"), col("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"),
                       avg(col("dl").cast(DoubleType)).as("avgdl"))
    val top = tf.join(broadcast(queries), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("score_micro", round(
        expr("""LN((n_docs - df + 0.5) / (df + 0.5) + 1.0) *
               |  (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))"""
          .stripMargin) * 1000000, 0).cast(LongType))
      .groupBy("tok")
      .agg(call_function("topk_pairs",
        col("score_micro").cast(DoubleType), col("doc_id"), lit(20)).as("tk"))
      .select(col("tok").as("query"), posexplode(col("tk")))
      .select(col("query"), (col("pos") + 1).cast(LongType).as("rank"),
              col("col.tag").as("doc_id"),
              col("col.score").cast(LongType).as("score_micro"))
    val byRank = Window.partitionBy("query").orderBy("rank")
    top.join(dl, "doc_id")
      .withColumn("cum_toks", sum(col("dl")).over(byRank))
      .select(col("query"), col("rank"), col("doc_id"), col("score_micro"),
              col("dl").as("n_toks"), col("cum_toks"),
              (col("cum_toks") <= 512L).as("admitted"))
      .orderBy("query", "rank")
  }

  /** x284: SEMANTIC DEDUPLICATION (SemDeDup-style, deterministic) — prune
    * near-duplicate embeddings WITHIN k-means cells: assign every vector to
    * its nearest of the k fixed centroids (init = first k vectors by id,
    * the x140 device, one assignment round), generate candidate pairs only
    * inside a cell, and drop the higher-id member of any pair whose cosine
    * ≥ 0.40. Output = one row per DROPPED vector with its cell, the
    * earlier in-cell vector it duplicates most strongly (max cosine, ties
    * to the lower id — the "keeper", which may itself chain to an even
    * earlier one; keeper chains terminate at a survivor since ids strictly
    * decrease), and that cosine in integer micro-units.
    *
    * The drop rule is "duplicates ANY earlier (lower-id) vector in the
    * cell" — a single join pass, deterministic, and idempotent: a survivor
    * has no earlier in-cell twin in the full set, hence none among the
    * survivors, so re-running on the survivors drops nothing (Round12Spec
    * pins the per-row contract). SemDeDup proper orders by distance
    * to centroid; vec_id is this engine's reproducible stand-in for that
    * arbitrary-but-fixed order.
    *
    * 100 TB: THE point of the operator is that candidate generation is
    * cluster-bucketed — the self-join keys on `cell`, so pair work is
    * Σ_cells |cell|² instead of |V|²; k grows with the corpus to keep cells
    * bounded (k ≈ N/target_cell), and the centroid broadcast stays k·d.
    * The cosine kernel is the codegen'd fvec_dot; the argmax-keeper
    * collapses through a min_by partial aggregate, so the shuffle after
    * the pair stage carries one row per dropped vector, never the pair
    * grid. Since r15 the pair stage additionally carries the
    * [[HotCellCap]] anchor cap (keeper candidates = each cell's 256
    * earliest members, mirrored in the oracle), so even the FIXED-k
    * oracle form is bounded at Σ|cell|·cap = O(N·cap) on pathological
    * corpora — the r14 soak's one super-linear row (346× at 100×, from
    * 8 saturated ~25 000-member cells) is closed by construction. */
  def x284(spark: SparkSession, dir: String): DataFrame =
    semDedupAt(spark, dir, kCells)

  /** x311: PRODUCTION-K SEMANTIC DEDUPLICATION — x284's chain at the
    * PRODUCTION cell count k = max(8, ⌊N / 25⌋) instead of the fixed
    * k = 8 the x284 oracle pins. Fixed k is what makes x284's 100× soak
    * honestly super-linear (Σ|cell|² grows quadratically when cells grow
    * with N — 346× at 100 copies); the production mitigation is growing k
    * with the corpus so MEAN CELL SIZE stays bounded (~25 here), which
    * restores Σ|cell|² ≈ N·target — LINEAR in N. Round 12 measured that
    * claim in an example main (examples/SemDedupKScale at commit
    * 2b09aa5); this key
    * REGISTERS it so the scaled-k chain is oracle-checked and the
    * round-over-round hash pins k itself (emitted as a column) along
    * with every dropped row. Same per-row contract as x284 (drop the
    * higher id of any within-cell pair with cosine ≥ 0.40, keeper =
    * strongest earlier twin); the answer legitimately DIFFERS from
    * x284's at the same corpus because cell boundaries differ — finer
    * cells trade a little recall (cross-cell near-dups) for the linear
    * candidate bound, exactly the production trade.
    *
    * 100 TB: k ≈ N/25 keeps every cell ~25 vectors, the pair stage
    * Σ|cell|² ≈ 25·N, and the centroid set broadcasts at k·d — the
    * driver-side count() that sizes k is one bounded action (row count,
    * not data). Measured on the ×100 twin soak corpus (FullScaleSoak,
    * docs/SCALE_100x.md): 221× wall at 100× data vs fixed-k x284's 346×
    * on identical legs — scaled k removes the candidate-generation
    * overhead; the residual super-linearity is the twin corpus's OWN
    * answer (every vector gains 99 exact twins, so true dup pairs grow
    * ~100×) plus centroid saturation (the copies are identical, so
    * distinct cells cap at the base corpus size no matter how k scales —
    * argmin ties collapse onto the lowest cell id). On a real corpus
    * without planted exact twins, cells stay ~target-sized and the chain
    * is linear; r13's target-250 probe on the same corpus (k = 800 <
    * the 2 000 distinct vectors, so no saturation) read 20.7×, showing
    * the unsaturated regime. */
  def x311(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.embeddings(spark, dir).count()
    val k = math.max(8L, n / 25L).toInt
    semDedupAt(spark, dir, k).withColumn("k", lit(k.toLong))
  }

  /** Hot-cell anchor cap (VERDICT r14 task 5 — x194's hot-fp discipline
    * applied to SemDeDup's within-cell pair stage): the KEEPER-CANDIDATE
    * side of the pair join is restricted to each cell's `HotCellCap`
    * EARLIEST members (lowest vec_id — the cell's anchor set), so pair
    * work is bounded at |cell|·cap per cell — Σ ≤ N·cap, LINEAR in N —
    * even when a pathological corpus piles a whole dense region into one
    * fixed-k cell (the regime that made the r14 100× soak read 346×:
    * 8 saturated cells of ~25 000 members each ⇒ 2.5 G candidate pairs).
    * Every vector is still CHECKED (the v-side is uncapped); what the cap
    * bounds is which EARLIER vectors can serve as its keeper. The anchor
    * set is id-stable under corpus growth — new (higher-id) arrivals never
    * change it — so incremental ingest keeps prior drop decisions valid.
    * 256 is ~4× the sf0.01 oracle gate's largest cell (70) and just above
    * sf0.1's (292 — the cap binds mildly there, trading at most the few
    * vectors whose ONLY ≥0.40 twin ranks past the 256 earliest for the
    * linear bound; the production answer to big cells remains scaling k,
    * x311). Mirrored EXACTLY in both oracle statements (crn ≤ 256 on the
    * u-side), so the capped rule — not an approximation of the uncapped
    * one — is what the driver hash-checks. */
  private[graft] val HotCellCap = 256

  /** x284's chain at an explicit cell count — the oracle key pins k = 8
    * for determinism; the scale soak runs THIS with k ≈ N/target_cell
    * (mean cell ~250) to measure the production-k linearity claim the
    * scaladoc makes (docs/SCALE_100x.md records both legs). */
  private[graft] def semDedupAt(spark: SparkSession, dir: String,
                                k: Int): DataFrame =
    semDedupFrom(
      Tables.embeddings(spark, dir).select("vec_id", "embedding"), k)

  /** The chain on an arbitrary (vec_id, embedding float[]) frame — the
    * Round15Spec anchor-cap replay entry. */
  private[graft] def semDedupFrom(emb: DataFrame, k: Int): DataFrame = {
    val cents = emb.filter(col("vec_id") < k)
      .select(col("vec_id").as("cell"),
              transform(col("embedding"), _.cast(DoubleType)).as("ce"))
    // the assignment feeds BOTH sides of the pair self-join — materialize
    // once (bounded: one row per vector) instead of recomputing the
    // centroid fan-out per side
    val assigned = assign(emb, cents).join(emb, "vec_id")
      .select(col("vec_id"), col("cell"), col("embedding"))
      .materialized
    val u = assigned
      .withColumn("crn", row_number().over(
        Window.partitionBy("cell").orderBy("vec_id")))
      .filter(col("crn") <= HotCellCap)
      .select(col("vec_id").as("u_id"), col("cell"),
              col("embedding").as("u_emb"))
    val v = assigned.select(col("vec_id").as("v_id"), col("cell"),
                            col("embedding").as("v_emb"))
    u.join(v, Seq("cell")).filter(col("u_id") < col("v_id"))
      .withColumn("cos_micro",
        VectorKernels.cosineMicro(col("u_emb"), col("v_emb")))
      .filter(col("cos_micro") >= 400000)
      .groupBy(col("v_id").as("vec_id"))
      .agg(max(col("cell")).as("cell"), // constant within the group
           min_by(struct(col("u_id"), col("cos_micro")),
                  struct(negate(col("cos_micro")), col("u_id"))).as("best"))
      .select(col("vec_id"), col("cell").cast(LongType).as("cell"),
              col("best.u_id").as("keeper"),
              col("best.cos_micro").as("cos_micro"))
      .orderBy("vec_id")
  }

  /** x304: MATRYOSHKA TRUNCATION AUDIT — how faithfully PREFIX-dimension
    * cosine approximates full-dimension cosine (the deploy question behind
    * Matryoshka representation learning: serve 8/16/32-dim truncations of
    * a 64-dim index and pay how much distortion?). Pair set = consecutive
    * vec_ids (one pair per vector, linear, deterministic); per prefix
    * d ∈ {8, 16, 32, 64}: pairs, mean and max absolute cosine error vs
    * the full dimension, and sign-agreement ppm — all in integer
    * micro-units (each per-pair cosine micro-rounded once via the proven
    * cosineMicro device, then integer aggregation only; d = 64 is the
    * zero-error control row). Pairs whose 8-dim prefix is the zero vector
    * are excluded on BOTH engines (0/0 cosine is undefined at every
    * truncation below the first nonzero coordinate).
    *
    * 100 TB: one co-partitioned equi-join on vec_id (consecutive ids live
    * in the same range partitions), the 4 truncated cosines are ONE
    * map-side pass over the joined rows (slice + the codegen'd fvec_dot),
    * the stack fan-out is 4x, and the rollup lands on a 4-row grid. */
  def x304(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val pairs = emb.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .join(emb.select((col("vec_id") - 1L).as("a_id"),
                       col("embedding").as("eb")), "a_id")
      .filter(VectorKernels.normSq(slice(col("ea"), 1, 8)) > 0 &&
              VectorKernels.normSq(slice(col("eb"), 1, 8)) > 0)
    val dims = Seq(8, 16, 32, 64)
    val withCos = pairs.select(dims.map(d =>
      VectorKernels.cosineMicro(slice(col("ea"), 1, d),
                                slice(col("eb"), 1, d)).as(s"c$d")): _*)
    withCos
      .selectExpr("c64",
        "stack(4, 8L, c8, 16L, c16, 32L, c32, 64L, c64) AS (dim, cos_d)")
      .groupBy("dim")
      .agg(count(lit(1)).as("n_pairs"),
           sum(abs(col("cos_d") - col("c64"))).as("abs_err_sum"),
           max(abs(col("cos_d") - col("c64"))).as("max_abs_err_micro"),
           sum(when((col("cos_d") > 0 && col("c64") > 0) ||
                    (col("cos_d") < 0 && col("c64") < 0) ||
                    (col("cos_d") === 0 && col("c64") === 0), 1L)
             .otherwise(0L)).as("agree"))
      .withColumn("mean_abs_err_micro", expr("abs_err_sum DIV n_pairs"))
      .withColumn("sign_agree_ppm", expr("agree * 1000000 DIV n_pairs"))
      .select("dim", "n_pairs", "mean_abs_err_micro", "max_abs_err_micro",
              "sign_agree_ppm")
      .orderBy("dim")
  }
}
