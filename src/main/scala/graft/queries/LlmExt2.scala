package graft.queries

import graft.engine.Mat.MatOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{Tables, VectorKernels}

/** Extended LLM-training-data pipeline operators beyond the SURVEY §2.5 set:
  * SimHash and n-gram-Jaccard near-dup detection, hyperplane-LSH embedding
  * near-dup, language-ID, quality scoring, token counting, and rolling-hash
  * fingerprinting. Everything here is oracle-checked: the arithmetic keys
  * (x10–x13) verbatim, and the hash-seeded detectors (x07/x08/x09, plus
  * Extras.x01) in THEOREM FORM (the x15/x18/x108 device) — each registered
  * key emits the EXACT ground truth both engines can compute plus an
  * engine-computed contract flag (soundness / exact-dup completeness /
  * band-nesting monotonicity) that the oracle states as TRUE, so a banding,
  * signature, vote, or threshold regression flips the driver's hash compare
  * red instead of hiding behind a `no_oracle` row.
  */
object LlmExt2 {

  private[graft] def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** x07: SimHash document fingerprints — per-token 64-bit hash, bitwise
    * majority vote, fingerprint = voted bits ([[simhashFingerprints]] is the
    * user-facing raw path). Identical token multisets ⇒ identical vote sums
    * ⇒ identical fingerprints; near-identical texts ⇒ small Hamming
    * distance.
    *
    * Registered entry in THEOREM FORM: the fingerprint itself is
    * engine-salted (xxhash64), so the emitted rows are the exact-duplicate
    * groups by SORTED TOKEN MULTISET — one row per distinct multiset of
    * non-empty lowercase tokens, (rep = min doc_id, n_docs) — which both
    * engines compute verbatim (the multiset is exactly what determines the
    * vote sums). The engine-computed `simhash_ok` flag states the SimHash
    * consistency THEOREM on the real fingerprints: every multiset group
    * carries exactly ONE distinct fingerprint. (The converse — distinct
    * multisets ⇒ distinct fingerprints — is deliberately NOT asserted:
    * collapsing NEAR-identical texts to one fingerprint is SimHash's
    * feature, and this corpus's J≈0.99 near-dup pairs do collide.) The
    * oracle restates the exact groups plus TRUE, so a vote or hash
    * regression goes driver-red. Hamming behavior on near-identical texts
    * stays in LlmExtSpec.
    *
    * 100 TB: ONE narrow shuffle for the votes — the 64 per-bit votes ride a
    * single groupBy(doc_id) as parallel ±1-sum aggregates (map-side partials
    * make the exchange carry one row per doc); the multiset grouping is a
    * second key-partitioned aggregate; all linear in token count. (An
    * earlier form exploded every token ×64 bits into a (doc, bit) shuffle —
    * 64× the exchanged rows for the same votes.) */
  def x07(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // canonical multiset key: sorted non-empty tokens re-joined; tokens are
    // space-free, so the join is injective on multisets. Any total order
    // works (the key's VALUE is never output — only its grouping matters).
    val keyed = docs
      .select(col("doc_id"),
              concat_ws(" ", array_sort(filter(split(lower(col("text")), " "),
                                               t => t =!= ""))).as("mkey"))
      .filter(col("mkey") =!= "") // token-less docs carry no votes on either side
    val fp = keyed.join(simhashFingerprints(docs), "doc_id")
    val groups = fp.groupBy("mkey")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"),
           countDistinct(col("simhash")).as("nfp"))
    val contract = groups.agg(
      sum(when(col("nfp") === 1, 0L).otherwise(1L)).as("n_split"))
    groups.crossJoin(broadcast(contract))
      .select(col("rep"), col("n_docs"),
              (col("n_split") === 0).as("simhash_ok"))
      .orderBy("rep")
  }

  /** x07's fingerprint stage on an arbitrary documents frame — (doc_id,
    * simhash), one row per doc WITH at least one token (token-less docs
    * have no votes and thus no fingerprint). Shared with the x110 recall
    * matrix. */
  private[queries] def simhashFingerprints(docs: DataFrame): DataFrame = {
    val toks = tokens(Tables.fanOut(docs))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val votes = toks.groupBy("doc_id").agg(
      sum(when(expr("(h >> 0) & 1") === 1, 1).otherwise(-1)).as("v0"),
      (1 until 64).map(b =>
        sum(when(expr(s"(h >> $b) & 1") === 1, 1).otherwise(-1)).as(s"v$b")): _*)
    votes.select(col("doc_id"),
      (0 until 64).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _).as("simhash"))
  }

  /** x08: near-duplicate pairs by exact token-shingle Jaccard ≥ 4/5 — 4
    * two-row min-hash bands for candidates (exact dups collide always;
    * j ≥ 0.8 pairs with prob 1-(1-j²)⁴ ≈ 0.97), true Jaccard confirm.
    * [[jaccardPairs]] is the user-facing raw path.
    *
    * Registered entry in THEOREM FORM: the emitted rows are the EXACT
    * Jaccard-≥-4/5 pair set from [[exactJaccardPairs]] (prefix-filtered
    * exhaustive set-similarity join — deterministic, hash-free; the DuckDB
    * oracle recomputes it as a plain all-pairs inverted-index join, so the
    * hash compare also proves the prefix filter's no-miss theorem on real
    * data). The engine-computed `lsh_ok` flag states three contracts of
    * the REAL 4-band MinHash chain: (a) SOUNDNESS — every banded+confirmed
    * pair is in the exact set (the confirm stage shares the exact integer
    * threshold); (b) EXACT-DUP COMPLETENESS — every identical-shingle-set
    * pair is found (identical sets ⇒ identical min-hash per seed ⇒ same
    * bucket in every band); (c) BAND-NESTING MONOTONICITY — the 3-band
    * pairs (x01's engine; seeds 0–5 ⊂ 0–7, band layout shared) are a
    * subset of the 4-band pairs. All three are theorems of the
    * construction; the oracle states TRUE. */
  def x08(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // ONE shingle materialization + ONE 4-band signature frame serve the
    // exact chain and BOTH band widths (the 3-band chain reads mh0..mh5 of
    // the same frame — identical literal seeds, so signatures are
    // bit-identical to an independent 3-band build): the previous form
    // computed the CPU-dominant shingle stage 3×/scanned documents 9×
    val shSets = shingleSets(docs).materialized
    val sigs = minhashSigs(shSets, 4).materialized
    // The three pair sets are each consumed 2–3× below (contract anti-joins
    // + the emitted rows), and Spark performs no cross-subtree CSE — the r15
    // plan ran the whole exact prefix-filter chain and the 4-band chain
    // THREE times each (0 ReusedExchange). The confirmed pair frames are
    // tiny (|near-dup pairs| rows), so materialize the OUTPUTS once and let
    // every contract aggregate read them (guide §1.2: don't recompute what
    // you already have).
    // The three chains read only the two materialized inputs above and are
    // pairwise independent — submit their materializations concurrently
    // (guide §2.6) so the band-bucket joins back-fill the exact chain's
    // window stages.
    val Seq(exact, lsh4, lsh3) = graft.engine.Par.all(Seq(
      () => exactJaccardPairsFrom(shSets, pruneConfirm = true).materialized,
      () => bandedPairs(shSets, sigs, 4, pruneConfirm = true)
        .select("a", "b").materialized,
      () => bandedPairs(shSets, sigs, 3, pruneConfirm = true)
        .select("a", "b").materialized))
    val unsound = lsh4.join(exact.select("a", "b"), Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_unsound"))
    val missedDup = exact.filter(col("is_exact_dup")).select("a", "b")
      .join(lsh4, Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val nonNested = lsh3.join(lsh4, Seq("a", "b"), "left_anti")
      .agg(count(lit(1)).as("n_nonnested"))
    exact.crossJoin(broadcast(unsound)).crossJoin(broadcast(missedDup))
      .crossJoin(broadcast(nonNested))
      .select(col("a"), col("b"), col("jacc_micro"),
              (col("n_unsound") === 0 && col("n_missed") === 0 &&
               col("n_nonnested") === 0).as("lsh_ok"))
      .orderBy("a", "b")
  }

  /** Shared MinHash-banded exact-Jaccard pair engine (x01/x08): 3-token
    * shingles → bands of TWO min-hashes (collision prob j² per band — two
    * rows per band keeps buckets small even on a tiny vocabulary, where a
    * single global min-shingle would put hundreds of docs in one bucket) →
    * bucket-join candidates → TRUE Jaccard via array_intersect on the
    * broadcast per-doc shingle sets. Exact duplicates collide on every band
    * (recall 1.0); j ≥ 0.8 pairs collide with prob 1-(1-j²)^bands. The
    * confirm threshold is the EXACT rational J ≥ 4/5 ⟺ 9·I ≥ 4·(|A|+|B|) —
    * integer arithmetic, no float boundary — and the emitted value is
    * integer micro-units. Seeds are 0 until 2·numBands, so band b of every
    * width uses the same (2b, 2b+1) pair: candidate sets are NESTED in
    * numBands by construction (x08's monotonicity flag).
    * Linear in corpus size — never an all-pairs join. */
  private[queries] def jaccardPairs(docs: DataFrame, numBands: Int): DataFrame = {
    // the shingle-set frame feeds THREE consumers (the signature aggregate
    // and both sides of the confirm re-attach) whose differing pruning
    // defeats ReusedExchange — materialize it once so the CPU-dominant
    // shingle construction and the corpus scan run once, not three times
    // (guide §1.2; at cluster scale this is persist-vs-recompute of one
    // intermediate against two extra corpus passes)
    val shSets = shingleSets(docs).materialized
    bandedPairs(shSets, minhashSigs(shSets, numBands), numBands)
  }

  /** Shared shingle-set stage (x01/x08/x110): the native fused `shingles`
    * expression (graft.engine.expr.Shingles) replaces the interpreted
    * transform/slice/concat_ws/array_distinct lambda chain; spread the
    * single-split scan across cores first. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    Tables.fanOut(docs)
      .select(col("doc_id"),
              call_function("shingles", col("text"), lit(3)).as("shingles"))
      .filter(size(col("shingles")) > 0)

  /** All 2·bands min-hashes as parallel aggregates of ONE groupBy: the
    * shingle rows shuffle once (map-side partial mins make the exchange
    * carry one row per doc), instead of exploding every shingle ×2·bands
    * and shuffling the multiplied rows. Seeds are the same literals
    * whatever the width, so the shared columns of a wider signature frame
    * are bit-identical to a narrower one's — x08/x110 compute the 4-band
    * frame once and run the 3-band chain off the same columns. */
  private[graft] def minhashSigs(shSets: DataFrame, numBands: Int): DataFrame =
    shSets.select(col("doc_id"), explode(col("shingles")).as("shingle"))
      .groupBy("doc_id").agg(
        min(xxhash64(col("shingle"), lit(0))).as("mh0"),
        (1 until 2 * numBands).map(s =>
          min(xxhash64(col("shingle"), lit(s))).as(s"mh$s")): _*)

  /** Banded candidate generation + exact-Jaccard confirm from prepared
    * shingle sets and (≥ 2·numBands-column) signatures.
    *
    * `pruneConfirm = true` (the full-corpus x01/x08 chains) materializes the
    * candidate pair set and SEMI-JOIN-PRUNES the shingle frame to candidate
    * doc_ids before the re-attach (guide §2.3/§3.2: shuffle keys and
    * metadata, re-attach payloads to candidate rows only) — at scale the
    * confirm's exchanges then carry only candidate docs' arrays instead of
    * two full corpus passes of shingle payloads when the candidate side
    * outgrows the broadcast threshold. Results are identical: the semi-join
    * keeps every doc_id the inner re-attach joins could match. x110's
    * matrix-sized planted chains keep the lazy unpruned form (eager
    * materializations measured slower there — r15 negative result). */
  private[graft] def bandedPairs(shSets: DataFrame, sigs: DataFrame,
                                   numBands: Int,
                                   pruneConfirm: Boolean = false): DataFrame = {
    val keys = sigs.select(col("doc_id"),
        posexplode(array((0 until numBands).map(b =>
          struct(col(s"mh${2 * b}").as("b0"), col(s"mh${2 * b + 1}").as("b1"))): _*)))
      .select(col("doc_id"), col("pos").as("band"),
              col("col.b0").as("b0"), col("col.b1").as("b1"))
    val cand0 = keys.as("ka").join(keys.as("kb"),
        col("ka.band") === col("kb.band") && col("ka.b0") === col("kb.b0") &&
        col("ka.b1") === col("kb.b1") && col("ka.doc_id") < col("kb.doc_id"))
      .select(col("ka.doc_id").as("a"), col("kb.doc_id").as("b")).distinct()
    val cand = if (pruneConfirm) cand0.materialized else cand0
    val sh =
      if (pruneConfirm) {
        val candIds = cand.select(col("a").as("doc_id"))
          .unionByName(cand.select(col("b").as("doc_id"))).distinct()
        shSets.join(candIds, Seq("doc_id"), "left_semi")
      } else shSets
    // shingle-set re-attach is deliberately UNhinted: per-doc shingle arrays
    // are corpus-sized, so forcing a broadcast would OOM at scale. Size
    // statistics pick broadcast at test scale and degrade to a doc_id-keyed
    // shuffle join on a large corpus (candidates ≪ corpus, so the shuffle
    // moves only the candidate rows plus one pass of the shingle sets —
    // and with pruneConfirm the shuffled shingle side is candidate rows
    // only).
    cand
      .join(sh.select(col("doc_id").as("a"), col("shingles").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b"), col("shingles").as("shb")), "b")
      .select(col("a"), col("b"),
              size(array_intersect(col("sha"), col("shb"))).cast(LongType)
                .as("inter"),
              size(col("sha")).cast(LongType).as("na"),
              size(col("shb")).cast(LongType).as("nb"))
      // J = I/(S−I) ≥ 4/5 ⟺ 9I ≥ 4S with S = |A|+|B| — exact in integers
      .filter(col("inter") * 9 >= (col("na") + col("nb")) * 4)
      .select(col("a"), col("b"),
              round(col("inter") * lit(1000000.0) /
                    (col("na") + col("nb") - col("inter")), 0)
                .cast(LongType).as("jacc_micro"))
  }

  /** EXHAUSTIVE exact-Jaccard pair join at threshold 4/5 via PREFIX
    * FILTERING (x109's device applied to symmetric Jaccard) — the
    * deterministic, hash-free ground truth the x01/x08 theorem-form
    * contracts are stated against, and itself the scalable exact
    * set-similarity join a dedup pipeline runs when probabilistic recall
    * is not acceptable.
    *
    * Order all shingles globally (document frequency asc, shingle asc) and
    * take each doc A's first p = |A| − ⌈4|A|/5⌉ + 1 shingles as its prefix.
    * J(A,B) ≥ 4/5 ⟹ I ≥ (4/5)(|A|+|B|)/(1+4/5)·… ⟹ I ≥ ⌈4|A|/5⌉ (via
    * |B| ≥ I), so a qualifying pair must share a PREFIX element of A with
    * B: probing only prefixes against the full inverted index generates a
    * candidate SUPERSET — no probability involved. The DuckDB oracle is
    * the plain ALL-pairs inverted-index join, so the driver's hash compare
    * proves the no-miss theorem on real data every round.
    *
    * Returns (a, b, jacc_micro, is_exact_dup) for every pair with
    * J ≥ 4/5 exactly (9I ≥ 4S integer cut); is_exact_dup marks identical
    * shingle SETS (I = |A| = |B|) — the pairs every MinHash banding must
    * find (x01/x08's completeness floor).
    *
    * 100 TB: every stage is keyed — one fp-keyed doc-frequency agg, one
    * doc-keyed rank window, and the probe joins only the ~|A|/5+1 RAREST
    * shingles of each doc against the index (rare ⇒ short postings lists),
    * then the exact confirm touches candidates only. The all-pairs join
    * exists on the DuckDB side alone. */
  private[queries] def exactJaccardPairs(docs: DataFrame): DataFrame =
    // 4 internal consumers of the shingle frame — materialize once
    exactJaccardPairsFrom(shingleSets(docs).materialized)

  private[graft] def exactJaccardPairsFrom(shSets: DataFrame,
                                             pruneConfirm: Boolean = false)
      : DataFrame = {
    val sh = shSets.select(col("doc_id"), explode(col("shingles")).as("shingle"))
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("dfs"))
    val w = Window.partitionBy("doc_id").orderBy("dfs", "shingle")
    val prefix = sh.join(dfreq, "shingle")
      .withColumn("rn", row_number().over(w))
      .join(shSets.select(col("doc_id"), size(col("shingles")).as("nsh")),
            "doc_id")
      // p = n − ⌈4n/5⌉ + 1; ⌈4n/5⌉ = (4n+4) DIV 5 — DIV, not /: Spark's /
      // on integers is DOUBLE division
      .filter(col("rn") <= col("nsh") - expr("(4 * nsh + 4) DIV 5") + 1)
      .select(col("doc_id").as("pa"), col("shingle"))
    val cand0 = prefix
      .join(sh.select(col("doc_id").as("pb"), col("shingle")), "shingle")
      .filter(col("pa") =!= col("pb"))
      .select(least(col("pa"), col("pb")).as("a"),
              greatest(col("pa"), col("pb")).as("b"))
      .distinct()
    // same confirm-prune device as bandedPairs: materialize the candidate
    // ids once, re-attach shingle payloads to candidate docs only
    val cand = if (pruneConfirm) cand0.materialized else cand0
    val shs =
      if (pruneConfirm) {
        val candIds = cand.select(col("a").as("doc_id"))
          .unionByName(cand.select(col("b").as("doc_id"))).distinct()
        shSets.join(candIds, Seq("doc_id"), "left_semi")
      } else shSets
    cand
      .join(shs.select(col("doc_id").as("a"), col("shingles").as("sha")), "a")
      .join(shs.select(col("doc_id").as("b"), col("shingles").as("shb")), "b")
      .select(col("a"), col("b"),
              size(array_intersect(col("sha"), col("shb"))).cast(LongType)
                .as("inter"),
              size(col("sha")).cast(LongType).as("na"),
              size(col("shb")).cast(LongType).as("nb"))
      .filter(col("inter") * 9 >= (col("na") + col("nb")) * 4)
      .select(col("a"), col("b"),
              round(col("inter") * lit(1000000.0) /
                    (col("na") + col("nb") - col("inter")), 0)
                .cast(LongType).as("jacc_micro"),
              (col("inter") === col("na") && col("inter") === col("nb"))
                .as("is_exact_dup"))
  }

  /** Deterministic ±1 hyperplane component for (plane j, dimension i) — a
    * fixed splitmix64-style mix, no engine-salted functions. */
  private def planeSign(j: Int, i: Int): Double = {
    var z = (j.toLong * 64 + i + 0x9E3779B97F4A7C15L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if (z >= 0) 1.0 else -1.0
  }

  /** Embedding near-duplicate pairs via BANDED random-hyperplane LSH:
    * 64 sign bits split into 8 bands of 8; vectors sharing ANY band become
    * candidates, then the exact cosine ≥ threshold confirms (threshold in
    * integer micro-units — `thresholdMicro = 450000` means cos ≥ 0.45 at
    * the same half-up cut on both engines, with no 6-dp double boundary).
    * Recall is ≈ 1 for true near-duplicates (cos ≥ 0.95; exact-duplicate
    * vectors have identical plane signs, so they collide on EVERY band —
    * recall 1 by theorem) and degrades gracefully below — the documented
    * ANN trade-off. The banded ID-only bucket join replaces the O(n²)
    * all-pairs at scale (embeddings are re-attached per candidate pair, so
    * the wide arrays never travel through the bucket shuffle), and the
    * hyperplanes are compile-time constants so results are reproducible
    * everywhere. */
  def nearDupPairs(emb: DataFrame, thresholdMicro: Long): DataFrame = {
    // Each plane is ONE typedlit array literal + ONE native fvec_dot node —
    // the earlier alternatives both lost: unrolling 64 planes × 64 terms into
    // column algebra blew Catalyst optimization time to ~1 min, and the
    // aggregate(zip_with(...)) HOF ran interpreted per element. ±1.0 is exact
    // in float, so the signs are unchanged.
    def dotPlane(j: Int): Column =
      VectorKernels.dot(col("embedding"),
        typedlit((0 until 64).map(i => planeSign(j, i).toFloat)))
    // band b value = 8 sign bits of planes 8b..8b+7
    def bandValue(b: Int): Column =
      (0 until 8).map(k =>
        when(dotPlane(8 * b + k) >= 0, lit(1 << k)).otherwise(0)).reduce(_ + _)
    val banded = graft.engine.Tables.fanOut(emb).select(
        col("vec_id"), posexplode(array((0 until 8).map(bandValue): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    val cand = banded.as("A").join(banded.as("B"),
        col("A.band") === col("B.band") && col("A.bval") === col("B.bval") &&
        col("A.vec_id") < col("B.vec_id"))
      .select(col("A.vec_id").as("vec_a"), col("B.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val withE = cand
      .join(emb.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(emb.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
    withE.select(col("vec_a"), col("vec_b"),
                 VectorKernels.cosineMicro(col("ea"), col("eb")).as("cos_micro"))
      .filter(col("cos_micro") >= thresholdMicro)
      .orderBy(col("cos_micro").desc, col("vec_a"), col("vec_b"))
  }

  /** x09: embedding near-dup detection — [[nearDupPairs]] is the user-facing
    * banded-hyperplane-LSH scale path. The synthetic data has no true
    * near-duplicates (max pairwise cos ≈ 0.60), so the entry uses a 0.45
    * threshold to stay observable; the ScalaTest property plants real
    * near-duplicates and asserts they are all found.
    *
    * Registered entry in THEOREM FORM: the hyperplane buckets are
    * engine-computed, so the emitted rows are the EXACT cos-micro ≥ 450000
    * pairs over the BOUNDED probe slice `vec_id < 1000` (a ≤1000-row
    * scan-pruned frame at ANY corpus scale — both engines afford the
    * ≤½M-pair exact join; at sf0.01 the slice IS the whole corpus, so the
    * oracle checks the full exact answer). The engine-computed `lsh_ok`
    * flag is the SOUNDNESS theorem of the real LSH chain: every
    * banded+confirmed pair that falls in the slice is in the exact set
    * (the confirm stage shares the same micro threshold). Exact-duplicate
    * completeness (identical vectors collide on every band) is pinned
    * oracle-green by x111's planted-twin matrix, and the probabilistic
    * recall curve lives in LlmExtSpec. */
  def x09(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val sub = emb
      .filter(col("vec_id") < 1000 &&
              VectorKernels.dot(col("embedding"), col("embedding")) > lit(0.0))
      .select(col("vec_id"), col("embedding"))
    // bounded ≤1000×1000 broadcast nested-loop stitch — deliberate: the
    // slice is capped by the scan filter, never by corpus size
    val exact = sub.as("x").join(broadcast(sub.as("y")),
        col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
              VectorKernels.cosineMicro(col("x.embedding"), col("y.embedding"))
                .as("cos_micro"))
      .filter(col("cos_micro") >= 450000)
    val lshInSlice = nearDupPairs(emb, 450000)
      .filter(col("vec_a") < 1000 && col("vec_b") < 1000)
      .select("vec_a", "vec_b")
    val unsound = lshInSlice
      .join(exact.select("vec_a", "vec_b"), Seq("vec_a", "vec_b"), "left_anti")
      .agg(count(lit(1)).as("n_unsound"))
    exact.crossJoin(broadcast(unsound))
      .select(col("vec_a"), col("vec_b"), col("cos_micro"),
              (col("n_unsound") === 0).as("lsh_ok"))
      .orderBy(col("cos_micro").desc, col("vec_a"), col("vec_b"))
  }

  /** x10: language identification by token-profile overlap — learn the top-20
    * tokens per language (one aggregation), classify each document by argmax
    * profile hits (ties → lexicographic lang), report the confusion matrix.
    * A self-contained n-gram-heuristic lang-ID without external models. */
  def x10(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // lang rides along with the explode — no join back to the docs table
    val langToks = docs
      .select(col("doc_id"), col("lang"),
              explode(split(lower(col("text")), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val toks = langToks.select(col("doc_id"), col("tok"))
    val byFreq = Window.partitionBy("lang").orderBy(col("cnt").desc, col("tok"))
    val profile = langToks.groupBy("lang", "tok").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(byFreq)).filter(col("rn") <= 20)
      .select(col("lang").as("p_lang"), col("tok"))
    val hits = toks.join(broadcast(profile), "tok")
      .groupBy("doc_id", "p_lang").agg(count(lit(1)).as("hits"))
    val byHits = Window.partitionBy("doc_id").orderBy(col("hits").desc, col("p_lang"))
    val predicted = hits.withColumn("rn", row_number().over(byHits))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("predicted"))
    docs.select(col("doc_id"), col("lang"))
      .join(predicted, Seq("doc_id"), "left_outer")
      .groupBy(col("lang"), coalesce(col("predicted"), lit("unknown")).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  /** x11: document quality scoring — length, lexical diversity, and mean
    * token length folded into one [0,1] score (pure arithmetic ⇒ portable,
    * oracle-checked). The components are the standard pretraining-corpus
    * heuristics; thresholds are documented constants. */
  def x11(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
              filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
      .select(col("doc_id"),
              size(col("toks")).cast(LongType).as("n_tokens"),
              size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
              round(
                least(col("n_chars") * lit(1.0) / 500, lit(1.0)) * 0.4 +
                (size(array_distinct(col("toks"))) * lit(1.0) / size(col("toks"))) * 0.4 +
                least((col("n_chars") * lit(1.0) / size(col("toks"))) / 10, lit(1.0)) * 0.2,
                6).as("quality"))
      .orderBy("doc_id")

  /** x12: token counting — whitespace tokens, alphabetic-run ("BPE-ish"
    * regex) tokens, and byte length per document (portable, oracle-checked). */
  def x12(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              size(filter(split(col("text"), " "), t => t =!= ""))
                .cast(LongType).as("ws_tokens"),
              size(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
                .cast(LongType).as("re_tokens"),
              octet_length(col("text")).cast(LongType).as("n_bytes"))
      .orderBy("doc_id")

  /** x13: document fingerprinting — Rabin-Karp-style rolling hash over
    * 5-token windows (Horner chain mod 1e9+7; every step bounded < 1.4e11 so
    * BIGINT-exact on any engine ⇒ oracle-checked). Output per doc: window
    * count, distinct fingerprints, min fingerprint — the building block for
    * shingle-level copy detection. */
  /** Per-doc 5-token-window rolling-hash fingerprints (x13's core, shared
    * with the x24 dedup-cluster operator): (doc_id, fp) rows, BIGINT-exact. */
  private[graft] def docFingerprints(docs: DataFrame): DataFrame =
    // One native codegen'd pass per row, NO shuffle at all (a posexplode +
    // lead-window formulation would shuffle every (doc, token) row by doc_id
    // just to see 4 tokens ahead — at 100 TB a full-corpus shuffle for a
    // per-row computation; the interpreted HOF chain it replaced is kept in
    // LlmExtSpec as the equivalence reference). The analysis window is the
    // first 256 tokens per doc, matching the oracle's generate_series cap.
    docs.select(col("doc_id"),
                explode(call_function("rolling_fps", col("text"))).as("fp"))

  /** The interpreted higher-order-function formulation of
    * [[docFingerprints]]'s math — retained ONLY as the equivalence oracle
    * for the native `rolling_fps` expression (LlmExtSpec asserts identical
    * (doc_id, fp) multisets on real corpus data). */
  private[graft] def docFingerprintsHof(docs: DataFrame): DataFrame = {
    val toks = slice(filter(split(lower(col("text")), " "), t => t =!= ""),
                     1, 256)
    // cheap portable token code: first two char codes + length
    def code(t: org.apache.spark.sql.Column) =
      (ascii(substring(t, 1, 1)) * 4096 +
       ascii(substring(t, 2, 1)) * 64 + length(t)).cast(LongType)
    val M = 1000000007L
    val B = 131L
    def horner(c: Int => org.apache.spark.sql.Column) =
      ((((((c(4) * B + c(3)) % M) * B + c(2)) % M)
        * B + c(1)) % M * B + c(0)) % M
    docs
      // explode(array(…)) is a deliberate barrier: higher-order functions
      // are interpreted (no codegen CSE), and CollapseProject would inline
      // the `codes` definition into every element_at below — re-running the
      // 256-token transform per window per tap. A Generate node materializes
      // codes once per row; the fps projection then reads a bound attribute.
      .select(col("doc_id"), explode(array(transform(toks, code(_)))).as("codes"))
      // window starts: 0-based i in [0, n-5]; sequence() descends for a
      // negative bound, so guard docs with fewer than 5 tokens explicitly
      .withColumn("fps", when(size(col("codes")) >= 5,
        transform(sequence(lit(0), size(col("codes")) - 5),
          i => horner(k => element_at(col("codes"), i + k + 1))))
        .otherwise(array().cast(ArrayType(LongType))))
      .select(col("doc_id"), explode(col("fps")).as("fp"))
  }

  /** x86: ORACLE-CHECKED MinHash-LSH — the x01 pipeline rebuilt on fully
    * PORTABLE arithmetic so the whole near-dup path (signatures → bands →
    * candidate pairs → exact Jaccard) verifies against DuckDB: minhashes
    * are `min((a·fp + b) mod 2147483647)` over x13's rolling-hash shingle
    * fingerprints (exact BIGINT on any engine; a·fp < 2⁶¹), 8 hashes in 4
    * bands of 2, candidates from band-key buckets, then exact shingle-set
    * Jaccard with an INTEGER threshold test (2·common ≥ union — no float
    * boundary). x01 keeps the engine-native xxhash64 variant; this is the
    * cross-engine-reproducible twin.
    *
    * 100 TB: identical shape to x01 — per-doc signature is one groupBy;
    * banding is a union of 4 key projections; the bucket self-join never
    * enumerates cross-bucket pairs; Jaccard touches only candidate pairs. */
  def x86(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val hs = Seq((1540483477L, 11L), (1103515245L, 12345L), (69069L, 7L),
                 (1664525L, 1013904223L), (22695477L, 1L), (134775813L, 1L),
                 (214013L, 2531011L), (1597334677L, 3L))
    val fps = docFingerprints(Tables.documents(spark, dir)).distinct()
    val sig = fps.groupBy("doc_id").agg(
      min((col("fp") * hs.head._1 + hs.head._2) % P).as("mh0"),
      hs.tail.zipWithIndex.map { case ((a, b), i) =>
        min((col("fp") * a + b) % P).as(s"mh${i + 1}") }: _*)
    val banded = (0 until 4).map { bI =>
      sig.select(col("doc_id"), lit(bI.toLong).as("band"),
                 concat_ws(":", col(s"mh${2 * bI}"), col(s"mh${2 * bI + 1}")).as("key"))
    }.reduce(_ unionByName _)
    val cand = banded.as("a")
      .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sz = fps.groupBy("doc_id").agg(count(lit(1)).as("s"))
    val common = cand
      .join(fps.select(col("doc_id").as("doc_a"), col("fp")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("fp")), Seq("doc_b", "fp"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    common
      .join(sz.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .withColumn("u", col("sa") + col("sb") - col("c"))
      .filter(col("c") * 2 >= col("u")) // jaccard >= 0.5, integer-exact
      .select(col("doc_a"), col("doc_b"),
              round(col("c") * lit(1.0) / col("u"), 6).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** x102: CONTAINMENT PAIRS — the asymmetric twin of x86's Jaccard:
    * C(A→B) = |A∩B|/|A| flags "A is quoted inside B" even when the
    * symmetric Jaccard is diluted by B's extra content. Same candidate
    * chain as x86; the ≥0.8 cut is the integer test 5·common ≥ 4·|side|
    * (no float boundary). Scale caveat (documented, not hidden): candidates
    * come from Jaccard-tuned LSH bands, so a tiny A swallowed by a huge B
    * can be missed — exhaustive containment needs prefix filtering; this
    * operator reports containment ON the near-dup candidate set, which is
    * the curation use (choosing the survivor direction).
    *
    * 100 TB: identical shape to x86 — banded buckets, candidate-only
    * set intersection, no all-pairs stage. */
  def x102(spark: SparkSession, dir: String): DataFrame = {
    val P = 2147483647L
    val hs = Seq((1540483477L, 11L), (1103515245L, 12345L), (69069L, 7L),
                 (1664525L, 1013904223L), (22695477L, 1L), (134775813L, 1L),
                 (214013L, 2531011L), (1597334677L, 3L))
    val fps = docFingerprints(Tables.documents(spark, dir)).distinct()
    val sig = fps.groupBy("doc_id").agg(
      min((col("fp") * hs.head._1 + hs.head._2) % P).as("mh0"),
      hs.tail.zipWithIndex.map { case ((a, b), i) =>
        min((col("fp") * a + b) % P).as(s"mh${i + 1}") }: _*)
    val banded = (0 until 4).map { bI =>
      sig.select(col("doc_id"), lit(bI.toLong).as("band"),
                 concat_ws(":", col(s"mh${2 * bI}"), col(s"mh${2 * bI + 1}")).as("key"))
    }.reduce(_ unionByName _)
    val cand = banded.as("a")
      .join(banded.as("b"),
            col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sz = fps.groupBy("doc_id").agg(count(lit(1)).as("s"))
    cand
      .join(fps.select(col("doc_id").as("doc_a"), col("fp")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("fp")), Seq("doc_b", "fp"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
      .join(sz.select(col("doc_id").as("doc_a"), col("s").as("sa")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("s").as("sb")), "doc_b")
      .filter(col("c") * 5 >= col("sa") * 4 || col("c") * 5 >= col("sb") * 4)
      .select(col("doc_a"), col("doc_b"),
              round(col("c") * lit(1.0) / col("sa"), 6).as("contain_a"),
              round(col("c") * lit(1.0) / col("sb"), 6).as("contain_b"))
      .orderBy("doc_a", "doc_b")
  }

  /** x109: EXHAUSTIVE containment join via PREFIX FILTERING — closes x102's
    * documented gap: a short doc quoted verbatim inside a long one has high
    * containment but tiny symmetric Jaccard, so x86's Jaccard-tuned LSH
    * bands (x102's candidate source) can miss the pair entirely. Prefix
    * filtering (the PPJoin family's candidate rule) is EXHAUSTIVE at the
    * threshold, no probability involved:
    *
    * order all fingerprints globally (rarest first: document frequency asc,
    * fp asc) and take each doc A's first p = |A| − ⌈t·|A|⌉ + 1 = |A| DIV 5
    * + 1 (t = 4/5) fingerprints as its prefix. If a pair (A,B) shares NO
    * prefix element of A, then A∩B ⊆ A∖prefix, so |A∩B| ≤ |A| − p < t·|A| —
    * the pair cannot pass the threshold. Contrapositive: every qualifying
    * pair shares a prefix element, so blocking on (A-prefix fp = any B fp)
    * generates a candidate superset. The DuckDB oracle is the full
    * inverted-index ALL-pairs containment — ground truth — so the hash
    * compare proves the no-miss property on real data, not just in theory.
    *
    * Output: one row per DIRECTED pair, A contained in B with
    * C(A→B) = |A∩B|/|A| ≥ 0.8 (integer cut 5c ≥ 4|A|).
    *
    * 100 TB: every stage is keyed — df is one fp-keyed agg, ranking is one
    * doc-keyed window, probing joins only the ~|A|/5+1 RAREST fingerprints
    * of each doc against the index (rare ⇒ short postings lists; that
    * choice, not the prefix length, is what kills the candidate blow-up),
    * and the exact intersection touches candidates only. No all-pairs
    * stage anywhere; the oracle's all-pairs join exists on the DuckDB side
    * alone. */
  def x109(spark: SparkSession, dir: String): DataFrame =
    containmentPrefix(docFingerprints(Tables.documents(spark, dir)).distinct())

  /** x109's core on an arbitrary (doc_id, fp) set — factored out so specs
    * can drive planted corpora through the identical plan. */
  private[graft] def containmentPrefix(fps: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("dffp", "fp")
    val sz = fps.groupBy("doc_id").agg(count(lit(1)).as("s"))
    val dfreq = fps.groupBy("fp").agg(count(lit(1)).as("dffp"))
    val prefix = fps
      .join(dfreq, "fp")
      .withColumn("rn", row_number().over(w))
      .join(sz, "doc_id")
      // p = |A| DIV 5 + 1 (exactly |A| - ceil(4|A|/5) + 1 for t = 4/5);
      // DIV, not /: Spark's / on integers is DOUBLE division
      .filter(col("rn") <= expr("s DIV 5") + 1)
      .select(col("doc_id").as("contained_id"), col("fp"))
    val cand = prefix
      .join(fps.select(col("doc_id").as("container_id"), col("fp")), "fp")
      .filter(col("contained_id") =!= col("container_id"))
      .select("contained_id", "container_id").distinct()
    cand
      .join(fps.select(col("doc_id").as("contained_id"), col("fp")), "contained_id")
      .join(fps.select(col("doc_id").as("container_id"), col("fp")),
            Seq("container_id", "fp"))
      .groupBy("contained_id", "container_id").agg(count(lit(1)).as("c"))
      .join(sz.select(col("doc_id").as("contained_id"), col("s").as("sa")), "contained_id")
      .filter(col("c") * 5 >= col("sa") * 4)
      .select(col("contained_id"), col("container_id"),
              round(col("c") * lit(1.0) / col("sa"), 6).as("containment"))
      .orderBy("contained_id", "container_id")
  }

  /** x101: CONTENT-DEFINED CHUNK BOUNDARIES — the rsync/LBFS chunking rule
    * over the rolling-hash stream: a 5-token window whose fingerprint ≡ 0
    * (mod 64) is a cut point, and the distribution of gaps between
    * consecutive cut points is the chunk-size profile (expected gap = the
    * modulus; heavy tails mean pathological content). Content-defined cuts
    * are what make dedup STORAGE incremental — an edit only reshuffles the
    * chunks around it, unlike x57's fixed offsets where one insertion
    * shifts every later chunk.
    *
    * 100 TB: fingerprints are the same shuffle-free native `rolling_fps`
    * pass as x13; boundary detection is a per-row filter; the gap lag is
    * a doc-keyed window; the histogram is ≤max-gap cells. */
  def x101(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    Tables.documents(spark, dir)
      .select(col("doc_id"),
              posexplode(call_function("rolling_fps", col("text"))))
      .filter(col("col") % 64 === 0)
      .select(col("doc_id"), col("pos"))
      .withColumn("gap", col("pos") - lag(col("pos"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("gap").cast(LongType).as("gap"))
      .agg(count(lit(1)).as("n_chunks"))
      .orderBy("gap")
  }

  def x13(spark: SparkSession, dir: String): DataFrame = {
    docFingerprints(Tables.documents(spark, dir)).groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
           countDistinct(col("fp")).as("n_distinct_fp"),
           min(col("fp")).as("min_fp"))
      .orderBy("doc_id")
  }

  /** x218's per-bit linear maps: vote_b(c) = ((c·A_b + B_b) mod P) mod 2.
    * Shared with the generated oracle SQL (OracleSqlRound10) so both
    * engines run the identical integer arithmetic — c ≤ ~528k and
    * A_b < 2¹⁰⁴⁰⁄… < 2³¹, so every product stays far below 2⁶³ (DuckDB
    * ERRORS on BIGINT overflow where Spark wraps — the portability
    * constraint that rules out xxhash64 avalanche arithmetic). */
  private[graft] val simhashBits = 32
  private[graft] val simhashP = 1000000007L
  private[graft] val simhashCoeffs: Seq[(Long, Long)] =
    (0 until simhashBits).map(b => (1103515245L + b * 12345L, 7L + b * 1013L))

  /** Portable SimHash fingerprints on an arbitrary documents frame:
    * (doc_id, simhash), one row per doc with ≥1 token (analysis window =
    * first 256 tokens, the x13 cap). Same single-shuffle shape as x07's
    * engine-native twin: 32 per-bit ±1-sums ride ONE groupBy(doc_id) as
    * parallel partial aggregates. */
  private[graft] def simhashPortable(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(slice(filter(split(lower(col("text")), " "), t => t =!= ""),
                      1, 256)).as("tok"))
    val code = (ascii(substring(col("tok"), 1, 1)) * 4096 +
                ascii(substring(col("tok"), 2, 1)) * 64 +
                length(col("tok"))).cast(LongType)
    val coded = toks.select(col("doc_id"), code.as("c"))
    val votes = coded.groupBy("doc_id").agg(
      sum(when((col("c") * simhashCoeffs.head._1 + simhashCoeffs.head._2)
                 % simhashP % 2 === 1, 1).otherwise(-1)).as("v0"),
      simhashCoeffs.tail.zipWithIndex.map { case ((a, b), i) =>
        sum(when((col("c") * a + b) % simhashP % 2 === 1, 1).otherwise(-1))
          .as(s"v${i + 1}") }: _*)
    votes.select(col("doc_id"),
      (0 until simhashBits).map(b =>
        when(col(s"v$b") > 0, lit(1L << b)).otherwise(0L)).reduce(_ + _)
        .as("simhash"))
  }

  /** x218: PORTABLE SIMHASH — x07's bit-majority fingerprint chain rebuilt
    * on portable Knuth-style linear-map arithmetic (the x86 device that
    * made MinHash-LSH oracle-checkable), so the WHOLE chain — tokenize,
    * per-token code, 32 per-bit majority votes, fingerprint assembly,
    * collision grouping — verifies against DuckDB end to end. x07 stays
    * the engine-native twin (xxhash64 bit mixing, better avalanche); this
    * key shrinks the unverifiable surface to the three seeded-candidate
    * keys x01/x08/x09 (VERDICT r9 task 6).
    *
    * 100 TB: identical posture to x07 — one narrow groupBy(doc_id) shuffle
    * carrying one row per doc (map-side partials fold the ±1 votes), then
    * a fingerprint-keyed aggregate; linear in token count, never a pair
    * join. */
  def x218(spark: SparkSession, dir: String): DataFrame =
    simhashPortable(Tables.documents(spark, dir))
      .groupBy("simhash")
      .agg(min(col("doc_id")).as("rep"), count(lit(1)).as("n_docs"))
      .orderBy("rep")

  /** x120: DUPLICATED-SPAN FRACTION — per document, how many of its 5-token
    * windows also occur in at least one OTHER document (the window-level
    * statistic behind exact-substring training-data dedup, Lee et al.
    * "Deduplicating Training Data Makes Language Models Better", ACL'22:
    * their remove-if-any-50-token-span-repeats rule is a threshold on
    * exactly this per-doc fraction). Counts are window MULTISET counts —
    * a doc that repeats a shared span twice has both occurrences flagged —
    * and the fraction is exact integer ppm (floor DIV, q47's convention).
    *
    * 100 TB: the same shuffle-free native `rolling_fps` scan as x13, one
    * fp-keyed agg to find cross-doc fingerprints (map-side combined; its
    * distinct-doc count per fp is capped at 2 by the > 1 cut, so hot
    * fingerprints cannot blow partial state), one fp-keyed LEFT SEMI join
    * back (candidate windows only — no doc×doc stage anywhere), one
    * doc-keyed count. Compare x08/x86, which answer WHICH docs pair; this
    * answers HOW MUCH of each doc is duplicated — the removal decision
    * needs both. */
  def x120(spark: SparkSession, dir: String): DataFrame = {
    val wins = docFingerprints(Tables.documents(spark, dir))
    val shared = wins.groupBy("fp")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") > 1).select("fp")
    val tot = wins.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val dup = wins.join(shared, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
    tot.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
              coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_ppm", expr("n_dup * 1000000 DIV n_windows"))
      .orderBy("doc_id")
  }

  /** x220: CONTENT-DEFINED CHUNKING — the storage-dedup chunker (LBFS/
    * rsync lineage) on x13's rolling-hash machinery: a chunk boundary
    * falls wherever the 5-token window fingerprint ≡ 0 (mod 16), so
    * boundaries depend only on LOCAL content — inserting a token re-cuts
    * one chunk and every later chunk re-aligns at the next surviving
    * boundary (the self-synchronization property fixed-width chunking
    * lacks; Round10bSpec pins it on an edited twin). Each chunk is
    * fingerprinted by a Horner chain over its window fps (every step
    * < 1.32e11, BIGINT-exact), and the per-language report — chunk count,
    * distinct chunks, duplicated-chunk ppm, max chunk width — measures
    * cross-doc chunk-level dedup mass end-to-end against DuckDB.
    *
    * 100 TB: chunking is PER-ROW — the fps array from the native
    * `rolling_fps` scan is split and fingerprinted inside one projection
    * (array-fold, no window function), so the corpus pass has NO shuffle;
    * the only exchange is the final 5-group language rollup (map-side
    * combined). A (doc_id, pos)-window formulation would shuffle every
    * token row just to number boundaries — the x13 anti-pattern. */
  /** The per-doc CDC chunker behind x220: (doc_id, lang, chunk_idx,
    * n_windows, chunk_fp), chunk_idx in window order — shared with
    * Round10bSpec, whose self-synchronization test needs the ORDERED
    * per-doc chunk sequence the language rollup discards. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame = {
    val M = 1000000007L
    val emptyChunks = array().cast(ArrayType(ArrayType(LongType)))
    val emptyCur = array().cast(ArrayType(LongType))
    val chunksCol = aggregate(
      call_function("rolling_fps", col("text")),
      struct(emptyChunks.as("done"), emptyCur.as("cur")),
      (acc, fp) => {
        val cur2 = concat(acc.getField("cur"), array(fp))
        when(fp % 16 === 0,
             struct(concat(acc.getField("done"), array(cur2)).as("done"),
                    emptyCur.as("cur")))
          .otherwise(struct(acc.getField("done").as("done"),
                            cur2.as("cur")))
      },
      acc => when(size(acc.getField("cur")) > 0,
                  concat(acc.getField("done"), array(acc.getField("cur"))))
               .otherwise(acc.getField("done")))
    docs
      .select(col("doc_id"), col("lang"),
              posexplode(chunksCol).as(Seq("chunk_idx", "chunk")))
      .select(col("doc_id"), col("lang"),
              col("chunk_idx").cast(LongType).as("chunk_idx"),
              size(col("chunk")).as("n_windows"),
              aggregate(col("chunk"), lit(0L),
                        (a, x) => (a * 131L + x) % M).as("chunk_fp"))
  }

  def x220(spark: SparkSession, dir: String): DataFrame =
    cdcChunks(Tables.documents(spark, dir)).groupBy("lang")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
           sum(col("n_windows").cast(LongType)).as("n_windows"),
           count(lit(1)).as("n_chunks"),
           countDistinct(col("chunk_fp")).as("n_distinct_chunks"),
           max(col("n_windows").cast(LongType)).as("max_chunk_windows"))
      .withColumn("dup_chunk_ppm",
        expr("(n_chunks - n_distinct_chunks) * 1000000 DIV n_chunks"))
      .orderBy("lang")

  /** x223's plane count and ±1 sign patterns. The signs are LITERAL arrays
    * drawn from seeded `java.util.Random` (whose LCG is fixed by the Java
    * spec, so the val is stable across JVMs) — NOT the x218 linear-map
    * parities: over the SEQUENTIAL dimension index 1..64 the low bit of a
    * mod-P linear map is highly structured, which made the 16 plane bits
    * correlated, collapsed band entropy (a 563-deep bucket over 2 000
    * vectors), and sent the bucket join quadratic — measured 122× on the
    * 10× soak before this fix. The generated oracle SQL embeds THESE
    * literals, so cross-engine agreement is by construction. */
  private[graft] val qlshPlanes = 16
  private[graft] val qlshSigns: Seq[Seq[Long]] =
    (0 until qlshPlanes).map { p =>
      val r = new java.util.Random(1000L + p)
      Seq.fill(64)(if (r.nextBoolean()) 1L else -1L)
    }

  /** x223: PORTABLE QUANTIZED-HYPERPLANE LSH — x09's whole chain
    * (signature → banded buckets → candidate pairs → similarity verify)
    * rebuilt so EVERY stage is exact integer arithmetic DuckDB replays
    * end-to-end: embeddings quantize to q_i = ⌊e_i·1024⌋ (float→double
    * widening and a power-of-two scale are both exact, so the quantized
    * vectors are identical on any IEEE engine), each of 16 hyperplane
    * bits is the sign of Σᵢ qᵢ·sᵢ with the [[qlshSigns]] literal ±1
    * patterns (an unordered BIGINT sum — no float-accumulation-order
    * hazard by construction), buckets are the two 8-bit signature bands,
    * and a candidate passes at cos ≥ 0.35 via the cross-multiplied
    * integer test 400·qdot² ≥ 49·‖a‖²·‖b‖² (qdot > 0) — no division, no
    * sqrt, no epsilon. x09 stays the engine-native float twin; this
    * completes the portable-twin set (x86 MinHash, x218 SimHash) for the
    * LSH family, leaving only x01/x08/x09's seeded-hash internals
    * outside the oracle.
    *
    * 100 TB: the signature stage is x218's posture — ONE narrow
    * groupBy(vec_id) with 17 parallel integer sums; candidates come from
    * the banded bucket join (never all-pairs); the verify re-attaches
    * the two quantized arrays by key and folds the dot product per row.
    * Like x09, TRUE near-dup mass (here: the label-cluster structure)
    * grows quadratically in cluster density — the documented
    * quadratic-truth class, bounded by bucket selectivity. */
  def x223(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    def quant(e: Column) = floor(e.cast(DoubleType) * 1024).cast(LongType)
    val qv = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i0", "e")))
      .select(col("vec_id"), (col("i0") + 1).as("i"), quant(col("e")).as("q"))
    def planeSum(p: Int) =
      sum(col("q") * element_at(typedlit(qlshSigns(p)), col("i")))
    val sums = qv.groupBy("vec_id").agg(
      planeSum(0).as("d0"),
      (1 until qlshPlanes).map(p => planeSum(p).as(s"d$p")) :+
        sum(col("q") * col("q")).as("nrm"): _*)
    val sigs = sums.select(col("vec_id"), col("nrm"),
      (0 until qlshPlanes).map(p =>
        when(col(s"d$p") > 0, lit(1L << p)).otherwise(0L)).reduce(_ + _)
        .as("sig"))
    val bands = sigs.select(col("vec_id"), col("nrm"), explode(array(
        struct(lit(0L).as("band"), (col("sig") % 256).as("bval")),
        struct(lit(1L).as("band"), expr("sig DIV 256").as("bval")))).as("bb"))
      .select(col("vec_id"), col("nrm"),
              col("bb.band").as("band"), col("bb.bval").as("bval"))
    val cand = bands.as("A").join(bands.as("B"),
        col("A.band") === col("B.band") && col("A.bval") === col("B.bval") &&
          col("A.vec_id") < col("B.vec_id"))
      .select(col("A.vec_id").as("vec_a"), col("B.vec_id").as("vec_b"),
              col("A.nrm").as("na"), col("B.nrm").as("nb"))
      .distinct()
    val qarr = emb.select(col("vec_id"),
      transform(col("embedding"), e => quant(e)).as("qs"))
    cand
      .join(qarr.select(col("vec_id").as("vec_a"), col("qs").as("qa")),
            Seq("vec_a"))
      .join(qarr.select(col("vec_id").as("vec_b"), col("qs").as("qb")),
            Seq("vec_b"))
      .withColumn("qdot",
        aggregate(zip_with(col("qa"), col("qb"), (x, y) => x * y),
                  lit(0L), (acc, v) => acc + v))
      .filter(col("qdot") > 0 &&
              col("qdot") * col("qdot") * 400 >= col("na") * col("nb") * 49)
      .select(col("vec_a"), col("vec_b"), col("qdot"), col("na"), col("nb"))
      .orderBy("vec_a", "vec_b")
  }

  /** x224: PORTABLE EXACT-JACCARD PAIRS — x08's near-dup decision
    * (token-shingle Jaccard ≥ 0.5) rebuilt on x13's rolling-hash window
    * fingerprints so the WHOLE chain is oracle-checked: per-doc distinct
    * fp sets, hot fps (doc frequency > 64, the x194 boilerplate cap —
    * mirrored in the oracle) dropped BEFORE any pair forms, intersection
    * counts from the join-free bucket-pair device (collect_set per fp →
    * in-map pair explode — the x196 lesson: no fp self-join, no repeated
    * corpus scan), and Jaccard as the exact integer test 2·|∩| ≥ |∪| with
    * the similarity reported in floor-div ppm. x08 stays the engine-
    * native (xxhash64 MinHash-banded) twin; with x86/x218/x223 this
    * gives every near-dup family member an oracle-green portable twin.
    *
    * 100 TB: ONE corpus-scale shuffle (the fp groupBy, map-side
    * combined); bucket pair fan-out is ≤ cap² per fp BY CONSTRUCTION;
    * the size/stitch joins run on the contracted pair and per-doc
    * aggregates. */
  def x224(spark: SparkSession, dir: String): DataFrame =
    jaccardPortable(Tables.documents(spark, dir))

  /** x224's chain on an arbitrary documents frame (shared with
    * Round10bSpec, which plants exact-duplicate and disjoint docs). */
  private[graft] def jaccardPortable(docs: DataFrame): DataFrame = {
    val byFp = docFingerprints(docs)
      .groupBy("fp").agg(collect_set(col("doc_id")).as("ds"))
      .filter(size(col("ds")) <= 64)
    val sizes = byFp.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = byFp
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("ix"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .filter(col("ix") * 2 >= col("na") + col("nb") - col("ix"))
      .select(col("a"), col("b"), col("ix"), col("na"), col("nb"),
              expr("ix * 1000000 DIV (na + nb - ix)").as("j_ppm"))
      .orderBy("a", "b")
  }

  /** x227: INCREMENTAL-INGEST DEDUP — the production path x08/x224 (batch
    * pairwise) do NOT cover: an incoming batch (doc_id odd — standing in
    * for today's crawl) screened against the EXISTING corpus's fingerprint
    * index (distinct window fps of the even docs — in production a
    * persisted fp store), per new doc: window count, windows already known
    * to the corpus, overlap in floor-div ppm, and the τ = 0.5 containment
    * verdict 2·hits ≥ windows. New docs never pair with old DOCS — only
    * with the fp INDEX — so ingest cost is linear in the batch, however
    * large the corpus history.
    *
    * 100 TB: the fp frame is materialized once (localCheckpoint — two
    * consumers would otherwise re-scan the corpus; the x120/Features
    * idiom); the index probe is ONE fp-keyed left-semi join (a Bloom
    * pre-filter — x61's device — drops most probes before the shuffle in
    * production), then two doc-keyed partial aggregates. No doc×doc
    * stage anywhere. */
  def x227(spark: SparkSession, dir: String): DataFrame =
    dedupIncremental(Tables.documents(spark, dir))

  /** x227's chain on an arbitrary documents frame (shared with
    * Round10bSpec's planted corpus/batch). */
  private[graft] def dedupIncremental(docs: DataFrame): DataFrame = {
    val fps = docFingerprints(docs).distinct().materialized
    val idx = fps.where(col("doc_id") % 2 === 0).select("fp").distinct()
    val newFps = fps.where(col("doc_id") % 2 === 1)
    val nw = newFps.groupBy("doc_id").agg(count(lit(1)).as("n_windows"))
    val hits = newFps.join(idx, Seq("fp"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    nw.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
              coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("overlap_ppm", expr("n_hit * 1000000 DIV n_windows"))
      .withColumn("is_dup", col("n_hit") * 2 >= col("n_windows"))
      .orderBy("doc_id")
  }

  /** x251: CAPTURE–RECAPTURE DEDUP-COVERAGE TRIANGULATION — the question
    * every dedup deployment eventually asks: "how many near-dup pairs does
    * the corpus REALLY have, given detectors that each miss some?" Two
    * INDEPENDENT LSH band families over one 8-minhash signature (family 1
    * = bands {mh0:mh1, mh2:mh3}, family 2 = {mh4:mh5, mh6:mh7} — disjoint
    * hash functions, so their misses are as independent as LSH gets) each
    * detect a subset of the true τ=0.5 pair set; Lincoln–Petersen
    * N̂ = n₁·n₂/m and the small-sample Chapman variant estimate the total
    * from the overlap m. Because the portable chain ALSO affords the
    * exhaustive truth (x224's capped bucket-pair device), the estimate is
    * reported NEXT TO the true count — the validation a production system
    * (where truth is unaffordable) cannot run, done here once to justify
    * the estimator. All integer; the capped (df ≤ 64) fp universe is the
    * corpus contract shared by truth and detectors.
    *
    * 100 TB: the fp groupBy is the ONE corpus-scale shuffle (map-side
    * combined, materialized once for its three consumers — the
    * multi-consumer idiom); signatures are one doc-keyed aggregate;
    * band buckets join on their keys; every later join runs on
    * pair-set-bounded frames. The production path drops the truth branch
    * and keeps the two detector families — linear, no pair square. */
  def x251(spark: SparkSession, dir: String): DataFrame =
    captureRecapture(Tables.documents(spark, dir))

  /** x251's chain on an arbitrary documents frame (shared with the spec's
    * planted corpus). */
  private[graft] def captureRecapture(docs: DataFrame): DataFrame = {
    val P = 2147483647L
    val hs = Seq((1540483477L, 11L), (1103515245L, 12345L), (69069L, 7L),
                 (1664525L, 1013904223L), (22695477L, 1L), (134775813L, 1L),
                 (214013L, 2531011L), (1597334677L, 3L))
    val byFp = docFingerprints(docs)
      .groupBy("fp").agg(collect_set(col("doc_id")).as("ds"))
      .filter(size(col("ds")) <= 64)
      .materialized // 3 consumers: sizes, pairs, signatures
    val kept = byFp.select(col("fp"), explode(col("ds")).as("doc_id"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = byFp
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("ix"))
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .filter(col("ix") * 2 >= col("na") + col("nb") - col("ix"))
      .select("a", "b")
      .materialized // 3 consumers: d1, d2, n_true
    val sig = kept.groupBy("doc_id").agg(
      min((col("fp") * hs.head._1 + hs.head._2) % P).as("mh0"),
      hs.tail.zipWithIndex.map { case ((a, b), i) =>
        min((col("fp") * a + b) % P).as(s"mh${i + 1}") }: _*)
    val banded = (0 until 4).map { bI =>
      sig.select(col("doc_id"), lit(bI.toLong).as("band"),
                 concat_ws(":", col(s"mh${2 * bI}"),
                           col(s"mh${2 * bI + 1}")).as("key"))
    }.reduce(_ unionByName _)
    def detected(lo: Int, hi: Int) = banded.as("x")
      .join(banded.as("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id") &&
            col("x.band") >= lo && col("x.band") < hi)
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
      .join(truth, Seq("a", "b")) // verified pairs only
    val d1 = detected(0, 2)
    val d2 = detected(2, 4)
    val m = d1.join(d2, Seq("a", "b")).agg(count(lit(1)).as("m_overlap"))
    d1.agg(count(lit(1)).as("n1"))
      .crossJoin(d2.agg(count(lit(1)).as("n2")))
      .crossJoin(m)
      .crossJoin(truth.agg(count(lit(1)).as("n_true")))
      .selectExpr("n1", "n2", "m_overlap",
        "CASE WHEN m_overlap = 0 THEN -1 ELSE n1 * n2 DIV m_overlap END AS lp_est",
        "(n1 + 1) * (n2 + 1) DIV (m_overlap + 1) - 1 AS chapman_est",
        "n_true")
  }

  /** x298: EXACT SUBSTRING DEDUP — the suffix/k-gram-run dedup mode
    * (Lee et al. 2022's "deduplicating training data" exact-substring
    * pass) that runs ALONGSIDE MinHash in an LLM corpus pipeline,
    * completing the dedup matrix: near-dup set-Jaccard (x01/x08), SimHash
    * (x07), embedding SemDeDup (x284), exact-normalized (q44) — and now
    * exact SHARED PASSAGES. A token position is duplicated when the
    * K-token window starting there occurs ≥2 times in the corpus
    * (cross-doc or self-repetition — both are the same signal to a
    * training loop); per document, the union of the flagged [p, p+K)
    * intervals merges into maximal duplicated RUNS (interval union:
    * consecutive flagged starts merge while the coverage stays contiguous,
    * i.e. gap ≤ K) — exactly the spans the pipeline would cut. K = 13
    * tokens stands in for the production 50-token window (the testdata
    * docs are 10–99 tokens). Output per run: (doc_id, run_start, run_end,
    * n_tokens, n_windows, rep_doc) with rep_doc = the min doc_id holding
    * any of the run's windows (the canonical-representative convention of
    * q44/x33) — 0-based token positions, inclusive ends.
    *
    * 100 TB: inherently LINEAR, unlike the pair-emitting near-dup keys —
    * the corpus-scale work is one map-side positional k-gram explode, ONE
    * gram-keyed partial+final aggregate (count + min-doc), one gram-keyed
    * join BACK to the sites (each site meets exactly its own gram's 1-row
    * aggregate, so a boilerplate gram shared by 10⁶ docs fans out to its
    * own 10⁶ sites and no further — no candidate pairs ever form), and a
    * per-doc bounded window for the run merge. Production swaps the gram
    * STRING join key for a 64-bit rolling fingerprint (the x120
    * `rolling_fps` device) to cut shuffle bytes ~8× — a collision there
    * only over-flags one span, it cannot drop one — kept as the exact
    * string here so the DuckDB oracle replays the key verbatim. */
  def x298(spark: SparkSession, dir: String): DataFrame = {
    val K = 13
    val sites = Tables.fanOut(
        Tables.documents(spark, dir).select("doc_id", "text"))
      .select(col("doc_id"),
              filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"),
              posexplode(expr(
                s"transform(sequence(0, size(toks) - $K), " +
                  s"i -> array_join(slice(toks, i + 1, $K), ' '))")))
      .select(col("doc_id"), col("pos").cast(LongType).as("p"), col("col").as("gram"))
    val gstats = sites.groupBy("gram")
      .agg(count(lit(1)).as("ns"), min(col("doc_id")).as("rep"))
      .filter(col("ns") >= 2)
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    sites.join(gstats, "gram")
      .select(col("doc_id"), col("p"), col("rep"))
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(byDoc) <= K, 0L).otherwise(1L))
      .withColumn("rid", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("rid"))
      .agg(min(col("p")).as("run_start"),
           (max(col("p")) + (K - 1)).as("run_end"),
           count(lit(1)).as("n_windows"),
           min(col("rep")).as("rep_doc"))
      .withColumn("n_tokens", col("run_end") - col("run_start") + 1L)
      .select("doc_id", "run_start", "run_end", "n_tokens", "n_windows",
              "rep_doc")
      .orderBy("doc_id", "run_start")
  }

  /** x309: FINGERPRINT-KEYED SUBSTRING DEDUP — x298's production twin
    * (VERDICT r13 task 3), shipping the swap x298's scaladoc promises:
    * the shuffle key for the duplicated-window aggregate is the 64-bit
    * `rolling_fps(text, 13)` Rabin-Karp fingerprint computed NATIVELY
    * map-side (one codegen'd pass per doc — no per-position 13-token
    * gram string is ever materialized, cutting the site-grain shuffle
    * from ~80 B of gram text to 8 B of fingerprint per position;
    * measured at sf0.1: 10.19 MB gram-keyed chain → 2.38 MB fp-keyed
    * chain shuffle write, 4.3× — examples/X309ShuffleProbe at commit
    * 2b09aa5; perfbench's traced runs record shuffle.write_bytes).
    *
    * THEOREM FORM (the x18 device): a fingerprint is a pure function of
    * the window's token codes, so equal grams ⇒ equal fingerprints and
    * the fp-flagged position set is a SUPERSET of the exact gram-flagged
    * set — a hash collision can only OVER-flag a span (flag a position
    * whose gram is unique), never drop a duplicated one. The emitted
    * rows are the EXACT gram truth (per doc: duplicated-window count and
    * merged-run count, both engines recompute verbatim) plus the
    * engine-computed `fp_ok` flag = "no gram-flagged position is missing
    * from the fp-flagged set", which the oracle states as TRUE.
    * Round14Spec pins the over-flag-only failure direction (a planted
    * cross-doc passage must be fp-flagged; code-equality is implied by
    * gram-equality on real data). Both sides cap at the expression's
    * 256-token bound so the containment theorem is exact at any doc
    * length (production raises the cap; the direction is unchanged).
    *
    * 100 TB: the production path is the fp chain alone — map-side
    * fingerprints, ONE fp-keyed partial+final aggregate, one fp-keyed
    * join back; same linear shape as x298 with ~8× lighter shuffle
    * grain. The gram chain here is the AUDIT leg that makes the
    * contract driver-checkable; run it on samples, not the corpus. */
  def x309(spark: SparkSession, dir: String): DataFrame = {
    val K = 13
    val docs = Tables.fanOut(
      Tables.documents(spark, dir).select("doc_id", "text"))
    val toks = filter(split(lower(col("text")), " "), t => t =!= "")
    val gsites = docs
      .select(col("doc_id"), slice(toks, 1, 256).as("toks"))
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"),
              posexplode(expr(
                s"transform(sequence(0, size(toks) - $K), " +
                  s"i -> array_join(slice(toks, i + 1, $K), ' '))")))
      .select(col("doc_id"), col("pos").cast(LongType).as("p"),
              col("col").as("gram"))
    val gstats = gsites.groupBy("gram").agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
    val gflag = gsites.join(gstats, "gram").select("doc_id", "p")
    val fflag = x309FpFlagged(docs, K)
    val missed = gflag.join(fflag, Seq("doc_id", "p"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    gflag
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(byDoc) <= K, 0L).otherwise(1L))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("brk")).as("n_runs"))
      .crossJoin(broadcast(missed))
      .select(col("doc_id"), col("n_dup_windows"), col("n_runs"),
              (col("n_missed") === 0L).as("fp_ok"))
      .orderBy("doc_id")
  }

  /** The production path of x309: fp-flagged duplicated positions —
    * map-side native fingerprints, one fp-keyed aggregate, one fp-keyed
    * join back. What actually runs at corpus scale. */
  private[graft] def x309FpFlagged(docs: DataFrame, k: Int): DataFrame = {
    val fsites = docs
      .select(col("doc_id"),
              posexplode(call_function("rolling_fps", col("text"), lit(k))))
      .select(col("doc_id"), col("pos").cast(LongType).as("p"),
              col("col").as("fp"))
    val fstats = fsites.groupBy("fp").agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
    fsites.join(fstats, "fp").select("doc_id", "p")
  }

  /** x315: SUBSTRING-DEDUP APPLY PASS — the deployment step x298/x309
    * only REPORT: cut every duplicated span out of the corpus and re-emit
    * the cleaned documents (Lee et al. 2022's exact-substring dedup as
    * actually run on training data — x100's DAG drops whole documents;
    * this is the surgical variant that keeps the unique remainder).
    * The cut set per document is the UNION of the [p, p+K) coverage
    * intervals of every flagged window start p (a K-token window occurring
    * ≥2 times corpus-wide, x298's truth) — equivalently the token span of
    * x298's merged runs, since flagged starts ≤ K apart have contiguous
    * coverage. Output: ONE ROW PER DOCUMENT (doc count preserved —
    * untouched and too-short docs pass through whole) carrying the
    * conservation ledger and the cleaned text itself:
    *   - n_tokens / kept_tokens / removed_tokens with the theorem
    *     kept + removed = n (`conserve_ok`, recomputed on both engines —
    *     the cut is a partition of the token positions by construction,
    *     and the oracle's independent replay of the position arithmetic
    *     is what the hash compare actually checks);
    *   - n_runs_cut = x298's merged-run count (how many surgical cuts);
    *   - n_flag_survive = K-windows of the CLEANED text that still match
    *     an originally-duplicated gram — 0 unless a cut junction
    *     coincidentally rebuilds a flagged gram, so it is RECOMPUTED by
    *     the oracle rather than stated TRUE (the one non-theorem edge);
    *     no ORIGINAL flagged window can survive, because every one of its
    *     K tokens is in the cut set;
    *   - cleaned_text = the kept tokens rejoined (the pass normalizes to
    *     lowercased single-space token form, the q44/x298 convention —
    *     production would splice raw byte offsets; same shape).
    *
    * 100 TB: x298's linear skeleton plus a BOUNDED 13× coverage fan-out —
    * one map-side positional k-gram explode, ONE gram-keyed partial+final
    * aggregate, one gram-keyed join back to the sites, a ≤K-per-site
    * coverage explode collapsing through a per-doc partial aggregate
    * (collect_set of cut positions, bounded by doc length), and the cut
    * itself is a per-doc map-side array filter — no shuffle grows beyond
    * the site grain. The survivor audit re-runs the gram join on the
    * cleaned corpus (2× the gram stage); at corpus scale run it on
    * samples, and swap the gram string key for the x309 fingerprint
    * (8 B/site, over-flag-only) — the cut becomes fp-keyed verbatim. */
  def x315(spark: SparkSession, dir: String): DataFrame =
    x315Apply(Tables.fanOut(
      Tables.documents(spark, dir).select("doc_id", "text")), 13)

  /** The apply-pass core on an arbitrary (doc_id, text) frame — the
    * Round15Spec surgery-replay entry (the x309FpFlagged pattern). */
  private[graft] def x315Apply(docsRaw: DataFrame, K: Int): DataFrame = {
    val docs = docsRaw
      .select(col("doc_id"),
              filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
    val sites = docs
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"),
              posexplode(expr(
                s"transform(sequence(0, size(toks) - $K), " +
                  s"i -> array_join(slice(toks, i + 1, $K), ' '))")))
      .select(col("doc_id"), col("pos").cast(LongType).as("p"),
              col("col").as("gram"))
    val gstats = sites.groupBy("gram").agg(count(lit(1)).as("ns"))
      .filter(col("ns") >= 2)
    // flagged starts feed BOTH the run ledger and the coverage cut —
    // materialize once (bounded: ≤ one row per token position)
    val gflag = sites.join(gstats, "gram").select("doc_id", "p")
      .materialized
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val runsPerDoc = gflag
      .withColumn("brk",
        when(col("p") - lag(col("p"), 1).over(byDoc) <= K, 0L).otherwise(1L))
      .groupBy("doc_id").agg(sum(col("brk")).as("n_runs_cut"))
    val cuts = gflag
      .select(col("doc_id"), explode(expr(s"sequence(p, p + ${K - 1})")).as("cpos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("cpos"))).as("cut"))
    val cleaned = docs
      .join(cuts, Seq("doc_id"), "left")
      .join(runsPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
              coalesce(col("cut"), expr("CAST(array() AS ARRAY<BIGINT>)")).as("cut"),
              coalesce(col("n_runs_cut"), lit(0L)).as("n_runs_cut"))
      .withColumn("kept", expr(
        "filter(toks, (t, i) -> NOT array_contains(cut, CAST(i AS BIGINT)))"))
      .materialized // feeds the output AND the survivor audit
    val survive = cleaned
      .filter(size(col("kept")) >= K)
      .select(col("doc_id"),
              explode(expr(
                s"transform(sequence(0, size(kept) - $K), " +
                  s"i -> array_join(slice(kept, i + 1, $K), ' '))")).as("gram"))
      .join(gstats, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("n_flag_survive"))
    cleaned
      .join(survive, Seq("doc_id"), "left")
      .select(col("doc_id"),
              size(col("toks")).cast(LongType).as("n_tokens"),
              size(col("kept")).cast(LongType).as("kept_tokens"),
              size(col("cut")).cast(LongType).as("removed_tokens"),
              col("n_runs_cut"),
              coalesce(col("n_flag_survive"), lit(0L)).as("n_flag_survive"),
              (size(col("kept")).cast(LongType) + size(col("cut")).cast(LongType)
                === size(col("toks")).cast(LongType)).as("conserve_ok"),
              array_join(col("kept"), " ").as("cleaned_text"))
      .orderBy("doc_id")
  }

  /** x303: K-GRAM BENCHMARK DECONTAMINATION AUDIT — the n-gram-overlap
    * decontamination protocol (GPT-3 appendix C / PaLM style) at the
    * position level, complementing x21 (whole-doc normalized-text
    * anti-join) and x100 (the pipeline stage that applies x21's rule): a
    * corpus document is CONTAMINATED when it shares at least one 13-token
    * k-gram with the benchmark slice (doc_id ≡ 0 mod 97, the x100
    * convention), catching partial inclusions a whole-doc hash can never
    * see. Output per source: corpus docs, contaminated docs, exact
    * contamination ppm, and total hit sites (flagged k-gram positions) —
    * the audit a training team runs before every release.
    *
    * 100 TB: the benchmark gram set is BOUNDED (benchmarks are small by
    * definition) and BROADCASTS into the corpus-side semi-join, so the
    * corpus-scale work is one map-side positional k-gram explode + one
    * broadcast hash join + a doc-keyed then source-keyed rollup — no
    * shuffle touches the gram grain. Shares x298's gram construction;
    * production fingerprints the gram (x120 device) to shrink the
    * broadcast, with the same over-flag-only collision direction. */
  def x303(spark: SparkSession, dir: String): DataFrame = {
    val K = 13
    val docs = Tables.fanOut(
        Tables.documents(spark, dir).select("doc_id", "source", "text"))
      .select(col("doc_id"), col("source"),
              filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
    def grams(df: DataFrame): DataFrame = df
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"), col("source"),
              explode(expr(
                s"transform(sequence(0, size(toks) - $K), " +
                  s"i -> array_join(slice(toks, i + 1, $K), ' '))")).as("gram"))
    val bench = grams(docs.filter(col("doc_id") % 97 === 0))
      .select("gram").distinct()
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val perSrcDocs = corpus.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val perDocHits = grams(corpus).join(broadcast(bench), "gram")
      .groupBy("doc_id", "source").agg(count(lit(1)).as("hit_sites"))
    val perSrcCont = perDocHits.groupBy("source")
      .agg(count(lit(1)).as("n_contaminated"),
           sum(col("hit_sites")).as("hit_sites"))
    perSrcDocs.join(perSrcCont, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
              coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
              coalesce(col("hit_sites"), lit(0L)).as("hit_sites"))
      .withColumn("contam_ppm", expr("n_contaminated * 1000000 DIV n_docs"))
      .select("source", "n_docs", "n_contaminated", "contam_ppm", "hit_sites")
      .orderBy("source")
  }

  /** x316: MARGINAL NOVELTY BY SOURCE (round 15) — the data-valuation
    * triage a corpus team runs before buying/keeping a source: of every
    * source's 13-token window occurrences, how many are the corpus's FIRST
    * sight of that gram (its minimum doc_id lives in this document —
    * within the first-seeing doc, every occurrence counts as novel, the
    * stated convention) and how many sit on corpus-duplicated grams at
    * all. A source whose novelty_ppm is low repeats content the corpus
    * already has (in arrival order = doc_id, the q44/x33 canonical
    * convention); one whose dup_ppm is high is internally/externally
    * duplicated mass the dedup passes (x298/x315) will cut anyway. The
    * same gram grain as x298, so the three keys read together: x298 finds
    * the duplicated spans, x315 cuts them, x316 prices each source's
    * marginal contribution.
    *
    * 100 TB: x298's linear skeleton verbatim — one map-side positional
    * k-gram explode, ONE gram-keyed partial+final aggregate (min doc_id +
    * occurrence count), one gram-keyed join back to the sites, and a
    * ≤|sources| rollup; production swaps the gram string for the x309
    * fingerprint key (8 B/site, over-flag-only collisions shift ppm by
    * <1e-12 at 64-bit). */
  def x316(spark: SparkSession, dir: String): DataFrame =
    gramNoveltyFrom(Tables.fanOut(
      Tables.documents(spark, dir).select("doc_id", "source", "text")), 13)

  /** The novelty rollup on an arbitrary (doc_id, source, text) frame —
    * the Round15Spec planted-corpus entry. */
  private[graft] def gramNoveltyFrom(docs: DataFrame, K: Int): DataFrame = {
    val sites = docs
      .select(col("doc_id"), col("source"),
              filter(split(lower(col("text")), " "), t => t =!= "").as("toks"))
      .filter(size(col("toks")) >= K)
      .select(col("doc_id"), col("source"),
              explode(expr(
                s"transform(sequence(0, size(toks) - $K), " +
                  s"i -> array_join(slice(toks, i + 1, $K), ' '))")).as("gram"))
    val gstats = sites.groupBy("gram")
      .agg(min(col("doc_id")).as("first_doc"), count(lit(1)).as("occ"))
    sites.join(gstats, "gram")
      .groupBy("source")
      .agg(count(lit(1)).as("n_sites"),
           sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
             .as("n_novel"),
           sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_sites"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 DIV n_sites"))
      .withColumn("dup_ppm", expr("n_dup_sites * 1000000 DIV n_sites"))
      .select("source", "n_sites", "n_novel", "n_dup_sites",
              "novelty_ppm", "dup_ppm")
      .orderBy("source")
  }
}
