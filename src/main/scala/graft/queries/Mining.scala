package graft.queries

import graft.engine.Mat.MatOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StringType}
import graft.engine.Tables

/** Pattern-mining / analytic extensions of the training-data pipeline
  * (round 4): quantile bucketing for stratified splits (x37), edit-distance
  * fuzzy matching (x38), event-sequence transition mining (x39), the first
  * BPE merge step — corpus character-pair counts (x40), deterministic class
  * rebalancing (x41), hashing-trick featurization (x42), and skip-gram
  * co-occurrence counts (x43). All are exact integer/window arithmetic —
  * portable to DuckDB term-for-term, so every one is oracle-checked.
  */
object Mining {

  /** x37: ANALYTIC RANK FAMILY — ntile quantile buckets + percent_rank +
    * cume_dist per market segment over account balance. The ordering is made
    * TOTAL with the custkey tiebreak: ntile assignment among ties is
    * order-dependent, so a non-total order would be engine-divergent.
    *
    * 100 TB: one hash-partitioned window per segment — the partition count
    * is the segment cardinality, so per-partition work is |customers|/|segs|;
    * for a skewed single-segment corpus the range-partitioned global-sort
    * variant of q19 applies instead. */
  def x37(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
              ntile(4).over(w).cast(LongType).as("bucket"),
              round(percent_rank().over(w), 6).as("pr"),
              round(cume_dist().over(w), 6).as("cd"))
      .orderBy("c_mktsegment", "c_custkey")
  }

  /** Probe terms for x38 — deliberate misspellings of the part-name lead
    * tokens (cold/blue/large/hot/small/red families in the testdata). */
  private[queries] val fuzzyProbes =
    Seq("cld", "bleu", "largee", "hut", "smal", "redd")

  /** x38: FUZZY MATCH JOIN — edit-distance ≤ 2 match of probe terms against
    * the distinct lead tokens of part names. The length band
    * |len(a)−len(b)| ≤ 2 is a SOUND blocking predicate (edit distance ≥
    * length difference), evaluated before the O(len²) levenshtein kernel.
    *
    * 100 TB: the probe side is a literal broadcast (entity-resolution probe
    * sets are small); the token side is pre-aggregated to DISTINCT tokens
    * with counts — the quadratic kernel runs on |vocab|×|probes|, never on
    * |corpus|×|probes|. For large×large fuzzy joins, x08's n-gram blocking
    * composes with this: band by length, block by shared n-gram, verify by
    * levenshtein. */
  def x38(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.part(spark, dir)
      .select(regexp_extract(col("p_name"), "^([a-z]+)", 1).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("n_parts"))
    val probes = spark.createDataFrame(
      fuzzyProbes.map(Tuple1.apply)).toDF("probe")
    toks.join(broadcast(probes),
        abs(length(col("tok")) - length(col("probe"))) <= 2 &&
        levenshtein(col("tok"), col("probe")) <= 2)
      .select(col("probe"), col("tok"),
              levenshtein(col("tok"), col("probe")).cast(LongType).as("dist"),
              col("n_parts"))
      .orderBy("probe", "tok")
  }

  /** x39: EVENT-SEQUENCE TRANSITION MINING — per-user consecutive
    * event-type bigrams (the Markov transition counts a next-event model
    * trains on). The per-user order is total via (ts, event_id).
    *
    * 100 TB: one shuffle by user_id for the lag window (state is one row),
    * then a 25-group aggregate — partial map-side combine makes the second
    * shuffle negligible. */
  def x39(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
              lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("prev_type", "next_type")
  }

  /** x40: BPE FIRST MERGE STEP — corpus-wide adjacent character-pair counts
    * over whitespace tokens (each token occurrence contributes its pairs),
    * top-20 by (count desc, pair). This is exactly the statistic the first
    * iteration of byte-pair-encoding tokenizer training maximizes.
    *
    * 100 TB: pair expansion is per-row higher-order array algebra (NO
    * shuffle — same shape as [[LlmExt2.docFingerprints]]); the only shuffle
    * is the final pair aggregate, with map-side partial counts over a key
    * space bounded by |alphabet|² — tiny regardless of corpus size. */
  def x40(spark: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(lower(col("text")), " "), t => t =!= "")
    Tables.documents(spark, dir)
      .select(explode(toks).as("tok"))
      // pair positions capped at 32 (tokens are ≤8 chars in every sf
      // [MEASURED]; the cap bounds per-token work and mirrors the oracle's
      // fixed generate_series bound — DuckDB 1.0 cannot take a lateral
      // column as the series stop)
      .select(explode(when(length(col("tok")) >= 2,
        transform(sequence(lit(1), least(length(col("tok")) - 1, lit(32))),
          i => col("tok").substr(i, lit(2))))
        .otherwise(array().cast(ArrayType(StringType)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)
  }

  /** x225: ITERATED BPE TRAINING — x40 runs the FIRST merge; this trains
    * the first four: per round, count adjacent symbol pairs over every
    * token occurrence (overlapping, the Sennrich statistic), pick the
    * (count desc, pair asc) argmax, and apply the merge as a left-to-right
    * non-overlapping rewrite with a fresh single-char placeholder symbol
    * (U+0100+k — outside the ASCII corpus alphabet, so symbols stay single
    * chars and the pair statistic stays a 2-char substring on every
    * round). Per round the report carries the merged pair, its count, and
    * the symbol-alphabet size after the rewrite. The winner row collected
    * per round is 1 row by construction (the bounded-driver-state
    * precedent: quantile boundaries, rule bases); both engines break
    * count ties by binary UTF-8 pair order.
    *
    * 100 TB: each round is x40's posture — per-row substring algebra (no
    * shuffle) into a pair aggregate whose key space is |alphabet|²-bounded
    * with map-side partials, plus one |alphabet|-bounded distinct count;
    * the token frame is materialized ONCE up front (localCheckpoint) so
    * R rounds cost R bounded aggregates over it, not R corpus re-scans of
    * the raw table. */
  /** x225's per-round gram aggregate — (s, cnt) over the union of 2-char
    * pair substrings (positions ≤ 32) and 1-char symbols (positions ≤ 64)
    * of every token; pairs and symbols are disjoint by length, so one
    * groupBy serves the winner argmax AND the distinct-symbol count.
    * Package-visible for Round16Spec's equivalence pin. */
  private[graft] def x225GramAgg(df: DataFrame): DataFrame = df
    .select(explode(when(length(col("tok")) >= 2,
      transform(sequence(lit(1), least(length(col("tok")) - 1, lit(32))),
        i => col("tok").substr(i, lit(2))))
      .otherwise(array().cast(ArrayType(StringType)))).as("s"))
    .unionByName(df.select(explode(transform(
      sequence(lit(1), least(length(col("tok")), lit(64))),
      i => col("tok").substr(i, lit(1)))).as("s")))
    .groupBy("s").agg(count(lit(1)).as("cnt"))

  def x225(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iters = 4
    val toks = Tables.documents(spark, dir)
      .select(explode(filter(split(lower(col("text")), " "), t => t =!= ""))
                .as("tok"))
      .materialized
    // ONE job per round (r16): the winner needs per-PAIR counts, the
    // alphabet size per-SYMBOL distincts — both ride one UNION-of-explodes
    // aggregate, keyed by the gram itself (pairs are 2-char substrings,
    // symbols 1-char — disjoint by construction, so one groupBy serves
    // both). The union's two scan legs run as ONE stage (the r15 form's
    // two separate aggregate jobs serialized them), and a probe
    // (examples/X225Probe at commit 2b09aa5) measured
    // the union shape 2× faster than either the sequential pair+symbol
    // jobs or an explode(concat(...)) single pass (array concat is an
    // interpreted per-row copy).
    // Symbol positions capped at 64 — the SAME bound the generated
    // oracle's generate_series(1, 64) applies — so a token longer than
    // 64 chars cannot make the two alphabet counts diverge (ADVICE
    // r10); both bounds dominate the corpus's ≤8-char tokens, and
    // Round10bSpec asserts that token-length contract on the corpus.
    // Pair positions capped at 32 (x40's bound, same contract).
    val gramAgg = x225GramAgg _
    // The grouped frame is |alphabet|² + |alphabet| rows at ANY corpus
    // scale — bounded driver state (the x314 precedent), so the winner
    // argmax and the distinct-symbol count fold driver-side from ONE
    // collect instead of a crossJoin of sub-aggregate jobs. Tie-break
    // (cnt desc, pair asc) compares BMP-only strings (ASCII corpus +
    // U+0100.. placeholders), where Java's UTF-16 order ≡ the binary
    // UTF-8 order both engines' SQL comparisons use.
    def gramStats(df: DataFrame): ((String, Long), Long) = {
      val rows = gramAgg(df).collect()
      val (pairs, syms) = rows.map(r => (r.getString(0), r.getLong(1)))
        .partition(_._1.length == 2)
      val win = pairs.minBy { case (p, c) => (-c, p) }
      (win, syms.length.toLong)
    }
    // Iteration k needs (winning pair of toks_k, alphabet of toks_{k+1}):
    // both come out of the ONE gramStats collect on toks_{k+1} — one
    // corpus scan and one driver round trip per merge (the r15 form ran
    // a checkpoint write plus TWO aggregate scans per merge; the crossJoin
    // of 1-row aggregates still scanned the frame once per aggregate,
    // Spark having no cross-subtree CSE).
    //
    // Round k's token frame is the base frame under a CHAIN of k nested
    // replace()s, NOT a per-round materialization (VERDICT r15 task 5):
    // the r15 form checkpointed the full rewritten token frame every
    // merge — 4 corpus-scale write+read round trips whose only purpose
    // was to feed the next round's aggregates. replace() is a pure
    // per-row function, so composing the merges into the aggregate's
    // projection computes the identical frame value with ZERO intermediate
    // materializations; each round pays k extra map-side substring passes
    // (k ≤ 4 here) instead of a corpus write — the guide §1.2 trade
    // (recompute cheap map work, never persist what one pass can rebuild).
    var tokCol = col("tok")
    var pending = gramStats(toks)._1
    val rows = (0 until iters).map { k =>
      val (bp, cnt) = pending
      val ph = (0x100 + k).toChar.toString
      tokCol = replace(tokCol, lit(bp), lit(ph))
      val (win, nSym) = gramStats(toks.select(tokCol.as("tok")))
      pending = win
      (k + 1L, bp, cnt, nSym)
    }
    rows.toDF("iter", "pair", "cnt", "n_symbols").orderBy("iter")
  }

  /** x41: CLASS REBALANCING — deterministic downsampling of the majority
    * class to ≈ the minority size (the sampling-based alternative to q38's
    * cost weighting for imbalanced learning). The keep decision is a
    * multiplicative-hash threshold on the row key — shuffle-free, exactly
    * reproducible, and decorrelated from x20's split and x30's mix by its
    * own odd constant. The 110‰ rate matches the measured IR ≈ 9.3 of the
    * derived label; production computes it from q38's class counts in a
    * first cheap pass.
    *
    * 100 TB: a pure per-row projection + one 2-group aggregate — sampling
    * never shuffles the corpus. Duplicate (orderkey, linenumber) rows hash
    * identically, so duplicates are kept or dropped TOGETHER (deterministic
    * under re-runs). */
  def x41(spark: SparkSession, dir: String): DataFrame = {
    val label = when(col("l_extendedprice") > 95000, 1L).otherwise(0L)
    val bucket =
      (((col("l_orderkey").cast(LongType) * 10 + col("l_linenumber"))
        % 100000000L) * lit(2971215073L)) % 1000
    val kept = col("label") === 1L || col("bucket") < 110
    Tables.lineitem(spark, dir)
      .select(label.as("label"), bucket.as("bucket"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_total"),
           sum(when(kept, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("label")
  }

  /** x42: FEATURE HASHING — the hashing-trick vectorizer: token → one of 61
    * buckets (prime modulus) via the portable token code (first two char
    * codes + length, the same code docFingerprints uses), per-document
    * bucket counts for a probe slice. The fixed bucket space makes the feature schema
    * corpus-independent — the property that lets a 100 TB featurization run
    * without a vocabulary pass.
    *
    * 100 TB: explode + one (doc, bucket)-keyed aggregate with map-side
    * partials; output width is bounded by the bucket count, not the vocab. */
  def x42(spark: SparkSession, dir: String): DataFrame = {
    val code = ascii(substring(col("tok"), 1, 1)) * 4096 +
      ascii(substring(col("tok"), 2, 1)) * 64 + length(col("tok"))
    Tables.documents(spark, dir)
      .filter(col("doc_id") < 20)
      .select(col("doc_id"),
              explode(filter(split(lower(col("text")), " "), t => t =!= ""))
                .as("tok"))
      // modulus 61 (prime), NOT a power of two: the char terms are multiples
      // of 64, so code % 64 would collapse the hash to length-only buckets
      .select(col("doc_id"), (code.cast(LongType) % 61).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt"))
      .orderBy("doc_id", "bucket")
  }

  /** x43: CO-OCCURRENCE COUNTS — skip-gram (token, context) pair counts at
    * distances 1 and 2 over the first 256 tokens per doc, top-30 pairs: the
    * sufficient statistic word2vec/GloVe-style embedding training consumes.
    *
    * 100 TB: pair expansion is per-row array algebra over a bound attribute
    * (NO shuffle — docFingerprints' shape); the aggregate's key space is
    * vocab², cut to the observed pairs, with map-side partials. The 256-token
    * cap matches the oracle's fixed generate_series bound and bounds
    * per-document work. */
  def x43(spark: SparkSession, dir: String): DataFrame = {
    val toks = slice(filter(split(lower(col("text")), " "), t => t =!= ""),
                     1, 256)
    def pairsAt(d: Int) =
      when(size(col("tk")) >= d + 1,
        transform(sequence(lit(1), size(col("tk")) - d),
          i => concat(element_at(col("tk"), i), lit(" "),
                      element_at(col("tk"), i + d))))
        .otherwise(array().cast(ArrayType(StringType)))
    Tables.documents(spark, dir)
      // Generate barrier: tk is materialized once per row (HOFs are
      // interpreted — CollapseProject would re-run the tokenizer per tap)
      .select(explode(array(toks)).as("tk"))
      .select(explode(concat(pairsAt(1), pairsAt(2))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(30)
  }

  /** x104: CORRELATED SCALAR SUBQUERY — orders strictly above their own
    * customer's average order value, counted per priority. Stated in SQL so
    * Catalyst's decorrelation actually runs: each correlated aggregate is
    * rewritten to a groupBy(o_custkey) + equi-join on the correlation key
    * (PlanSpec pins the shape). The comparison is kept exact with the
    * cross-multiplication `price·n > Σprice` — DECIMAL(18,2)·BIGINT on
    * both engines, no float average whose summation order could flip a
    * borderline row.
    *
    * 100 TB: each decorrelated aggregate is map-side combined down to
    * |customers| rows before its join — never a per-row re-scan (the naive
    * nested-loop reading of the SQL). Catalyst merges only UNcorrelated
    * scalar subqueries, so the two subqueries plan as two aggregate+join
    * pairs; where that constant factor matters, hand-fuse them into one
    * `groupBy(custkey).agg(count, sum)` + single join — the shape the
    * repo's q06-style operators use. */
  def x104(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("x104_orders")
    spark.sql(
      """SELECT o.o_orderpriority, COUNT(*) AS cnt,
        |       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM x104_orders o
        |WHERE CAST(o.o_totalprice AS DECIMAL(18,2)) *
        |        (SELECT COUNT(*) FROM x104_orders o2
        |         WHERE o2.o_custkey = o.o_custkey)
        |      > (SELECT SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
        |         FROM x104_orders o2 WHERE o2.o_custkey = o.o_custkey)
        |GROUP BY o.o_orderpriority
        |ORDER BY o.o_orderpriority""".stripMargin)
  }

  /** x107: UNCORRELATED SCALAR SUBQUERIES — each priority's share of global
    * order revenue and order count, in exact ppm (integer cents, floor
    * division — no float division whose rounding could differ). The two
    * globals are written as two scalar subqueries over the same table so
    * MergeScalarSubqueries actually fires: Catalyst fuses them into ONE
    * 1-row aggregate, reused by both taps (PlanSpec pins the ReusedSubquery
    * node). Complements x104, whose CORRELATED subqueries cannot merge.
    *
    * 100 TB: the merged subquery is a single map-side-combined global
    * aggregate producing one broadcast scalar row — the per-group shares
    * then need no second shuffle beyond the groupBy itself. BIGINT
    * headroom: Σcents·10⁶ stays under 2⁶³ through ~9×10¹² total cents
    * (≈ $90 B revenue); past that, compute shares on DECIMAL(38,0). */
  def x107(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("x107_orders")
    spark.sql(
      """WITH l AS (SELECT o_orderpriority,
        |                  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
        |           FROM x107_orders)
        |SELECT o_orderpriority, SUM(c) AS cents,
        |       SUM(c) * 1000000L DIV (SELECT SUM(c) FROM l) AS rev_ppm,
        |       COUNT(*) * 1000000L DIV (SELECT COUNT(*) FROM l) AS cnt_ppm
        |FROM l GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  /** x105: ARGMAX AGGREGATE FAMILY — `min_by`/`max_by` with a struct
    * ordering key and the deterministic `mode`. Per priority: the orderkey
    * of the cheapest and priciest order (struct(price, key) makes the
    * ordering TOTAL — ties resolve to the smallest/largest key instead of
    * whichever partial arrived first) and the most frequent order status
    * (`mode(s, true)` = lowest value among tied frequencies — the only
    * engine-portable mode). The oracle states the same three picks as
    * window rn=1 rules, proving the aggregates against first principles.
    *
    * 100 TB: all three are single-pass partial+final aggregates with
    * CONSTANT per-group state (one candidate row for min_by/max_by, a
    * |distinct statuses|-sized map for mode) — the scalable replacement for
    * the sort-per-group + rn=1 plan when only the argmax row is needed. */
  def x105(spark: SparkSession, dir: String): DataFrame = {
    val p = col("o_totalprice").cast(DecimalType(18, 2))
    Tables.orders(spark, dir)
      .groupBy("o_orderpriority")
      .agg(min_by(col("o_orderkey"), struct(p, col("o_orderkey"))).as("cheapest_key"),
           max_by(col("o_orderkey"), struct(p, col("o_orderkey"))).as("priciest_key"),
           expr("mode(o_orderstatus, true)").as("mode_status"))
      .orderBy("o_orderpriority")
  }

  /** x135: ASSOCIATION RULES — support / confidence / lift for co-purchased
    * part pairs (the a-priori first pass x40/x43 count but never SCORE):
    * rule a→b with support c_ab, confidence c_ab/c_a, lift
    * c_ab·N/(c_a·c_b), reported for pairs with support ≥ 3 as exact ppm
    * integers (floor DIV — no float ratio whose rounding could reorder the
    * ranking). Both rule directions emerge from one canonical a<b pair
    * count joined to the item-count table twice.
    *
    * 100 TB: basket pairs from the order-keyed self-join (bounded by
    * lines-per-order², ~4² here); pair counts map-side combine to the
    * \|co-occurring pairs\| grid; the two item-count attach joins are
    * broadcasts of the \|parts\|-row table. BIGINT headroom: c_ab·N·10⁶ ≤
    * 10⁴·6·10⁵·10⁶ ≈ 6·10¹⁵ at sf0.1; past ~10⁹ baskets the lift numerator
    * moves to DECIMAL(38,0) (x128's rule). */
  def x135(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val nb = li.select("l_orderkey").distinct()
      .agg(count(lit(1)).as("n_baskets"))
    val item = li.distinct().groupBy(col("l_partkey").as("p"))
      .agg(count(lit(1)).as("c_item"))
    val pairs = li.as("a")
      .join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("pa"), col("b.l_partkey").as("pb"),
              col("a.l_orderkey").as("ok"))
      .distinct()
      .groupBy("pa", "pb").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= 3)
    val both = pairs
      .select(col("pa").as("ante"), col("pb").as("cons"), col("c_ab"))
      .unionByName(pairs
        .select(col("pb").as("ante"), col("pa").as("cons"), col("c_ab")))
    both
      .join(broadcast(item.select(col("p").as("ante"), col("c_item").as("c_a"))),
            "ante")
      .join(broadcast(item.select(col("p").as("cons"), col("c_item").as("c_b"))),
            "cons")
      .crossJoin(broadcast(nb))
      .select(col("ante"), col("cons"), col("c_ab"), col("c_a"), col("c_b"),
              expr("c_ab * 1000000 DIV c_a").as("conf_ppm"),
              expr("c_ab * n_baskets * 1000000 DIV (c_a * c_b)")
                .as("lift_ppm"))
      .orderBy(col("lift_ppm").desc, col("ante"), col("cons"))
      .limit(20)
  }

  /** x118: LARGE-VOLUME ORDERS (the TPC-H Q18 shape) — customers whose
    * orders aggregate past a quantity threshold, i.e. an IN-subquery over a
    * grouped-HAVING derived table. Declaratively that is: aggregate the
    * fact table FIRST (collapsing |lineitem| to |orders| rows), keep the
    * handful of qualifying keys, and only then join the order/customer
    * detail — never filter-then-rejoin row-by-row. Quantities sum on
    * DECIMAL(18,2) so the HAVING cut is exact on both engines (a DOUBLE
    * sum's grouping-order rounding could flip a boundary order).
    *
    * 100 TB: the lineitem aggregate is partial+final on l_orderkey (map-side
    * combine collapses each order's ~4 lines before the shuffle); the
    * orders⋈big join reuses the same orderkey hash partitioning, so AQE can
    * plan it shuffle-local; the customer join is keyed SMJ — broadcastable
    * only when the qualifying set is small, which is data-dependent, so it
    * is left unhinted for AQE's runtime decision. */
  def x118(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("qty"))
      .filter(col("qty") > 300)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
              col("o_orderdate"), col("o_totalprice"),
              col("qty").cast("double").as("total_qty"))
      .orderBy("o_orderkey")
  }

  /** x239: SKYLINE (PARETO FRONTIER) — the preference-query operator: the
    * suppliers no other supplier beats on BOTH procurement dimensions
    * (mean delivery delay and cost per unit, both minimized; exact
    * integer µs / floor-DIV micro-cents). Points contract to DISTINCT
    * (delay, cpu) pairs FIRST — on distinct pairs the sweep predicate
    * "running-min cpu ≤ my cpu under (delay asc, cpu asc) order ⟺
    * dominated" is exact, while on raw rows an equal-pair twin would be
    * misdropped. Output: each frontier point with its supplier count and
    * representative (min) suppkey.
    *
    * DISTRIBUTED BY THE MERGE THEOREM: skyline(A ∪ B) = skyline(
    * skyline(A) ∪ skyline(B)) — a partition-local prune (window keyed by
    * the physical partition id) shrinks every partition to its own
    * staircase BEFORE the global sweep, and the final single-partition
    * window runs over ≤ (#partitions × local-staircase) rows, not the
    * point set. The local prune is a pure optimization: ANY point it
    * keeps beyond the true skyline is removed by the exact global sweep,
    * so the result is invariant to partitioning (the 4-partition matrix
    * leg exercises exactly that).
    *
    * 100 TB: the supplier rollup is the one fact-keyed shuffle (the
    * lineitem⋈orders SMJ feeding a suppkey partial+final agg); the pair
    * contraction is bounded by |suppliers|; the prune+sweep then runs on
    * staircase-sized frames. */
  def x239(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
              round(col("l_extendedprice") * 100, 0).cast(LongType).as("cents"),
              round(col("l_quantity"), 0).cast(LongType).as("qty"),
              // NTZ parquet timestamps cast through TIMESTAMP under the
              // session's pinned UTC (the Organize5 convention)
              expr("unix_micros(CAST(l_shipdate AS TIMESTAMP))").as("ship_us"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"),
              expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("ord_us"))
    val sup = li.hint("merge").join(ord, "l_orderkey")
      .groupBy(col("l_suppkey").as("suppkey"))
      .agg(sum(col("cents")).as("cents"), sum(col("qty")).as("qty"),
           sum(col("ship_us") - col("ord_us")).as("delay_sum"),
           count(lit(1)).as("n"))
      .select(col("suppkey"),
              expr("delay_sum DIV n").as("avg_delay_us"),
              expr("cents * 10000 DIV qty").as("cpu_micro"))
    val pts = sup.groupBy("avg_delay_us", "cpu_micro")
      .agg(count(lit(1)).as("n_suppliers"), min(col("suppkey")).as("rep_suppkey"))
    // partition-local prune (the merge theorem's skyline(A) stage)
    val local = Window.partitionBy("pid")
      .orderBy(col("avg_delay_us"), col("cpu_micro"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val pruned = pts.withColumn("pid", spark_partition_id())
      .withColumn("lbest", min(col("cpu_micro")).over(local))
      .filter(col("lbest").isNull || col("lbest") > col("cpu_micro"))
      .drop("pid", "lbest")
    // exact global sweep over the staircase-bounded survivor frame
    val global = Window.orderBy(col("avg_delay_us"), col("cpu_micro"))
      .rowsBetween(Window.unboundedPreceding, -1)
    pruned
      .withColumn("best", min(col("cpu_micro")).over(global))
      .filter(col("best").isNull || col("best") > col("cpu_micro"))
      .select(col("avg_delay_us"), col("cpu_micro"), col("n_suppliers"),
              col("rep_suppkey"))
      .orderBy("avg_delay_us", "cpu_micro")
  }

  /** The x256 WordPiece machinery, shared with x279: the GLOBAL token
    * frequency table (localCheckpointed — bi, tri and the fold all read
    * it) and the greedy longest-match fold expression over the tri-20 +
    * bi-30 inventory inlined as IN-list literals. */
  private[queries] def wordpieceParts(spark: SparkSession, dir: String): (DataFrame, String) = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(filter(split(lower(col("text")), " "),
                             t => t =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .materialized // three consumers: bi, tri, the fold
    def grams(n: Int, k: Int): Array[String] = vocab
      .select(explode(expr(
        s"""CASE WHEN length(tok) < $n THEN array()
           |ELSE transform(sequence(1, least(length(tok) - ${n - 1}, 32)),
           |               i -> substr(tok, i, $n)) END""".stripMargin))
        .as("g"), col("tf"))
      .groupBy("g").agg(sum(col("tf")).as("w"))
      .orderBy(col("w").desc, col("g").asc).limit(k)
      .collect().map(_.getString(0)) // ≤ k rows — bounded collect
    def inList(gs: Array[String]) =
      gs.map(g => "'" + g.replace("'", "''") + "'").mkString("(", ", ", ")")
    val (tri, bi) = (grams(3, 20), grams(2, 30))
    val fold =
      s"""aggregate(
         |  sequence(1, length(tok)),
         |  named_struct('pos', 0, 'ps', CAST(array() AS array<string>)),
         |  (acc, i) -> CASE WHEN i = acc.pos + 1 THEN
         |      CASE WHEN substr(tok, i, 3) IN ${inList(tri)}
         |           THEN named_struct('pos', acc.pos + 3,
         |                  'ps', array_append(acc.ps, substr(tok, i, 3)))
         |           WHEN substr(tok, i, 2) IN ${inList(bi)}
         |           THEN named_struct('pos', acc.pos + 2,
         |                  'ps', array_append(acc.ps, substr(tok, i, 2)))
         |           ELSE named_struct('pos', acc.pos + 1,
         |                  'ps', array_append(acc.ps, substr(tok, i, 1)))
         |      END ELSE acc END,
         |  acc -> acc.ps)""".stripMargin
    (vocab, fold)
  }

  /** x256: WORDPIECE-STYLE GREEDY SEGMENTATION — the tokenizer-inference
    * path the BPE family (x40 pair counts, x225 iterated merges) stops
    * short of: a data-derived subword inventory (the 30 highest-mass
    * character bigrams + 20 trigrams, tf-weighted, deterministic
    * tiebreaks) applied by longest-match-first greedy scan — WordPiece /
    * MaxMatch at inference time — to every DISTINCT token; per piece the
    * corpus usage (occurrences × token tf). Single-char fallback makes
    * every token segmentable by construction (total coverage, asserted
    * in Round10jSpec).
    *
    * 100 TB: the inventory derives from the VOCAB aggregate (bounded),
    * is collected under the x180 bounded-collect discipline (≤50 rows)
    * and inlined as literals into ONE `aggregate` higher-order fold per
    * distinct token — the greedy scan runs inside codegen on the
    * vocab-bounded frame, never on corpus rows; corpus mass enters only
    * through the tf weights. Growing the inventory widens two IN-lists;
    * the corpus-side cost is unchanged. */
  def x256(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, fold) = wordpieceParts(spark, dir)
    vocab
      .select(col("tf"), explode(expr(fold)).as("piece"))
      .groupBy("piece").agg(sum(col("tf")).as("usage"))
      .withColumn("len", expr("CAST(length(piece) AS BIGINT)"))
      .select("piece", "len", "usage")
      .orderBy(col("usage").desc, col("piece").asc).limit(30)
      .orderBy(col("usage").desc, col("piece").asc)
  }

  /** The x262 per-piece weight: capped usage × 10^(4·(len−1)). The piece
    * probability model is p = min(usage, 9999)/10⁴ — a fixed-point
    * quantized unigram LM whose Viterbi products stay EXACT integers:
    * maximizing Π p over a segmentation of an n-char token equals
    * maximizing Π (usage′ · 10^(4·(len−1))) because the 10^(4n) token
    * constant cancels — so the whole DP runs in DECIMAL(38,0)/HUGEINT
    * (≤ 10^(4·8) = 10³² for the ≤8-char corpus contract) with ZERO
    * floating point, which is what makes a log-likelihood argmax exactly
    * comparable across engines (ln() differs by ULPs between libms; exact
    * integer products never do). */
  private[graft] def x262Weight(usage: Long, len: Int): Long =
    math.min(usage, 9999L) * Seq(1L, 10000L, 100000000L)(len - 1)

  /** Shared x262/x282 inventory: the localCheckpointed distinct-token
    * vocab plus the (all-chars, bi-30, tri-20) piece inventories with RAW
    * corpus gram mass — x256's derivation (same orders, limits, 32-char
    * scan cap). The bounded collects (≤ 200 chars asserted, 30 + 20 grams)
    * are what let the DP fold inline the inventory as literals. */
  private[graft] def unigramInventory(spark: SparkSession, dir: String)
      : (DataFrame, Array[(String, Long)], Array[(String, Long)],
         Array[(String, Long)]) = {
    val vocab = Tables.documents(spark, dir)
      .select(explode(filter(split(lower(col("text")), " "),
                             t => t =!= "")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .materialized // four consumers: bi, tri, chars, the fold(s)
    def gramsW(n: Int, k: Int): Array[(String, Long)] = vocab
      .select(explode(expr(
        s"""CASE WHEN length(tok) < $n THEN array()
           |ELSE transform(sequence(1, least(length(tok) - ${n - 1}, 32)),
           |               i -> substr(tok, i, $n)) END""".stripMargin))
        .as("g"), col("tf"))
      .groupBy("g").agg(sum(col("tf")).as("w"))
      .orderBy(col("w").desc, col("g").asc).limit(k)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val chars: Array[(String, Long)] = vocab
      .select(explode(expr(
        "transform(sequence(1, least(length(tok), 32)), i -> substr(tok, i, 1))"))
        .as("g"), col("tf"))
      .groupBy("g").agg(sum(col("tf")).as("w"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(chars.length <= 200,
      s"x262 char inventory must stay bounded, got ${chars.length}")
    (vocab, chars, gramsW(2, 30), gramsW(3, 20))
  }

  /** One Viterbi pass over the ≤8-char vocab under EXPLICIT per-piece
    * weights (already quantized AND scaled by 10^(4·(len−1)) — see
    * [[x262Weight]]). Factored out of x262 so x282's EM round can re-run
    * the identical codegen'd DP with re-estimated weights. */
  private[graft] def unigramSegmentsWith(vocab: DataFrame,
      chars: Array[(String, Long)], bi: Array[(String, Long)],
      tri: Array[(String, Long)]): DataFrame = {
    def esc(s: String) = s.replace("'", "''")
    // an emptied tier (x283 can prune every bi/tri) must stay parseable:
    // a WHEN-less CASE is a syntax error, so emit the constant miss value
    def lookup(entries: Array[(String, Long)], sub: String): String =
      if (entries.isEmpty) "-1"
      else entries.map { case (g, w) => s"WHEN '${esc(g)}' THEN $w" }
        .mkString(s"CASE $sub ", " ", " ELSE -1 END")
    val d38 = "DECIMAL(38,0)"
    // One DP candidate: extend best[i-len] by the len-char piece ending at
    // position i. Invalid (prefix unreachable / piece not in inventory /
    // before the token starts) ⇒ v = −1, filtered before the argmax.
    def cand(prev: String, len: Int, w: String, g: String, guard: String) =
      s"""named_struct(
         |  'v', CAST(CASE WHEN $guard AND acc.$prev.v > 0 AND ($w) > 0
         |            THEN acc.$prev.v * ($w) ELSE -1 END AS $d38),
         |  'prio', $len,
         |  'ps', array_append(acc.$prev.ps, $g))""".stripMargin
    val c1 = cand("p1", 1, lookup(chars, "substr(tok, i, 1)"),
                  "substr(tok, i, 1)", "true")
    val c2 = cand("p2", 2, lookup(bi, "substr(tok, i - 1, 2)"),
                  "substr(tok, i - 1, 2)", "i >= 2")
    val c3 = cand("p3", 3, lookup(tri, "substr(tok, i - 2, 3)"),
                  "substr(tok, i - 2, 3)", "i >= 3")
    def init(v: Int) =
      s"named_struct('v', CAST($v AS $d38), 'prio', 0, 'ps', CAST(array() AS array<string>))"
    // Ties on v prefer the LONGER ending piece (prio) — struct max compares
    // (v, prio, ps) in order; (v, prio) is unique among candidates (one
    // piece per length per end position), so ps never decides.
    val fold =
      s"""aggregate(
         |  sequence(1, length(tok)),
         |  named_struct('p1', ${init(1)}, 'p2', ${init(-1)}, 'p3', ${init(-1)}),
         |  (acc, i) -> named_struct(
         |    'p1', array_max(filter(array($c1, $c2, $c3), c -> c.v > 0)),
         |    'p2', acc.p1,
         |    'p3', acc.p2),
         |  acc -> named_struct('v', acc.p1.v, 'ps', acc.p1.ps))""".stripMargin
    vocab.filter(length(col("tok")) <= 8)
      .withColumn("best", expr(fold))
      .select(col("tok"), col("tf"),
              col("best.v").as("v"), col("best.ps").as("ps"))
  }

  /** x262 segmentation frame: per distinct token (≤ 8 chars — the scoring
    * contract, provably inactive on this corpus and asserted in
    * Round10bSpec/UnigramSpec), the Viterbi-best segmentation under the
    * quantized unigram LM and its exact integer score. Exposed for the
    * optimality-theorem spec. */
  private[graft] def x262Segments(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, chars, bi, tri) = unigramInventory(spark, dir)
    unigramSegmentsWith(vocab,
      chars.map { case (g, u) => (g, x262Weight(u, 1)) },
      bi.map { case (g, u) => (g, x262Weight(u, 2)) },
      tri.map { case (g, u) => (g, x262Weight(u, 3)) })
  }

  /** x262: UNIGRAM-LM TOKENIZER SCORING — the third tokenizer family after
    * BPE training (x225) and WordPiece greedy inference (x256): one
    * Viterbi round over the SAME piece inventory (tri-20 + bi-30 +
    * single-char fallback, x256's derivation, now WITH usage weights).
    * Per distinct token, the segmentation maximizing the quantized unigram
    * likelihood Π min(usage, 9999)/10⁴ — an EXACT integer DP (see
    * [[x262Weight]]): best[i] = max over pieces ending at i of
    * best[i−len]·w(piece), ties to the longer piece. Where x256's greedy
    * MaxMatch commits to the longest prefix piece, Viterbi may split
    * differently to buy a higher-likelihood suffix — the optimality gap
    * the spec pins as a theorem (Viterbi ≥ greedy for EVERY token). Output:
    * per piece, corpus usage under best segmentations (occurrences × tf).
    *
    * Oracle: the inventory restated as in x256's oracle plus capped
    * weights; the DP replayed by ENUMERATING all segmentations (recursive
    * CTE, ≤ 81 per 8-char token) and taking the argmax under (product
    * DESC, reversed length list DESC) — the global restatement of the
    * per-position tie rule.
    *
    * 100 TB: the inventory is a bounded collect (≤ 250 rows); the fold is
    * ONE expression over the VOCAB-bounded distinct-token frame (corpus
    * mass enters only through tf weights — scoring never touches corpus
    * rows); all arithmetic is integer decimal inside the fold. Growing
    * the inventory widens three CASE chains, not the data path. */
  def x262(spark: SparkSession, dir: String): DataFrame =
    x262Segments(spark, dir)
      .select(col("tf"), explode(col("ps")).as("piece"))
      .groupBy("piece").agg(sum(col("tf")).as("usage"))
      .withColumn("len", expr("CAST(length(piece) AS BIGINT)"))
      .select("piece", "len", "usage")
      .orderBy(col("usage").desc, col("piece").asc).limit(30)
      .orderBy(col("usage").desc, col("piece").asc)

  /** Per-piece corpus usage under a segmentation frame (occurrences × tf)
    * — the x262 aggregate, shared with x282's two EM rounds. */
  private def pieceUsage(segs: DataFrame, out: String): DataFrame =
    segs.select(col("tf"), explode(col("ps")).as("piece"))
      .groupBy("piece").agg(sum(col("tf")).as(out))

  /** x282: UNIGRAM-LM EM RE-ESTIMATION ROUND — the step that turns x262's
    * one-shot Viterbi scorer into SentencePiece-style training, the same
    * way x225's iterated merges completed BPE: one hard-EM round.
    * E-step = x262's Viterbi segmentation under the round-0 (raw gram
    * mass) weights; M-step = re-estimate every inventory piece's weight
    * from its round-0 Viterbi USAGE with add-one smoothing,
    * w₁ = min(usage₀ + 1, 9999) · 10^(4·(len−1)); then re-segment under
    * w₁. The +1 floor keeps every inventory piece usable, so every token
    * stays segmentable and the round-0 segmentation remains feasible under
    * round-1 weights — which is exactly what makes the per-token
    * monotonicity theorem v₁(seg₁) ≥ v₁(seg₀) a PURE Viterbi-optimality
    * statement (pinned token-for-token in UnigramSpec, plus a planted
    * corpus where the round-1 segmentation provably FLIPS: hard EM's
    * rich-get-richer reallocation in miniature). Output per piece (top 30
    * by re-estimated usage): length, round-0 usage, round-1 usage.
    *
    * Oracle: both rounds UNROLLED as generated recursive-CTE segmentation
    * enumerations (the x262 device twice), the second joining weights
    * derived from the first's argmax — so the driver's hash compare proves
    * the whole E→M→E chain, not just one pass.
    *
    * 100 TB: both E-steps are the SAME codegen'd fold over the
    * vocab-bounded distinct-token frame (corpus mass enters only through
    * tf weights); the M-step is a bounded collect of ≤ 250 per-piece
    * usage rows (the inventory size, NOT the corpus) re-inlined as
    * literals; more EM rounds = more bounded folds, the corpus-side cost
    * per round is one vocab scan, and the vocab frame is checkpointed
    * once. */
  def x282(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, chars, bi, tri) = unigramInventory(spark, dir)
    val seg0 = unigramSegmentsWith(vocab,
      chars.map { case (g, u) => (g, x262Weight(u, 1)) },
      bi.map { case (g, u) => (g, x262Weight(u, 2)) },
      tri.map { case (g, u) => (g, x262Weight(u, 3)) })
    val u0 = pieceUsage(seg0, "usage_r0")
      .materialized // two consumers: the M-step collect + output join
    // M-step: ≤ 250 rows (inventory-bounded, never corpus-sized)
    val u0m = u0.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def w1(e: Array[(String, Long)], len: Int) =
      e.map { case (g, _) => (g, x262Weight(u0m.getOrElse(g, 0L) + 1L, len)) }
    val seg1 = unigramSegmentsWith(vocab, w1(chars, 1), w1(bi, 2), w1(tri, 3))
    pieceUsage(seg1, "usage_r1")
      .join(u0, Seq("piece"), "left")
      .select(col("piece"), expr("CAST(length(piece) AS BIGINT)").as("len"),
              coalesce(col("usage_r0"), lit(0L)).as("usage_r0"),
              col("usage_r1"))
      .orderBy(col("usage_r1").desc, col("piece").asc).limit(30)
      .orderBy(col("usage_r1").desc, col("piece").asc)
  }

  /** x283's prune threshold: a multi-char piece must earn ≥ 2 Viterbi uses
    * in the previous round to keep its vocabulary slot. */
  private[graft] val x283MinUse = 2L

  /** x283: UNIGRAM-LM VOCABULARY PRUNING ROUND — the other half of
    * SentencePiece-style training, closing the loop x282's EM round
    * opened: a full train iteration is E-step → M-step → PRUNE → E-step.
    * After x282's two Viterbi rounds, every multi-char piece whose
    * round-1 usage is below [[x283MinUse]] (used at most once — it never
    * paid for its vocab slot) is DROPPED from the inventory; single-char
    * pieces are never pruned, so every token stays segmentable (the total-
    * coverage theorem — char fallback is the floor the prune cannot
    * remove). Survivors are re-weighted from round-1 usage (the second
    * M-step, same add-one quantizer) and the corpus is re-segmented.
    * Tokens whose round-1 segmentation used a pruned piece RE-ROUTE
    * through surviving pieces — the spec plants one and pins the re-route
    * end to end. Output per piece (top 30 by post-prune usage): length,
    * round-1 usage, round-2 usage.
    *
    * Oracle: THREE unrolled recursive-CTE enumeration rounds (the x282
    * device extended), the third joining the pruned re-weighted inventory
    * — the hash compare proves E→M→E→prune→M→E in one statement.
    *
    * 100 TB: identical posture to x282 — every E-step is one codegen'd
    * fold over the vocab-bounded frame; the prune + re-weight is driver
    * arithmetic on a ≤ 250-row collect; pruning SHRINKS the CASE chains,
    * so each training iteration makes the hot path cheaper, never
    * heavier. */
  def x283(spark: SparkSession, dir: String): DataFrame = {
    val (vocab, chars, bi, tri) = unigramInventory(spark, dir)
    val seg0 = unigramSegmentsWith(vocab,
      chars.map { case (g, u) => (g, x262Weight(u, 1)) },
      bi.map { case (g, u) => (g, x262Weight(u, 2)) },
      tri.map { case (g, u) => (g, x262Weight(u, 3)) })
    val u0m = pieceUsage(seg0, "u").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def w1(e: Array[(String, Long)], len: Int) =
      e.map { case (g, _) => (g, x262Weight(u0m.getOrElse(g, 0L) + 1L, len)) }
    val seg1 = unigramSegmentsWith(vocab, w1(chars, 1), w1(bi, 2), w1(tri, 3))
    val u1 = pieceUsage(seg1, "usage_r1")
      .materialized // two consumers: prune/re-weight collect + output join
    val u1m = u1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def w2(e: Array[(String, Long)], len: Int) =
      e.collect { case (g, _) if len == 1 || u1m.getOrElse(g, 0L) >= x283MinUse =>
        (g, x262Weight(u1m.getOrElse(g, 0L) + 1L, len)) }
    val seg2 = unigramSegmentsWith(vocab, w2(chars, 1), w2(bi, 2), w2(tri, 3))
    pieceUsage(seg2, "usage_r2")
      .join(u1, Seq("piece"), "left")
      .select(col("piece"), expr("CAST(length(piece) AS BIGINT)").as("len"),
              coalesce(col("usage_r1"), lit(0L)).as("usage_r1"),
              col("usage_r2"))
      .orderBy(col("usage_r2").desc, col("piece").asc).limit(30)
      .orderBy(col("usage_r2").desc, col("piece").asc)
  }

  /** x279: TOKENIZER FERTILITY BY LANGUAGE — the tokenizer-eval metric a
    * multilingual corpus review reads before committing to a vocabulary:
    * ONE global inventory (x256's tri-20 + bi-30, built corpus-wide),
    * evaluated per language — words, emitted pieces, fertility
    * (pieces-per-word, ppm) and the char-fallback share (the fraction of
    * pieces that fell through to single characters — the "this language
    * is under-served by the vocab" signal). A language foreign to the
    * inventory's mass shows fertility → characters-per-word and fallback
    * → 10⁶; the dominant language sits far lower. Exact integer ratios.
    *
    * 100 TB: the inventory rides x256's bounded-collect path; the
    * per-language scoring runs the SAME codegen'd greedy fold over the
    * (lang, token) distinct frame — vocab-bounded per language, corpus
    * mass enters only through tf weights; one extra groupBy(lang). */
  def x279(spark: SparkSession, dir: String): DataFrame = {
    val (_, fold) = wordpieceParts(spark, dir)
    val lvocab = Tables.documents(spark, dir)
      .select(col("lang"),
              explode(filter(split(lower(col("text")), " "),
                             t => t =!= "")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("tf"))
    lvocab
      .withColumn("ps", expr(fold))
      .select(col("lang"), col("tf"),
              size(col("ps")).cast(LongType).as("np"),
              size(filter(col("ps"), p => length(p) === 1))
                .cast(LongType).as("nc"))
      .groupBy("lang")
      .agg(sum(col("tf")).as("n_words"),
           sum(col("tf") * col("np")).as("n_pieces"),
           sum(col("tf") * col("nc")).as("n_char_pieces"))
      .select(col("lang"), col("n_words"), col("n_pieces"),
              col("n_char_pieces"),
              expr("n_pieces * 1000000 DIV n_words").as("fertility_ppm"),
              expr("n_char_pieces * 1000000 DIV n_pieces")
                .as("char_fallback_ppm"))
      .orderBy("lang")
  }
}
