package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.engine.Tables

/** Statistical-modeling operators (round 5): least-squares regression and a
  * two-proportion hypothesis test, both evaluated with the repo's
  * quantized-exact discipline — float inputs are rounded ONCE per row to
  * integer micro-units, all accumulation is exact BIGINT, and the final
  * statistic is a fixed short double chain. That makes a REGRESSION and a
  * Z-TEST oracle-checkable bit-for-bit, which `regr_slope`-style float
  * aggregation (whose summation order differs per engine) is not.
  */
object Stats {

  /** x87: ZIPF SLOPE — least-squares fit of ln(freq) on ln(rank) over the
    * corpus token distribution (the Zipf exponent, with fit r²): the
    * vocabulary-shape diagnostic behind tokenizer sizing and quality
    * filters. x = ln(rank), y = ln(freq) are quantized ONCE per row to
    * 1e−3 units; Sx/Sy/Sxx/Syy/Sxy are exact BIGINT sums; slope/intercept/
    * r² are fixed double chains over those six integers (the scales cancel
    * in the slope; the intercept rescales once). The quantization shifts
    * the fitted slope by O(1e−3) relative — identically on both engines,
    * which is the point.
    *
    * 100 TB: one token-count shuffle (map-side combined), one |vocab| rank
    * window, one 1-row aggregate. BIGINT headroom: n·Sxy ≤ V²·2e8 — exact
    * through ~10⁵ vocab rows per fit (fit the tail on a rank sample past
    * that). */
  def x87(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("tok"))
    val freq = toks.groupBy("tok").agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("f").desc, col("tok"))).cast(LongType))
    val q = ranked.select(
      round(log(col("r").cast("double")) * 1e3, 0).cast(LongType).as("x"),
      round(log(col("f").cast("double")) * 1e3, 0).cast(LongType).as("y"))
    val s = q.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
                  sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
                  sum(col("y") * col("y")).as("syy"),
                  sum(col("x") * col("y")).as("sxy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val denx = col("n") * col("sxx") - col("sx") * col("sx")
    val deny = col("n") * col("syy") - col("sy") * col("sy")
    s.select(col("n").as("n_vocab"),
             round(num * lit(1.0) / denx, 6).as("slope"),
             // intercept in y units: ((Sy − slope·Sx)/n) / 1e3
             round((col("sy") * lit(1.0) - num * lit(1.0) / denx * col("sx"))
                   / col("n") / 1e3, 6).as("intercept"),
             round(num * lit(1.0) * num / (denx * lit(1.0) * deny), 6).as("r2"))
  }

  /** x89: TWO-SAMPLE KS DRIFT — per source, the exact Kolmogorov–Smirnov
    * distance between its doc-length distribution and the REST of the
    * corpus: the continuous-feature drift test beside x75's categorical
    * PSI. Evaluated entirely in integers: at every observed value v,
    * |F_s(v) − F_rest(v)| = |cum_s·(N−n_s) − (cum_all−cum_s)·n_s| /
    * (n_s·(N−n_s)) — the numerator max is an exact BIGINT max, the
    * division happens once per source. (BIGINT headroom: cum·N ≤ N² —
    * exact through N ≈ 3·10⁹ rows; past that, compute per-stratum on a
    * deterministic sample.)
    *
    * 100 TB: the grid is |distinct values| × |sources| (bounded by the
    * value domain, NOT row count); rows collapse to (source, v) counts in
    * one map-side-combinable agg, the spine cross join is tiny, and the
    * cumulative windows partition by source. */
  def x89(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(spark, dir).select(col("source"), col("n_chars").as("v"))
    val cnt = d.groupBy("source", "v").agg(count(lit(1)).as("c"))
    val grid = d.select("v").distinct()
      .crossJoin(d.select("source").distinct())
      .join(cnt, Seq("source", "v"), "left_outer")
      .na.fill(0L, Seq("c"))
    val bySrc = Window.partitionBy("source").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pooled CDF via the distributed prefix sum (graft.engine.Ranks): the
    // distinct-value grid of a continuous column is unbounded at scale, so
    // the cumulative sum must never ride a single-partition window
    val allCum = graft.engine.Ranks.globalPrefixSum(
        d.groupBy("v").agg(count(lit(1)).as("ca")),
        Seq(col("v")), col("ca"), "cum_all")
      .select("v", "cum_all")
    val sizes = d.groupBy("source").agg(count(lit(1)).as("n_s"))
    val total = d.agg(count(lit(1)).as("n"))
    grid.withColumn("cum_s", sum(col("c")).over(bySrc))
      .join(allCum, "v")
      .join(broadcast(sizes), "source")
      .crossJoin(broadcast(total))
      .withColumn("num",
        abs(col("cum_s") * (col("n") - col("n_s"))
            - (col("cum_all") - col("cum_s")) * col("n_s")))
      .groupBy("source")
      .agg(max(col("n_s")).as("n_s"),
           round(max(col("num")) * lit(1.0)
                 / (max(col("n_s")) * (max(col("n")) - max(col("n_s")))), 6)
             .as("ks_d"))
      .orderBy("source")
  }

  /** x90: TEMPERATURE-BASED MIX WEIGHTS — the multinomial source-sampling
    * weights w_s ∝ (n_s/N)^α at α = 0.7, the standard recipe for
    * up-weighting low-resource slices when composing a multilingual /
    * multi-source training corpus. The power is spelled exp(α·ln x)
    * identically on both engines; each term is quantized ONCE to 1e−9
    * integer units so the normalizing sum is exact BIGINT, and each weight
    * is one final division — no cross-engine float-sum order anywhere.
    *
    * 100 TB: one |sources|-cell count agg; everything after is arithmetic
    * over ≤ |sources| rows. */
  def x90(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tot = Window.partitionBy()
    Tables.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("share", col("n_docs") * lit(1.0) / sum(col("n_docs")).over(tot))
      .withColumn("t",
        round(exp(lit(0.7) * log(col("share"))) * 1e9, 0).cast(LongType))
      .withColumn("weight", col("t") * lit(1.0) / sum(col("t")).over(tot))
      .select(col("source"), col("n_docs"), round(col("share"), 6).as("share"),
              round(col("weight"), 6).as("weight"))
      .orderBy("source")
  }

  /** x95: RECIPROCAL-RANK FUSION — combine two independent document
    * rankers (corpus length rank and lexical-diversity rank) with the
    * standard RRF formula score = Σ 1/(60 + rᵢ): the ranking-fusion step a
    * retrieval stack runs over its candidate lists. The score is a fixed
    * TWO-term chain per row (one add of two single-division terms — no
    * variable-order float sum), so it is bit-portable; ranks come from
    * total orders with explicit doc_id tiebreaks.
    *
    * 100 TB: both global ranks run through the distributed two-phase rank
    * ([[graft.engine.Ranks.globalRowNumber]]) — range shuffle + offset
    * broadcast, never a single-partition window — so the fusion holds even
    * when the ranked lists are whole-corpus-sized rather than the top-k
    * lists a retrieval stack usually feeds it. */
  def x95(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
              size(array_distinct(filter(split(lower(col("text")), " "),
                                         t => t =!= ""))).cast(LongType).as("n_distinct"))
    val withLen = graft.engine.Ranks.globalRowNumber(
      base, Seq(col("n_chars").desc, col("doc_id")), "r_len")
    graft.engine.Ranks.globalRowNumber(
        withLen, Seq(col("n_distinct").desc, col("doc_id")), "r_div")
      .select(col("doc_id"), col("r_len"), col("r_div"),
              round(lit(1.0) / (col("r_len") + 60) + lit(1.0) / (col("r_div") + 60), 6)
                .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  /** x96: CO-OCCURRENCE DEGREE DISTRIBUTION — the degree histogram of the
    * token co-occurrence graph (same edge rule as x43: distinct token pairs
    * within a document): how connected the vocabulary is, the first graph
    * statistic any corpus-graph analysis reads. Degrees and the histogram
    * are exact integers.
    *
    * 100 TB: edges aggregate once ((a,b) distinct pairs, vocab²-bounded);
    * degree = one agg over edges counted from both endpoints; histogram is
    * ≤ max-degree cells. */
  def x96(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
              explode(array_distinct(filter(split(lower(col("text")), " "),
                                            t => t =!= ""))).as("tok"))
    val edges = toks.as("a")
      .join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .select(col("a.tok").as("ta"), col("b.tok").as("tb"))
      .distinct()
    val degrees = edges.select(col("ta").as("tok"))
      .unionByName(edges.select(col("tb").as("tok")))
      .groupBy("tok").agg(count(lit(1)).as("degree"))
    degrees.groupBy("degree").agg(count(lit(1)).as("n_tokens"))
      .orderBy("degree")
  }

  /** x98: TIME-WEIGHTED AVERAGE — each user's event value averaged by how
    * long it was "held" (until the next event): the correct aggregate for
    * irregularly-sampled measurements, where a plain mean over-weights
    * bursts. Weights are exact integer milliseconds, values exact cents;
    * Σ(cents·dur_ms) and Σdur_ms are BIGINT sums and the TWA is one final
    * division. (Headroom: cents·dur_ms ≤ 10⁴·3·10⁹ ≈ 3·10¹³ per interval —
    * exact through ~10⁵ intervals per user.)
    *
    * 100 TB: one user-keyed lead window (O(1) state) feeding one agg on the
    * same partitioning. */
  def x98(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
              unix_micros(col("ts")).as("us"),
              round(col("value") * 100, 0).cast(LongType).as("cents"))
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .withColumn("dur_ms", expr("(next_us - us) DIV 1000"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_intervals"),
           sum(col("dur_ms")).as("held_ms"),
           sum(col("cents") * col("dur_ms")).as("mass"),
           round(sum(col("cents") * col("dur_ms")) * lit(1.0) / sum(col("dur_ms")), 6)
             .as("twa_cents"))
      .orderBy("user_id")
  }

  /** x99: LORENZ / PARETO CURVE — revenue concentration by customer decile
    * ("the top 10% of customers carry X% of revenue"): the inequality
    * diagnostic behind skew-aware quota decisions. Deciles come from an
    * integer rank formula, shares are exact ppm integer division — no
    * float anywhere. (Headroom: decile_cents·10⁶ < 2⁶³ through ~10¹²
    * total cents.)
    *
    * 100 TB: one custkey agg, then the distributed two-phase rank
    * ([[graft.engine.Ranks.globalRowNumber]]) over |customers| rows and a
    * 1-row broadcast total — no single-partition window touches the
    * customer set; ≤10-cell aggs after. */
  def x99(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast(LongType)).as("cents"))
    graft.engine.Ranks
      .globalRowNumber(spend, Seq(col("cents").desc, col("o_custkey")), "rank")
      .crossJoin(broadcast(spend.agg(count(lit(1)).as("n"))))
      .withColumn("decile", expr("(rank - 1) * 10 DIV n"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("decile_cents"))
      .withColumn("share_ppm",
        expr("decile_cents * 1000000 DIV (sum(decile_cents) OVER ())"))
      .orderBy("decile")
  }

  /** x103: DATASET CARD — the one-page corpus datasheet as a (metric,
    * value) table: document/token/char masses, vocabulary size, language
    * and source cardinalities, exact-duplicate count, and empty-doc count.
    * Every value is an exact BIGINT, so the whole card is hash-verifiable;
    * it is the summary a corpus release ships next to the data.
    *
    * 100 TB: a handful of map-side-combinable aggregates over one corpus
    * scan family (token stats via the native fused expression — no
    * explode), union'd into ≤10 rows. */
  def x103(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_chars")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      sum(when(trim(col("text")) === "", 1L).otherwise(0L)).as("n_empty"))
    val toks = docs.filter(trim(col("text")) =!= "")
      .select(call_function("token_stats", col("text")).as("ts"))
      .agg(sum(col("ts.n_tokens")).as("n_tokens"))
    val vocab = docs
      .select(explode(filter(split(lower(col("text")), " "), t => t =!= "")).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab"))
    val dups = docs.groupBy(lower(col("text")).as("norm"))
      .agg(count(lit(1)).as("n"))
      .agg(sum(col("n") - 1).as("n_exact_dups"))
    def row(name: String, c: org.apache.spark.sql.Column, from: DataFrame) =
      from.select(lit(name).as("metric"), c.cast(LongType).as("value"))
    row("n_docs", col("n_docs"), base)
      .unionByName(row("n_chars", col("n_chars"), base))
      .unionByName(row("n_langs", col("n_langs"), base))
      .unionByName(row("n_sources", col("n_sources"), base))
      .unionByName(row("n_empty", col("n_empty"), base))
      .unionByName(row("n_tokens", col("n_tokens"), toks))
      .unionByName(row("vocab", col("vocab"), vocab))
      .unionByName(row("n_exact_dups", col("n_exact_dups"), dups))
      .orderBy("metric")
  }

  /** x88: A/B CONVERSION Z-TEST — two-proportion z on a DETERMINISTIC user
    * split (user_id parity — the assignment a reproducible experiment
    * framework would persist): conversion = "the user's FIRST event (by
    * ts, event_id) is a purchase" — a rate that stays non-degenerate at
    * every data volume (an any-purchase flag saturates to 1 for every
    * user once streams are long, making the pooled variance zero). Counts
    * are exact BIGINT; p₀/p₁/pooled-p and z are one fixed double chain, so
    * the 1.96 significance cut is bit-identical across engines.
    *
    * 100 TB: one user-keyed window pass picks the first event (O(1) state
    * per row), then a 2-row arm aggregate. */
  def x88(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val perUser = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"),
              when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
      .withColumn("arm", col("user_id") % 2)
    val arms = perUser.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val a = arms.filter(col("arm") === 0).select(col("n").as("n0"), col("c").as("c0"))
    val b = arms.filter(col("arm") === 1).select(col("n").as("n1"), col("c").as("c1"))
    val p0 = col("c0") * lit(1.0) / col("n0")
    val p1 = col("c1") * lit(1.0) / col("n1")
    val pp = (col("c0") + col("c1")) * lit(1.0) / (col("n0") + col("n1"))
    val z = (p1 - p0) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / col("n0") + lit(1.0) / col("n1")))
    a.crossJoin(b)
      .select(col("n0"), col("c0"), col("n1"), col("c1"),
              round(z, 6).as("z"),
              when(abs(z) > 1.96, 1L).otherwise(0L).as("significant"))
  }

  /** x136: HIERARCHY SHARES (ratio-to-parent) — revenue rolled up
    * region→nation with each level's share of its PARENT in exact ppm:
    * nation-within-region and region-within-global, the drill-down report
    * every BI layer renders. Cents sum exactly (BIGINT); shares are floor
    * DIV ppm — x107's discipline extended from one global parent to a
    * two-level hierarchy. Orders join customers (fact⋈dim), then nation
    * and region attach as broadcast dimensions — the q10 join chain
    * re-aggregated at two grains.
    *
    * 100 TB: one custkey-keyed fact join + two broadcast dimension joins;
    * the rollup grains are |nations| and |regions| rows, so both share
    * windows run over tiny aggregates, not the fact table. */
  def x136(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rev = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
            col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
            col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
            col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name"), col("n_name"),
              round(col("o_totalprice") * 100, 0).cast(LongType).as("cents"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("cents"))
    rev
      .withColumn("region_cents",
        sum(col("cents")).over(Window.partitionBy("r_name")))
      .withColumn("global_cents",
        sum(col("cents")).over(Window.partitionBy()))
      .select(col("r_name"), col("n_name"), col("n_orders"), col("cents"),
              expr("cents * 1000000 DIV region_cents").as("nation_in_region_ppm"),
              expr("region_cents * 1000000 DIV global_cents").as("region_in_global_ppm"))
      .orderBy("r_name", "n_name")
  }

  /** x128: PAIRWISE CORRELATION MATRIX — Pearson r between the three
    * lineitem measures, from ONE single-pass moment aggregate (n, Σx, Σx²,
    * Σxy for every pair). The quantized-exact discipline end to end:
    * measures quantize once to integer units, per-row products stay under
    * 2⁶³, and the SUMS accumulate on DECIMAL(38,0) — Σcents² is ~10²¹ at
    * sf0.1, past BIGINT, where Spark's long sum would wrap silently while
    * DuckDB widens to HUGEINT (a cross-engine trap, not just overflow).
    * The final r is one fixed double chain over exactly-equal moments —
    * same IEEE expression tree on both engines — rounded 6dp. Built-in
    * `corr` is exactly what this replaces: its float accumulation order
    * differs per engine and per partition count.
    *
    * 100 TB: one map-side-combined aggregate, one 1-row result exploded to
    * |pairs| rows — no second scan, no shuffle beyond the single global
    * agg. */
  def x128(spark: SparkSession, dir: String): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val m = Tables.lineitem(spark, dir)
      .select(round(col("l_quantity") * 10, 0).cast(LongType).as("q"),
              round(col("l_extendedprice") * 100, 0).cast(LongType).as("c"),
              round(col("l_discount") * 1000, 0).cast(LongType).as("d"))
      .agg(count(lit(1)).as("n"),
           sum(expr(s"CAST(q AS $dec)")).as("sq"),
           sum(expr(s"CAST(c AS $dec)")).as("sc"),
           sum(expr(s"CAST(d AS $dec)")).as("sd"),
           sum(expr(s"CAST(q * q AS $dec)")).as("sqq"),
           sum(expr(s"CAST(c * c AS $dec)")).as("scc"),
           sum(expr(s"CAST(d * d AS $dec)")).as("sdd"),
           sum(expr(s"CAST(q * c AS $dec)")).as("sqc"),
           sum(expr(s"CAST(q * d AS $dec)")).as("sqd"),
           sum(expr(s"CAST(c * d AS $dec)")).as("scd"))
    def r(sx: String, sy: String, sxx: String, syy: String, sxy: String) =
      (col("n").cast(DoubleType) * col(sxy).cast(DoubleType)
         - col(sx).cast(DoubleType) * col(sy).cast(DoubleType)) /
        sqrt((col("n").cast(DoubleType) * col(sxx).cast(DoubleType)
                - col(sx).cast(DoubleType) * col(sx).cast(DoubleType)) *
             (col("n").cast(DoubleType) * col(syy).cast(DoubleType)
                - col(sy).cast(DoubleType) * col(sy).cast(DoubleType)))
    m.select(col("n"),
             r("sq", "sc", "sqq", "scc", "sqc").as("rqc"),
             r("sq", "sd", "sqq", "sdd", "sqd").as("rqd"),
             r("sc", "sd", "scc", "sdd", "scd").as("rcd"))
      .select(col("n"), explode(array(
        struct(lit("quantity").as("var_x"), lit("price").as("var_y"),
               col("rqc").as("r")),
        struct(lit("quantity").as("var_x"), lit("discount").as("var_y"),
               col("rqd").as("r")),
        struct(lit("price").as("var_x"), lit("discount").as("var_y"),
               col("rcd").as("r")))).as("p"))
      .select(col("p.var_x").as("var_x"), col("p.var_y").as("var_y"),
              col("n"), round(col("p.r"), 6).as("r"))
      .orderBy("var_x", "var_y")
  }

  /** x131: GROUP-WISE TREND REGRESSION — per event type, the least-squares
    * slope and intercept of spend (cents) over time (whole seconds since
    * the GROUP's first event — the per-group re-centering that keeps Σx²
    * in range and makes the intercept the value at the group's own t=0,
    * not at 1970): the trend-feature extractor of feature stores, and
    * x87's global-fit discipline generalized to grouped fits. Moments are
    * exact (per-row products < 2⁶³; sums on DECIMAL(38,0) — x128's
    * headroom rule: Σx² ≈ 10²⁰ per group at sf0.1 would wrap a silent
    * BIGINT sum); slope/intercept are fixed double chains, 6dp. This is
    * what built-in `regr_slope` cannot give cross-engine: its float
    * accumulation order is partition-dependent.
    *
    * 100 TB: one broadcast-joined per-group min, one map-side-combined
    * moment aggregate — two passes, no window, state is 5 numbers per
    * group. */
  def x131(spark: SparkSession, dir: String): DataFrame = {
    val dec = "DECIMAL(38,0)"
    val e = Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("us"),
              round(col("value") * 100, 0).cast(LongType).as("cents"))
    val mins = e.groupBy("event_type").agg(min(col("us")).as("us0"))
    val m = e.join(broadcast(mins), "event_type")
      .select(col("event_type"), expr("(us - us0) DIV 1000000").as("x"),
              col("cents").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(expr(s"CAST(x AS $dec)")).as("sx"),
           sum(expr(s"CAST(y AS $dec)")).as("sy"),
           sum(expr(s"CAST(x * x AS $dec)")).as("sxx"),
           sum(expr(s"CAST(x * y AS $dec)")).as("sxy"))
    val nD = col("n").cast(DoubleType)
    val slope = (nD * col("sxy").cast(DoubleType)
                   - col("sx").cast(DoubleType) * col("sy").cast(DoubleType)) /
                (nD * col("sxx").cast(DoubleType)
                   - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
    m.select(col("event_type"), col("n"),
             round(slope, 6).as("slope_cents_per_s"),
             round((col("sy").cast(DoubleType) - slope * col("sx").cast(DoubleType)) / nD,
                   6).as("intercept_cents"))
      .orderBy("event_type")
  }

  /** x119: DISTRIBUTED TRIANGLE COUNT over the part-co-purchase graph
    * (parts are adjacent when some order contains both), by DEGREE-ORIENTED
    * EDGE ITERATION (the compact forward/cf algorithm of Schank & Wagner
    * 2005; oriented as in Suri & Vassilvitskii "Counting Triangles and the
    * Curse of the Last Reducer", WWW'11): orient every undirected edge from
    * its lower-(degree, id) endpoint to its higher one, build each node's
    * sorted OUT-neighbor array, and per oriented edge (u,v) count
    * |N⁺(u) ∩ N⁺(v)| — every triangle has exactly one vertex with two
    * out-edges in the orientation, so it is counted exactly once, at that
    * vertex's edge. The oracle's naive a<b three-way self-join agrees on
    * the total.
    *
    * 100 TB: orientation bounds out-degree at O(√m) for ANY degree
    * distribution (a node of out-degree d needs d out-neighbors of degree
    * ≥ d, so d(d+1)/2 ≤ m) — so adjacency-array state is ≤ O(√m) per node,
    * intersection work is Σ d⁺(u)+d⁺(v) per edge = O(m^1.5) total, and the
    * hot-key "last reducer" a power-law hub creates under the naive
    * shared-vertex wedge join cannot form. Materializing N⁺ as an ARRAY
    * and intersecting per edge keeps the wedge set OUT of the shuffle
    * entirely (an explicit wedge⋈edge closure join shuffles O(m^1.5)
    * wedge rows; this plan shuffles O(m) rows, 2.3× faster measured at
    * sf0.1: 12.5 s → 5.4 s). All stages keyed: one order-keyed self-join
    * + distinct for
    * edges, one degree agg, one collect_list agg, two src/dst-keyed
    * attach joins. */
  def x119(spark: SparkSession, dir: String): DataFrame =
    x119Plan(spark, dir)

  /** The x119 DAG (also the registered entry). Unlike x181/x24/x188 this
    * graph key deliberately does NOT persist its multi-consumer frames:
    * the 4-consumer sharing of `edges` is carried by Spark's
    * ReusedExchange (same canonicalized exchange under deg / oriented /
    * the final count), which an A/B at sf0.1 (examples/X119Probe at
    * commit 2b09aa5) measured at 4.3 s vs 7.5–10.3 s for the
    * persist-and-release formulation —
    * caching the 3.6M-row edge frame pays a full materialization AND
    * pins the cached subplan's partitioning away from AQE. The reliance
    * is NOT silent: PlanSpec asserts ReusedExchange is present in the
    * final adaptive plan, so a Spark upgrade that stops reusing the
    * exchange fails the suite instead of silently re-scanning lineitem
    * four times. */
  private[graft] def x119Plan(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val edges = li.as("a")
      .join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    val deg = edges.select(col("u").as("node"))
      .unionByName(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient each edge from lower (deg, id) to higher (deg, id)
    val oriented = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("src"),
        when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("dst"))
    val adj = oriented.groupBy(col("src").as("n"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("n").as("src"), col("nbrs").as("nu")), "src")
      // dst may have no out-edges (a global (deg,id)-maximum corner) —
      // left join, empty neighborhood contributes 0
      .join(adj.select(col("n").as("dst"), col("nbrs").as("nv")),
            Seq("dst"), "left")
      // |N⁺(u) ∩ N⁺(v)| via the native sorted-merge kernel
      // (engine/expr/GraphExpressions): size(array_intersect(nu, nv)) is
      // codegen'd but builds an OpenHashSet + a materialized output array
      // per EDGE only for size() to read the length — and the neighbor
      // arrays grow to the O(√m) orientation bound at scale, so that
      // per-edge allocation sits inside the O(m^1.5) hot loop. Both
      // arrays are sort_array output (the kernel's sorted-ascending
      // precondition); counts are identical — Round16Spec pins kernel ≡
      // size(array_intersect) on the corpus adjacency frames and on
      // duplicate/null/empty edge cases, and an A/B at sf0.1
      // (examples/X119IntersectProbe at commit 2b09aa5) measured totals
      // equal with a consistent small local win (the stage is
      // join-dominated at sf0.1; the kernel's payoff is allocation-free
      // per-edge work where d ≈ √m). perfbench records the per-row pair
      // as expr.sorted_intersect_count.{ns,builtin_ns}_per_row.
      .select(when(col("nv").isNull, 0L)
        .otherwise(call_function("sorted_intersect_count",
                                 col("nu"), col("nv")))
        .as("t"))
    val out = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes")))
      .crossJoin(tri.agg(sum(col("t")).as("n_triangles")))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
    out
  }
}
