package graft.examples

import java.nio.file.{Files, Paths}

/** Writes docs/PLANS.md: the formatted physical plans of the flagship
  * queries, as reviewed evidence of pushdown/pruning/broadcast/top-k
  * behavior. Run: sbt "runMain graft.examples.DumpPlans" */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Sessions.local(8, 8)
    val dir = "/root/testdata/sf0.001"
    // tfidfDag's contract: the caller owns unpersisting tf (ADVICE r3's leak
    // note) — keep the handle and release it after the plan dump below.
    val tfidf48 = graft.queries.LlmExt.tfidfDag(spark, dir)
    val picks: Seq[(String, String, org.apache.spark.sql.DataFrame)] = Seq(
      ("q02_filter_pushdown", "every predicate in PushedFilters; 4-column ReadSchema",
       graft.queries.Relational1.q02(spark, dir)),
      ("q05_join_broadcast", "BroadcastHashJoin: the fact side never shuffles",
       graft.queries.Relational1.q05(spark, dir)),
      ("q10_join_multiway_tpch_q5", "broadcast dims + shuffled fact joins, AQE finalized",
       graft.queries.Relational1.q10(spark, dir)),
      ("q24_topk_global", "TakeOrderedAndProject — per-partition top-k, no global sort",
       graft.queries.Relational2.q24(spark, dir)),
      ("q41_ml_chi_rule_weights", "distinct-vector pre-agg, broadcast candidates, exact decimal sums",
       graft.queries.ChiMl.q41(spark, dir)),
      ("q45_similarity_cosine_topk", "unrolled codegen kernel + 1-row broadcast query vector",
       graft.queries.LlmExt.q45(spark, dir)),
      ("q48_text_tfidf", "tf persisted once, served to tf/df consumers via InMemoryTableScan — one corpus scan (pre-materialization DAG; the public q48 returns a checkpointed snapshot)",
       tfidf48._2),
      ("x22_skew_salted_join", "SMJ keyed on (user_id, __salt): hot keys spread across reducers",
       graft.queries.Pipeline.x22(spark, dir)),
      ("x23_asof_join_native", "custom AsOfJoin exec over (key, ts)-sorted exchanges — no pair blow-up",
       graft.queries.Pipeline.x23(spark, dir)),
      ("q09_join_range_pairs", "bucketed range join: (user_id, 10-min bucket) equi-keys bound the pair space to window density",
       graft.queries.Relational1.q09(spark, dir)),
      ("x44_token_entropy", "shuffle-free: fused native token_stats expression inside WholeStageCodegen — no explode, no token shuffle",
       graft.queries.Curation.x44(spark, dir)),
      ("x57_doc_chunk", "chunk fan-out with NO hash exchange — per-row sequence+posexplode, only the oracle-order range sort",
       graft.queries.Wrangle.x57(spark, dir)),
      ("x62_heavy_hitters", "freq_sketch partial+merge in ObjectHashAggregate (bounded state), broadcast candidate recount",
       graft.queries.Wrangle.x62(spark, dir)),
      ("x70_topk_native", "topk_pairs partial+final ObjectHashAggregate — k-bounded heaps, no partition sorts (WindowGroupLimit's residual cost)",
       graft.queries.Features.x70(spark, dir)),
      ("x78_ship_delay_stats", "fact-to-fact SMJ on orderkey (neither side broadcast), 3-column pruned scans both sides",
       graft.queries.Features.x78(spark, dir)),
      ("x100_curation_pipeline", "the whole curation DAG: map-only gate, one text-keyed dedup shuffle, LSH-bucketed losers, broadcast benchmark anti-join — no CartesianProduct anywhere",
       graft.queries.Pipeline.x100(spark, dir)),
      ("x104_correlated_subquery", "decorrelation: each correlated scalar subquery becomes a custkey aggregate + hash join — no nested-loop re-scan (correlated subqueries don't merge)",
       graft.queries.Mining.x104(spark, dir)),
      ("x107_scalar_subquery_share", "MergeScalarSubqueries: SUM and COUNT globals fused into one 1-row aggregate, the second tap is a ReusedSubquery over the first",
       graft.queries.Mining.x107(spark, dir)),
      ("x109_containment_prefix", "PPJoin prefix filter: doc-keyed rank window picks the rarest p fingerprints, candidates come from a keyed fp join — no CartesianProduct/BNLJ anywhere",
       graft.queries.LlmExt2.x109(spark, dir)),
      ("x113_colocated_join (pre-agg join)", "bucketed-table co-location: SortMergeJoin over two SelectedBucketsCount scans with ZERO Exchange — the layout pays the shuffle once at ingest",
       graft.queries.Layout.colocatedJoin(spark, dir)),
      ("x125_sole_late_supplier", "EXISTS→LeftSemi and NOT EXISTS→LeftAnti on the orderkey lineage; AQE reuses the lineitem⋈orders exchange (ReusedExchange) instead of re-shuffling each arm",
       graft.queries.Relational1.x125(spark, dir)),
      ("x119_triangle_count", "degree-oriented adjacency intersection: keyed joins + one collect_list agg — the O(m^1.5) wedge set never enters a shuffle; the only BNLJ sites are the two 1-row stat crossJoins",
       graft.queries.Stats.x119(spark, dir)),
      ("x143_tpch_q17_small_qty", "decorrelated Q17: both branches prune lineitem via the SAME part broadcast (ReusedExchange), each pruned scan hashes on l_partkey, attach join co-partitioned — the classic two-scan Q17 shape",
       graft.queries.Relational3.x143(spark, dir)),
      ("x146_sliding_median", "exact sliding median: the WindowExec sits ABOVE the (priority, day) partial+final aggregate — the fact-scale shuffle is the rollup, the sorted frame is bounded",
       graft.queries.IntervalOps.x146(spark, dir)),
      ("x148_pit_priority_lookup", "SCD2 point-in-time: version-interval window and probe join share the custkey hash partitioning — the lookup adds no exchange beyond the probe side's own",
       graft.queries.IntervalOps.x148(spark, dir)),
      ("x150_zorder_layout", "Morton layout audit: z-key and tile are map arithmetic inside WholeStageCodegen on the scan; one partial+final agg to <=256 tiles; dimension maxima are 1-row broadcast stitches",
       graft.queries.Organize.x150(spark, dir)),
      ("x151_group_hash_sample", "deterministic per-group sample: topk_pairs ObjectHashAggregate partial+final — no window, no sort, one shuffled row per group",
       graft.queries.Organize.x151(spark, dir)),
      ("x155_tpch_q3_shipping_priority", "Q3 top-10: segment semi-join prunes orders, date filters in both PushedFilters, one l_orderkey hash join, TakeOrderedAndProject heap — no global sort",
       graft.queries.Relational4.x155(spark, dir)),
      ("x161_tpch_q19_disjunctive", "Q19 OR-of-ANDs: the disjunction factors per side and reaches BOTH parquet scans' PushedFilters; residual evaluates inside the joined codegen stage",
       graft.queries.Relational4.x161(spark, dir)),
      ("x166_parallel_pair_candidates", "bucketed cross-lingual pairs: the (source, length-bucket) join key carries the length predicate into the shuffle hash — per-task pair volume bounded by band density, not source size",
       graft.queries.Organize2.x166(spark, dir)),
      ("x170_skipgram_pairs", "join-free skip-grams: pairs from array zips inside the scan's codegen stage, one (w1,w2) partial-aggregated exchange, TakeOrderedAndProject top-20",
       graft.queries.Organize3.x170(spark, dir)),
      ("x171_exact_median_histogram", "two-phase exact median: histogram agg + bounded cumulative window locate the middles, the second scan is pruned to the <=2 candidate buckets — no row-scale sort",
       graft.queries.Organize3.x171(spark, dir)),
      ("x175_weighted_median_grouped", "grouped weighted median: per-group histogram + bounded windows; phase-2 rescan pruned to one bucket per group — the window-sort formulation never appears",
       graft.queries.Organize4.x175(spark, dir)),
      ("x185_autocorr_daily", "calendar-aligned autocorrelation: the 7 lags EXPLODE map-side from the bounded daily aggregate (no lag-table join); the shifted self-join hashes on day+lag over aggregates, never raw orders",
       graft.queries.Timeseries.x185(spark, dir)),
      ("x190_rfm_segments", "RFM quintiles WITHOUT a global NTILE sort: ONE shared boundariesMulti histogram pass over the persisted customer aggregate; banding is literal-array map arithmetic inside codegen; <=125-key rollup",
       graft.queries.Organize5.x190(spark, dir)),
      ("x193_skipping_compare", "zone-map payoff audit: quantize + 3 tile keys as scan-side map arithmetic, three partial+final aggs to <=256 zone-map rows each, skip flags evaluated over those bounded rows",
       graft.queries.Organize5.x193(spark, dir)),
      ("x194_neardup_clusters", "near-dup clustering: native rolling_fps scan (no shuffle), fp-keyed pair join (never doc x doc), 3 min-label rounds over the cached pre-partitioned edge list",
       graft.queries.Graphs.x194(spark, dir)),
      ("x198_chi_crossval", "5-fold CV as ONE plan: a single row-scale agg to (fold, distinct-vector, multiplicity); the 4-of-5 training fan-out and all five rule bases are broadcast joins + bounded aggs with model as a grouping key — k-fold costs one shuffle, not k training scans",
       graft.queries.Crossval.x198(spark, dir)),
      ("x210_k_anonymity", "k-anonymity audit: ONE QI-keyed partial+final aggregate is the only customer-sized shuffle; the class-size histogram is bounded and broadcast, so the whole k-sweep is conditional sums over it — widening ks costs nothing",
       graft.queries.Governance.x210(spark, dir)),
      ("x211_l_diversity", "l-diversity audit: merge-hinted custkey SMJ (neither fact side broadcastable at scale); the multi-distinct class aggregate runs over (class, custkey, priority) pre-deduplicated rows; l-sweep over the QI-space-bounded broadcast class table",
       graft.queries.Governance.x211(spark, dir)),
      ("x220_cdc_chunks", "content-defined chunking with NO corpus shuffle: rolling_fps + the chunk-split/fingerprint array folds run inside one projection; the only hash exchange is the 5-group language rollup",
       graft.queries.LlmExt2.x220(spark, dir)),
      ("x221_erasure_propagation", "erasure cascade: tombstones and erased orderkeys ride broadcast semi/anti joins through both fact tables; the lineitem orphan audit is the one deliberate fact-to-fact anti-join",
       graft.queries.Governance.x221(spark, dir)),
      ("x223_lsh_portable", "portable quantized LSH: ONE groupBy(vec_id) carries all 16 sign sums + the norm; candidates from the banded bucket self-join (never all-pairs); the verify folds the re-attached integer arrays per row — no CartesianProduct, no BNLJ",
       graft.queries.LlmExt2.x223(spark, dir)),
      ("x267_pit_feature_join", "union-window point-in-time features: ONE user-keyed sort serves every running conditional aggregate — no per-label range join, no O(labels*history) shuffle",
       graft.queries.Features.x267(spark, dir)),
      ("x269_snapshot_cdc_diff", "ONE full-outer shuffle join on the PK; the unchanged majority dies inside the join (filter on op) without wide projection",
       graft.queries.Wrangle.x269(spark, dir)),
      ("x272_decile_lift", "the only data-sized work is the groupBy to the grid-bounded classification grain; decile spans/cells ride bounded frames — no per-row global sort (the ntile idiom) anywhere",
       graft.queries.ChiMl.x272(spark, dir)),
      ("x277_shard_packing", "Ranks.globalPrefixSum two-phase shape: range partition on the shuffle-hash order, partition-LOCAL running totals (window keyed by __pid), broadcast offsets — never a single-partition global window",
       graft.queries.Organize.x277(spark, dir)),
      ("x284_semdedup_prune", "cluster-bucketed candidate pairs: the self-join keys on `cell` over ONE checkpointed assignment — pair work is per-cell, never |V|²; keeper argmax collapses through a min_by partial agg",
       graft.queries.Clustering.x284(spark, dir)),
      ("x287_link_prediction", "pair fan-out as a co-partitioned whole-stage-codegen self-join on the checkpointed bipartite edge set (the interpreted in-map HOF variant ran 5× slower); BIGINT-packed pair key into one hash aggregate; left_anti against co-order edges",
       graft.queries.Graphs.x287(spark, dir)),
      ("x290_personalized_pagerank", "per iteration ONE mass⋈edges join co-keyed on the source node + node-keyed inflow aggregate + 1-row teleport scalar broadcast; rounds localCheckpoint so the unrolled lineage stays flat",
       graft.queries.Graphs.x290(spark, dir)),
      ("x296_rag_context_pack", "per-query top-20 collapses through the bounded-state topk_pairs ObjectHashAggregate — a hot term never sorts its posting list; the greedy 512-token fill windows over the 20-row frames only",
       graft.queries.Clustering.x296(spark, dir)),
      ("x297_isotonic_calibration", "one 10-key bin aggregate is the only corpus-scale work; the exact minimax runs on the bounded (i,j,k) grid of a ≤10-row checkpoint — PAVA's sequential pool stack replaced by a fully parallel closed form",
       graft.queries.StatProtocol.x297(spark, dir)),
      ("x298_substring_dedup", "exact substring dedup is LINEAR: map-side positional k-gram explode, ONE gram-keyed aggregate, gram-keyed join back (each site meets only its own gram's 1-row aggregate — no candidate pairs), per-doc bounded window for the run merge",
       graft.queries.LlmExt2.x298(spark, dir)),
      ("x299_dsir_selection", "the (doc,tok,c) checkpoint feeds both LMs and the scoring pass; λ lives on the vocab grid and BROADCASTS into the scoring join; doc score = one doc-keyed partial+final agg",
       graft.queries.Curation.x299(spark, dir)),
      ("x302_learned_quality_filter", "weak-label distillation: ONE corpus scan materialized as the checkpointed feature frame feeds fit AND transform; the learned rule base broadcasts back as a stateless projection",
       graft.queries.ModelOps.x302(spark, dir)),
      ("x303_ngram_decontamination", "the bounded benchmark gram set BROADCASTS into the corpus-side join — corpus-scale work is one map-side k-gram explode + BroadcastHashJoin, no shuffle at the gram grain",
       graft.queries.LlmExt2.x303(spark, dir)),
      ("x304_matryoshka_audit", "one co-partitioned equi-join on vec_id; 4 truncated cosines in ONE codegen'd map pass (slice + fvec_dot); stack fan-out collapses onto a 4-row grid",
       graft.queries.Clustering.x304(spark, dir)),
      ("x308_chi_mchunk_ave", "Ave fusion rides x281's shape: single-scan checkpointed gex, bounded (antecedent, consequent)-keyed BIGINT aggregate, broadcast rule frames — no new corpus pass",
       graft.queries.ChiMl.x308(spark, dir)),
      ("x309_substring_dedup_fp", "fp chain = map-side native rolling fingerprints + ONE fp-keyed aggregate + fp-keyed join back; 8 B/position shuffle grain (the gram chain inside is the audit leg)",
       graft.queries.LlmExt2.x309(spark, dir)),
      ("x310_ann_ivfpq", "probed cells scanned as 8-byte PQ codes; ADC = broadcast lookup-table sum in the codegen'd scan; only the bounded shortlist touches full vectors for the exact re-rank",
       graft.queries.AnnIvf.x310(spark, dir)),
      ("x314_epoch_allocation", "ONE (source, token-count) aggregate is the only corpus-scale work; the 24-round water-filling folds over the bounded checkpointed |sources| frame with 1-row-aggregate broadcasts",
       graft.queries.Organize.x314(spark, dir)))
    val sb = new StringBuilder
    sb.append("# Physical plans of flagship queries\n\n")
    sb.append("Generated by `graft.examples.DumpPlans` (AQE-finalized, sf0.001).\n")
    sb.append("What to look for per plan is noted above each block; the same\n")
    sb.append("properties are asserted programmatically in `PlanSpec`.\n\n")
    sb.append("## Exact baselines vs scale paths\n\n")
    sb.append("Two registered operators are DELIBERATELY exact brute-force\n")
    sb.append("baselines: their KERNEL-EVAL count is |Q|*|C|, but their plan\n")
    sb.append("shape is scale-safe since round 7 — a BOUNDED query set\n")
    sb.append("broadcast over one candidate scan, collapsed by the\n")
    sb.append("bounded-state topk_pairs partial aggregate (no corpus\n")
    sb.append("broadcast, no BNLJ pair materialization). Their sub-linear\n")
    sb.append("twins are recall-tested against them:\n\n")
    sb.append("| exact (oracle) | scale path | recall test |\n")
    sb.append("|---|---|---|\n")
    sb.append("| `q46_knn_label_vote` (100-query broadcast, topk_pairs partial agg) | `AnnIvf.x18Raw` (centroid pruning, nprobe cells; the `x18_ann_ivf` key wraps it in the theorem-form oracle contract), `x09_embedding_neardup_lsh` (banded hyperplane LSH) | AnnIvfSpec / LlmExtSpec + x111 matrix |\n")
    sb.append("| `q45_similarity_cosine_topk` (brute-force scan, fine: 1-row query broadcast) | `AnnIvf.x18Raw` | AnnIvfSpec |\n")
    sb.append("\n## Skew: manual salting vs AQE's runtime split (x22 + its twin)\n\n")
    sb.append("Two mechanisms cover hot join keys, both asserted in PlanSpec:\n\n")
    sb.append("- **x22 (manual salt, oracle-checked)**: the hot side's key is\n")
    sb.append("  widened to (key, hash(row) % 8) and the dim side exploded 8x —\n")
    sb.append("  the `x22_skew_salted_join` plan below shows the SMJ keyed on\n")
    sb.append("  `(user_id, __salt)`. Deterministic, planner-independent, and the\n")
    sb.append("  shape to reach for when ONE key dominates by orders of magnitude.\n")
    sb.append("- **AQE OptimizeSkewedJoin (runtime twin)**: for keys nobody\n")
    sb.append("  hand-salted, Spark detects the oversized partition from map-output\n")
    sb.append("  stats and splits it into advisory-sized reads. PlanSpec's\n")
    sb.append("  'OptimizeSkewedJoin splits the hot key' case plants a 1.2M-row\n")
    sb.append("  fact with one key holding ~83% of rows, forces the shuffled SMJ\n")
    sb.append("  (broadcast off), and asserts BOTH that the final plan carries the\n")
    sb.append("  skew=true split marker AND that the result is row-identical to the\n")
    sb.append("  salted x22 mechanism on the same data.\n\n")
    sb.append("At 100 TB the division of labor: AQE handles moderate skew\n")
    sb.append("automatically (keep `spark.sql.adaptive.skewJoin.enabled=true`, the\n")
    sb.append("default); manual salting remains for extreme single-key skew where\n")
    sb.append("even an advisory-sized split of one key's partition leaves every\n")
    sb.append("split reading the SAME dim row — salting also spreads the dim-side\n")
    sb.append("lookup, which AQE's reader split cannot.\n")
    try {
      for ((name, note, df) <- picks) {
        df.collect()
        sb.append(s"\n## $name\n\n_${note}_\n\n```\n")
        sb.append(df.queryExecution.executedPlan.toString)
        sb.append("```\n")
      }
    } finally tfidf48._1.unpersist()
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(Paths.get("docs/PLANS.md"), sb.toString)
    println(s"wrote docs/PLANS.md (${sb.length} chars)")
    spark.stop()
  }
}

/** Writes `<outDir>/<key>_<tag>.txt`, the formatted physical plan of every
  * registry key named (by prefix) on the command line — the before/after
  * evidence of a plan-changing edit.
  * Usage: sbt "runMain graft.examples.DumpKeyPlans <sfDir> <outDir> <tag> q41 x281 ..." */
object DumpKeyPlans {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, tag) = args.take(3)
    val spark = graft.engine.Sessions.local(8, 8)
    Files.createDirectories(Paths.get(outDir))
    args.drop(3).foreach { prefix =>
      val name = graft.SparkEntry.queries.keys.find(_.startsWith(prefix))
        .getOrElse(sys.error(s"no key matches $prefix"))
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val out = Paths.get(outDir, s"${name}_$tag.txt")
      Files.writeString(out, txt)
      println(s"[plans] wrote $out")
    }
    spark.stop()
  }
}
