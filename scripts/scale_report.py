#!/usr/bin/env python3
"""Render docs/scale_soak.json (FullScaleSoak output) as docs/SCALE.md.

Usage: python3 scripts/scale_report.py [scale_soak.json] [SCALE.md]

Classifies each key's Nx-data time ratio (N = the soak's copy factor,
read from the json; thresholds scale with N so a 10x and a 100x soak
read on the same rubric):
  - fixed-cost  : Nx time < 2x base    (job/micro-batch overhead dominates)
  - linear-ish  : ratio <= 1.4*N       (tracks row volume on Nx data,
                                        with headroom for local[32] noise)
  - super-linear: ratio > 1.4*N        (must match a documented expectation
                                        or it is a scale bug)
"""
import json, sys

src = sys.argv[1] if len(sys.argv) > 1 else "docs/scale_soak.json"
out = sys.argv[2] if len(sys.argv) > 2 else "docs/SCALE.md"
d = json.load(open(src))
keys = d["keys"]
copies = d.get("copies", 10)
linear_max = 1.4 * copies

# Keys whose super-linear growth is EXPECTED on the synthetic 10x copy
# (every document/vector gains 9 exact twins, so true near-dup work grows
# ~quadratically in the copy factor) or that are deliberate brute-force
# baselines / end-to-end diagnostic chains. Keep in sync with
# FullScaleSoak's Scaladoc.
EXPECTED_SUPERLINEAR = {
    "x08_dedup_ngram_jaccard": "9 planted twins per doc: true near-dup pairs grow ~quadratically",
    "x86_minhash_oracle_lsh": "same twin-quadratic candidate growth (oracle-countable LSH)",
    "x109_containment_prefix": "prefix-filter candidates vs quadratic truth (documented r6)",
    "q45_similarity_cosine_topk": "brute-force baseline: |C| scales 10x against a fixed query",
    "q46_knn_label_vote": "exact kNN: O(|C|*|Q|) kernel by definition of exactness",
    "x110_neardup_recall_matrix": "runs the three dedup chains end-to-end on corpus+twins",
    "x111_ann_recall_matrix": "ANN recall sweep against brute-force truth on 10x corpus",
    "x24_dedup_components": "twin components grow 10x in size: more label-prop rounds",
    "x223_lsh_portable": "10 identical copies per vector: true bucket-pair mass grows ~quadratically in the copy factor (measured 13.9x at 10x, the x09 class)",
    "x284_semdedup_prune": "within-cell pair mass is quadratic in cell size and k is FIXED at 8 for oracle determinism, so the N-times twin corpus grows pair work ~N-times beyond linear (346x at 100x); production SemDeDup grows k with N to keep cells bounded — REGISTERED as x311 since round 14, which measures that lever on the same soak",
    "x311_semdedup_production_k": "scaled k removes candidate-generation overhead but cannot shrink the corpus's own answer: every vector gains N-1 exact twins (true dup output grows ~quadratically in the copy factor) and the id-shifted copies saturate distinct cells (identical vectors share a cell at any k), so the twin corpus's residual super-linearity is workload truth, far below fixed-k x284's on the same legs",
}

# Standing per-key notes rendered under "## Notes" (ADVICE r13): facts a
# reader needs to interpret specific rows that are not derivable from the
# numbers themselves.
STANDING_NOTES = [
    "The round-13 single-scan rework of the Chi ablation chains (x215, "
    "x285, x281) eagerly checkpoints the distinct-vector frame once and "
    "feeds every ablation leg from it. The r13 soak recorded x215 base "
    "5.89s -> 12.42s across the rework, which ADVICE r13 flagged; the "
    "round-14 re-measure (this soak, BenchEnvProbe-clean machine) reads "
    "x215 at 7.35s — the checkpoint shape genuinely costs ~1.5s of "
    "small-scale wall-clock (the eager materialization) and the rest of "
    "the r13 reading was co-tenant load. The trade stands: a bounded "
    "one-time checkpoint cost buys corpus-scale SCAN COUNT (one pass "
    "instead of three), the quantity that matters when one scan is "
    "100 TB.",
    "Per-key 10x analysis of the 17 curated keys (first measured by "
    "examples/ScaleCheck at commit 2b09aa5, local[32]; re-run them with "
    "`FullScaleSoak <src> <big> <json> 10 <keys...>`). q10/q12/q41/q44/x23 "
    "run 10x the data in 1.0-1.9x the time: fixed job overhead, not the "
    "distributed work, dominates at this size. q09 (10x events, "
    "user-shifted so per-user history is constant) runs ~3x: the "
    "bucketed range join tracks total row volume, not per-key pair "
    "counts. x24 grows 1.6-1.9x although every fingerprint bucket is 10x "
    "hotter: the star-edge builder (Pipeline.fingerprintStarEdges) keeps "
    "edge volume linear where an all-pairs self-join would go quadratic. "
    "x70 runs at ~1x: the top-k heap aggregate's exchange is k-bounded. "
    "x78 (fact-fact SMJ, both sides 10x with disjoint key shifts) lands "
    "at ~2x, linear in row volume. x104 (correlated subqueries "
    "decorrelated to custkey aggregates and joins) runs at ~1.4x: the "
    "aggregate reduces before either join. x113's co-located join runs "
    "at ~2.3x, exchange-free SMJ tracking scan volume. x119 runs at "
    "~1.2x: the co-purchase graph saturates over the fixed part "
    "vocabulary and the degree-oriented intersection tracks edges, not "
    "wedges. x120 runs at ~1.5x (window volume). x125 runs at ~1.2x: AQE "
    "reuses one orderkey exchange across the semi/anti chain. x08, x86 "
    "and x109 grow ~11x, ~22x and ~4.4-6x against a TRUE output that "
    "grows ~50x, ~450x and ~90x, because the copy gives every document "
    "9 exact twins: candidate pairs track the true pairs, not corpus "
    "squared, and on production data where duplicates are rare they "
    "track the dup rate.",
]

rows = sorted(keys.items())
fails = [(k, v) for k, v in rows if v.get("error")]
ok = [(k, v) for k, v in rows if not v.get("error")]

def bucket(r):
    if r is None: return "n/a"
    if r < 2.0: return "fixed-cost"
    if r <= linear_max: return "linear-ish"
    return "super-linear"

buckets = {}
for k, v in ok:
    buckets.setdefault(bucket(v.get("ratio")), []).append((k, v))

lines = []
lines.append(f"# SCALE — {copies}x soak ({len(rows)} keys)\n")
lines.append(f"Source: `{src}` — each listed operator timed on "
             f"`{d['src']}` and on a {copies}x key-shifted copy of all "
             "tables (FullScaleSoak methodology: disjoint id shifts keep join "
             "fan-outs honest; dims copied verbatim so dimension keys get "
             f"{copies}x hotter; both dirs warmed before timing; `.count()` like "
             "`graft.Bench`).\n")
lines.append(f"Keys: {len(rows)} total, {len(fails)} failures.\n")
counts = {b: len(v) for b, v in buckets.items()}
lines.append(f"Classification: {counts.get('fixed-cost',0)} fixed-cost "
             f"(<2x — per-job/micro-batch overhead dominates), "
             f"{counts.get('linear-ish',0)} linear-ish (<={linear_max:.0f}x), "
             f"{counts.get('super-linear',0)} super-linear (>{linear_max:.0f}x).\n")

lines.append("\n## Super-linear keys (each must have a documented reason)\n")
lines.append(f"| key | base s | {copies}x s | ratio | expected? |")
lines.append("|---|---|---|---|---|")
for k, v in sorted(buckets.get("super-linear", []),
                   key=lambda kv: -(kv[1]["ratio"] or 0)):
    why = EXPECTED_SUPERLINEAR.get(k, "**UNEXPECTED — investigate**")
    lines.append(f"| {k} | {v['base_s']:.2f} | {v['x10_s']:.2f} | "
                 f"{v['ratio']:.1f}x | {why} |")

lines.append("\n## Notes\n")
for n in STANDING_NOTES:
    lines.append(f"- {n}")

lines.append("\n## All keys\n")
lines.append(f"| key | base s | {copies}x s | ratio | class |")
lines.append("|---|---|---|---|---|")
for k, v in rows:
    if v.get("error"):
        lines.append(f"| {k} | — | — | — | FAILED: {v['error'][:80]} |")
    else:
        r = v.get("ratio")
        note = f" — {v['note']}" if v.get("note") else ""
        lines.append(f"| {k} | {v['base_s']:.2f} | {v['x10_s']:.2f} | "
                     f"{(str(round(r,1)) + 'x') if r else 'n/a'} | {bucket(r)}{note} |")

unexpected = [k for k, v in buckets.get("super-linear", [])
              if k not in EXPECTED_SUPERLINEAR]
lines.append("")
if fails:
    lines.append(f"**{len(fails)} FAILURES** — see table.")
if unexpected:
    lines.append(f"**{len(unexpected)} UNEXPECTED super-linear keys:** "
                 + ", ".join(unexpected))
if not fails and not unexpected:
    lines.append("No failures; every super-linear key matches a documented "
                 "expectation. The remaining surface tracks row volume or "
                 f"fixed overhead — the partition/shuffle choices hold at {copies}x.")

open(out, "w").write("\n".join(lines) + "\n")
print(f"wrote {out}: {len(rows)} keys, {len(fails)} failures, "
      f"unexpected super-linear: {unexpected}")
